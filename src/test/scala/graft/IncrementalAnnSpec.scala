package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{IncrementalAnn, LakeAnnStore}

/** Incrementally maintained IVF index on the lake-backed store: per-batch
  * assignment of changed vectors only, search equal to the reference
  * search over a batch assignment of the same corpus, retrain signal from
  * cell imbalance.
  */
class IncrementalAnnSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 16

  /** Deterministic unit vector near one of `centers` axis clusters. */
  private def vec(cluster: Int, jitterSeed: Int): Array[Float] = {
    val v = Array.fill(dims)(0.01f * (((jitterSeed * 31 + cluster) % 7) - 3))
    v(cluster % dims) = 1.0f
    v
  }

  private def corpusDf(rows: Seq[(String, Array[Float])]): DataFrame =
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("doc_id", "emb")
      .select(col("doc_id"), col("emb").cast("array<float>").as("emb"))

  /** The store's refresh input: (id, vec). */
  private def idVec(rows: Seq[(String, Array[Float])]): DataFrame =
    corpusDf(rows).select(col("doc_id").as("id"), col("emb").as("vec"))

  /** Batch assignment of a whole corpus: the reference (id, cell, vec). */
  private def assigned(index: IncrementalAnn.IvfIndex,
                       rows: Seq[(String, Array[Float])]): DataFrame =
    idVec(rows).withColumn("cell", index.assignExpr(col("vec")))

  private def cells(df: DataFrame): Map[String, Int] =
    df.select("id", "cell").collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  private val noIds = Seq.empty[String].toDF("id")

  test("incremental refreshes reach the same search results as one batch assignment over the full corpus") {
    val batch1 = (0 until 40).map(i => (f"a$i%03d", vec(i % 4, i)))
    val batch2 = (0 until 20).map(i => (f"b$i%03d", vec(i % 4, 100 + i)))
    val all = batch1 ++ batch2
    val queries = Seq(("q0", vec(0, 999)), ("q1", vec(1, 998)), ("q2", vec(2, 997)))

    // one index trained on the full corpus, shared by both paths
    val index = IncrementalAnn.train(corpusDf(all), "emb", "doc_id",
      nlist = 4, nprobe = 2, trainSample = 64)
    val dir = tmpDir("annincr")
    try {
      // incremental: two refreshes
      val store = LakeAnnStore.create(spark, s"$dir/s", index, numPids = 8)
      store.refresh(idVec(batch1), noIds, 1L)
      store.refresh(idVec(batch2), noIds, 2L)
      assert(store.snapshot().count() == all.size)

      def results(df: DataFrame) =
        df.collect().map(r => (r.getString(0), r.getString(1), r.getInt(3))).toSet
      // batch: assign everything at once, search with the reference
      val want = results(IncrementalAnn.search(index, assigned(index, all),
        corpusDf(queries), "emb", "doc_id", k = 5))
      assert(results(store.search(corpusDf(queries), "emb", "doc_id", k = 5)) == want)
      // sanity: each query gets a top hit
      val top = store.search(corpusDf(queries), "emb", "doc_id", k = 1)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(top.size == 3)
    } finally rmrf(dir)
  }

  test("property: random upsert/delete streams keep the store equal to batch assignment of the surviving corpus") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val seedCorpus = (0 until 32).map(i => (f"s$i%02d", vec(i % 4, i)))
    val index = IncrementalAnn.train(corpusDf(seedCorpus), "emb", "doc_id",
      nlist = 4, nprobe = 2, trainSample = 64)
    val upGen = for {
      key <- Gen.chooseNum(0, 11).map(i => f"k$i%02d")
      cl <- Gen.chooseNum(0, 3)
      j <- Gen.chooseNum(0, 99)
    } yield (key, vec(cl, j))
    val batchGen = for {
      ups <- Gen.chooseNum(0, 5).flatMap(n => Gen.listOfN(n, upGen))
      dels <- Gen.chooseNum(0, 2).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(0, 11).map(i => f"k$i%02d")))
    } yield (ups.groupBy(_._1).map(_._2.head).toSeq, dels.distinct)

    (0 until 4).foreach { caseId =>
      val stream = Gen.listOfN(4, batchGen)
        .pureApply(Gen.Parameters.default, Seed(2000L + caseId))
      val dir = tmpDir("annprop")
      try {
        val store = LakeAnnStore.create(spark, s"$dir/s", index, numPids = 4)
        var corpus = Map.empty[String, Array[Float]]
        stream.zipWithIndex.foreach { case ((ups, dels), i) =>
          val upserts = ups.filterNot { case (k, _) => dels.contains(k) }
          corpus = corpus -- dels ++ upserts
          store.refresh(idVec(upserts), dels.toDF("id"), i + 1L)
          // store == batch assignment of the surviving corpus, row for row
          val got = cells(store.snapshot())
          val want =
            if (corpus.isEmpty) Map.empty[String, Int]
            else cells(assigned(index, corpus.toSeq))
          assert(got == want, s"case $caseId diverged: ${got.size} vs ${want.size}")
        }
      } finally rmrf(dir)
    }
  }

  test("index and store persistence: JSON quantizer round-trips bit-exactly; parquet store resumes without retrain/reassign") {
    val corpus = (0 until 40).map(i => (f"p$i%02d", vec(i % 4, i)))
    val index = IncrementalAnn.train(corpusDf(corpus), "emb", "doc_id",
      nlist = 4, nprobe = 2, trainSample = 64)
    val dir = tmpDir("annpersist")
    try {
      IncrementalAnn.saveIndex(index, s"$dir/index.json")
      val loaded = IncrementalAnn.loadIndex(s"$dir/index.json")
      assert(loaded.nprobe == index.nprobe)
      assert(loaded.centroids.map(_.toSeq).toSeq == index.centroids.map(_.toSeq).toSeq)
      val store = LakeAnnStore.create(spark, s"$dir/s", index, numPids = 8)
      store.refresh(idVec(corpus), noIds, 1L)
      val cellsBefore = cells(store.snapshot())
      // a cold reload: same quantizer, same assignments, same watermark —
      // nothing retrained or re-assigned
      val restored = LakeAnnStore.load(spark, s"$dir/s")
      assert(restored.watermark == 1L)
      assert(restored.index.centroids.map(_.toSeq).toSeq == index.centroids.map(_.toSeq).toSeq)
      assert(cells(restored.snapshot()) == cellsBefore)
      // a refresh against the RESTORED store behaves exactly like a batch
      // assignment of the grown corpus
      val grown = corpus :+ ("pnew" -> vec(2, 777))
      restored.refresh(idVec(Seq("pnew" -> vec(2, 777))), noIds, 2L)
      assert(restored.snapshot().count() == 41)
      val q = corpusDf(Seq(("q", vec(2, 888))))
      val want = IncrementalAnn.search(loaded, assigned(loaded, grown), q, "emb", "doc_id", 3)
        .collect().map(r => (r.getString(1), r.getInt(3))).toSet
      val fromDisk = restored.search(q, "emb", "doc_id", 3)
        .collect().map(r => (r.getString(1), r.getInt(3))).toSet
      assert(want == fromDisk)
      assert(LakeAnnStore.load(spark, s"$dir/s").snapshot().count() == 41)
    } finally rmrf(dir)
  }

  test("updates re-assign, deletes drop; imbalance flags drift and retrain restores balance") {
    val balanced = (0 until 40).map(i => (f"d$i%03d", vec(i % 4, i)))
    val index = IncrementalAnn.train(corpusDf(balanced), "emb", "doc_id",
      nlist = 4, nprobe = 2, trainSample = 64)
    val dir = tmpDir("anndrift")
    try {
      val store = LakeAnnStore.create(spark, s"$dir/s", index, numPids = 8)
      store.refresh(idVec(balanced), noIds, 1L)
      assert(store.imbalance() <= 2.0) // roughly balanced

      // UPDATE: move d000 into cluster 1 — its stored cell must change
      val oldCell = cells(store.snapshot())("d000")
      store.refresh(idVec(Seq(("d000", vec(1, 555)))), noIds, 2L)
      assert(store.snapshot().count() == 40) // replaced, not duplicated
      assert(cells(store.snapshot())("d000") != oldCell)

      // DELETE
      store.refresh(idVec(Nil), Seq("d001").toDF("id"), 3L)
      assert(store.snapshot().count() == 39)
      assert(!cells(store.snapshot()).contains("d001"))

      // DRIFT: a flood of new vectors all in one cluster skews the store;
      // imbalance flags it, retrain + one re-assignment restores balance
      val flood = (0 until 120).map(i => (f"f$i%03d", vec(0, 7000 + i)))
      store.refresh(idVec(flood), noIds, 4L)
      val drifted = store.imbalance()
      assert(drifted > 2.0, "drift not flagged")
      val index2 = IncrementalAnn.train(store.snapshot(), "vec", "id",
        nlist = 4, nprobe = 2, trainSample = 256)
      store.reassign(index2)
      assert(store.snapshot().count() == 159)
      assert(store.imbalance() < drifted, "retrain did not improve balance")
    } finally rmrf(dir)
  }
}
