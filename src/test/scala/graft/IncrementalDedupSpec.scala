package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{IncrementalDedup, LakeAnnStore, LakeDedupStore}

/** Incremental near-dup maintenance on the lake-backed store: after every
  * refresh, the consumer's accumulated pair state must equal a
  * from-scratch recompute over the current corpus with the same estimator
  * ([[IncrementalDedup.pairsOf]]) — adds, updates (signature replacement
  * + re-emission), and deletes included. Also the live maintenance loop
  * ([[graft.stream.DedupMaintenance.startLake]]) and its contracts.
  */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private val bands = 8
  private val rowsPerBand = 4
  private val minJ = 0.5

  /** From-scratch oracle: same banded candidates + signature estimator
    * over the whole current corpus.
    */
  private def fullRecompute(corpus: Map[String, String]): Set[(String, String)] = {
    if (corpus.isEmpty) return Set.empty
    pairSet(IncrementalDedup.pairsOf(corpus.toSeq.toDF("key", "text"), "text", "key",
      bands, rowsPerBand, minJ))
  }

  private def pairSet(df: DataFrame): Set[(String, String)] =
    df.select("key_a", "key_b").collect().map(r => (r.getString(0), r.getString(1))).toSet

  private def awaitTrue(cond: => Boolean, ms: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis() + ms
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  private def noKeys: DataFrame = Seq.empty[String].toDF("key")

  test("end-to-end: the lake table's own changelog drives incremental dedup of the live corpus") {
    import graft.lake.LakeTable
    import graft.merge.CdcMerge
    import graft.model.Schemas
    val dir = tmpDir("cdcdedup")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      val base = "assistant replies with a long explanation about spark partitioning and shuffle behavior"
      def turn(conv: String, idx: Int, lsn: Long, text: String, op: String = "U") =
        (conv, idx, "assistant", text, null.asInstanceOf[String],
          new java.sql.Timestamp(1700000000000L + lsn), op, lsn)
      def batchDf(rows: Seq[(String, Int, String, String, String, java.sql.Timestamp, String, Long)]) =
        rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "op", "lsn")

      val store = LakeDedupStore.create(spark, s"$dir/s", bands, rowsPerBand, numPids = 8)
      var pairState = Set.empty[(String, String)]
      var lastVersion = table.currentVersion

      /** Consume (lastVersion, cur] from the table's OWN changelog: resolve
        * latest-per-key inside the window, route deletes and upserts into
        * one store refresh — exactly a ChangelogFollower callback body.
        */
      def consume(): Unit = {
        val cur = table.currentVersion
        if (cur == lastVersion) return
        val changes = table.changesBetween(lastVersion, cur)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("conv_id", "turn_idx").orderBy(col(Schemas.LSN_COL).desc)
        val latest = changes.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
          .withColumn("key", concat_ws("#", col("conv_id"), col("turn_idx")))
          .localCheckpoint(true)
        val deleted = latest.filter(col(Schemas.DELETED_COL)).select("key")
        val upserts = latest.filter(!col(Schemas.DELETED_COL)).select("key", "text")
        val changedKeys = latest.select("key").collect().map(_.getString(0)).toSet
        pairState = pairState.filterNot { case (a, b) =>
          changedKeys.contains(a) || changedKeys.contains(b) }
        pairState ++= pairSet(store.refresh(upserts, deleted, cur, minJ))
        lastVersion = cur
        // invariant: pair state == full recompute over the LIVE snapshot
        val live = table.snapshot()
          .withColumn("key", concat_ws("#", col("conv_id"), col("turn_idx")))
          .select("key", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
        assert(store.snapshot().count() == live.size)
        assert(store.watermark == cur)
        assert(pairState == fullRecompute(live))
      }

      // batch 1: two near-dup turns across conversations + one unrelated
      CdcMerge.apply(table, batchDf(Seq(
        turn("c1", 0, 1, base + " alpha"),
        turn("c2", 0, 2, base + " beta"),
        turn("c3", 0, 3, "totally unrelated content about duckdb oracles"))), 0L)
      consume()
      assert(pairState.contains(("c1#0", "c2#0")))
      // batch 2: update c2#0 away from the twin + add a new twin c4#0
      CdcMerge.apply(table, batchDf(Seq(
        turn("c2", 0, 10, "rewritten entirely different answer text now"),
        turn("c4", 0, 11, base + " gamma"))), 1L)
      consume()
      assert(!pairState.exists { case (a, b) => a == "c2#0" || b == "c2#0" })
      assert(pairState.contains(("c1#0", "c4#0")))
      // batch 3: tombstone c1#0
      CdcMerge.apply(table, batchDf(Seq(turn("c1", 0, 20, "", op = "D"))), 2L)
      consume()
      assert(!pairState.exists { case (a, b) => a == "c1#0" || b == "c1#0" })
    } finally rmrf(dir)
  }

  test("property: any random upsert/delete stream converges to the full recompute") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // a small doc universe with heavy near-dup structure: texts drawn from
    // 3 templates + a distinguishing token, keys reused across batches so
    // updates and resurrections occur naturally
    val templates = Vector(
      "alpha body text shared across many documents in this cluster today",
      "beta completely different sentence family for the second cluster",
      "gamma third cluster of text with its own vocabulary and rhythm")
    val docGen = for {
      key <- Gen.chooseNum(0, 14).map(i => s"k$i")
      t <- Gen.chooseNum(0, templates.size - 1)
      tag <- Gen.chooseNum(0, 9)
    } yield (key, s"${templates(t)} tag$tag")
    val batchGen = for {
      ups <- Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, docGen))
      dels <- Gen.chooseNum(0, 2).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(0, 14).map(i => s"k$i")))
    } yield (ups.groupBy(_._1).map(_._2.head).toSeq, dels.distinct) // one upsert per key

    (0 until 6).foreach { caseId =>
      val stream = Gen.listOfN(4, batchGen)
        .pureApply(Gen.Parameters.default, Seed(1000L + caseId))
      val dir = tmpDir("dedupprop")
      try {
        val store = LakeDedupStore.create(spark, s"$dir/s", bands, rowsPerBand, numPids = 4)
        var corpus = Map.empty[String, String]
        var pairState = Set.empty[(String, String)]
        stream.zipWithIndex.foreach { case ((ups, dels), i) =>
          val upserts = ups.filterNot { case (k, _) => dels.contains(k) }
          corpus = corpus -- dels ++ upserts
          val changed = upserts.map(_._1).toSet ++ dels
          pairState = pairState.filterNot { case (a, b) =>
            changed.contains(a) || changed.contains(b) }
          pairState ++= pairSet(store.refresh(upserts.toDF("key", "text"),
            dels.toDF("key"), i + 1L, minJ))
          assert(store.snapshot().count() == corpus.size, s"case $caseId: store size drift")
          assert(pairState == fullRecompute(corpus),
            s"case $caseId diverged; corpus=${corpus.keys.toSeq.sorted}")
        }
      } finally rmrf(dir)
    }
  }

  test("DedupMaintenance follows the live table: pairs land in the versioned log, store tracks the corpus, pin advances") {
    import graft.lake.LakeTable
    import graft.merge.CdcMerge
    import graft.model.Schemas
    val dir = tmpDir("dedupmaint")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      val base = "the maintenance thread watches a long answer about shuffle partitioning"
      def turn(conv: String, lsn: Long, text: String) =
        (conv, 0, "assistant", text, null.asInstanceOf[String],
          new java.sql.Timestamp(1700000000000L + lsn), "U", lsn)
      def df(rows: Seq[(String, Int, String, String, String, java.sql.Timestamp, String, Long)]) =
        rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "op", "lsn")
      def start() = graft.stream.DedupMaintenance.startLake(table, "text", s"$dir/pairs",
        s"$dir/store", minJaccard = 0.5, pollMs = 30L, numPids = 8)

      // an EMPTY table: the fresh store bootstraps from an empty snapshot
      var v2 = -1L
      val h = start()
      try {
        assert(h.store.watermark == table.currentVersion)
        CdcMerge.apply(table, df(Seq(
          turn("c1", 1, base + " alpha"), turn("c2", 2, base + " beta"))), 0L)
        val v1 = table.currentVersion
        awaitTrue(h.processedVersion >= v1)
        assert(h.failure.isEmpty, h.failure.toString)
        assert(h.processedVersion == v1)
        assert(h.store.snapshot().count() == 2)
        // second batch: a third twin → cross-batch pairs appear in the log
        CdcMerge.apply(table, df(Seq(turn("c3", 3, base + " gamma"))), 1L)
        v2 = table.currentVersion
        awaitTrue(h.processedVersion >= v2)
        assert(h.store.snapshot().count() == 3)
        val all = pairSet(spark.read.parquet(s"$dir/pairs"))
        assert(all == Set(("c1#0", "c2#0"), ("c1#0", "c3#0"), ("c2#0", "c3#0")), all)
        // incremental consumer read: only window 2's pairs
        val w2 = pairSet(graft.stream.DedupMaintenance.pairsBetween(spark, s"$dir/pairs", v1, v2))
        assert(w2 == Set(("c1#0", "c3#0"), ("c2#0", "c3#0")), w2)
        // durable pin tracks consumption (written after the callback)
        awaitTrue(table.pins("dedup-maintenance") == v2)
        assert(table.pins("dedup-maintenance") == v2)
      } finally h.close()

      // RESTART: write another batch while "down", restart from the
      // store's watermark, catch up
      CdcMerge.apply(table, df(Seq(turn("c4", 4, base + " delta"))), 2L)
      val v3 = table.currentVersion
      val h2 = start()
      try {
        awaitTrue(h2.processedVersion >= v3)
        assert(h2.failure.isEmpty, h2.failure.toString)
        assert(h2.store.snapshot().count() == 4)
        val afterRestart = pairSet(graft.stream.DedupMaintenance
          .pairsBetween(spark, s"$dir/pairs", v2, v3))
        assert(afterRestart == Set(("c1#0", "c4#0"), ("c2#0", "c4#0"), ("c3#0", "c4#0")),
          afterRestart)
        awaitTrue(table.pins("dedup-maintenance") == v3)
        assert(table.pins("dedup-maintenance") == v3)
      } finally h2.close()
    } finally rmrf(dir)
  }

  test("DedupMaintenance survives mid-stream schema evolution: added column flows through the changelog, dedup unaffected") {
    import graft.lake.LakeTable
    import graft.merge.CdcMerge
    import graft.model.Schemas
    val dir = tmpDir("evodedup")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      val base = "a reply that will appear in two conversations almost verbatim tonight"
      val h = graft.stream.DedupMaintenance.startLake(table, "text", s"$dir/pairs",
        s"$dir/store", minJaccard = 0.5, pollMs = 30L, numPids = 8)
      try {
        // batch 1: original schema
        CdcMerge.apply(table, Seq(
          ("c1", 0, "assistant", base + " one", null.asInstanceOf[String],
            new java.sql.Timestamp(1L), "U", 1L))
          .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "op", "lsn"), 0L)
        awaitTrue(h.processedVersion >= table.currentVersion)
        // batch 2: EVOLVED schema (added metadata column) — the table
        // evolves, the changelog aligns, the text-keyed dedup continues
        CdcMerge.apply(table, Seq(
          ("c2", 0, "assistant", base + " two", null.asInstanceOf[String],
            new java.sql.Timestamp(2L), "mdl-x", "U", 2L))
          .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "model", "op", "lsn"), 1L)
        val v2 = table.currentVersion
        awaitTrue(h.processedVersion >= v2)
        assert(h.failure.isEmpty, h.failure.toString)
        assert(h.store.snapshot().count() == 2)
        val pairs = pairSet(spark.read.parquet(s"$dir/pairs"))
        assert(pairs == Set(("c1#0", "c2#0")), pairs)
        // the evolved column is live in the table
        assert(table.snapshot().columns.contains("model"))
      } finally h.close()
    } finally rmrf(dir)
  }

  test("pairsBetween resolves an update re-emission to the NEWEST pair, not an arbitrary one") {
    val dir = tmpDir("pairlatest")
    try {
      // window 3 emits (a, b) at 0.9; window 7 re-emits the same pair at
      // 0.6 after a document update. The consumer contract is latest
      // pairs per key — dedupe must hand back the 0.6/v7 row, never the
      // stale one, and must still collapse exact crash-replay duplicates.
      Seq(("a", "b", 0.9, 3L), ("a", "c", 0.8, 3L))
        .toDF("key_a", "key_b", "est_jaccard", "to_version")
        .write.partitionBy("to_version").mode("append").parquet(s"$dir/pairs")
      Seq(("a", "b", 0.6, 7L), ("a", "b", 0.6, 7L)) // incl. a replay duplicate
        .toDF("key_a", "key_b", "est_jaccard", "to_version")
        .write.partitionBy("to_version").mode("append").parquet(s"$dir/pairs")
      val got = graft.stream.DedupMaintenance.pairsBetween(spark, s"$dir/pairs", 0L, 10L)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
          r.getAs[Number](3).longValue)).toSet
      assert(got == Set(("a", "b", 0.6, 7L), ("a", "c", 0.8, 3L)), got)
    } finally rmrf(dir)
  }

  test("a second maintenance loop on a live pin is refused AS A PURE NO-OP (pin untouched); a closed one can be restarted") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    import graft.lake.LakeTable
    import graft.merge.CdcMerge
    import graft.model.Schemas
    import graft.stream.{AnnMaintenance, DedupMaintenance}
    val dir = tmpDir("dedupdouble")
    try {
      val schema = StructType(Schemas.transcript.fields.toSeq :+
        StructField("emb", ArrayType(FloatType)))
      val table = LakeTable.create(spark, s"$dir/t", schema, numBuckets = 2)
      val pin = "dedup-maintenance"
      def startDedup() = DedupMaintenance.startLake(table, "text", s"$dir/pairs",
        s"$dir/store", pollMs = 30L, numPids = 8)
      def startAnn() = AnnMaintenance.startLake(table, "emb", s"$dir/ann",
        pollMs = 30L, pinName = pin, numPids = 8)
      def pairLog(): Set[String] = {
        val p = java.nio.file.Paths.get(s"$dir/pairs")
        if (!java.nio.file.Files.exists(p)) Set.empty
        else {
          val s = java.nio.file.Files.walk(p)
          try s.iterator().asScala.map(_.toString).toSet finally s.close()
        }
      }
      val h = startDedup()
      try {
        CdcMerge.apply(table, Seq(
          ("c1", 0, "assistant", "some text", null.asInstanceOf[String],
            new java.sql.Timestamp(1L), Seq.fill(8)(1.0f), "U", 1L))
          .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "emb", "op", "lsn")
          .withColumn("emb", col("emb").cast(ArrayType(FloatType))), 0L)
        val v1 = table.currentVersion
        awaitTrue(h.processedVersion >= v1 && table.pins(pin) == v1)
        assert(h.failure.isEmpty, h.failure.toString)
        val logBefore = pairLog()
        val wmBefore = LakeDedupStore.load(spark, s"$dir/store").watermark
        assert(wmBefore == v1)
        // the refused calls must not move the live loop's pin, its store
        // watermark or its pair log — nor create an ANN store
        val e = intercept[IllegalArgumentException](startDedup())
        assert(e.getMessage.contains("still live"), e.getMessage)
        // the ANN loop shares the registry: same table + pin is refused too
        val e2 = intercept[IllegalArgumentException](startAnn())
        assert(e2.getMessage.contains("still live"), e2.getMessage)
        assert(table.pins(pin) == v1, s"refused start moved the pin to ${table.pins(pin)}")
        assert(LakeDedupStore.load(spark, s"$dir/store").watermark == wmBefore)
        assert(pairLog() == logBefore)
        assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/ann")))
      } finally h.close()
      // after a clean close the pin is free again — for either loop
      val h2 = startDedup()
      try assert(h2.processedVersion == table.currentVersion) finally h2.close()
      val h3 = startAnn()
      try assert(h3.store.snapshot().count() == 1) finally h3.close()
    } finally rmrf(dir)
  }

  test("empty-batch refresh and empty-corpus search are content no-ops") {
    val dir = tmpDir("emptybatch")
    try {
      val store = LakeDedupStore.create(spark, s"$dir/d", bands, rowsPerBand, numPids = 4)
      store.refresh(Seq(("d1", "some text here"), ("d2", "other text there")).toDF("key", "text"),
        noKeys, 1L)
      // empty change batch (no upserts, no deletes): store content
      // unchanged, no pairs, only the watermark advances
      val pairs = store.refresh(Seq.empty[(String, String)].toDF("key", "text"), noKeys, 2L)
      assert(pairs.count() == 0 && store.snapshot().count() == 2 && store.watermark == 2L)
      // ANN: search over an empty store returns no rows; k > corpus is fine
      val idx = graft.ops.IncrementalAnn.IvfIndex(
        Array(Array.fill(8)(1.0), Array.fill(8)(-1.0)), nprobe = 2)
      val ann = LakeAnnStore.create(spark, s"$dir/a", idx, numPids = 4)
      val q = Seq(("q", Seq.fill(8)(1.0f))).toDF("doc_id", "emb")
        .select(col("doc_id"), col("emb").cast("array<float>").as("emb"))
      assert(ann.search(q, "emb", "doc_id", 5).count() == 0)
      ann.refresh(Seq(("c1", Seq.fill(8)(1.0f))).toDF("id", "vec")
        .select(col("id"), col("vec").cast("array<float>").as("vec")),
        Seq.empty[String].toDF("id"), 1L)
      assert(ann.search(q, "emb", "doc_id", 5).count() == 1)
    } finally rmrf(dir)
  }

  test("estimatedJaccard is the exact matching-component fraction") {
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 9L), 0.5),   // 2/4 match
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 4L), 1.0),   // identical
      (Seq(1L, 2L, 3L, 4L), Seq(5L, 6L, 7L, 8L), 0.0))   // disjoint
      .toDF("a", "b", "expect")
    val got = df.select(
      IncrementalDedup.estimatedJaccard(col("a"), col("b"), 4).as("est"),
      col("expect")).collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
  }

  test("a change batch with several rows per key is refused loudly, not silently deduplicated into store corruption") {
    val dir = tmpDir("dupkey")
    try {
      val store = LakeDedupStore.create(spark, s"$dir/d", bands, rowsPerBand, numPids = 4)
      val dup = Seq(("k1", "first version of the text"), ("k1", "second version of the text"))
      val e = intercept[IllegalArgumentException](
        store.planRefresh(dup.toDF("key", "text"), noKeys, minJ))
      assert(e.getMessage.contains("latest-per-key"), e.getMessage)
      assert(store.watermark == -1L && store.snapshot().count() == 0) // nothing committed
      val vecDup = Seq(("v1", Seq.fill(8)(1.0f)), ("v1", Seq.fill(8)(0.5f)))
        .toDF("id", "vec").select(col("id"), col("vec").cast("array<float>").as("vec"))
      val idx = graft.ops.IncrementalAnn.IvfIndex(Array(Array.fill(8)(1.0)), nprobe = 1)
      val ann = LakeAnnStore.create(spark, s"$dir/a", idx, numPids = 4)
      val e2 = intercept[IllegalArgumentException](
        ann.refresh(vecDup, Seq.empty[String].toDF("id"), 1L))
      assert(e2.getMessage.contains("latest-per-key"), e2.getMessage)
      assert(ann.watermark == -1L && ann.snapshot().count() == 0)
    } finally rmrf(dir)
  }

  test("work per refresh is O(batch): only changed docs are shingled") {
    // 50 stable docs in the store; a 2-doc batch must emit its pairs
    // while appending rows for the batch only: stable docs' band and key
    // rows stay in their files, untouched and bit-identical
    val dir = tmpDir("dedupobatch")
    try {
      val stable = (0 until 50).map(i => (s"s$i", s"stable document number $i with shared vocabulary words plus unique token u$i"))
      val store = LakeDedupStore.create(spark, s"$dir/s", bands, rowsPerBand, numPids = 8)
      store.refresh(stable.toDF("key", "text"), noKeys, 1L, minJ)
      def sigOf(k: String) = store.snapshot().filter(col("key") === k)
        .select("sig").collect()(0).getSeq[Long](0)
      val before = sigOf("s7")
      val filesBefore = (store.bandStore.manifest.files ++ store.keyIndex.manifest.files)
        .map(_.path).toSet
      val twins = Seq(("n1", "an exact twin pair lives here today"),
        ("n2", "an exact twin pair lives here today"))
      val got = store.refresh(twins.toDF("key", "text"), noKeys, 2L, minJ)
        .select("key_a", "key_b", "est_jaccard").collect()
      assert(got.exists(r => r.getString(0) == "n1" && r.getString(1) == "n2" &&
        r.getDouble(2) == 1.0))
      assert(store.snapshot().count() == 52)
      // every earlier file carried; the new files hold the batch's rows only
      val bandFiles = store.bandStore.manifest.files
      val keyFiles = store.keyIndex.manifest.files
      assert(filesBefore.subsetOf((bandFiles ++ keyFiles).map(_.path).toSet))
      assert(bandFiles.filterNot(f => filesBefore(f.path)).map(_.rows).sum == 2 * bands)
      assert(keyFiles.filterNot(f => filesBefore(f.path)).map(_.rows).sum == 2)
      // stable docs' signatures carried bit-identically
      assert(sigOf("s7") == before)
    } finally rmrf(dir)
  }
}
