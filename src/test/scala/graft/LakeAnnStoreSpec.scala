package graft

import org.apache.spark.sql.functions._
import graft.ops.{IncrementalAnn, LakeAnnStore}

/** The lake-backed ANN assignment store must equal a batch assignment of
  * the surviving corpus at every step, and its search must equal the
  * reference search over that assignment — while reading only the probed
  * cells' partitions.
  */
class LakeAnnStoreSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 8

  /** Deterministic unit-ish vectors around two poles + noise dims. */
  private def vec(pole: Int, jitter: Int): Seq[Float] =
    (0 until dims).map { d =>
      val base = if (d == 0) (if (pole == 0) 1.0f else -1.0f) else 0.1f * ((d + jitter) % 3)
      base + 0.01f * jitter
    }

  private def toVecDf(rows: Seq[(String, Seq[Float])]) =
    rows.toDF("id", "vec").select(col("id"), col("vec").cast("array<float>").as("vec"))

  test("lake-backed refresh equals batch assignment at every step; search results identical and cell-pruned") {
    val dir = tmpDir("lakeann")
    try {
      val index = IncrementalAnn.IvfIndex(
        Array(Array.tabulate(dims)(d => if (d == 0) 1.0 else 0.1),
          Array.tabulate(dims)(d => if (d == 0) -1.0 else 0.1)), nprobe = 1)
      val lake = LakeAnnStore.create(spark, s"$dir/s", index, numPids = 8)
      var corpus = Map.empty[String, Seq[Float]]
      def assigned = toVecDf(corpus.toSeq).withColumn("cell", index.assignExpr(col("vec")))
      def cellsOf(df: org.apache.spark.sql.DataFrame) =
        df.select("id", "cell").collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      var wm = 0L

      def applyBatch(s: LakeAnnStore, ups: Seq[(String, Seq[Float])],
                     dels: Seq[String] = Nil): Unit = {
        wm += 1
        corpus = corpus -- dels ++ ups
        s.refresh(toVecDf(ups), dels.toDF("id"), wm)
        assert(cellsOf(s.snapshot()) == cellsOf(assigned), s"assignment divergence at wm=$wm")
        assert(s.watermark == wm)
      }

      applyBatch(lake, Seq("p0a" -> vec(0, 1), "p0b" -> vec(0, 2), "p1a" -> vec(1, 1)))
      applyBatch(lake, Seq("p1b" -> vec(1, 2), "p0c" -> vec(0, 3)))
      // UPDATE across cells: p0c flips pole → old-cell tombstone + new row
      applyBatch(lake, Seq("p0c" -> vec(1, 3)))
      // DELETE
      applyBatch(lake, Seq.empty, dels = Seq("p1a"))

      // search parity vs the reference search, for queries near both poles
      val qs = toVecDf(Seq("q0" -> vec(0, 9), "q1" -> vec(1, 9)))
      def normalize(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "corpus_id", "rank").collect()
          .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      val gotSearch = normalize(lake.search(qs, "vec", "id", k = 2))
      val wantSearch = normalize(IncrementalAnn.search(index, assigned, qs, "vec", "id", k = 2))
      assert(gotSearch == wantSearch, s"got=$gotSearch want=$wantSearch")
      // pruning: with nprobe=1 the two queries probe one cell each — the
      // probed pid set must be a strict subset of the store's partitions
      val probedPids = lake.vecStore.pidsOf(Seq(Tuple1(0), Tuple1(1)).toDF("cell"))
      assert(probedPids.size <= 2 && probedPids.size < lake.vecStore.numPids)

      // compaction + reload: content and search unchanged
      lake.maintain(vacuumGraceMs = 0L)
      val re = LakeAnnStore.load(spark, s"$dir/s")
      assert(re.watermark == wm)
      assert(normalize(re.search(qs, "vec", "id", k = 2)) == wantSearch)

      // imbalance signal reads only (id, cell)
      assert(re.imbalance() >= 1.0)

      // retrain + reassign: swapped-pole centroids relabel every cell,
      // content (ids) preserved, search still finds the near pole
      val swapped = IncrementalAnn.IvfIndex(index.centroids.reverse, nprobe = 1)
      re.reassign(swapped)
      val after = cellsOf(re.snapshot())
      assert(after.keySet == corpus.keySet)
      val relabelled = cellsOf(assigned).map { case (id, c) => id -> (1 - c) }
      assert(after == relabelled, s"after=$after want=$relabelled")
      assert(normalize(re.search(qs, "vec", "id", k = 2)) == wantSearch)
    } finally rmrf(dir)
  }

  test("a reassign killed between the two store replacements is completed on load; deletes still take") {
    val dir = tmpDir("lakeanncrash")
    try {
      val index = IncrementalAnn.IvfIndex(
        Array(Array.tabulate(dims)(d => if (d == 0) 1.0 else 0.1),
          Array.tabulate(dims)(d => if (d == 0) -1.0 else 0.1)), nprobe = 1)
      val s = LakeAnnStore.create(spark, s"$dir/s", index, numPids = 8)
      s.refresh(toVecDf(Seq("a" -> vec(0, 1), "b" -> vec(0, 2), "c" -> vec(1, 1))),
        Seq.empty[String].toDF("id"), 1L)

      // simulate the review's crash point: marker + index.json + vecStore
      // all NEW, cellIndex still OLD — the close()-interrupt landing
      // between the two replaceAll calls
      val swapped = IncrementalAnn.IvfIndex(index.centroids.reverse, nprobe = 1)
      val live = s.snapshot().localCheckpoint(true)
      graft.lake.Manifest.writeAtomic(
        java.nio.file.Paths.get(s"$dir/s", LakeAnnStore.PENDING), "{}")
      s.setIndex(swapped)
      val rows = live.select(col("id"), col("vec"))
        .withColumn("cell", swapped.assignExpr(col("vec")))
        .select("id", "cell", "vec")
      s.vecStore.replaceAll(rows, s.watermark)
      // (crash — cellIndex.replaceAll never runs)
      val vecCells = s.vecStore.read(None).collect()
        .map(r => (r.getString(0), r.getInt(1))).toMap
      val oldCells = s.cellIndex.read(None).collect()
        .map(r => (r.getString(0), r.getInt(1))).toMap
      assert(vecCells != oldCells, "precondition: the two stores disagree")

      // load completes the reassign before anyone reads
      val re = LakeAnnStore.load(spark, s"$dir/s")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/s", LakeAnnStore.PENDING)))
      val cellsAfter = re.cellIndex.read(None).collect()
        .map(r => (r.getString(0), r.getInt(1))).toMap
      val vecsAfter = re.snapshot().collect()
        .map(r => (r.getString(0), r.getInt(1))).toMap
      assert(cellsAfter == vecsAfter, s"cells=$cellsAfter vecs=$vecsAfter")
      assert(vecsAfter == Map("a" -> 1, "b" -> 1, "c" -> 0)) // relabelled poles

      // the corruption the bug caused: a delete's tombstone routed via a
      // stale cellIndex never shadowed the live row. After recovery it must.
      re.refresh(toVecDf(Nil), Seq("a").toDF("id"), 2L)
      assert(re.snapshot().collect().map(_.getString(0)).toSet == Set("b", "c"))
      val qs = toVecDf(Seq("q0" -> vec(0, 9)))
      val found = re.search(qs, "vec", "id", k = 3).collect().map(_.getString(1)).toSet
      assert(!found.contains("a"), s"deleted vector still searchable: $found")
    } finally rmrf(dir)
  }

  test("AnnMaintenance follows the live table: bootstrap, null-embedding removal, watermark resume, undertrained retrain") {
    import graft.lake.LakeTable
    import graft.merge.CdcMerge
    import graft.model.Schemas
    import org.apache.spark.sql.types._
    val dir = tmpDir("annmaint")
    try {
      val schema = StructType(Schemas.transcript.fields.toSeq :+
        StructField("emb", ArrayType(FloatType)))
      val table = LakeTable.create(spark, s"$dir/t", schema, numBuckets = 2)
      def row(conv: String, lsn: Long, emb: Seq[Float], op: String = "U") =
        (conv, 0, "assistant", s"text $conv", null.asInstanceOf[String],
          new java.sql.Timestamp(1700000000000L + lsn), emb, op, lsn)
      def df(rows: Seq[(String, Int, String, String, String, java.sql.Timestamp, Seq[Float], String, Long)]) =
        rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "emb", "op", "lsn")
          .select(col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"),
            col("ts"), col("emb").cast(ArrayType(FloatType)).as("emb"), col("op"), col("lsn"))
      def awaitTrue(cond: => Boolean, ms: Long = 60000): Unit = {
        val deadline = System.currentTimeMillis() + ms
        while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
      }

      // pre-existing rows (4 embedded around two poles + 1 unembedded):
      // bootstrap trains a real 2-cell quantizer and indexes 4 vectors
      CdcMerge.apply(table, df(Seq(
        row("a1", 1, vec(0, 1)), row("a2", 2, vec(0, 2)),
        row("b1", 3, vec(1, 1)), row("b2", 4, vec(1, 2)),
        row("n1", 5, null))), 0L)
      val h = graft.stream.AnnMaintenance.startLake(table, "emb", s"$dir/store",
        nlist = 2, nprobe = 2, pollMs = 30L, numPids = 8, compactEvery = 100)
      try {
        assert(h.store.watermark == table.currentVersion)
        assert(h.store.snapshot().count() == 4) // unembedded row not indexed
        // live window: update a1 across poles, delete b2, null-out a2,
        // add a fresh vector
        CdcMerge.apply(table, df(Seq(
          row("a1", 10, vec(1, 5)),
          row("b2", 11, null.asInstanceOf[Seq[Float]], op = "D"),
          row("a2", 12, null),
          row("c1", 13, vec(0, 7)))), 1L)
        val v2 = table.currentVersion
        awaitTrue(h.processedVersion >= v2)
        assert(h.failure.isEmpty, h.failure.toString)
        val ids = h.store.snapshot().collect().map(_.getString(0)).toSet
        assert(ids == Set("a1#0", "b1#0", "c1#0"), ids) // b2 deleted, a2 un-embedded
        // search: a pole-0 query finds c1 (the only pole-0 vector left)
        val q = toVecDf(Seq("q" -> vec(0, 9)))
        val top = h.store.search(q, "vec", "id", k = 1).collect()(0)
        assert(top.getString(1) == "c1#0", top.toString)
      } finally h.close()

      // restart while "down": resume purely from the store watermark
      CdcMerge.apply(table, df(Seq(row("c2", 20, vec(0, 8)))), 2L)
      val v3 = table.currentVersion
      val h2 = graft.stream.AnnMaintenance.startLake(table, "emb", s"$dir/store",
        nlist = 2, nprobe = 2, pollMs = 30L, numPids = 8)
      try {
        awaitTrue(h2.processedVersion >= v3)
        assert(h2.failure.isEmpty, h2.failure.toString)
        assert(h2.store.snapshot().count() == 4)
      } finally h2.close()

      // UNDERTRAINED path: a table whose initial corpus is too small for
      // nlist gets the trivial 1-cell index; once the corpus grows, the
      // maintenance cycle retrains to the real quantizer
      val t2 = LakeTable.create(spark, s"$dir/t2", schema, numBuckets = 2)
      CdcMerge.apply(t2, df(Seq(row("x1", 1, vec(0, 1)))), 0L)
      val h3 = graft.stream.AnnMaintenance.startLake(t2, "emb", s"$dir/store2",
        nlist = 2, nprobe = 2, pollMs = 30L, numPids = 8, compactEvery = 1)
      try {
        assert(h3.store.index.nlist == 1) // bootstrap fell back to trivial
        CdcMerge.apply(t2, df(Seq(
          row("x2", 10, vec(1, 1)), row("x3", 11, vec(1, 2)),
          row("x4", 12, vec(0, 2)))), 1L)
        awaitTrue(h3.retrains >= 1)
        assert(h3.failure.isEmpty, h3.failure.toString)
        assert(h3.store.index.nlist == 2)
        assert(h3.store.snapshot().count() == 4)
      } finally h3.close()
    } finally rmrf(dir)
  }
}
