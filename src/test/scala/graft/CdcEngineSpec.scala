package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.gen.WalGen
import graft.lake.{LakeTable, SchemaReconciler}
import graft.merge.{CdcMerge, Compactor}
import graft.model.Schemas
import graft.stream.CdcStream

/** End-to-end correctness of the CDC engine vs the driver-side oracle
  * reducer (SURVEY.md §5): apply a deterministic WAL (with duplicate
  * deliveries, reordering, deletes, hot keys), then assert per-turn `text`
  * equality under stable (conv_id, turn_idx) ordering — the BASELINE
  * per-row invariant.
  */
class CdcEngineSpec extends SparkSpec {
  import spark.implicits._

  private def assertMatchesOracle(table: LakeTable, cfg: WalGen.Config): Unit = {
    val oracle = WalGen.oracleState(cfg)
    val got = table.snapshot()
      .orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "role", "text", "tool")
      .collect()
    assert(got.length == oracle.size, s"row count: got ${got.length}, oracle ${oracle.size}")
    val expected = oracle.toSeq.sortBy { case ((c, t), _) => (c, t) }
    got.zip(expected).foreach { case (row, ((c, t), e)) =>
      assert(row.getString(0) == c && row.getInt(1) == t, s"key mismatch at ($c,$t)")
      assert(row.getString(3) == e.text, s"text mismatch at ($c,$t)")
      assert(row.getString(2) == e.role && row.getString(4) == e.tool, s"payload mismatch at ($c,$t)")
    }
  }

  for ((compactEach, label) <- Seq(false -> "merge-on-read",
                                   true -> "merge-on-read, compacted after every batch"))
  test(s"batch merge ($label): WAL with dups/reorder/deletes reconverges to oracle") {
    val dir = tmpDir("lake")
    val cfg = WalGen.Config(numEvents = 20000, numConvs = 200, maxTurns = 30)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 8)
      // apply in 4 sequential batches, each internally reordered
      val per = cfg.numEvents / 4
      (0 until 4).foreach { b =>
        val batch = WalGen.events(spark, cfg, b * per, (b + 1) * per)
          .orderBy(xxhash64(col("lsn"))) // reorder within batch
        CdcMerge.apply(table, batch.toDF(), epoch = b.toLong)
        if (compactEach) {
          assert(Compactor.compactIfNeeded(table, deltaThreshold = 1).isDefined)
          assert(table.manifest.files.forall(_.kind == graft.lake.FileEntry.BASE))
        }
      }
      assertMatchesOracle(table, cfg)
      // uniqueness invariant on the key
      val dupKeys = table.snapshot().groupBy("conv_id", "turn_idx")
        .count().filter(col("count") > 1).count()
      assert(dupKeys == 0)
    } finally rmrf(dir)
  }

  test("compaction folds deltas into base, preserving state + tombstones") {
    val dir = tmpDir("compact")
    val cfg = WalGen.Config(numEvents = 12000, numConvs = 100)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      (0 until 4).foreach { b =>
        val batch = WalGen.events(spark, cfg, b * 3000L, (b + 1) * 3000L).toDF()
        CdcMerge.apply(table, batch, b.toLong, mode = CdcMerge.MergeOnRead)
      }
      val m1 = table.manifest
      assert(m1.files.count(_.kind == graft.lake.FileEntry.DELTA) > 0)
      val before = table.contentChecksum()
      val res = Compactor.compactIfNeeded(table, deltaThreshold = 1)
      assert(res.isDefined)
      val m2 = table.manifest
      assert(m2.files.forall(_.kind == graft.lake.FileEntry.BASE))
      assert(table.contentChecksum() == before)
      assertMatchesOracle(table, cfg)
      // tombstones survive compaction: stale update after compaction can't resurrect
      val ts = new java.sql.Timestamp(1700000000000L)
      val del = Seq(("D", 10_000_000L, "conv00000000", 0, null: String, null: String, null: String, ts))
        .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      CdcMerge.apply(table, del, 100L)
      Compactor.compact(table, (0 until 4).toSet)
      val stale = Seq(("U", 5_000_000L, "conv00000000", 0, "user", "zombie", null: String, ts))
        .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      CdcMerge.apply(table, stale, 101L)
      assert(table.snapshot()
        .filter(col("conv_id") === "conv00000000" && col("turn_idx") === 0).count() == 0)
    } finally rmrf(dir)
  }

  test("replay idempotence: re-applying a committed epoch is a no-op") {
    val dir = tmpDir("lake")
    val cfg = WalGen.Config(numEvents = 5000, numConvs = 50)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      val batch = WalGen.events(spark, cfg, 0, cfg.numEvents).toDF()
      val s1 = CdcMerge.apply(table, batch, epoch = 0)
      assert(s1.applied)
      val check1 = table.contentChecksum()
      val v1 = table.currentVersion
      val s2 = CdcMerge.apply(table, batch, epoch = 0) // replayed micro-batch
      assert(!s2.applied)
      assert(table.currentVersion == v1)
      assert(table.contentChecksum() == check1)
      assertMatchesOracle(table, cfg)
    } finally rmrf(dir)
  }

  test("bootstrap bulk load + binlog tail: history loads as sorted BASE files, stream composes on top") {
    val dir = tmpDir("bootstrap")
    val cfg = WalGen.Config(numEvents = 12000, numConvs = 120, maxTurns = 25)
    val cut = 8000L
    try {
      import spark.implicits._
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      // "upstream snapshot" = oracle state after the first `cut` events,
      // each row carrying its key's last-applied LSN
      val snapshot = WalGen.oracleState(cfg.copy(numEvents = cut)).toSeq
        .map { case ((c, t), e) => (c, t, e.role, e.text, e.tool, e.ts, e.lsn) }
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn")
      val stats = graft.merge.BulkLoad.load(table, snapshot)
      assert(stats.applied && stats.batchRows == snapshot.count())
      // loaded as BASE files only → snapshot reads are shuffle-free
      assert(table.manifest.files.forall(_.kind == graft.lake.FileEntry.BASE))
      val plan = { val df = table.snapshot(); df.collect(); df.queryExecution.executedPlan.toString }
      assert(!plan.contains("Exchange"), "bootstrap read must be shuffle-free")
      // double bootstrap is refused; non-empty table is protected
      intercept[IllegalArgumentException](graft.merge.BulkLoad.load(table, snapshot))
      // now tail the REST of the WAL on top of the bootstrap
      WalGen.writeWal(spark, s"$dir/wal", cfg, numChunks = 4, from = cut)
      CdcStream.runToCompletion(spark, s"$dir/wal", table, s"$dir/cp")
      assertMatchesOracle(table, cfg)
    } finally rmrf(dir)
  }

  test("stream identity: a fresh checkpoint (epochs reset to 0) re-applies instead of silently no-oping") {
    val dir = tmpDir("lake")
    val cfg = WalGen.Config(numEvents = 4000, numConvs = 40)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      val half = cfg.numEvents / 2
      val b0 = WalGen.events(spark, cfg, 0, half).toDF()
      val b1 = WalGen.events(spark, cfg, half, cfg.numEvents).toDF()
      // stream A applies epochs 0..1
      assert(CdcMerge.apply(table, b0, epoch = 0, streamId = "streamA").applied)
      assert(CdcMerge.apply(table, b1, epoch = 1, streamId = "streamA").applied)
      // replay of A's epoch 1 → no-op (exactly-once within the stream)
      assert(!CdcMerge.apply(table, b1, epoch = 1, streamId = "streamA").applied)
      val check = table.contentChecksum()
      // stream B (fresh checkpoint: epochs restart at 0) must APPLY, not no-op —
      // the old bare `lastEpoch >= epoch` gate would silently drop this batch
      val sB = CdcMerge.apply(table, b1, epoch = 0, streamId = "streamB")
      assert(sB.applied, "fresh-checkpoint batch was silently dropped")
      // internal epochs stay monotone and content stays idempotent
      assert(table.manifest.lastEpoch > 1)
      assert(table.contentChecksum() == check)
      assertMatchesOracle(table, cfg)
      // and B's own replay of its epoch 0 now no-ops
      assert(!CdcMerge.apply(table, b1, epoch = 0, streamId = "streamB").applied)
    } finally rmrf(dir)
  }

  test("tombstone: stale lower-LSN update never resurrects a deleted row") {
    val dir = tmpDir("lake")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      val ts = new java.sql.Timestamp(1700000000000L)
      val b0 = Seq(
        ("I", 1L, "c1", 0, "user", "hello", null: String, ts),
        ("I", 2L, "c1", 1, "assistant", "hi", null: String, ts)
      ).toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      CdcMerge.apply(table, b0, 0)
      val b1 = Seq(("D", 10L, "c1", 0, null: String, null: String, null: String, ts))
        .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      CdcMerge.apply(table, b1, 1)
      // stale update (lsn 5 < delete's 10) arrives in a LATER batch
      val b2 = Seq(("U", 5L, "c1", 0, "user", "resurrect?", null: String, ts))
        .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      CdcMerge.apply(table, b2, 2)
      val rows = table.snapshot().orderBy("turn_idx").collect()
      assert(rows.length == 1 && rows(0).getInt(1) == 1, "deleted row must stay deleted")
    } finally rmrf(dir)
  }

  test("streaming foreachBatch: tail WAL dir, drain, match oracle; restart resumes from checkpoint") {
    val dir = tmpDir("stream")
    val cfg = WalGen.Config(numEvents = 12000, numConvs = 120)
    try {
      WalGen.writeWal(spark, s"$dir/wal", cfg, numChunks = 6)
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 8)
      // drain in multiple micro-batches (2 files/trigger under AvailableNow)
      val q1 = CdcStream.start(spark, s"$dir/wal", table, s"$dir/cp", maxFilesPerTrigger = 2)
      q1.awaitTermination()
      assertMatchesOracle(table, cfg)
      // the lineage feed names each file's write depth: the first batch
      // has no density history and is routed at the full depth of 8; it
      // covers every bucket, so the next are routed at depth 4 in the
      // 4-partition test session
      val lineage = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/cp/lineage.jsonl")), "UTF-8").split("\n").filter(_.nonEmpty)
      val depths = lineage.map(l => "\"depth\":(\\d+)".r.findAllMatchIn(l).map(_.group(1).toInt).toSeq)
      assert(depths.size == 3 && depths.head == Seq.fill(8)(8) &&
        depths.tail.forall(d => d.size >= 4 && d.forall(_ == 4)),
        s"lineage depths per batch: ${depths.map(_.mkString(",")).mkString(" | ")}")
      // restart over same checkpoint: nothing new → no state change
      val check = table.contentChecksum()
      CdcStream.runToCompletion(spark, s"$dir/wal", table, s"$dir/cp")
      assert(table.contentChecksum() == check)
      // append more WAL, resume
      val cfg2 = cfg.copy(numEvents = 16000)
      val extra = WalGen.events(spark, cfg2, 12000, 16000).toDF()
      extra.coalesce(1).write.mode("overwrite").parquet(s"$dir/walextra")
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/walextra"))
        .iterator().asScala.find(_.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(f, java.nio.file.Paths.get(s"$dir/wal/chunk-99999.parquet"))
      CdcStream.runToCompletion(spark, s"$dir/wal", table, s"$dir/cp")
      assertMatchesOracle(table, cfg2)
    } finally rmrf(dir)
  }

  test("schema evolution: added column + widened type, old files readable") {
    val dir = tmpDir("evo")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      val ts = new java.sql.Timestamp(1700000000000L)
      val b0 = Seq(("I", 1L, "c1", 0, "user", "hello", null: String, ts))
        .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      CdcMerge.apply(table, b0, 0)
      // batch 1 adds tool_meta column and widens turn_idx to long
      val b1 = Seq(("I", 2L, "c1", 1L, "assistant", "hi", null: String, ts, """{"v":1}"""))
        .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_meta")
      CdcMerge.apply(table, b1, 1)
      val snap = table.snapshot().orderBy("turn_idx")
      assert(snap.schema("turn_idx").dataType == org.apache.spark.sql.types.LongType)
      assert(snap.columns.contains("tool_meta"))
      val rows = snap.collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[String]("tool_meta") == null) // old row null-filled
      assert(rows(1).getAs[String]("tool_meta") == """{"v":1}""")
      // narrowing / incompatible rejected
      val bad = SchemaReconciler.reconcile(
        table.userSchema,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.IntegerType))))
      assert(bad.isLeft)
      // decimal: precision widening allowed at fixed scale, scale change rejected
      import org.apache.spark.sql.types.{DecimalType, StructField, StructType}
      val dec = StructType(Seq(StructField("amt", DecimalType(10, 2))))
      val wideP = SchemaReconciler.reconcile(dec, StructType(Seq(StructField("amt", DecimalType(18, 2)))))
      assert(wideP.exists(_.schema("amt").dataType == DecimalType(18, 2)))
      assert(SchemaReconciler.reconcile(dec,
        StructType(Seq(StructField("amt", DecimalType(18, 4))))).isLeft)
      // a narrower-precision batch keeps the table type (cast up at apply)
      val narrowP = SchemaReconciler.reconcile(dec, StructType(Seq(StructField("amt", DecimalType(6, 2)))))
      assert(narrowP.exists(r => r.schema("amt").dataType == DecimalType(10, 2) && !r.evolved))
    } finally rmrf(dir)
  }

  test("vacuum removes unreferenced files; snapshot unaffected") {
    val dir = tmpDir("vac")
    val cfg = WalGen.Config(numEvents = 4000, numConvs = 40)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      (0 until 4).foreach { b =>
        val batch = WalGen.events(spark, cfg, b * 1000L, (b + 1) * 1000L).toDF()
        CdcMerge.apply(table, batch, b.toLong)
      }
      // compaction orphans the delta files in older manifest versions
      Compactor.compact(table, (0 until 4).toSet)
      val before = table.contentChecksum()
      val removed = table.vacuum(keepVersions = 1, graceMs = 0L)
      assert(removed > 0, "multi-version table should have unreferenced files")
      assert(table.contentChecksum() == before)
      assertMatchesOracle(table, cfg)
    } finally rmrf(dir)
  }
}
