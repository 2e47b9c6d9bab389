package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.gen.WalGen
import graft.lake.{FileEntry, LakeTable}
import graft.merge.{CdcMerge, Compactor}
import graft.model.Schemas
import graft.stream.CdcStream

/** Optimistic-concurrency compaction: the rewrite must reconcile with
  * concurrent micro-batch commits — rebase over commits to other buckets,
  * carry deltas appended into a compacted bucket, abandon (leaving no
  * orphan file) when its pinned input was rewritten — and an
  * async-compaction stream must converge to the oracle.
  */
class CompactionSpec extends SparkSpec {

  test("sweepStaleStaging: stale subtrees swept, subtrees with ANY recent write kept, live merges unaffected") {
    val dir = tmpDir("sweep")
    val cfg = WalGen.Config(numEvents = 500, numConvs = 10)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      val staging = java.nio.file.Paths.get(s"$dir/t/_staging")
      // abandoned attempt: top dir AND contents old → swept
      val dead = staging.resolve("epoch-1-deadbeef")
      java.nio.file.Files.createDirectories(dead.resolve("bucket=0"))
      java.nio.file.Files.write(dead.resolve("bucket=0/part-0.parquet"), Array[Byte](1))
      val old = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 7200000L)
      java.nio.file.Files.walk(dead).forEach(p => java.nio.file.Files.setLastModifiedTime(p, old))
      // long-running writer: top dir old (mkdir at job start) but a file
      // deep in the tree written moments ago → MUST survive (the bug the
      // subtree-mtime rule fixes: judging by the top dir would sweep it)
      val live = staging.resolve("epoch-2-12345678")
      java.nio.file.Files.createDirectories(live.resolve("bucket=1"))
      java.nio.file.Files.setLastModifiedTime(live, old)
      java.nio.file.Files.write(live.resolve("bucket=1/part-0.parquet"), Array[Byte](1))
      java.nio.file.Files.setLastModifiedTime(live.resolve("bucket=1"), old)
      table.core.sweepStaleStaging(olderThanMs = 3600000L)
      assert(!java.nio.file.Files.exists(dead), "stale attempt should be swept")
      assert(java.nio.file.Files.exists(live.resolve("bucket=1/part-0.parquet")),
        "subtree with a recent write must not be swept mid-flight")
      // a real merge (which sweeps on entry) still applies cleanly
      CdcMerge.apply(table, WalGen.events(spark, cfg, 0, 500).toDF(), 0L)
      oracleCheck(table, cfg)
    } finally rmrf(dir)
  }

  private def oracleCheck(table: LakeTable, cfg: WalGen.Config): Unit = {
    val oracle = WalGen.oracleState(cfg)
    val got = table.snapshot().select("conv_id", "turn_idx", "text").collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getString(2))).toMap
    assert(got.size == oracle.size, s"rows: got ${got.size}, oracle ${oracle.size}")
    oracle.foreach { case (k, e) => assert(got(k) == e.text, s"text mismatch at $k") }
  }

  test("concurrent commit to OTHER buckets: compaction rebases and commits") {
    val dir = tmpDir("cc1")
    val cfg = WalGen.Config(numEvents = 8000, numConvs = 100)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      (0 until 2).foreach { b =>
        CdcMerge.apply(table, WalGen.events(spark, cfg, b * 4000L, (b + 1) * 4000L).toDF(), b.toLong)
      }
      val compactBuckets = Set(0, 1)
      val others = table.manifest.files.map(_.bucket).toSet -- compactBuckets
      assert(others.nonEmpty)
      // inject a concurrent commit that touches ONLY the other buckets
      val otherConv = table.snapshot().withColumn("b", table.bucketExpr(4))
        .filter(col("b").isin(others.toSeq: _*)).select("conv_id").first().getString(0)
      val inject: () => Unit = () => {
        val extra = WalGen.events(spark, cfg, 0, 2000).toDF()
          .filter(col("conv_id") === otherConv)
        val st = CdcMerge.apply(table, extra, epoch = 99, streamId = "injector")
        assert(st.applied)
        ()
      }
      val v0 = table.currentVersion
      val r = Compactor.compact(table, compactBuckets, preCommit = inject)
      assert(r.isDefined, "compaction should rebase over an other-bucket commit")
      assert(table.currentVersion == v0 + 2) // injected commit + compaction commit
      // compacted buckets are base-only; injected delta survived the rebase
      val m = table.manifest
      assert(m.filesForBuckets(compactBuckets).forall(_.kind == FileEntry.BASE))
      assert(m.filesForBuckets(others).exists(f => f.kind == FileEntry.DELTA && f.epoch > 1))
      oracleCheck(table, cfg)
    } finally rmrf(dir)
  }

  test("concurrent delta INTO a compacted bucket: compaction carries it and commits") {
    val dir = tmpDir("cc2")
    val cfg = WalGen.Config(numEvents = 8000, numConvs = 100)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      (0 until 2).foreach { b =>
        CdcMerge.apply(table, WalGen.events(spark, cfg, b * 4000L, (b + 1) * 4000L).toDF(), b.toLong)
      }
      val compactBuckets = Set(0, 1)
      val victimConv = table.snapshot().withColumn("b", table.bucketExpr(4))
        .filter(col("b").isin(compactBuckets.toSeq: _*)).select("conv_id").first().getString(0)
      def injectAt(epoch: Long): () => Unit = () => {
        val extra = WalGen.events(spark, cfg, 0, 2000).toDF()
          .filter(col("conv_id") === victimConv)
        assert(CdcMerge.apply(table, extra, epoch = epoch, streamId = "injector").applied)
        ()
      }
      val inject = injectAt(99)
      // a post-pin delta append must NOT invalidate the rewrite: the
      // compacted base holds the pinned files' per-key winners and the new
      // delta rides on top (max-LSN resolve) — abandoning here would let
      // delta depth grow with stream age under a steady all-bucket stream
      val r = Compactor.compact(table, compactBuckets, preCommit = inject)
      assert(r.isDefined, "compaction must rebase over a post-pin delta, not abandon")
      val m = table.manifest
      val inBuckets = m.filesForBuckets(compactBuckets)
      assert(inBuckets.exists(_.kind == FileEntry.BASE), "rewritten base missing")
      // the concurrent delta SURVIVED the rebase (only post-pin files remain as deltas)
      assert(inBuckets.filter(_.kind == FileEntry.DELTA).forall(_.epoch > 1L),
        "pre-pin deltas must be folded away")
      assert(inBuckets.exists(_.kind == FileEntry.DELTA), "post-pin delta lost by the rebase")
      oracleCheck(table, cfg)
      // manifest references only existing files (nothing orphaned/dangling)
      val missing = table.manifest.files.filterNot(f =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/t").resolve(f.path)))
      assert(missing.isEmpty, s"manifest references missing files: $missing")

      // tombstone-dropping compaction DOES require quiescence: the same
      // post-pin injection aborts it (resurrection hazard)
      val r2 = Compactor.compact(table, compactBuckets,
        dropTombstones = true, preCommit = injectAt(100))
      assert(r2.isEmpty, "dropTombstones compaction must abandon on a post-pin write")
      // another compaction of the bucket (pinned files REMOVED) aborts this one
      val r3 = Compactor.compact(table, compactBuckets, preCommit = () => {
        Compactor.compact(table, compactBuckets) // folds the bucket → pinned files vanish
        ()
      })
      assert(r3.isEmpty, "compaction must abandon when its pinned input files were removed")
      oracleCheck(table, cfg)
    } finally rmrf(dir)
  }

  test("a coarse delta landing while part of its coverage is compacted is carried whole") {
    val dir = tmpDir("cc5")
    val cfg = WalGen.Config(numEvents = 8000, numConvs = 100)
    try {
      // 32 buckets in the 4-partition test session: merges write depth-4
      // deltas, each covering 8 current buckets
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 32)
      CdcMerge.apply(table, WalGen.events(spark, cfg, 0, 4000).toDF(), 0L)
      Compactor.compact(table, (0 until 32).toSet)
      assert(table.manifest.files.forall(f => f.kind == FileEntry.BASE && f.writePids.isEmpty))
      // compact buckets {0, 1} (pinned: full-depth bases only) while the
      // next batch commits, its depth-4 deltas covering {0, 4, ..} and
      // {1, 5, ..} — part of them inside the rewrite region, part outside
      var injected = Seq.empty[FileEntry]
      val r = Compactor.compact(table, Set(0, 1), preCommit = () => {
        assert(CdcMerge.apply(table, WalGen.events(spark, cfg, 4000, 8000).toDF(), 1L).applied)
        injected = table.manifest.files.filter(_.kind == FileEntry.DELTA)
        ()
      })
      assert(r.map(_.compactedBuckets).contains(Seq(0, 1)),
        s"compaction must rebase over a coarse post-pin delta, got $r")
      assert(injected.size == 4 && injected.forall(_.writePids.contains(4)))
      val m = table.manifest
      assert(injected.forall(m.files.contains), "the coarse delta must be carried whole")
      oracleCheck(table, cfg)
      // the next compaction folds it at full depth
      assert(Compactor.compactIfNeeded(table, deltaThreshold = 1).isDefined)
      assert(table.manifest.files.forall(f => f.kind == FileEntry.BASE && f.writePids.isEmpty))
      oracleCheck(table, cfg)
    } finally rmrf(dir)
  }

  test("ZORDER-shaped compaction racing a live append carries it; an abandoned one leaves no orphan file") {
    val dir = tmpDir("cc4")
    val cfg = WalGen.Config(numEvents = 8000, numConvs = 100)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      (0 until 2).foreach { b =>
        CdcMerge.apply(table, WalGen.events(spark, cfg, b * 4000L, (b + 1) * 4000L).toDF(), b.toLong)
      }
      val all = (0 until 4).toSet
      val victimConv = table.snapshot().select("conv_id").first().getString(0)
      // what OPTIMIZE t ZORDER BY (ts) runs, with a merge-on-read append
      // committing between the rewrite and its commit
      val r = Compactor.compact(table, all, maxRecordsPerFile = 64L,
        clusterBy = Some(df => graft.lake.ZOrder.zColumn(df, Seq("ts"))),
        preCommit = () => {
          val extra = WalGen.events(spark, cfg, 0, 2000).toDF()
            .filter(col("conv_id") === victimConv)
          assert(CdcMerge.apply(table, extra, epoch = 99, streamId = "injector").applied)
          ()
        })
      assert(r.isDefined, "a clustered compaction must rebase over a concurrent append")
      val deltas = table.manifest.files.filter(_.kind == FileEntry.DELTA)
      assert(deltas.nonEmpty, "the concurrent delta was lost by the rebase")
      assert(deltas.forall(_.epoch > 1L), "pre-pin deltas must be folded away")
      oracleCheck(table, cfg)

      // abandoned: another compaction folds the same buckets mid-window, so
      // the pinned input is gone; the loser must delete what it adopted
      val r2 = Compactor.compact(table, all, preCommit = () => {
        assert(Compactor.compact(table, all).isDefined)
        ()
      })
      assert(r2.isEmpty, "compaction must abandon when its pinned input files were removed")
      val root = java.nio.file.Paths.get(s"$dir/t")
      val referenced = (0L to table.currentVersion)
        .flatMap(v => table.manifestAt(v).files.map(_.path)).toSet
      val onDisk = {
        val w = java.nio.file.Files.walk(root.resolve("data"))
        try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => root.relativize(p).toString).toSet
        finally w.close()
      }
      assert((onDisk -- referenced).isEmpty,
        s"files no manifest references: ${(onDisk -- referenced).take(3)}")
      oracleCheck(table, cfg)
    } finally rmrf(dir)
  }

  test("streaming with async compaction converges to the oracle") {
    val dir = tmpDir("cc3")
    val cfg = WalGen.Config(numEvents = 20000, numConvs = 150, maxTurns = 25)
    try {
      WalGen.writeWal(spark, s"$dir/wal", cfg, numChunks = 10)
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      CdcStream.runToCompletion(spark, s"$dir/wal", table, s"$dir/cp",
        maxFilesPerTrigger = 1, compactEvery = 3, asyncCompaction = true)
      oracleCheck(table, cfg)
      val dupKeys = table.snapshot().groupBy("conv_id", "turn_idx")
        .count().filter(col("count") > 1).count()
      assert(dupKeys == 0)
    } finally rmrf(dir)
  }
}
