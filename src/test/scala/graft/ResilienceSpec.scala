package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.gen.WalGen
import graft.lake.{FileEntry, LakeTable}
import graft.merge.CdcMerge
import graft.model.Schemas
import graft.stream.CdcStream

/** FIXTURES.md "restart" + "hot-key" scenarios: hard mid-stream kill with
  * checkpoint resume, and adaptive salting of a hot conversation's bucket.
  */
class ResilienceSpec extends SparkSpec {
  import spark.implicits._

  test("hard stop mid-stream, resume from checkpoint, reconverge to oracle") {
    val dir = tmpDir("kill")
    val cfg = WalGen.Config(numEvents = 30000, numConvs = 150)
    try {
      WalGen.writeWal(spark, s"$dir/wal", cfg, numChunks = 10)
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 8)
      // slow continuous trigger; kill while batches are in flight
      val q = CdcStream.start(spark, s"$dir/wal", table, s"$dir/cp",
        maxFilesPerTrigger = 1, trigger = Trigger.ProcessingTime("100 milliseconds"))
      // wait until at least one commit landed, then stop abruptly
      val deadline = System.currentTimeMillis() + 60000
      while (table.currentVersion < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      q.stop() // interrupts the stream thread, possibly mid-batch
      assert(table.currentVersion >= 2, "no progress before kill")
      val vAtKill = table.currentVersion
      // resume from the same checkpoint and drain
      CdcStream.runToCompletion(spark, s"$dir/wal", table, s"$dir/cp", maxFilesPerTrigger = 4)
      assert(table.currentVersion > vAtKill)
      val oracle = WalGen.oracleState(cfg)
      val got = table.snapshot().select("conv_id", "turn_idx", "text").collect()
        .map(r => ((r.getString(0), r.getInt(1)), r.getString(2))).toMap
      assert(got.size == oracle.size, s"${got.size} vs ${oracle.size}")
      oracle.foreach { case (k, e) => assert(got(k) == e.text, s"mismatch at $k") }
    } finally rmrf(dir)
  }

  test("fd hygiene: a commit loop does not leak directory-stream fds") {
    // every commit walks staging dirs (adoption) and deletes them
    // recursively; before the close-the-stream fix each commit pinned
    // ~2-3 fds until process exit — 30 commits would leak ~75. The bound
    // below allows Spark's own fd churn but catches a per-commit leak.
    val fdDir = java.nio.file.Paths.get("/proc/self/fd")
    assume(java.nio.file.Files.isDirectory(fdDir), "needs /proc (Linux)")
    def openFds(): Long = {
      val s = java.nio.file.Files.list(fdDir)
      try s.count() finally s.close()
    }
    val dir = tmpDir("fdleak")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      val cfg = WalGen.Config(numEvents = 3000, numConvs = 30)
      CdcMerge.apply(table, WalGen.events(spark, cfg, 0, 100).toDF(), 0L) // warm up lazies
      System.gc() // settle any pending cleaner work before the baseline
      val before = openFds()
      (1 until 31).foreach { b =>
        CdcMerge.apply(table,
          WalGen.events(spark, cfg, b * 90L, b * 90L + 90L).toDF(), b.toLong)
      }
      val after = openFds()
      assert(after - before < 50,
        s"fd growth ${after - before} over 30 commits (before=$before after=$after) — " +
        "a per-commit directory-stream leak")
    } finally rmrf(dir)
  }

  test("adaptive salting splits a hot conversation's bucket across writers") {
    // 32 buckets: the batch's 21 conversations reach 13 of them, a sparse
    // batch, so the second batch is routed at full depth over the
    // session's 4 shuffle partitions and each writer task writes several
    // buckets. 4 buckets: the depth the parallelism fills
    for (numBuckets <- Seq(4, 32)) saltingSplitsHotBucket(numBuckets)
  }

  private def saltingSplitsHotBucket(numBuckets: Int): Unit = {
    val dir = tmpDir("hot")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets)
      val convs = "conv-hot" +: (6 until 50 by 10).flatMap(t => t until t + 4).map(i => s"conv$i")
      val touched = convs.map(table.bucketOf(_, numBuckets)).toSet
      assert(convs.size == 21 && touched.size == Map(4 -> 4, 32 -> 13)(numBuckets))
      val depth = numBuckets // the second batch's routing depth, as above
      val ts = new java.sql.Timestamp(1700000000000L)
      // one conversation takes ~60% of all events
      def batchDf(lsnBase: Long) = spark.range(10000).select(
        lit("U").as("op"),
        (col("id") + lsnBase).as("lsn"),
        when(col("id") % 10 < 6, "conv-hot")
          .otherwise(concat(lit("conv"), pmod(col("id"), lit(50)))).as("conv_id"),
        pmod(col("id") * 7919, lit(100000)).cast("int").as("turn_idx"),
        lit("user").as("role"), lit("x").as("text"),
        lit(null).cast("string").as("tool"), lit(ts).as("ts"))
      // batch 0: no prior stats -> no salting, and no density history ->
      // full depth
      CdcMerge.apply(table, batchDf(0), 0L, saltBuckets = 4)
      // the hot conversation's bucket at the second batch's write depth
      val hotBucket = spark.range(1).select(
        pmod(xxhash64(lit("conv-hot")), lit(depth.toLong)).cast("int")).collect()(0).getInt(0)
      def filesPerBucket(epoch: Long, depth: Int) = {
        val m = table.manifest
        val fs = m.files.filter(_.epoch == epoch)
        assert(fs.forall(m.fileDepth(_) == depth),
          s"[$numBuckets buckets] epoch $epoch files not at depth $depth: ${fs.map(_.writePids)}")
        fs.groupBy(_.bucket).view.mapValues(_.size).toMap
      }
      val files0 = filesPerBucket(0, numBuckets)
      assert(files0.keySet == touched && files0.values.forall(_ == 1),
        s"[$numBuckets buckets] first batch should be unsalted, one file per bucket: $files0")
      // batch 1: previous-batch stats flag the hot bucket -> salted writers
      CdcMerge.apply(table, batchDf(1000000), 1L, saltBuckets = 4)
      val files1 = filesPerBucket(1, depth)
      assert(files1(hotBucket) > 1,
        s"[$numBuckets buckets] hot bucket should split across salted writers: $files1")
      // cold buckets stay single-file
      val cold1 = files1 - hotBucket
      assert(cold1.nonEmpty && cold1.values.forall(_ == 1),
        s"[$numBuckets buckets] cold buckets salted unnecessarily: $cold1")
      // the salted files are the ones a lookup of the hot conversation reads
      val m = table.manifest
      val hotFiles = m.files.filter(f => f.epoch == 1L && f.bucket == hotBucket).map(_.path).toSet
      assert(hotFiles.subsetOf(table.filesForConversation("conv-hot").map(_.path).toSet))
    } finally rmrf(dir)
  }
}
