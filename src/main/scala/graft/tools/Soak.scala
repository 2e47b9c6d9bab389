package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.gen.WalGen
import graft.lake.{FileEntry, LakeTable}
import graft.merge.CdcMerge
import graft.stream.CdcStream

/** Steady-state merge-on-read soak (VERDICT r2 item 3): stream >= 10^8
  * change events end-to-end with ASYNC compaction and measure
  *  - per-batch apply latency (p50/p95 from the lineage feed), and
  *  - delta-files-per-bucket over time (sampled from the live manifest).
  * The MOR read-amplification claim holds iff the delta depth stays FLAT:
  * the async compactor folds deltas back into bases at least as fast as
  * the stream appends them, so a reader's per-bucket resolve cost is
  * bounded by `compactEvery`, independent of how long the stream has run.
  *
  * Usage: runMain graft.tools.Soak [numEvents] [workDir]
  * Writes BENCH/SOAK.md + prints one JSON summary line.
  */
object Soak {

  private def rmrf(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(x => try Files.deleteIfExists(x) catch { case _: Throwable => () })
  }

  private def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) -1.0
    else xs.sorted.apply(math.min(xs.size - 1, (q * xs.size).toInt))

  final case class Sample(tSec: Double, version: Long, deltaFiles: Int,
                          maxPerBucket: Int, meanPerBucket: Double, baseFiles: Int)

  def main(args: Array[String]): Unit = {
    val numEvents = args.headOption.map(_.toLong).getOrElse(100000000L)
    val work = if (args.length > 1) args(1)
      else (if (Files.isWritable(Paths.get("/dev/shm"))) "/dev/shm" else "/tmp") +
        s"/graft-soak-${ProcessHandle.current().pid()}"
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val chunks = sys.env.getOrElse("GRAFT_SOAK_CHUNKS", "256").toInt
    val compactEvery = sys.env.getOrElse("GRAFT_SOAK_COMPACT_EVERY", "8").toInt
    // >0 enables mid-stream auto-rebucket (the 10^10-scale growth knob):
    // the table starts at 32 buckets and doubles whenever average
    // occupancy passes this bound — the soak then ALSO evidences reads/
    // compactions staying flat across mixed write depths
    val rebucketRows = sys.env.getOrElse("GRAFT_SOAK_REBUCKET_ROWS", "0").toLong
    rmrf(work); Files.createDirectories(Paths.get(work))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-soak")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16777216")
      .config("spark.storage.memoryMapThreshold", "2147483647")
      .config("spark.hadoop.fs.file.impl", classOf[graft.util.FastLocalFileSystem].getName)
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val walDir = s"$work/wal"
    System.err.println(s"[soak] generating $numEvents-event WAL in $chunks chunks...")
    val tGen0 = System.nanoTime()
    val cfg = WalGen.Config(numEvents = numEvents,
      numConvs = math.max(1000L, numEvents / 200), maxTurns = 40)
    WalGen.writeWal(spark, walDir, cfg, numChunks = chunks)
    val genSecs = (System.nanoTime() - tGen0) / 1e9
    System.err.println(f"[soak] WAL generated in $genSecs%.0fs")

    val table = LakeTable.create(spark, s"$work/table",
      graft.model.Schemas.transcript, numBuckets = 32)

    // manifest sampler: delta depth over time while the stream runs
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t0 = System.nanoTime()
    val sampler = new Thread(() => {
      while (!stop.get()) {
        try {
          val m = table.manifest
          val deltas = m.files.filter(_.kind == FileEntry.DELTA)
          val perBucket = deltas.flatMap(m.coveredBuckets).groupBy(identity).view.mapValues(_.size)
          val maxPb = if (perBucket.isEmpty) 0 else perBucket.values.max
          val meanPb = if (perBucket.isEmpty) 0.0
            else perBucket.values.sum.toDouble / m.numBuckets
          samples.add(Sample((System.nanoTime() - t0) / 1e9, m.version,
            deltas.size, maxPb, meanPb, m.files.count(_.kind == FileEntry.BASE)))
        } catch { case _: Throwable => () }
        Thread.sleep(2000)
      }
    }, "soak-sampler")
    sampler.setDaemon(true); sampler.start()

    System.err.println("[soak] streaming with asyncCompaction=true ...")
    val tS0 = System.nanoTime()
    CdcStream.runToCompletion(spark, walDir, table, s"$work/cp",
      maxFilesPerTrigger = 4, saltBuckets = 8, mode = CdcMerge.MergeOnRead,
      compactEvery = compactEvery, asyncCompaction = true,
      maxRowsPerBucket = rebucketRows)
    val streamSecs = (System.nanoTime() - tS0) / 1e9
    stop.set(true); sampler.join(5000)

    // per-batch latencies from the lineage feed
    val lineage = Paths.get(s"$work/cp/lineage.jsonl")
    val wallRe = """"wallMs":(\d+)""".r
    val rowsRe = """"batchRows":(-?\d+)""".r
    val lines =
      if (Files.exists(lineage))
        new String(Files.readAllBytes(lineage), StandardCharsets.UTF_8).split("\n").toSeq
      else Nil
    val batchMs = lines.flatMap(l => wallRe.findFirstMatchIn(l).map(_.group(1).toDouble))
    val appliedRows = lines.flatMap(l => rowsRe.findFirstMatchIn(l).map(_.group(1).toLong))
      .filter(_ >= 0).sum
    val p50 = pct(batchMs, 0.50); val p95 = pct(batchMs, 0.95)
    val tput = numEvents / streamSecs

    // delta-depth flatness: mean of max-per-bucket over the first vs last
    // third of the run (ignore a short warm-up head)
    val ss = {
      val it = samples.iterator(); val b = Seq.newBuilder[Sample]
      while (it.hasNext) b += it.next(); b.result()
    }
    val active = ss.dropWhile(_.deltaFiles == 0)
    val third = math.max(1, active.size / 3)
    val headMax = if (active.isEmpty) -1.0 else active.take(third).map(_.maxPerBucket.toDouble).sum / third
    val tailMax = if (active.isEmpty) -1.0 else active.takeRight(third).map(_.maxPerBucket.toDouble).sum / third
    val peakMax = if (active.isEmpty) -1 else active.map(_.maxPerBucket).max
    val endState = table.manifest
    // derived from the bucket-space growth (auto-rebucket always doubles
    // from the fixed 32-bucket start), NOT from lineage — lineage is
    // capped at 1000 entries, so a long soak would undercount
    val rebuckets =
      if (endState.numBuckets <= 32) 0
      else 31 - Integer.numberOfLeadingZeros(endState.numBuckets / 32)
    val endDepths = endState.files.map(endState.fileDepth).distinct.sorted.mkString(",")
    val endDeltaEpochs = endState.files.filter(_.kind == FileEntry.DELTA)
      .flatMap(f => endState.coveredBuckets(f).map(_ -> f.epoch))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size)
    val endMaxDepth = if (endDeltaEpochs.isEmpty) 0 else endDeltaEpochs.values.max

    val seriesMd = active.grouped(math.max(1, active.size / 24)).map(_.head).map(s =>
      f"| ${s.tSec}%.0f | ${s.version} | ${s.deltaFiles} | ${s.maxPerBucket} | ${s.meanPerBucket}%.1f | ${s.baseFiles} |")
      .mkString("\n")

    val md =
      s"""# SOAK — steady-state merge-on-read with async compaction
         |
         |${numEvents} change events (Zipf-hot conversations over ${cfg.numConvs}
         |conv_ids, duplicate deliveries, deletes) streamed end-to-end into a
         |fresh 32-bucket LakeTable at local[$cores]: foreachBatch MOR delta
         |append, asyncCompaction=true (compactEvery=$compactEvery), $chunks WAL
         |chunks at maxFilesPerTrigger=4 → ${batchMs.size} micro-batches.
         |
         |## Throughput + per-batch latency
         |
         || metric | value |
         ||---|---|
         || wall (stream) | ${f"$streamSecs%.0f"} s |
         || events/sec | ${tput.round} |
         || batches | ${batchMs.size} |
         || batch apply p50 | ${f"$p50%.0f"} ms |
         || batch apply p95 | ${f"$p95%.0f"} ms |
         || rows applied (post-dedup) | $appliedRows |
         |
         |## Delta depth over time (sampled every 2 s)
         |
         |MOR read bound: a reader pays the max-LSN window only over a
         |bucket's delta files. If the async compactor keeps up, the
         |per-bucket delta count oscillates below ~compactEvery instead of
         |growing with stream age.
         |
         || t (s) | version | delta files | max/bucket | mean/bucket | base files |
         ||---|---|---|---|---|---|
         |@SERIES@
         |
         |**Flatness**: mean(max delta files per bucket), first third =
         |${f"$headMax%.1f"} vs last third = ${f"$tailMax%.1f"}; peak = $peakMax.
         |End state: max delta EPOCH depth per bucket = $endMaxDepth
         |(compaction trigger = $compactEvery epochs).
         |End bucket space: ${endState.numBuckets} buckets, started 32 (${
           if (rebuckets == 0) "no auto-rebucket"
           else s"$rebuckets mid-stream auto-rebucket(s); write depths present at end: $endDepths"}).
         |A last-third value <= first-third + the compaction hysteresis
         |means the read bound holds for arbitrarily long streams.
         |""".stripMargin.replace("@SERIES@", seriesMd)
    Files.createDirectories(Paths.get("BENCH"))
    Files.write(Paths.get("BENCH/SOAK.md"), md.getBytes(StandardCharsets.UTF_8))

    println(s"""{"metric":"soak_events_per_sec","value":${tput.round},"events":$numEvents,""" +
      s""""stream_wall_sec":${f"$streamSecs%.0f"},"batches":${batchMs.size},""" +
      s""""batch_p50_ms":${f"$p50%.0f"},"batch_p95_ms":${f"$p95%.0f"},""" +
      s""""delta_max_per_bucket_first_third":${f"$headMax%.1f"},""" +
      s""""delta_max_per_bucket_last_third":${f"$tailMax%.1f"},"delta_peak":$peakMax,""" +
      s""""end_max_delta_epochs":$endMaxDepth,""" +
      s""""end_num_buckets":${endState.numBuckets},"rebuckets":$rebuckets}""")
    spark.stop()
    rmrf(work)
  }
}
