package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.gen.WalGen
import graft.lake.LakeTable
import graft.merge.CdcMerge
import graft.model.Schemas
import graft.stream.CdcStream

/** Benchmark harness. Two parts:
  *
  *  1. headline operator queries on `SPARK_GRAFT_SF_DIR` at
  *     `local[SPARK_GRAFT_CPUS]` (driver contract — one JSON line);
  *  2. CDC-apply scaling: the same deterministic WAL stream-applied
  *     end-to-end at N = cores/4 and 4N cores, where `cores` is what this
  *     JVM was granted. Each rep runs in a fresh `graft.Bench child` JVM
  *     pinned to its level with `taskset`; `GRAFT_BENCH_REPS` interleaved
  *     reps per level, the best kept. A level the host cannot grant reads
  *     `invalid`, and no efficiency is printed unless both levels are valid.
  *
  * Output: one JSON line on stdout + BENCH/BASELINE.md + BENCH/BENCH.json.
  */
object Bench {

  /** One pinned child's run of a CDC level. `cores` is what the child's
    * JVM reported after pinning (0 when it printed no result line).
    */
  final case class Rep(level: Int, cores: Int, eventsPerSec: Double, wallSec: Double,
                       calibMops: Double) {
    def valid: Boolean = cores >= level
  }

  /** The CDC levels N = cores/4 and 4N on a host of `cores`, or None when
    * N is 0: a host of fewer than 4 cores cannot grant two levels 4x apart.
    */
  def levels(cores: Int): Option[(Int, Int)] = Some(cores / 4).filter(_ > 0).map(n => (n, 4 * n))

  /** A level's best valid rep, or None (`invalid`) when no rep of it was
    * granted its cores.
    */
  def best(reps: Seq[Rep], level: Int): Option[Rep] =
    reps.filter(r => r.level == level && r.valid).maxByOption(_.eventsPerSec)

  /** (tput_hi / tput_lo) / (hi / lo), computed only from two valid levels. */
  def efficiency(lo: Option[Rep], hi: Option[Rep]): Option[Double] =
    for (l <- lo; h <- hi) yield (h.eventsPerSec / l.eventsPerSec) / (h.level.toDouble / l.level)

  private def session(cores: Int, tmp: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // scans split fine enough to occupy all cores on modest batches
      .config("spark.sql.files.maxPartitionBytes", "16777216")
      // no mmap for storage/shuffle blocks: concurrent page faults on
      // mapped files serialize on the kernel mmap_lock in this VM
      .config("spark.storage.memoryMapThreshold", "2147483647")
      // no libhadoop in this container: stock LocalFileSystem fork+execs
      // chmod/ls per file op and writes .crc sidecars — see FastLocalFileSystem
      .config("spark.hadoop.fs.file.impl", classOf[graft.util.FastLocalFileSystem].getName)
      // snappy: measured 5-15% faster end-to-end apply than zstd on this
      // CPU-bound box (both orderings, pinned 8-core probes); zstd remains
      // the right choice on storage-bandwidth-bound clusters
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.local.dir", s"$tmp/spark-local-$cores")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** End-to-end streaming apply of `walDir` into a fresh table → (ev/s, wallSec). */
  private def cdcApply(spark: SparkSession, walDir: String, work: String,
                       numEvents: Long): (Double, Double) = {
    val table = LakeTable.create(spark, s"$work/table", Schemas.transcript, numBuckets = 32)
    val t0 = System.nanoTime()
    CdcStream.runToCompletion(spark, walDir, table, s"$work/cp",
      maxFilesPerTrigger = 4, saltBuckets = 8, mode = CdcMerge.MergeOnRead,
      compactEvery = 8)
    val secs = (System.nanoTime() - t0) / 1e9
    (numEvents / secs, secs)
  }

  private val ChildLine =
    """\[bench-child\] cores=(\d+)(?: events_per_sec=(\d+) wall_sec=(\S+) calib_mops=(\d+))?""".r

  /** Child mode: apply `walDir` at `level` cores and print one result
    * line. A child granted fewer cores than its level runs nothing.
    */
  private def child(level: Int, events: Long, walDir: String, work: String): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    if (cores < level) println(s"[bench-child] cores=$cores")
    else {
      // single-thread host calibration, just before the run: the shared
      // host's capacity swings minute to minute
      val calib = graft.util.DetHash.calibrateMops()
      val spark = session(level, work)
      val (evps, secs) = cdcApply(spark, walDir, work, events)
      spark.stop()
      println(f"[bench-child] cores=$cores events_per_sec=$evps%.0f wall_sec=$secs%.3f calib_mops=$calib%.0f")
    }
  }

  /** One rep of `level` in a fresh JVM pinned to CPUs 0..level-1: an
    * "N-core cluster" gets N cores for everything (executor threads, GC,
    * shuffle and writer threads), unlike an unpinned local[N] that borrows
    * the host's idle cores. The child runs with this JVM's own flags, which
    * carry build.sbt's add-opens and heap size.
    */
  private def runChild(level: Int, events: Long, walDir: String, work: String): Rep = {
    val cmd = Seq("taskset", "-c", s"0-${level - 1}", System.getProperty("java.home") + "/bin/java") ++
      ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.Bench", "child", level.toString, events.toString, walDir, work)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    proc.waitFor()
    ChildLine.findFirstMatchIn(out) match {
      case Some(m) if m.group(2) != null =>
        Rep(level, m.group(1).toInt, m.group(2).toDouble, m.group(3).toDouble, m.group(4).toDouble)
      case Some(m) => Rep(level, m.group(1).toInt, 0.0, 0.0, 0.0)
      case None =>
        System.err.println(s"[bench] pinned child produced no result line:\n${out.takeRight(2000)}")
        Rep(level, 0, 0.0, 0.0, 0.0)
    }
  }

  private def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(x => try Files.deleteIfExists(x) catch { case _: Throwable => () })
  }

  def main(args: Array[String]): Unit = args match {
    case Array("child", level, events, walDir, work) =>
      child(level.toInt, events.toLong, walDir, work)
      sys.exit(0) // Spark leaves non-daemon threads behind; the result is printed
    case _ => run()
  }

  private def run(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val benchEvents = sys.env.getOrElse("GRAFT_BENCH_EVENTS", "16000000").toLong
    val reps = sys.env.getOrElse("GRAFT_BENCH_REPS", "2").toInt
    // per-process scratch on the ordinary filesystem: two concurrent Bench
    // runs must not share (and rmrf) each other's WAL/spark-local dirs
    val tmp = Files.createTempDirectory("graft-bench-").toString

    // ---- part 1: operator queries ----
    // iteration knobs (builder-local): GRAFT_BENCH_ONLY=q1,q2 runs a subset;
    // GRAFT_BENCH_SKIP_CDC=1 skips part 2 (per-query timing loops)
    val only = sys.env.get("GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val skipCdc = sys.env.contains("GRAFT_BENCH_SKIP_CDC")
    val s1 = session(cpus, tmp)
    // untimed warm-up: session init, codegen/JIT first-touch, parquet
    // footer caches — otherwise the alphabetically-first queries absorb
    // ~2-4s of one-time cost and per-query numbers aren't comparable
    s1.range(1000000).selectExpr("sum(id)").collect()
    try SparkEntry.queries.get("q_token_count").foreach(_(s1, sfDir).count())
    catch { case _: Throwable => () }
    // bench view: verification-heavy queries run as their lean operator
    // twins (the correctness dump keeps the oracle-rich forms)
    val benchQueries = Queries.allForBench.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
    def runPass(order: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
                failed: scala.collection.mutable.Set[String]) =
      order.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(s1, sfDir).count() } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); failed += name }
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    // De-aliased cost attribution: queries sharing a persisted pipeline
    // (the dedup family persists its LSH intermediates) charge the FIRST
    // runner with the shared materialization. Run the suite twice —
    // forward, cache cleared, then REVERSED — and report min-per-query:
    // each query gets at least one position where it is not the family's
    // first touch, so its min reflects the operator, not run order.
    val failedFwd = scala.collection.mutable.Set.empty[String]
    val failedRev = scala.collection.mutable.Set.empty[String]
    val fwd = runPass(benchQueries, failedFwd)
    s1.catalog.clearCache() // drop shared persisted intermediates between passes
    val rev = runPass(benchQueries.reverse, failedRev)
    // a failed pass records its time-to-ERROR, which must never masquerade
    // as the query's cost: take the min over SUCCESSFUL passes only, and
    // surface double failures explicitly (-1 + the "failed" list) instead
    // of silently understating the suite total
    val results = benchQueries.map { case (name, _) =>
      val ok = Seq(fwd(name) -> failedFwd.contains(name),
        rev(name) -> failedRev.contains(name)).collect { case (t, false) => t }
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    val failedBoth = benchQueries.map(_._1)
      .filter(n => failedFwd.contains(n) && failedRev.contains(n))
    // first_touch: position changed this query's cost materially — its
    // single-pass number would have been attribution noise (only
    // meaningful when both passes succeeded)
    val firstTouch = benchQueries.map(_._1).filter { n =>
      val mn = math.min(fwd(n), rev(n))
      !failedFwd.contains(n) && !failedRev.contains(n) &&
        math.abs(fwd(n) - rev(n)) > math.max(0.5 * mn, 0.3)
    }
    val totalQ = results.map(_._2).filter(_ >= 0).sum
    val firstTouchJson = firstTouch.map("\"" + _ + "\"").mkString("[", ",", "]") +
      (if (failedBoth.nonEmpty)
        failedBoth.map("\"" + _ + "\"").mkString(",\"failed\":[", ",", "]")
      else "")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")

    if (skipCdc) {
      println(s"""{"metric":"queries_only","queries_total_sec":${f"$totalQ%.1f"},""" +
        s""""queries":$qs,"first_touch":$firstTouchJson,"sf":"$sfDir"}""")
      s1.stop(); rmrf(tmp); return
    }

    // ---- part 2: CDC scaling (same WAL, two pinned levels) ----
    val hostCores = Runtime.getRuntime.availableProcessors()
    val lv = levels(hostCores)
    val canPin = new java.io.File("/usr/bin/taskset").exists()
    val runs: Seq[Rep] = lv match {
      case Some((lo, hi)) if canPin =>
        val cfg = WalGen.Config(numEvents = benchEvents,
          numConvs = math.max(100L, benchEvents / 200), maxTurns = 40)
        val walDir = s"$tmp/wal"
        WalGen.writeWal(s1, walDir, cfg, numChunks = 8)
        s1.stop()
        // fresh JVM per rep equalizes JIT state; alternate which level
        // goes first, so within-run warming (page cache, host state) does
        // not systematically favor one level
        (0 until reps).flatMap { r =>
          val order = if (r % 2 == 0) Seq(hi, lo) else Seq(lo, hi)
          order.map { par =>
            val work = s"$tmp/run-$par-$r"
            try runChild(par, benchEvents, walDir, work) finally rmrf(work)
          }
        }
      case _ => s1.stop(); Nil
    }
    val bestLo = lv.flatMap(l => best(runs, l._1))
    val bestHi = lv.flatMap(l => best(runs, l._2))
    val eff = efficiency(bestLo, bestHi)

    // ONE compact JSON line, emitted LAST — the driver captures only a tail
    // window of the output, so per-query seconds are rounded to 3 decimals
    // and the header kept tight (round 1's full-precision line overflowed
    // the window and parsed as null). Full-precision copy → BENCH/BENCH.json.
    val (loTag, hiTag) = lv.fold(("", "")) { case (lo, hi) => (s"_${lo}c", s"_${hi}c") }
    def evps(r: Option[Rep]) = r.fold("\"invalid\"")(_.eventsPerSec.round.toString)
    val repsJson = runs.map { r =>
      s"""{"par":${r.level},"cores":${r.cores},"events_per_sec":${r.eventsPerSec.round},""" +
      s""""wall_sec":${f"${r.wallSec}%.1f"},"host_calib_mops":${f"${r.calibMops}%.0f"}}"""
    }.mkString("[", ",", "]")
    def jsonLine(withReps: Boolean) =
      s"""{"metric":"cdc_apply_events_per_sec$hiTag","value":${evps(bestHi)},"unit":"events/sec",""" +
      s""""cdc_events":$benchEvents,"host_cores":$hostCores,""" +
      s""""events_per_sec_lo$loTag":${evps(bestLo)},"events_per_sec_hi$hiTag":${evps(bestHi)},""" +
      eff.fold("")(e => s""""scaling_efficiency":${f"$e%.3f"},""") +
      (if (withReps) s""""cdc_runs":$repsJson,""" else "") +
      (if (withReps) {
        val f = benchQueries.map { case (k, _) => "\"" + k + "\":" + f"${fwd(k)}%.3f" }.mkString("{", ",", "}")
        val r = benchQueries.map { case (k, _) => "\"" + k + "\":" + f"${rev(k)}%.3f" }.mkString("{", ",", "}")
        s""""queries_fwd":$f,"queries_rev":$r,"""
      } else "") +
      s""""queries_total_sec":${f"$totalQ%.1f"},"queries":$qs,"first_touch":$firstTouchJson,"sf":"$sfDir"}"""
    val line = jsonLine(withReps = false) // tight: the driver tails stdout
    Files.createDirectories(Paths.get("BENCH"))
    Files.write(Paths.get("BENCH/BENCH.json"),
      jsonLine(withReps = true).getBytes(StandardCharsets.UTF_8))

    def row(level: Int, r: Option[Rep]) =
      r.fold(s"| $level | invalid | invalid |")(b => s"| $level | ${f"${b.wallSec}%.1f"} | ${b.eventsPerSec.round} |")
    val levelRows = lv.fold("| — | invalid | invalid |") { case (lo, hi) =>
      row(lo, bestLo) + "\n|" + row(hi, bestHi) } // "\n|": stripMargin runs over it
    val effText = eff.fold(
      if (lv.isEmpty) s"not computed: this host grants $hostCores cores, fewer than the 4 that two levels 4x apart need"
      else if (!canPin) "not computed: `taskset` is missing, so no level could be pinned"
      else "not computed: a level has no rep that was granted its cores"
    )(e => f"**$e%.3f** (target >= 0.8)")
    val md =
      s"""# BENCH — measured results (written by graft.Bench)
         |
         |## CDC apply scaling
         |
         |Same $benchEvents-event deterministic WAL (Zipf-hot conv_ids, duplicate
         |deliveries, reordering, deletes), streamed end-to-end
         |(foreachBatch merge-on-read, 4 files per trigger, salt 8, compaction
         |every 8 epochs) into a fresh 32-bucket LakeTable, at N = cores/4 and
         |4N cores of the $hostCores this JVM was granted. Each rep is a FRESH
         |child JVM pinned with `taskset -c 0-(N-1)`, so a level gets exactly
         |its cores for executor, GC, shuffle and writer threads. $reps
         |interleaved reps per level, best kept. A level reads `invalid` when
         |the host cannot grant its cores.
         |
         || cores | best wall (s) | best events/sec |
         ||---|---|---|
         |$levelRows
         |
         |**End-to-end scaling efficiency** (tput_hi/tput_lo)/(hi/lo): $effText.
         |
         |All reps (host_calib = single-thread splitmix Mops measured INSIDE
         |each pinned child JVM just before its run): ${runs.map { r =>
             s"${r.level}c=${if (r.valid) s"${r.eventsPerSec.round}ev/s(${f"${r.wallSec}%.0f"}s, calib ${f"${r.calibMops}%.0f"}Mops)"
                         else s"invalid(granted ${r.cores})"}" }.mkString(", ")}
         |
         |## Operator queries (${results.size} queries, $sfDir)
         |
         |total ${f"$totalQ%.1f"} s. Per-query seconds = MIN of two passes
         |(forward order, cache cleared, reversed order) so no query's
         |number carries a shared pipeline's first materialization;
         |queries whose cost depended on position are flagged
         |`first_touch` in the JSON (both raw passes in BENCH/BENCH.json).
         |""".stripMargin
    Files.write(Paths.get("BENCH/BASELINE.md"), md.getBytes(StandardCharsets.UTF_8))
    rmrf(tmp)
    println(line) // LAST line of stdout — the driver's parse target
  }
}
