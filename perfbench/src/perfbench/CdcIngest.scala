package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.gen.WalGen
import graft.lake.LakeTable
import graft.merge.CdcMerge
import graft.model.Schemas
import graft.stream.CdcStream

/** `cdc_ingest`: a seeded WAL drained by `CdcStream.runToCompletion` into
  * a fresh 32-bucket merge-on-read table, one large batch per WAL chunk,
  * with inline compaction after the last batch, again and again until the
  * segment's time is up. Every drain's content checksum must equal the
  * checksum of `WalGen.oracleState`.
  */
object CdcIngest {

  def config(ctx: Ctx, events: Long): WalGen.Config =
    WalGen.Config(seed = ctx.seed, numEvents = events,
      numConvs = math.max(100L, events / 200), maxTurns = 40)

  def run(ctx: Ctx, out: mutable.Map[String, Any]): Unit = {
    var spark = ctx.step("session")(ctx.session(extensions = false))
    val work = ctx.work
    val events = ctx.long("events")
    val batches = ctx.int("batches")
    val cfg = config(ctx, events)
    ctx.step("gen")(WalGen.writeWal(spark, s"$work/wal", cfg, numChunks = batches))
    val oracle = ctx.step("oracle")(WalGen.oracleState(cfg))
    val expected = ctx.step("oracle_checksum")(Lake.checksumOf(spark, oracle.values))
    val liveRows = oracle.size.toLong
    var drains = 0

    // untimed warm-up: one drain of the same WAL into a throwaway table; the
    // first drains of a fresh JVM run far slower than steady state while the
    // JIT compiles the apply path
    ctx.step("warm_up") {
      val t = LakeTable.create(spark, s"$work/warm-table", Schemas.transcript, numBuckets = 32)
      CdcStream.runToCompletion(spark, s"$work/wal", t, s"$work/warm-cp",
        maxFilesPerTrigger = 1, saltBuckets = 8, mode = CdcMerge.MergeOnRead, compactEvery = batches)
      Seq("warm-table", "warm-cp").foreach(d => Lake.rmrf(s"$work/$d"))
    }
    var stream = new StreamProbe
    spark.streams.addListener(stream)
    out("ready_at") = Clock.now()

    var attempted = 0
    val failures = ArrayBuffer.empty[String]

    /** One drain of the WAL into a fresh table; with probes, also the
      * per-batch decomposition and the lake's shape after it.
      */
    def drain(probes: Option[(SparkProbe, PhaseProbe)]): Map[String, Any] = {
      drains += 1
      val dir = s"$work/table-$drains"
      val table = LakeTable.create(spark, dir, Schemas.transcript, numBuckets = 32)
      val seen = stream.triggers.size
      val t0 = Clock.now()
      ctx.spans("stream", "drain") {
        CdcStream.runToCompletion(spark, s"$work/wal", table, s"$work/cp-$drains",
          maxFilesPerTrigger = 1, saltBuckets = 8, mode = CdcMerge.MergeOnRead,
          compactEvery = batches)
      }
      val ms = Clock.now() - t0
      ctx.drain(spark)
      val triggers = stream.triggers.drop(seen).sortBy(_.batchId).toSeq
      attempted += 1
      val got = table.contentChecksum()
      if (got != expected) failures += s"drain $drains: checksum $got != oracle $expected"
      val rec = mutable.LinkedHashMap[String, Any]("start" -> t0, "ms" -> ms, "events" -> events)
      probes.foreach { case (sp, _) =>
        val commits = Lake.commits(table)
        triggers.foreach(t => ctx.spans.derived("stream", "trigger", t.start, t.start + t.triggerMs))
        commits.filter(_.kind != "meta").foreach(c => ctx.spans.derived(c.kind, c.kind, c.start, c.end))
        rec("batches") = triggers.map { t =>
          val end = t.start + t.triggerMs
          val inside = commits.filter(c => c.start >= t.start - 1 && c.end <= end + 1)
          val merges = inside.filter(_.kind == "merge")
          val compacts = inside.filter(_.kind == "compact")
          val w = merges.map(c => Ctx.window(sp, c.start, c.end))
          def tot(k: String) = w.map(_(k)).sum
          Map(
            "batch" -> t.batchId,
            "trigger_ms" -> t.triggerMs,
            "add_batch_ms" -> t.addBatchMs,
            "merge_ms" -> merges.map(c => c.end - c.start).sum,
            "compact_ms" -> compacts.map(c => c.end - c.start).sum,
            "compact_bytes" -> compacts.map(_.bytesRemoved).sum,
            "rows_written" -> merges.map(_.rowsWritten).sum,
            "driver_only_ms" -> (tot("wall_ms") - tot("task_union_ms")),
            "task_sum_ms" -> tot("task_sum_ms"),
            "exchanges" -> tot("exchanges"),
            "shuffle_write_bytes" -> tot("shuffle_write_bytes"),
            "spill_bytes" -> tot("spill_bytes"))
        }
        val loads = (1 to 5).map { _ => val s = Clock.now(); table.manifest; Clock.now() - s }.sorted
        rec("lake") = Lake.shape(table, liveRows, commits) + ("manifest_load_ms" -> loads(2))
      }
      Lake.rmrf(dir)
      Lake.rmrf(s"$work/cp-$drains")
      rec.toMap
    }

    /** Drains until `seconds` have passed, and at least `minDrains`. */
    def segment(cores: Int, seconds: Double, minDrains: Int,
                probes: Option[(SparkProbe, PhaseProbe)]): Map[String, Any] = {
      val cpu0 = ctx.cpuMs()
      val t0 = Clock.now()
      val recs = ArrayBuffer.empty[Map[String, Any]]
      // stop before a drain that would overrun the segment's time
      while (recs.size < minDrains ||
        Clock.now() - t0 + recs.map(_("ms").asInstanceOf[Double]).sum / recs.size < seconds * 1000)
        recs += drain(probes)
      val m = mutable.LinkedHashMap[String, Any]("cores" -> cores, "traced" -> probes.isDefined,
        "drains" -> recs.toSeq, "cpu_ms" -> (ctx.cpuMs() - cpu0))
      probes.foreach { case (sp, _) =>
        ctx.drain(spark)
        m("jobs") = sp.jobs
        if (ctx.spans.on) {
          Ctx.stageSpans(ctx.spans, sp)
          m("spans") = ctx.spans.toSeq
          ctx.spans.stop()
        }
      }
      m.toMap
    }

    // at least two drains: the first after warm-up is still the slower one,
    // and a run whose drain count varies with the host's speed reads bimodal
    val segments = ArrayBuffer(segment(ctx.cores, ctx.seconds, 2, None))
    if (ctx.traced) {
      // untraced, traced, untraced: the tracing overhead is measured against
      // both neighbours, so JIT warm-up between segments does not bias it
      val p4 = ctx.probes(spark)
      segments += segment(ctx.cores, 0, 1, Some(p4))
      ctx.unprobe(spark, p4)
      segments += segment(ctx.cores, 0, 1, None)
      // single-thread baseline: the same JIT-warm JVM re-pinned to one core
      val effective = ctx.repin(1)
      spark.stop()
      spark = ctx.session(extensions = false, cores = 1)
      stream = new StreamProbe
      spark.streams.addListener(stream)
      val calib = graft.util.DetHash.calibrateMops()
      val p = ctx.probes(spark)
      ctx.spans.stop()
      segments += (segment(1, 0, 1, Some(p)) + ("effective_cores" -> effective) + ("calib_mops" -> calib))
    }
    out("segments") = segments.toSeq
    out("attempted") = attempted
    out("failed") = failures.size
    if (failures.nonEmpty) out("failures") = failures.take(20).toSeq
    spark.stop()
  }
}
