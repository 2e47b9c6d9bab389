package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import graft.gen.WalGen
import graft.lake.{FileEntry, LakeTable}
import graft.merge.{CdcMerge, Compactor}
import graft.model.{ChangeEvent, Schemas}
import graft.sql.LakeCatalog
import graft.stream.CdcStream

/** `serve_mixed`: one closed-loop client on a table built from a seeded
  * WAL, with base files and deltas in every bucket. Every block of ten operations is 8 point lookups, 1 SQL range scan
  * and 1 upsert in seeded order. Each output is checked against a
  * driver-side oracle folded to the table's current LSN.
  */
object ServeMixed {

  def run(ctx: Ctx, out: mutable.Map[String, Any]): Unit = {
    val spark = ctx.step("session")(ctx.session(extensions = true))
    val work = ctx.work
    val events = ctx.long("events")
    val upsertEvents = ctx.long("upsert_events")
    val cfg = CdcIngest.config(ctx, events)
    val convs = cfg.numConvs

    // ---- set-up: the serving table, with deltas left in every bucket ----
    ctx.step("gen")(WalGen.writeWal(spark, s"$work/wal", cfg, numChunks = ctx.int("batches")))
    // base files from the WAL (the policy compacts after its last chunk);
    // the warm-up upsert then leaves deltas in every bucket, and the timed
    // segment's few upserts stay below the compaction policy
    val table = LakeTable.create(spark, s"$work/table", Schemas.transcript, numBuckets = 32)
    ctx.step("build_table")(CdcStream.runToCompletion(spark, s"$work/wal", table, s"$work/cp",
      maxFilesPerTrigger = 1, compactEvery = ctx.int("batches")))
    LakeCatalog.register("serve", s"$work/table")
    val oracle = new Lake.Oracle(cfg)
    ctx.step("oracle")(oracle.foldTo(events))
    var epoch = table.manifest.lastEpoch
    var nextUpsert = 0

    val rng = new java.util.Random(ctx.seed * 1000003L + 17L)
    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    var lookups = 0
    var scans = 0

    /** Samples of one segment: (op kind, ms) plus the lookups' pruning. */
    final class Seg {
      val ops = ArrayBuffer.empty[(String, Double)]
      val lookupFiles = ArrayBuffer.empty[Seq[Any]] // files read, files live, any delta
      val upsertWindows = ArrayBuffer.empty[(Double, Double)]
    }
    var seg = new Seg

    def timed(kind: String)(f: => Unit): Unit = {
      val t = Clock.now()
      f
      seg.ops += kind -> (Clock.now() - t)
    }
    def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what

    def lookup(): Unit = {
      // Zipf-hot keys (the generator's own skew) and uniform cold keys in turn
      lookups += 1
      val k =
        if (lookups % 2 == 0) math.min(convs - 1,
          math.floor(math.exp(rng.nextDouble() * math.log(convs.toDouble))).toLong - 1L)
        else (rng.nextDouble() * convs).toLong
      val id = f"conv$k%08d"
      var rows: Array[org.apache.spark.sql.Row] = null
      timed("lookup") {
        ctx.spans("lake", "lookup") {
          if (ctx.spans.on) {
            val live = ctx.spans("lake", "manifest")(table.manifest).files.size
            val fs = ctx.spans("lake", "prune")(table.filesForConversation(id))
            seg.lookupFiles += Seq(fs.size, live, fs.exists(_.kind == FileEntry.DELTA))
          }
          rows = table.readConversation(id).collect()
        }
      }
      val want = oracle.byConv.get(id).map(_.values.toSeq.sortBy(_.turn_idx)).getOrElse(Nil)
      val got = rows.toSeq.map(r => (r.getAs[Int]("turn_idx"), r.getAs[String]("role"),
        r.getAs[String]("text"), r.getAs[String]("tool"), r.getAs[java.sql.Timestamp]("ts")))
      check(got == want.map(e => (e.turn_idx, e.role, e.text, e.tool, e.ts)),
        s"lookup $id: ${got.size} rows, oracle ${want.size}")
    }

    def scan(): Unit = {
      val (sql, pred): (String, ChangeEvent => Boolean) =
        // a time range (no pruning) and a key range (pruned) in turn
        if ({ scans += 1; scans % 2 == 0 }) {
          val lo = (rng.nextDouble() * oracle.folded).toLong
          val hi = lo + oracle.folded / 20
          val (a, b) = (cfg.baseTsMillis + lo * 1000L, cfg.baseTsMillis + hi * 1000L)
          (s"SELECT count(*) FROM serve WHERE ts BETWEEN timestamp_millis($a) AND timestamp_millis($b)",
            e => e.ts.getTime >= a && e.ts.getTime <= b)
        } else {
          val k = (rng.nextDouble() * convs).toLong
          val (a, b) = (f"conv$k%08d", f"conv${k + convs / 20}%08d")
          (s"SELECT count(*) FROM serve WHERE conv_id BETWEEN '$a' AND '$b'",
            e => e.conv_id >= a && e.conv_id <= b)
        }
      var n = -1L
      timed("scan")(ctx.spans("lake", "scan") { n = spark.sql(sql).collect()(0).getLong(0) })
      val want = oracle.live.count(pred).toLong
      check(n == want, s"scan [$sql]: $n rows, oracle $want")
    }

    def upsert(): Unit = {
      val k = nextUpsert
      nextUpsert += 1
      // the WAL's continuation, generated inside the merge's own scan
      val batch = WalGen.events(spark, cfg, events + k * upsertEvents,
        events + (k + 1) * upsertEvents).toDF()
      timed("upsert") {
        ctx.spans("harness", "upsert") {
          val s = Clock.now()
          val st = ctx.spans("merge", "apply")(CdcMerge.apply(table, batch, epoch + 1,
            saltBuckets = 8, mode = CdcMerge.MergeOnRead, streamId = "perfbench-serve"))
          seg.upsertWindows += ((s, Clock.now()))
          epoch = st.effEpoch
          ctx.spans("compact", "compact")(Compactor.compactIfNeeded(table, 8))
        }
      }
      oracle.foldTo(events + (k + 1) * upsertEvents)
    }

    def op(kind: Int): Unit = {
      attempted += 1
      try kind match {
        case 0 => lookup()
        case 1 => scan()
        case _ => upsert()
      } catch {
        case e: Exception => failures += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
    }
    val block = Seq(0, 0, 0, 0, 0, 0, 0, 0, 1, 2)

    /** Blocks of ten operations until `seconds` have passed. */
    def segment(seconds: Double, probes: Option[(SparkProbe, PhaseProbe)]): Map[String, Any] = {
      seg = new Seg
      val cpu0 = ctx.cpuMs()
      val t0 = Clock.now()
      while (Clock.now() - t0 < seconds * 1000) {
        val order = block.map(b => (rng.nextDouble(), b)).sortBy(_._1).map(_._2)
        order.foreach(op)
      }
      val m = mutable.LinkedHashMap[String, Any]("cores" -> ctx.cores, "traced" -> probes.isDefined,
        "t0" -> t0, "wall_ms" -> (Clock.now() - t0), "cpu_ms" -> (ctx.cpuMs() - cpu0),
        "ops" -> seg.ops.map { case (k, ms) => Seq(k, ms) }.toSeq)
      probes.foreach { case (sp, ph) =>
        ctx.drain(spark)
        Ctx.stageSpans(ctx.spans, sp)
        Ctx.phaseSpans(ctx.spans, ph)
        val commits = Lake.commits(table)
        val recent = commits.filter(_.start >= t0)
        m ++= Map(
          "spans" -> ctx.spans.toSeq,
          "jobs" -> sp.jobs,
          "merge_windows" -> seg.upsertWindows.map { case (s, e) => Ctx.window(sp, s, e) }.toSeq,
          "merge_rows_in" -> seg.upsertWindows.size * upsertEvents,
          "merge_rows_written" -> recent.filter(_.kind == "merge").map(_.rowsWritten).sum,
          "compact_commits" -> recent.filter(_.kind == "compact")
            .map(c => Map("ms" -> (c.end - c.start), "bytes" -> c.bytesRemoved)),
          "lookup_files" -> seg.lookupFiles.toSeq,
          "sql" -> ph.recs.map(r => Map("exec_ms" -> r.execMs) ++
            r.phases.map { case (k, (s, e)) => k -> (e - s) }).toSeq,
          "lake" -> Lake.shape(table, oracle.liveRows, commits))
        ctx.spans.stop()
      }
      m.toMap
    }

    // untimed warm-up: every operation kind on the JIT path
    ctx.step("warm_up")(Seq(0, 0, 0, 1, 2).foreach(op))
    out("ready_at") = Clock.now()
    val segments = ArrayBuffer(segment(ctx.seconds, None))
    if (ctx.traced) {
      // untraced, traced, untraced: the tracing overhead is measured against
      // both neighbours, so JIT warm-up between segments does not bias it.
      // Each segment starts from the same table shape: all deltas folded,
      // then one upsert's deltas.
      def settle(): Unit = { Compactor.compactIfNeeded(table, 1); op(2) }
      settle()
      val p = ctx.probes(spark)
      segments += segment(ctx.seconds, Some(p))
      ctx.unprobe(spark, p)
      settle()
      segments += segment(ctx.seconds, None)
    }
    out("segments") = segments.toSeq
    out("attempted") = attempted
    out("failed") = failures.size
    if (failures.nonEmpty) out("failures") = failures.take(20).toSeq
    spark.stop()
  }
}
