package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}

/** `query_suite`: timed passes over a fixed set of `Queries.allForBench`
  * queries in seed-shuffled order, after two untimed warm-up passes, the
  * cache cleared before each query.
  * Each query is timed as a `noop`-sink write of its full result, and its
  * row count is observed on that same execution.
  */
object QuerySuite {

  def run(ctx: Ctx, out: mutable.Map[String, Any]): Unit = {
    val spark = ctx.step("session")(ctx.session(extensions = false))
    val data = ctx.args("data")
    val queries = graft.Queries.allForBench
    val names = ctx.args("queries").split(",").toSeq.sorted
    val order = new scala.util.Random(ctx.seed).shuffle(names)
    var attempted = 0
    val failures = ArrayBuffer.empty[String]

    /** Passes over the queries until `seconds` have passed, and at least
      * one; with probes, also per-query jobs, shuffle and spill, and the
      * planner phases.
      */
    def passes(seconds: Double, probes: Option[(SparkProbe, PhaseProbe)]): Map[String, Any] = {
      val recs = ArrayBuffer.empty[Map[String, Any]]
      val cpu0 = ctx.cpuMs()
      val t0 = Clock.now()
      var n = 0
      while (n == 0 || Clock.now() - t0 < seconds * 1000) {
        n += 1
        order.foreach { name =>
          spark.catalog.clearCache()
          attempted += 1
          val s = Clock.now()
          val rec = mutable.LinkedHashMap[String, Any]("name" -> name, "start" -> s)
          try ctx.spans("ops", name) {
            val df = ctx.spans("ops", "build")(queries(name)(spark, data))
            rec("build_ms") = Clock.now() - s
            val obs = Observation(s"rows_${name}_$attempted")
            ctx.spans("ops", "write") {
              df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
            }
            rec("rows") = obs.get("n").asInstanceOf[Long]
          } catch {
            case e: Exception =>
              failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          }
          rec("end") = Clock.now()
          rec("ms") = rec("end").asInstanceOf[Double] - s
          // persisted frames the query left behind (released by clearCache)
          rec("cached_left") = spark.sparkContext.getPersistentRDDs.size
          recs += rec.toMap
        }
      }
      val m = mutable.LinkedHashMap[String, Any]("cores" -> ctx.cores, "traced" -> probes.isDefined,
        "t0" -> t0, "passes" -> n, "wall_ms" -> (Clock.now() - t0), "cpu_ms" -> (ctx.cpuMs() - cpu0), "queries" -> recs.toSeq)
      probes.foreach { case (sp, ph) =>
        ctx.drain(spark)
        Ctx.stageSpans(ctx.spans, sp)
        Ctx.phaseSpans(ctx.spans, ph)
        m("spans") = ctx.spans.toSeq
        m("jobs") = sp.jobs
        m("per_query") = recs.map { r =>
          val (s, e) = (r("start").asInstanceOf[Double], r("end").asInstanceOf[Double])
          val w = Ctx.window(sp, s, e)
          Map("name" -> r("name"), "jobs" -> sp.jobStarts.count(t => t >= s && t < e),
            "shuffle_write_bytes" -> w("shuffle_write_bytes"), "spill_bytes" -> w("spill_bytes"))
        }.toSeq
        m("sql") = ph.recs.map(r => Map("exec_ms" -> r.execMs) ++
          r.phases.map { case (k, (s, e)) => k -> (e - s) }).toSeq
        ctx.spans.stop()
      }
      m.toMap
    }

    // untimed warm-up passes: the first run of each query in a fresh JVM is
    // dominated by JIT and code generation, and a second pass is still
    // about a fifth slower than later ones
    out("warm_up_passes") = ctx.step("warm_up")(Seq(passes(0, None), passes(0, None)))
    spark.catalog.clearCache()
    out("ready_at") = Clock.now()
    val segments = ArrayBuffer(passes(ctx.seconds, None))
    if (ctx.traced) {
      // untraced, traced, untraced: the tracing overhead is measured against
      // both neighbours, so JIT warm-up between passes does not bias it
      val p = ctx.probes(spark)
      segments += passes(0, Some(p))
      ctx.unprobe(spark, p)
      segments += passes(0, None)
    }
    out("segments") = segments.toSeq
    out("attempted") = attempted
    out("failed") = failures.size
    if (failures.nonEmpty) out("failures") = failures.take(20).toSeq
    spark.stop()
  }
}
