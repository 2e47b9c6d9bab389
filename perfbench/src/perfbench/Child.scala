package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One benchmark child JVM. `run.py` starts it pinned to the cores it
  * asks for, passes `key=value` arguments, and reads the JSON result file
  * it writes. The child only measures and records; the arithmetic that
  * turns its records into metrics lives in `run.py`.
  */
object Child {
  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    HeapPeak.install()
    val ctx = new Ctx(a)
    ctx.setupSteps("jvm_start") = Clock.now() - ManagementFactory.getRuntimeMXBean.getStartTime
    val out = mutable.LinkedHashMap[String, Any]()
    out ++= ctx.host
    if (ctx.valid) a("task") match {
      case "cdc_ingest" => CdcIngest.run(ctx, out)
      case "serve_mixed" => ServeMixed.run(ctx, out)
      case "query_suite" => QuerySuite.run(ctx, out)
      case t => sys.error(s"unknown task $t")
    }
    out("setup_steps") = scala.collection.immutable.ListMap.from(ctx.setupSteps)
    out("heap_peak_mb") = HeapPeak.peakMb
    out("vm_hwm_mb") = Ctx.vmHwmMb()
    Files.write(Paths.get(a("out")),
      Serialization.write(out.toMap)(DefaultFormats).getBytes(StandardCharsets.UTF_8))
    // Spark leaves non-daemon threads behind; the result is on disk
    sys.exit(0)
  }
}

final class Ctx(val args: Map[String, String]) {
  val cores: Int = args("cores").toInt
  val coresAvailable: Int = Runtime.getRuntime.availableProcessors()
  /** A level that asks for more cores than the process was granted is
    * invalid: it runs nothing and reports no number.
    */
  val valid: Boolean = coresAvailable >= cores
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val work: String = args("work")
  val spans = new Spans(args.get("trace").contains("1"))
  def traced: Boolean = spans.enabled
  val setupSteps = mutable.LinkedHashMap[String, Double]()
  /** Time one set-up step; the steps are reported with the result. */
  def step[T](name: String)(f: => T): T = {
    val t = Clock.now()
    try f finally setupSteps(name) = Clock.now() - t
  }
  def int(k: String): Int = args(k).toInt
  def long(k: String): Long = args(k).toLong

  def host: Map[String, Any] = Map(
    "cores_requested" -> cores,
    "cores_available" -> coresAvailable,
    "valid" -> valid,
    "calib_mops" -> (if (valid) graft.util.DetHash.calibrateMops() else 0.0))

  /** Re-pin every thread of this JVM to the first `n` CPUs it may use and
    * return the cores the JVM then reports. A JIT-warm JVM re-pinned to
    * one core is the single-thread baseline without a second set-up.
    */
  def repin(n: Int): Int = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
    val allowed = "Cpus_allowed_list:\\s+(\\S+)".r.findFirstMatchIn(status).get.group(1)
      .split(",").flatMap { r =>
        val b = r.split("-").map(_.toInt)
        b.head to b.last
      }
    val pid = ProcessHandle.current().pid().toString
    val p = new ProcessBuilder("taskset", "-a", "-p", "-c", allowed.take(n).mkString(","), pid)
      .redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.DISCARD).start()
    require(p.waitFor() == 0, s"taskset could not re-pin to $n cores")
    Runtime.getRuntime.availableProcessors()
  }

  /** Process CPU time (all threads) in ms. */
  def cpuMs(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Session settings mirror `graft.Bench`'s, with scratch under the
    * run's work directory on the ordinary filesystem.
    */
  def session(extensions: Boolean, cores: Int = cores): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args("task")}-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16777216")
      .config("spark.storage.memoryMapThreshold", "2147483647")
      .config("spark.hadoop.fs.file.impl", classOf[graft.util.FastLocalFileSystem].getName)
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
    val s = (if (extensions) b.withExtensions(new graft.functions.GraftExtensions) else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Register the traced segment's listeners on `spark` and start
    * recording spans.
    */
  def probes(spark: SparkSession): (SparkProbe, PhaseProbe) = {
    val p = (new SparkProbe, new PhaseProbe)
    spark.sparkContext.addSparkListener(p._1)
    spark.listenerManager.register(p._2)
    spans.start()
    p
  }

  def unprobe(spark: SparkSession, p: (SparkProbe, PhaseProbe)): Unit = {
    spark.sparkContext.removeSparkListener(p._1)
    spark.listenerManager.unregister(p._2)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchGlue.drainListeners(spark.sparkContext)
}

/** The most heap the program held: the peak, over every collection, of
  * the heap still in use when the collection ended. The child's heap is
  * fixed and pre-touched, so its resident size says nothing of this.
  */
object HeapPeak {
  @volatile private var peak = 0L

  def install(): Unit = {
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      _.asInstanceOf[NotificationEmitter].addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heap(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }, null, null)
    }
  }

  def peakMb: Double = peak / 1048576.0
}

object Ctx {
  /** VmHWM of this process in MB. */
  def vmHwmMb(): Double = {
    val lines = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(lines).map(_.group(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Stage and task totals inside [start, end): the busy time of the
    * union of task intervals, shuffle write, spill, and map stages.
    */
  def window(p: SparkProbe, start: Double, end: Double): Map[String, Double] = {
    val st = p.stages.filter(s => s.start >= start && s.start < end)
    val ts = p.tasks.filter(t => t._1 < end && t._2 > start)
      .map(t => (math.max(t._1, start), math.min(t._2, end))).sortBy(_._1)
    var busy = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ts.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) busy += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) busy += curE - curS
    Map(
      "wall_ms" -> (end - start),
      "task_union_ms" -> busy,
      "task_sum_ms" -> ts.map(t => t._2 - t._1).sum,
      "shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum.toDouble,
      "spill_bytes" -> st.map(_.spillBytes).sum.toDouble,
      "exchanges" -> st.count(_.shuffleWriteBytes > 0).toDouble,
      "stages" -> st.size.toDouble)
  }

  /** Every probe-derived stage becomes a span that inherits its layer. */
  def stageSpans(spans: Spans, p: SparkProbe): Unit =
    p.stages.foreach(s => spans.derived("", "stage", s.start, s.end))

  def phaseSpans(spans: Spans, p: PhaseProbe): Unit =
    p.recs.foreach(r => Seq("analysis", "optimization", "planning").foreach { k =>
      r.phases.get(k).foreach { case (s, e) => spans.derived("sql", k, s, e) }
    })
}
