package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution. Spark's listener
  * events and the lake's commit records carry epoch-ms stamps, so the
  * harness's own spans use the same time base.
  */
object Clock {
  private val n0 = System.nanoTime()
  private val m0 = System.currentTimeMillis().toDouble
  def now(): Double = m0 + (System.nanoTime() - n0) / 1e6
}

/** Spans the harness records around its calls into the engine, kept in
  * memory and written with the child's result. A span row is
  * `[id, parent, layer, name, start, end]`; parent -1 marks a span derived
  * from a listener or a manifest, which the reader nests by time, and an
  * empty layer means "the layer of the enclosing span".
  */
final class Spans(val enabled: Boolean) {
  /** Recording starts with the timed region, after set-up and warm-up. */
  var on = false
  def start(): Unit = on = enabled
  def stop(): Unit = on = false
  private val rows = ArrayBuffer.empty[Seq[Any]]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def apply[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = Clock.now()
      try f
      finally {
        stack = stack.tail
        rows += Seq(id, parent, layer, name, t0, Clock.now())
      }
    }

  /** A span known only by its interval (listener event, commit record). */
  def derived(layer: String, name: String, start: Double, end: Double): Unit =
    if (on && end >= start) {
      rows += Seq(nextId, -1, layer, name, start, end)
      nextId += 1
    }

  def toSeq: Seq[Seq[Any]] = rows.toSeq
}

/** What one finished stage did, from the SparkListener feed. */
final case class StageRec(start: Double, end: Double, shuffleWriteBytes: Long, spillBytes: Long)

/** SparkListener the harness registers in traced runs: stage intervals with
  * their shuffle and spill bytes, task intervals, and the job count.
  */
final class SparkProbe extends SparkListener {
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[(Double, Double)]
  val jobStarts = ArrayBuffer.empty[Double]
  def jobs: Int = jobStarts.size

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStarts += e.time.toDouble }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (s <- si.submissionTime; c <- si.completionTime) {
      val tm = si.taskMetrics
      val (shuffle, spill) =
        if (tm == null) (0L, 0L)
        else (tm.shuffleWriteMetrics.bytesWritten, tm.memoryBytesSpilled + tm.diskBytesSpilled)
      stages += StageRec(s.toDouble, c.toDouble, shuffle, spill)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ti = e.taskInfo
    if (ti != null && ti.finishTime > 0) tasks += ((ti.launchTime.toDouble, ti.finishTime.toDouble))
  }
}

/** One finished query execution: its planning phases from
  * `QueryExecution.tracker` and its execution time.
  */
final case class QeRec(phases: Map[String, (Double, Double)], execMs: Double)

final class PhaseProbe extends QueryExecutionListener {
  val recs = ArrayBuffer.empty[QeRec]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases.map { case (k, p) => k -> ((p.startTimeMs.toDouble, p.endTimeMs.toDouble)) }
    recs += QeRec(ph, durationNs / 1e6)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One streaming trigger from `StreamingQueryProgress`. */
final case class TriggerRec(batchId: Long, start: Double, durations: Map[String, Long]) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
  def addBatchMs: Long = durations.getOrElse("addBatch", 0L)
}

final class StreamProbe extends StreamingQueryListener {
  val triggers = ArrayBuffer.empty[TriggerRec]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = mutable.Map.empty[String, Long]
    p.durationMs.forEach((k, v) => d(k) = v.longValue())
    triggers += TriggerRec(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, d.toMap)
  }
}
