package graft.stream

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import graft.lake.LakeTable
import graft.merge.{CdcMerge, Compactor}
import graft.model.Schemas

/** Structured Streaming WAL tail: file source over the binlog directory →
  * `foreachBatch(CdcMerge.apply)` → lake-table commit per micro-batch.
  *
  * Reference analogue: owid-etl's `etl --watch` mtime-poll rebuild loop
  * (`etl/command.py:212-217`, `etl/files.py:272-293`) upgraded to a real
  * checkpointed stream; the checkpoint's source offsets + the manifest's
  * `lastEpoch` together give exactly-once (replayed epochs no-op).
  */
object CdcStream {

  /** Per-batch throughput metrics via StreamingQueryListener, appended as
    * JSON lines (reference analogue: per-step `.execution_time.json`,
    * owid-etl `etl/command.py:531-562`; mandated by the north rule).
    */
  final class MetricsListener(outPath: String) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val line = s"""{"batchId":${p.batchId},"numInputRows":${p.numInputRows},""" +
        s""""processedRowsPerSecond":${p.processedRowsPerSecond},""" +
        s""""triggerMs":${p.durationMs.getOrDefault("triggerExecution", -1L)}}""" + "\n"
      val path = Paths.get(outPath)
      if (path.getParent != null) Files.createDirectories(path.getParent)
      Files.write(path, line.getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
  }

  /** Stream identity for exactly-once tracking: the StreamingQuery id Spark
    * persists in `<checkpoint>/metadata` — stable across restarts from the
    * SAME checkpoint, fresh when the checkpoint is deleted/recreated (then
    * foreachBatch epochs reset to 0 and must re-apply, not no-op against
    * the table's recorded epochs).
    */
  private[graft] def streamIdOf(checkpointDir: String): String = {
    val p = Paths.get(checkpointDir, "metadata")
    if (!Files.exists(p)) checkpointDir
    else {
      val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(s).map(_.group(1)).getOrElse(checkpointDir)
    }
  }

  /** Single maintenance thread for async compaction: the bucket rewrite
    * runs here while the streaming loop keeps committing micro-batches;
    * commits reconcile via [[Compactor.compact]]'s validate-and-retry.
    * One pending task max (a busy compactor skips the tick — the next one
    * sees the accumulated deltas anyway).
    */
  private val maintenancePool = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "graft-compaction"); t.setDaemon(true); t
  })
  // busy flag is PER TABLE: one table's slow rewrite must not suppress
  // another table's compaction ticks in the same JVM
  private val maintenanceBusy =
    scala.collection.concurrent.TrieMap.empty[String, java.util.concurrent.atomic.AtomicBoolean]
  private def busyFlag(table: LakeTable) =
    maintenanceBusy.getOrElseUpdate(table.root.toAbsolutePath.normalize.toString,
      new java.util.concurrent.atomic.AtomicBoolean(false))

  // tables already warned about the bucket-space cap (warn once, not per batch)
  private val capWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Test/shutdown hook: wait for any in-flight maintenance compaction. */
  def awaitMaintenance(): Unit =
    maintenancePool.submit(new Runnable { def run(): Unit = () }).get()

  /** Start the WAL tail. `maxFilesPerTrigger` bounds micro-batch size
    * (backpressure; reference analogue `GRAPHER_INSERT_WORKERS` sizing).
    * Merge-on-read appends deltas per micro-batch; buckets whose delta
    * count reaches `compactEvery` are folded into base files — inline by
    * default, or on the maintenance thread when `asyncCompaction` is set
    * (the streaming loop never blocks on the rewrite).
    */
  def start(spark: SparkSession, walDir: String, table: LakeTable,
            checkpointDir: String, maxFilesPerTrigger: Int = 4,
            saltBuckets: Int = 8,
            compactEvery: Int = 8,
            trigger: Trigger = Trigger.AvailableNow(),
            walSchema: org.apache.spark.sql.types.StructType = Schemas.changeEvent,
            asyncCompaction: Boolean = false,
            maxRowsPerBucket: Long = 0L): StreamingQuery = {
    // Mid-stream schema evolution: the file source needs ONE schema, so
    // tail with the WIDENED union schema (pass `walSchema`); parquet
    // null-fills columns absent from older chunks and the per-batch
    // SchemaReconciler evolves the table when the new columns first carry
    // data (SURVEY.md §7.5 hard-part 3).
    val src = spark.readStream
      .schema(walSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(walDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, epoch: Long) =>
        applyAndMaintain(table, df, epoch, saltBuckets, compactEvery,
          asyncCompaction, checkpointDir, maxRowsPerBucket)
      }
      .start()
  }

  /** The shared micro-batch body: LSN-gated merge, compaction policy, and
    * the per-partition lineage feed — one implementation under both the
    * parquet WAL tail and the JSON envelope tail.
    */
  private def applyAndMaintain(table: LakeTable, df: DataFrame, epoch: Long,
                               saltBuckets: Int,
                               compactEvery: Int, asyncCompaction: Boolean,
                               checkpointDir: String,
                               maxRowsPerBucket: Long = 0L): Unit = {
        val stats = CdcMerge.apply(table, df, epoch, saltBuckets,
          streamId = streamIdOf(checkpointDir))
        // AUTO-REBUCKET: when average bucket occupancy outgrows the bound,
        // double the bucket space (metadata-only commit; old files migrate
        // lazily through ordinary compaction). Runs BETWEEN merges on the
        // stream thread, so it never races this stream's own commits; a
        // concurrent async compactor rebases over it (depth stamping).
        if (maxRowsPerBucket > 0L) {
          val m = table.manifest
          if (m.totalRows / math.max(1, m.numBuckets) > maxRowsPerBucket) {
            // never crash the stream on the bucket-space cap: ingestion
            // must keep flowing when the table can't grow further (warn
            // once per table, not once per batch)
            if (m.numBuckets * 2L <= LakeTable.MAX_BUCKETS) {
              val n = table.rebucket(2)
              System.err.println(s"[cdc-stream] auto-rebucket: ${table.root} grown past " +
                s"$maxRowsPerBucket rows/bucket — bucket space doubled to $n")
            } else if (capWarned.add(table.root.toAbsolutePath.normalize.toString)) {
              System.err.println(s"[cdc-stream] WARN: ${table.root} exceeds " +
                s"$maxRowsPerBucket rows/bucket but is already at the " +
                s"${LakeTable.MAX_BUCKETS}-bucket cap — auto-rebucket disabled for it")
            }
          }
        }
        if (compactEvery > 0) {
          if (!asyncCompaction) Compactor.compactIfNeeded(table, compactEvery)
          else {
            val busy = busyFlag(table)
            if (busy.compareAndSet(false, true)) {
              maintenancePool.submit(new Runnable {
                def run(): Unit = try {
                  val due = Compactor.dueBuckets(table, compactEvery)
                  if (due.nonEmpty) Compactor.compact(table, due.toSet)
                } catch {
                  case e: Throwable => System.err.println(s"[cdc-stream] async compaction failed: $e")
                } finally busy.set(false)
              })
            }
          }
        }
        // per-partition lineage feed (north-star: lineage via the
        // streaming loop): which buckets this epoch touched, with rows +
        // max LSN + write depth per file (a delta of depth d covers the
        // current buckets {bucket + j*d}), appended as JSON lines next to
        // the checkpoint
        if (stats.applied) {
          val m = table.manifest
          // files are recorded under the REMAPPED internal epoch (monotone
          // across fresh-checkpoint restarts), not the source epoch —
          // filtering on the source epoch attributed each batch's
          // partitions to the wrong (or no) lineage line
          val files = m.files.filter(f =>
            f.epoch == stats.effEpoch && f.kind == graft.lake.FileEntry.DELTA)
          val parts = files.map(f =>
            s"""{"bucket":${f.bucket},"depth":${m.fileDepth(f)},"rows":${f.rows},""" +
              s""""maxLsn":${f.maxLsn},"path":"${f.path}"}""")
            .mkString("[", ",", "]")
          val line = s"""{"epoch":$epoch,"effEpoch":${stats.effEpoch},"tableVersion":${m.version},""" +
            s""""batchRows":${stats.batchRows},"wallMs":${stats.wallMs},"partitions":$parts}""" + "\n"
          val p = java.nio.file.Paths.get(checkpointDir, "lineage.jsonl")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p, line.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
        }
  }

  /** Which CDC envelope dialect a JSON tail speaks (see
    * [[CdcEnvelope]] for the decode + dead-letter contract).
    */
  sealed trait EnvelopeFormat
  final case class Debezium(lsnField: String = "lsn") extends EnvelopeFormat
  final case class Maxwell(xoffsetAware: Boolean = false) extends EnvelopeFormat

  /** Tail a directory of JSON-lines CDC envelopes (what a Debezium/Maxwell
    * connector actually lands) instead of a pre-shaped parquet WAL:
    * decode → dead-letter split → LSN-gated merge, sharing the batch body
    * (compaction policy, lineage feed, exactly-once epochs) with [[start]].
    *
    * Dead letters append to `dlqDir` as parquet `(record, error, epoch)`
    * with AT-LEAST-ONCE semantics — a crash between the DLQ write and the
    * merge commit replays the batch and re-appends; readers dedup on
    * `(epoch, record)`. Passing no `dlqDir` REJECTS malformed input loudly
    * (fail-the-stream) rather than dropping it silently.
    *
    * `cutoverLsn` applies [[graft.merge.Bootstrap.cutoverGate]] to every
    * batch — set it when the table was bootstrapped from a snapshot so
    * pre-snapshot re-deliveries cannot resurrect deleted keys.
    * `verifyCutoverContiguity` additionally runs
    * [[graft.merge.Bootstrap.verifyNoGap]] on every batch until the first
    * post-snapshot event lands (a tail that STARTS above the snapshot
    * position has silently lost events) — opt-in because it asserts
    * DENSE LSNs; sparse-LSN sources would false-positive.
    */
  def startEnvelope(spark: SparkSession, envDir: String, table: LakeTable,
                    checkpointDir: String,
                    format: EnvelopeFormat = Debezium(),
                    payload: org.apache.spark.sql.types.StructType = Schemas.transcript,
                    dlqDir: Option[String] = None,
                    cutoverLsn: Option[Long] = None,
                    verifyCutoverContiguity: Boolean = false,
                    maxFilesPerTrigger: Int = 4,
                    saltBuckets: Int = 8,
                    compactEvery: Int = 8,
                    maxRowsPerBucket: Long = 0L,
                    trigger: Trigger = Trigger.AvailableNow(),
                    asyncCompaction: Boolean = false): StreamingQuery = {
    val keyCols = Schemas.KEY_COLS
    val src = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(envDir)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (raw: DataFrame, epoch: Long) =>
        val annotated = (format match {
          case Debezium(lsnField) =>
            CdcEnvelope.decodeDebezium(raw, "value", payload, keyCols, lsnField)
          case Maxwell(xoff) =>
            CdcEnvelope.decodeMaxwell(raw, "value", payload, keyCols, xoffsetAware = xoff)
        }).cache() // one pass feeds both the DLQ write and the merge
        try {
          val dead = CdcEnvelope.deadLetters(annotated, "value")
          dlqDir match {
            case Some(dir) =>
              // cheap emptiness probe on the cached frame; parquet append
              // only when there is something to record
              if (!dead.isEmpty)
                dead.withColumn("epoch", org.apache.spark.sql.functions.lit(epoch))
                  .write.mode("append").parquet(dir)
            case None =>
              val bad = dead.limit(1).collect()
              if (bad.nonEmpty) throw new IllegalStateException(
                s"malformed envelope with no DLQ configured (epoch $epoch, " +
                s"reason ${bad(0).getString(1)}): ${bad(0).getString(0)}")
          }
          val good0 = CdcEnvelope.good(annotated, "value")
            .select(("op" +: "lsn" +: payload.fieldNames.toSeq)
              .map(org.apache.spark.sql.functions.col): _*)
          val good = cutoverLsn.fold(good0)(s => graft.merge.Bootstrap.cutoverGate(good0, s))
          // gap check runs only while NO post-snapshot event has been
          // applied yet (watermark still at the snapshot position), so the
          // steady-state hot path never pays the extra aggregate job. It
          // must see the GATED rows: a batch mixing pre-snapshot
          // redeliveries with post-gap events would otherwise pass on the
          // redeliveries' low min while the gate admits only the post-gap
          // tail — exactly the loss the flag exists to catch.
          for (s <- cutoverLsn if verifyCutoverContiguity && table.manifest.maxLsn <= s) {
            val mn = good.agg(org.apache.spark.sql.functions.min("lsn")).collect()(0)
            if (!mn.isNullAt(0)) graft.merge.Bootstrap.verifyNoGap(mn.getLong(0), s)
          }
          applyAndMaintain(table, good, epoch, saltBuckets, compactEvery,
            asyncCompaction, checkpointDir, maxRowsPerBucket)
        } finally annotated.unpersist()
        ()
      }
      .start()
  }

  /** Drain everything currently in the WAL dir and stop (test/bench mode).
    * `mode` is [[CdcMerge.MergeOnRead]], the single write strategy, kept for
    * callers that name it.
    */
  def runToCompletion(spark: SparkSession, walDir: String, table: LakeTable,
                      checkpointDir: String, maxFilesPerTrigger: Int = 4,
                      saltBuckets: Int = 8,
                      mode: CdcMerge.Mode = CdcMerge.MergeOnRead,
                      compactEvery: Int = 8,
                      asyncCompaction: Boolean = false,
                      maxRowsPerBucket: Long = 0L): Unit = {
    val q = start(spark, walDir, table, checkpointDir, maxFilesPerTrigger,
      saltBuckets, compactEvery, asyncCompaction = asyncCompaction,
      maxRowsPerBucket = maxRowsPerBucket)
    try q.awaitTermination() finally if (q.isActive) q.stop()
    if (asyncCompaction) awaitMaintenance()
  }
}
