package graft.merge

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import graft.lake.{CommitConflict, CommitInfo, FileEntry, LakeTable, SchemaEntry, SchemaReconciler}
import graft.model.Schemas._

/** The CDC apply: one micro-batch of change events → MERGE INTO the lake
  * table, merge-on-read, LSN-gated and replay-idempotent: route the raw
  * batch by bucket in ONE exchange, dedup it by max LSN in a window whose
  * sort is also the writer's sort, append it as per-bucket DELTA files
  * (one per writer task while batches cover most buckets), commit.
  * O(batch) work per micro-batch, no join against the table.
  * Readers resolve per-key max LSN across base+deltas; [[Compactor]] folds
  * deltas back into base files when they pile up (amortized O(bucket)),
  * which leaves a bucket in the same base-only state a copy-on-write
  * rewrite would.
  *
  * The reference's analogue is the threaded grapher upsert with
  * per-variable checksum short-circuit (owid-etl
  * `etl/steps/__init__.py:887-936`, `etl/grapher_import.py:227-323`).
  *
  * Exactly-once: `foreachBatch` may replay a batch after a crash; commits
  * record the epoch and `apply` no-ops when `manifest.lastEpoch >= epoch`
  * (reference analogue: checksum-written-last commit protocol,
  * `etl/steps/__init__.py:938-953`).
  */
object CdcMerge {

  /** The write strategy. Merge-on-read is the only one; the type and the
    * `mode` parameter of [[apply]] and `CdcStream.runToCompletion` stay
    * for callers that name it explicitly.
    */
  sealed trait Mode
  case object MergeOnRead extends Mode

  /** `epoch` is the SOURCE epoch the caller presented; `effEpoch` the
    * internal epoch the files were actually recorded under (remapped to
    * stay monotone after fresh-checkpoint restarts) — manifest lookups by
    * epoch must use `effEpoch`, not `epoch`. `affectedBuckets` counts the
    * current-depth buckets the batch wrote rows to.
    */
  final case class Stats(
      epoch: Long, applied: Boolean, batchRows: Long,
      affectedBuckets: Int, wallMs: Long, effEpoch: Long = -1L)

  /** Keep the latest change per key within the batch:
    * `row_number() over (partition by key order by lsn desc, op desc) = 1`.
    * Duplicate deliveries of the same (key, lsn) collapse to one row. The
    * `op desc` tie-break makes two ops at one (key, lsn) — possible from
    * the SQL MERGE surface, which accepts arbitrary sources — resolve the
    * same way on every replay.
    *
    * `by` is the window's partition: the key columns, optionally with
    * columns that are functions of the key ([[apply]] adds its routing
    * columns so that the exchange that routed the batch already satisfies
    * the window). Its order is the window sort's order.
    */
  def dedupMaxLsn(batch: DataFrame, by: Seq[String] = KEY_COLS): DataFrame = {
    require(KEY_COLS.forall(by.contains), s"dedup partition $by lacks a key column")
    val w = Window.partitionBy(by.map(col): _*)
      .orderBy(col("lsn").desc, col("op").desc)
    batch.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** The coarse bucket depth a dense micro-batch is routed at: the
    * smallest divisor of `numBuckets` not below the session's shuffle
    * `parallelism`, so that every writer task holds one bucket of that
    * depth. `numBuckets` when the parallelism reaches it: one file per
    * bucket. A divisor of `numBuckets` is all the coverage arithmetic
    * ([[Manifest.covers]]) needs.
    */
  private[graft] def writeDepth(numBuckets: Int, parallelism: Int): Int =
    (math.max(1, parallelism) until numBuckets).find(numBuckets % _ == 0).getOrElse(numBuckets)

  def apply(table: LakeTable, batch: DataFrame, epoch: Long,
            saltBuckets: Int = 8, mode: Mode = MergeOnRead,
            streamId: String = "default",
            preCommit: () => Unit = () => ()): Stats = {
    val t0 = System.nanoTime()
    val spark = batch.sparkSession
    val m = table.manifest
    // Exactly-once is per (streamId, sourceEpoch), Delta-style: a replayed
    // micro-batch of the SAME stream no-ops; a DIFFERENT stream (e.g. a
    // restart with a fresh/deleted checkpoint resets foreachBatch epochs
    // to 0) must NOT be silently dropped — its batches are applied under a
    // remapped monotone internal epoch (content stays idempotent via the
    // per-key max-LSN gate).
    val sameStream = m.streamId == streamId
    if (sameStream && m.lastSourceEpoch >= epoch) {
      return Stats(epoch, applied = false, -1, 0, 0, effEpoch = m.lastEpoch)
    }
    if (!sameStream && m.streamId.nonEmpty && epoch <= m.lastEpoch)
      System.err.println(s"[cdc-merge] WARN: stream '$streamId' presented epoch " +
        s"$epoch <= lastEpoch ${m.lastEpoch} recorded for stream '${m.streamId}' " +
        "(fresh checkpoint against an existing table?) — applying under internal " +
        s"epoch ${m.lastEpoch + 1} instead of no-oping")
    val effEpoch = math.max(epoch, m.lastEpoch + 1)

    // ---- schema reconciliation (batch user-schema vs table schema) ----
    val incomingUser = StructType(batch.schema.fields.filterNot(f =>
      f.name == "op" || f.name == "lsn"))
    val currentUser = table.userSchema(m)
    val rec = SchemaReconciler.reconcile(currentUser, incomingUser) match {
      case Right(r) => r
      case Left(err) => throw new IllegalArgumentException(s"schema evolution rejected: $err")
    }
    val newUser = rec.schema
    val (schemas2, schemaId2) =
      if (rec.evolved) {
        val id = m.schemas.map(_.id).max + 1
        (m.schemas :+ SchemaEntry(id, newUser.toDDL), id)
      } else (m.schemas, m.currentSchemaId)

    // ---- route, dedup and write the batch as DELTA files ----
    val physTarget = physical(newUser)

    // unique per attempt, after a sweep of abandoned attempts (LakeCore)
    val staging = table.core.stagingFor(s"epoch-$effEpoch")

    // O(batch): write deduped rows as per-bucket DELTA files, with ONE
    // exchange. Writer tasks number the session's shuffle parallelism,
    // and each file costs a fixed writer set-up at write time and a fixed
    // reader set-up in every later scan and compaction. So a DENSE batch,
    // one that covers most buckets, is routed at the coarse depth
    // d = [[writeDepth]]: partition id = hash(conv_id) mod d
    // (`repartitionById`), each task holds exactly one depth-d bucket and
    // writes exactly one file, stamped `writePids = Some(d)` when
    // d < numBuckets. That is the coverage stamp REBUCKET writes: the file
    // covers buckets {b + j*d} of the current depth, and readers, lookups,
    // skipping, changelog reads and compaction resolve it through
    // [[Manifest.covers]] as any older-depth file. At 32 buckets and 4
    // shuffle partitions a 3,000-event batch writes 4 files instead of 32
    // (CHANGES.md, "one delta file per writer task"). A SPARSE batch is
    // routed at full depth, one file per bucket it touches: a coarse file
    // of it would mark numBuckets/d buckets delta-bearing for each one it
    // wrote to, so reads would resolve, and compaction rewrite, up to
    // numBuckets/d times the buckets it changed. A batch counts as dense
    // when the previous merge wrote rows to at least half of the buckets
    // (its lineage entry, the first one at the current epoch, which each
    // merge records exactly, below) and the optimizer's size estimate of
    // this batch holds at least numBuckets/2 rows, so that a one-row SQL
    // MERGE after a dense stream stays fine. The lag is one batch
    // otherwise: a fresh table's first batch, the first after a REBUCKET
    // by a factor above 2, and a large batch of a few conversations after
    // a dense one take the other route once.
    // A sparse batch takes the plan every batch took before coarse
    // routing: hashed by bucket over the shuffle parallelism, each task
    // writing one file per bucket it holds, so a cold bucket still gets
    // exactly one delta file per batch. That is also the cheaper plan at
    // full depth: a pass-through by bucket mod the parallelism needs a
    // partition-id column in the shuffle and in the window's sort, which
    // cost ~8% more CPU per drain of a 512k-event, 2-batch WAL into a
    // 32-bucket table (4 cores, 14 interleaved drains a side).
    // The max-LSN window runs after the exchange, partitioned by
    // (bucket, key[, _salt or _pid]) so the routing already satisfies it,
    // and its sort (bucket, key, …) is also the writer's sort: one
    // Exchange, one Sort. No map-side combine: at one WAL file per trigger
    // a batch is one Parquet row group, so one split, and a combine would
    // run on ONE task (~0.9 s of a 1.2 s stage at 256k events, 4 cores).
    // At 4 files per trigger it would run on 4, yet shuffling raw rows
    // still applied batches ~28% faster there (4 cores, 10 alternating
    // pairs; CHANGES.md, "CDC apply in one exchange").
    // ADAPTIVE salting: a routed bucket holding a hot conversation (Zipf
    // head) would straggle in its task, so a bucket whose PREVIOUS batch
    // share exceeded 2x fair share (2/depth) is split across `saltBuckets`
    // slots on hash(turn_idx), with saltBuckets-1 extra writer tasks. At
    // full depth the slot joins the bucket in the hash key; at a coarse
    // depth slot 0 stays on the bucket's own partition and slots 1.. get
    // extra partition ids past d. Detection is free: per-bucket row counts
    // of the last delta epoch live in the manifest (one-batch lag is fine
    // for steady streams, and avoids a counting job + full-batch persist).
    // Files whose depth the routing depth does not divide carry no
    // per-bucket count at it and are left out.
    val parallelism = spark.sessionState.conf.numShufflePartitions
    val plannedRows =
      batch.queryExecution.optimizedPlan.stats.sizeInBytes / math.max(1, batch.schema.defaultSize)
    val dense = plannedRows * 2 >= m.numBuckets &&
      m.lineage.find(_.epoch == m.lastEpoch).exists(_.upsertedBuckets.size * 2 >= m.numBuckets)
    val depth = if (dense) writeDepth(m.numBuckets, parallelism) else m.numBuckets
    val lastDeltas = m.files.filter(f =>
      f.kind == FileEntry.DELTA && f.epoch == m.lastEpoch && m.fileDepth(f) % depth == 0)
    val counts = lastDeltas.groupBy(_.bucket % depth).view.mapValues(_.map(_.rows).sum).toMap
    val fair = math.max(1L, counts.values.sum / depth)
    val hot = if (saltBuckets <= 1) Nil else counts.filter(_._2 > 2 * fair).keys.toSeq.sorted
    val keyed = batch.withColumn("bucket", table.bucketExpr(depth))
    val salt = pmod(xxhash64(col("turn_idx")), lit(saltBuckets.toLong))
    val extra = hot.size * (saltBuckets - 1)
    // No hot bucket → route by bucket alone: a constant salt or partition
    // id would be folded out of the window partition, which the routing
    // would then no longer satisfy (a second exchange).
    val (routed, route) =
      if (depth == m.numBuckets) {
        // full depth: hashed by bucket (and a hot bucket's salt) over the
        // shuffle parallelism, several buckets per writer task
        val n = math.min(parallelism + extra, 4096)
        if (hot.isEmpty) (keyed.repartition(n, col("bucket")), None)
        else (keyed.withColumn("_salt", when(col("bucket").isin(hot: _*), salt).otherwise(lit(0L)))
          .repartition(n, col("bucket"), col("_salt")), Some("_salt"))
      } else {
        // coarse: the bucket is the partition id, one per writer task
        if (hot.isEmpty) (keyed.repartitionById(depth, col("bucket")), None)
        else {
          // slot s > 0 of the i-th hot bucket → partition d + i*(saltBuckets-1) + s-1
          val pid = hot.zipWithIndex.foldLeft(col("bucket")) { case (other, (b, i)) =>
            when(col("bucket") === b && salt > 0,
              (salt + (depth - 1 + i * (saltBuckets - 1))).cast(IntegerType)).otherwise(other)
          }
          (keyed.withColumn("_pid", pid).repartitionById(depth + extra, col("_pid")), Some("_pid"))
        }
      }
    // the current-depth buckets a coarse write writes rows to, observed in
    // the write's own tasks (no extra job); at full depth its files name them
    val wroteTo = Option.when(depth < m.numBuckets)(Observation())
    val deduped0 = dedupMaxLsn(routed, ("bucket" +: KEY_COLS) ++ route)
    val deduped = wroteTo.fold(deduped0)(o =>
      deduped0.observe(o, collect_set(table.bucketExpr(m.numBuckets)).as("buckets")))
    // aligned to a target that keeps the routed `bucket` column: a
    // recomputed one would be a new attribute, and the plan would sort
    // again for the writer. Sorted within writer tasks (the window's
    // order already, so no extra Sort is planned): tight per-file conv_id
    // ranges for file-level pruning + better parquet encoding
    LakeTable.alignTo(
      deduped
        .withColumn(LSN_COL, col("lsn"))
        .withColumn(DELETED_COL, col("op") === "D"),
      physTarget.add("bucket", IntegerType))
      .sortWithinPartitions("bucket", "conv_id", "turn_idx")
      .write.mode("overwrite").partitionBy("bucket").parquet(staging.toString)
    val newFiles = table.adoptStaged(staging, effEpoch, schemaId2, FileEntry.DELTA, physTarget)
      .map(f => if (depth < m.numBuckets) f.copy(writePids = Some(depth)) else f)
    // observed metrics arrive through the listener bus; should they miss
    // a short wait, every bucket the files cover stands in
    val upserted: Seq[Int] =
      if (newFiles.isEmpty) Nil
      else wroteTo.flatMap(o => scala.util.Try(scala.concurrent.Await.result(o.future,
          scala.concurrent.duration.Duration(100, "ms"))).toOption)
        .map(_.getSeq[Int](0))
        .getOrElse(newFiles.flatMap(m.coveredBuckets)).distinct.sorted

    // Commit with REBASE-on-conflict: an async compaction may win the CAS
    // between our manifest read and commit. A delta append is always
    // rebase-safe (it only ADDS files): the rebase re-reads the current
    // manifest, carries its file list, and retries.
    preCommit() // test seam: inject a concurrent commit into the window
    var base = m
    var attempt = 0
    while (true) {
      // rebasing over a concurrent REBUCKET: files routed at the OLD full
      // depth are stamped so coverage reads them correctly in the new
      // space (the rebucket stamped only the files in ITS manifest; ours
      // were in flight). Coarser files carry their depth already.
      val newFilesNow =
        if (base.numBuckets != m.numBuckets)
          newFiles.map(f => if (f.writePids.isEmpty) f.copy(writePids = Some(m.numBuckets)) else f)
        else newFiles
      // re-indexed when a REBUCKET landed in between: an old bucket b
      // spans {b + j*m.numBuckets} of the new space
      val affected =
        if (base.numBuckets == m.numBuckets) upserted
        else upserted.flatMap(b => b until base.numBuckets by m.numBuckets).sorted
      require(base.schemas == m.schemas && base.currentSchemaId == m.currentSchemaId,
        "concurrent schema change during merge")
      // STRICT < on rebase: a concurrent commit that already recorded
      // exactly effEpoch would otherwise duplicate the internal epoch,
      // breaking changelog monotonicity (changesBetween filters
      // `epoch > fromEpoch`). Compactions never advance lastEpoch, so
      // rebasing over a compactor still passes.
      require((base eq m) || base.lastEpoch < effEpoch,
        s"concurrent WRITER detected (lastEpoch ${base.lastEpoch} >= epoch $effEpoch " +
          "after rebase) — one writer per table")
      val allFiles = base.files ++ newFilesNow
      val batchMaxLsn = math.max(base.maxLsn, newFiles.map(_.maxLsn).foldLeft(-1L)(math.max))
      val wallMs = (System.nanoTime() - t0) / 1000000
      val m2 = base.copy(
        version = base.version + 1,
        lastEpoch = effEpoch,
        streamId = streamId,
        lastSourceEpoch = epoch,
        currentSchemaId = schemaId2,
        schemas = schemas2,
        files = allFiles,
        totalRows = allFiles.map(_.rows).sum, // physical rows (deltas may shadow)
        maxLsn = batchMaxLsn,
        lineage = (base.lineage :+ CommitInfo(base.version + 1, effEpoch,
          newFiles.map(_.rows).sum, affected, batchMaxLsn, wallMs,
          System.currentTimeMillis())).takeRight(1000))
      try {
        table.commit(m2, base.version)
        return Stats(epoch, applied = true, newFiles.map(_.rows).sum, affected.size, wallMs, effEpoch)
      } catch {
        // CAS lost → rebase onto the current manifest and retry
        case _: CommitConflict if attempt < 10 =>
          attempt += 1
          base = table.manifest
      }
    }
    throw new IllegalStateException(
      s"commit for epoch $effEpoch lost the CAS race 10 times — a concurrent writer is live")
  }
}

/** Initial bulk load (bootstrap): write a SNAPSHOT DataFrame straight to
  * key-sorted BASE files — the "load the 100 TB history once, then start
  * the binlog tail" path. One pass: no per-key dedup window (the input is
  * a snapshot, at most one row per key), no merge against existing state
  * (the table must be empty). Rows may carry a per-key `lsn` column (the
  * key's last-applied LSN from the upstream snapshot) so the subsequent
  * stream's LSN gate composes correctly; absent that, pass `defaultLsn`.
  */
object BulkLoad {

  def load(table: LakeTable, snapshot: DataFrame, defaultLsn: Long = 0L,
           maxRecordsPerFile: Long = 0L, validateUniqueKeys: Boolean = true,
           saltBuckets: Int = 1): CdcMerge.Stats = {
    val t0 = System.nanoTime()
    val spark = snapshot.sparkSession
    val m = table.manifest
    require(m.files.isEmpty, "bulk load requires an EMPTY table (bootstrap only)")
    if (validateUniqueKeys) {
      // opt-out for huge loads: this is a full shuffle purely for the check
      val dups = snapshot.groupBy(KEY_COLS.map(col): _*)
        .count().filter(col("count") > 1).count()
      require(dups == 0, s"bulk-load input is not a snapshot: $dups duplicate keys")
    }
    val userDf =
      if (snapshot.columns.contains("lsn")) snapshot
      else snapshot.withColumn("lsn", lit(defaultLsn))
    val physTarget = physical(StructType(table.userSchema(m).fields))
    val asPhysical = LakeTable.alignTo(
      userDf.withColumn(LSN_COL, col("lsn")).withColumn(DELETED_COL, lit(false)),
      physTarget)
    val staging = table.core.stagingFor("bootstrap")
    val salt =
      if (saltBuckets <= 1) lit(0L)
      else pmod(xxhash64(col("turn_idx")), lit(saltBuckets.toLong))
    asPhysical
      .withColumn("bucket", table.bucketExpr(m.numBuckets))
      .repartition(math.max(spark.sessionState.conf.numShufflePartitions,
        m.numBuckets * saltBuckets), col("bucket"), salt)
      .sortWithinPartitions("bucket", "conv_id", "turn_idx")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("bucket").parquet(staging.toString)
    val newFiles = table.adoptStaged(staging, epoch = 0L, m.currentSchemaId, FileEntry.BASE, physTarget)
    val maxLsn = newFiles.map(_.maxLsn).foldLeft(-1L)(math.max)
    val wallMs = (System.nanoTime() - t0) / 1000000
    val m2 = m.copy(
      version = m.version + 1,
      lastEpoch = 0L,
      streamId = "bootstrap",
      lastSourceEpoch = 0L,
      files = newFiles,
      totalRows = newFiles.map(_.rows).sum,
      maxLsn = maxLsn,
      lineage = Seq(CommitInfo(m.version + 1, 0L, newFiles.map(_.rows).sum,
        newFiles.map(_.bucket).distinct.sorted, maxLsn, wallMs,
        System.currentTimeMillis())))
    table.commit(m2, m.version)
    CdcMerge.Stats(0L, applied = true, newFiles.map(_.rows).sum,
      newFiles.map(_.bucket).toSet.size, wallMs, effEpoch = 0L)
  }
}

/** Folds delta files back into per-key-resolved base files, bucket by
  * bucket — the amortized half of merge-on-read. Tombstones are KEPT in
  * the compacted base (a resurrect-guard for arbitrarily late stale
  * updates); `dropTombstones` exists for terminal compactions where the
  * upstream WAL is known to be fully drained.
  */
object Compactor {

  final case class Result(compactedBuckets: Seq[Int], wallMs: Long)

  /** CAS attempts before a compaction gives up and abandons its output. */
  private val MaxRetries = 20

  /** Compact every bucket whose deltas span >= `deltaThreshold` DISTINCT
    * epochs (not raw file count — a salted hot bucket writes several delta
    * files per batch and must not trigger compaction more often for it).
    */
  def compactIfNeeded(table: LakeTable, deltaThreshold: Int = 4,
                      dropTombstones: Boolean = false): Option[Result] = {
    val due = dueBuckets(table, deltaThreshold)
    if (due.isEmpty) None else compact(table, due.toSet, dropTombstones)
  }

  /** Current-depth buckets covered by deltas of >= `deltaThreshold`
    * distinct epochs. Counted through coverage, not the file's own bucket
    * id: a merge's delta of depth d < numBuckets, and any file older than
    * a REBUCKET, covers several current buckets.
    */
  def dueBuckets(table: LakeTable, deltaThreshold: Int): Seq[Int] = {
    val m = table.manifest
    m.files.filter(_.kind == FileEntry.DELTA)
      .flatMap(f => m.coveredBuckets(f).map(_ -> f.epoch))
      .groupBy(_._1).collect {
        case (b, es) if es.map(_._2).distinct.size >= deltaThreshold => b
      }.toSeq.sorted
  }

  /** Rewrite `buckets` from a PINNED manifest into per-key-resolved base
    * files in one Spark write with ONE exchange and ONE sort: the pinned
    * files are routed by bucket, resolved by max LSN in a window
    * partitioned by (bucket, key) and written in that window's order (a
    * `clusterBy` adds its own sort after the same exchange). Then commit
    * with OPTIMISTIC CONCURRENCY: the (slow) rewrite
    * may run while writers keep committing — on the stream thread, on the
    * maintenance thread, or under a SQL OPTIMIZE — and the commit then
    * validates-and-retries Iceberg-style.
    *
    * Rebase rules (per compacted bucket, against the pinned manifest m0):
    *  - files ADDED since the pin (a streaming writer's new deltas) are
    *    CARRIED alongside the rewritten base — correct under merge-on-read
    *    because resolve takes the per-key max LSN: the compacted base holds
    *    exactly the pinned files' winners (tombstones kept), and any
    *    concurrent delta rides on top exactly as it did before. Without
    *    this, a steady stream touching every bucket invalidates EVERY
    *    compaction and delta depth grows with stream age (measured: depth
    *    64 after 64 rapid batches under the abandon-on-any-write rule).
    *  - files REMOVED since the pin (another compaction folded the
    *    bucket) → the rewrite is stale → its output is abandoned and None
    *    returned.
    *  - `dropTombstones` requires quiescence: folding away a tombstone
    *    while a concurrent (late, stale) update could still arrive would
    *    resurrect the deleted key — any post-pin file in a compacted
    *    bucket aborts a tombstone-dropping compaction.
    * An abandoned rewrite deletes the files it adopted, so nothing lands
    * in `data/` that no manifest references. None also means there was
    * nothing to rewrite.
    *
    * Default layout = key-sorted bases: disjoint per-file conv_id ranges
    * inside a bucket (with maxRecordsPerFile > 0) → manifest-level file
    * pruning for single-conversation reads. `clusterBy` overrides the
    * intra-bucket order (e.g. a z-value for multi-column data skipping;
    * see [[zorder]]) — point lookups then lean on blooms instead of
    * minKey/maxKey tightness.
    *
    * `preCommit` is a test seam to inject a concurrent commit into the
    * validation window deterministically.
    */
  def compact(table: LakeTable, buckets: Set[Int],
              dropTombstones: Boolean = false,
              maxRecordsPerFile: Long = 0L,
              clusterBy: Option[DataFrame => org.apache.spark.sql.Column] = None,
              preCommit: () => Unit = () => ()): Option[Result] = {
    val t0 = System.nanoTime()
    val spark = table.sparkSession
    val m0 = table.manifest
    // closure over shared-file coverage (identity when every file is at
    // the current depth): a pre-split file, or a merge's delta routed at a
    // coarser depth, spans several current buckets, and its
    // replacement-by-path below means its sibling buckets rewrite too. The
    // rewrite region is fixed at the PIN: a coarse delta that lands after
    // the pin may cover buckets outside it, and it is carried WHOLE (never
    // split or folded), which per-key max-LSN resolution keeps exact —
    // inside the region it rides on the rewritten bases, outside it on the
    // untouched files, as any post-pin delta does
    val closed = m0.bucketClosure(buckets)
    val pinned = m0.filesForBuckets(closed)
    val inputFiles = pinned.map(_.path).toSet
    if (inputFiles.isEmpty) return None
    // ONE exchange, ONE sort: read the PINNED files (not _current: a
    // concurrent writer must not change our input between pin and plan),
    // route them by bucket, and resolve max-LSN in a window partitioned by
    // (bucket, key), which the routing already satisfies and whose sort
    // (bucket, conv_id, turn_idx, …) is also the writer's. Tombstones are
    // kept unless dropped here.
    val physTarget = graft.model.Schemas.physical(table.userSchema(m0))
    val routed = table.readAligned(m0, pinned, physTarget)
      .withColumn("bucket", table.bucketExpr(m0.numBuckets))
      .repartition(spark.sessionState.conf.numShufflePartitions, col("bucket"))
    val resolved0 = table.maxLsnResolve(routed, "bucket" +: graft.model.Schemas.KEY_COLS)
    val resolved1 = if (dropTombstones)
      resolved0.filter(!col(graft.model.Schemas.DELETED_COL)) else resolved0
    // a clusterBy (zorder) computes quantile boundaries with ONE
    // approxQuantile job over `resolved` BEFORE the rewrite reads it again
    // — persist so the read, exchange and resolve run once, not twice
    val resolved = if (clusterBy.isDefined)
      resolved1.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else resolved1
    val staging = table.core.stagingFor(s"compact-${m0.version}")
    // A clusterBy keeps its own sort, after the same exchange. The cluster
    // value is MATERIALIZED as a column before the sort and sorted as a
    // plain attribute: SortExec's generated ordering evaluates sort-key
    // EXPRESSIONS per comparison (n·log n times), so sorting directly on
    // the z expression — a 2^bits-step HOF per evaluation — multiplies its
    // cost ~2·log₂(rows)×. Measured on a 100k-row zorder rewrite: 40.6 s
    // sorting on the expression vs ~1 s on the column.
    val sorted = clusterBy match {
      case Some(mk) => resolved.withColumn("__cluster", mk(resolved))
        .sortWithinPartitions("bucket", "__cluster").drop("__cluster")
      // the window's order already: no extra Sort is planned
      case None => resolved.sortWithinPartitions("bucket", "conv_id", "turn_idx")
    }
    try sorted
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("bucket").parquet(staging.toString)
    finally if (clusterBy.isDefined) resolved.unpersist()
    val newFiles = table.adoptStaged(staging, m0.lastEpoch, m0.currentSchemaId, FileEntry.BASE, physTarget)
    def abandon(): Option[Result] = {
      newFiles.foreach(f => java.nio.file.Files.deleteIfExists(table.root.resolve(f.path)))
      None
    }
    preCommit()
    var attempt = 0
    while (attempt < MaxRetries) {
      val cur = table.manifest
      // the rewrite region, re-indexed under `cur`: f (depth d, bucket b)
      // intersects {t : t mod m0.numBuckets ∈ closed} iff some closed
      // bucket shares b's residue at gcd(d, m0.numBuckets). The test holds
      // for any depths that divide numBuckets, which need not divide one
      // another (a merge's write depth follows its session's shuffle
      // parallelism), and it stays correct across a concurrent REBUCKET
      def inRegion(f: FileEntry): Boolean = {
        val g = java.math.BigInteger.valueOf(cur.fileDepth(f))
          .gcd(java.math.BigInteger.valueOf(m0.numBuckets)).intValueExact()
        val r = java.lang.Math.floorMod(f.bucket, g)
        closed.exists(c => java.lang.Math.floorMod(c, g) == r)
      }
      val curPaths = cur.files.map(_.path).toSet
      val addedSincePin = cur.files.filter(f =>
        inRegion(f) && !inputFiles.contains(f.path))
      val stale = !inputFiles.subsetOf(curPaths) || // pinned input vanished → bucket was rewritten
        (dropTombstones && addedSincePin.nonEmpty)  // tombstone-drop needs quiescence
      if (stale) return abandon()
      // rebasing over a concurrent REBUCKET: our bases were written at the
      // pin's depth — stamp them for the new space (the rebucket stamped
      // only the files in ITS manifest)
      val newFilesNow =
        if (cur.numBuckets != m0.numBuckets)
          newFiles.map(f => if (f.writePids.isEmpty) f.copy(writePids = Some(m0.numBuckets)) else f)
        else newFiles
      val allFiles = cur.files.filterNot(f => inputFiles.contains(f.path)) ++ newFilesNow
      val wallMs = (System.nanoTime() - t0) / 1000000
      val m2 = cur.copy(
        version = cur.version + 1,
        files = allFiles,
        totalRows = allFiles.map(_.rows).sum,
        lineage = (cur.lineage :+ CommitInfo(cur.version + 1, cur.lastEpoch,
          newFiles.map(_.rows).sum, closed.toSeq.sorted, cur.maxLsn, wallMs,
          System.currentTimeMillis())).takeRight(1000))
      try {
        table.commit(m2, cur.version)
        return Some(Result(closed.toSeq.sorted, wallMs))
      } catch {
        case _: CommitConflict => attempt += 1 // rebase + retry
      }
    }
    abandon()
  }

  /** Z-order the given buckets (default: all): a [[compact]] whose
    * intra-bucket layout is the Morton interleave of `cols`' quantile
    * bins ([[graft.lake.ZOrder]]) instead of the key sort — files then
    * carry tight min/max bounds on EVERY listed column, which is what
    * makes [[graft.lake.DataSkipping]] effective for multi-dimensional
    * predicates (e.g. ts ranges over transcripts). Buckets stay the
    * partition unit, so key-hash routing, MOR resolution, and all
    * concurrency rules are untouched; within a rewritten bucket the
    * (minKey, maxKey) ranges get looser — point lookups lean on blooms
    * (OPTIMIZE ... BLOOM) instead.
    *
    * `maxRecordsPerFile <= 0` auto-sizes to ~8 files per bucket (real
    * deployments should pass an explicit value tuned to row width — the
    * lever that trades file count against skip granularity).
    */
  def zorder(table: LakeTable, cols: Seq[String],
             buckets: Option[Set[Int]] = None,
             maxRecordsPerFile: Long = 0L,
             dropTombstones: Boolean = false): Option[Result] = {
    val m = table.manifest
    val bs = buckets.getOrElse(m.files.flatMap(m.coveredBuckets).toSet)
    val mrf =
      if (maxRecordsPerFile > 0L) maxRecordsPerFile
      else math.max(1L, m.totalRows / math.max(1, bs.size) / 8L)
    compact(table, bs, dropTombstones, mrf,
      clusterBy = Some(df => graft.lake.ZOrder.zColumn(df, cols)))
  }
}
