package graft.merge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import graft.lake.{CommitConflict, CommitInfo, FileEntry, LakeTable, SchemaEntry, SchemaReconciler}
import graft.model.Schemas._

/** The CDC apply: one micro-batch of change events → MERGE INTO the lake
  * table, merge-on-read, LSN-gated and replay-idempotent: route the raw
  * batch by bucket in ONE exchange, dedup it by max LSN in a window whose
  * sort is also the writer's sort, append it as per-bucket DELTA files,
  * commit. O(batch) work per micro-batch, no join against the table.
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
    * epoch must use `effEpoch`, not `epoch`.
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
    // exchange. The RAW batch is routed by bucket; the max-LSN window
    // runs after that exchange, partitioned by (bucket, key[, salt]) so
    // the routing already satisfies it, and its sort (bucket, key, …)
    // is also the writer's sort: one Exchange, one Sort. No map-side
    // combine: at one WAL file per trigger a batch is one Parquet row
    // group, so one split, and a combine would run on ONE task (~0.9 s
    // of a 1.2 s stage at 256k events, 4 cores). At 4 files per trigger
    // it would run on 4, yet shuffling raw rows still applied batches
    // ~28% faster there (4 cores, 10 alternating pairs; CHANGES.md, "CDC
    // apply in one exchange"). Writer tasks number the
    // session's shuffle parallelism, not the buckets: each task costs
    // ~34 ms fixed, against ~140 KB of output per bucket at 32 buckets.
    // A cold bucket hashes to exactly one task, so it still gets one
    // delta file per batch.
    // ADAPTIVE salting: a bucket holding a hot conversation (Zipf head)
    // would straggle in its one task — so buckets whose PREVIOUS batch
    // share exceeded 2x fair share are split across `saltBuckets`
    // routing keys on hash(turn_idx), each adding saltBuckets-1 writer
    // tasks. Detection is free: per-bucket row counts of the last delta
    // epoch live in the manifest (one-batch lag is fine for steady
    // streams, and avoids a counting job + full-batch persist).
    val lastDeltas = m.files.filter(f =>
      f.kind == FileEntry.DELTA && f.epoch == m.lastEpoch)
    val counts = lastDeltas.groupBy(_.bucket).view.mapValues(_.map(_.rows).sum).toMap
    val fair = math.max(1L, counts.values.sum / math.max(1, m.numBuckets))
    val hot = if (saltBuckets <= 1) Nil else counts.filter(_._2 > 2 * fair).keys.toSeq
    val keyed = batch.withColumn("bucket", table.bucketExpr(m.numBuckets))
    // No hot bucket → route by bucket alone: a literal-0 salt would be
    // folded out of the window partition, which the routing would then
    // no longer satisfy (a second exchange).
    val (routed, route) =
      if (hot.isEmpty) (keyed, Seq("bucket"))
      else (keyed.withColumn("_salt", when(col("bucket").isin(hot: _*),
        pmod(xxhash64(col("turn_idx")), lit(saltBuckets.toLong))).otherwise(lit(0L))),
        Seq("bucket", "_salt"))
    val nParts = math.min(
      spark.sessionState.conf.numShufflePartitions + hot.size * (saltBuckets - 1), 4096)
    val deduped = dedupMaxLsn(routed.repartition(nParts, route.map(col): _*),
      ("bucket" +: KEY_COLS) ++ route.tail)
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
    val affected = newFiles.map(_.bucket).toSet

    // Commit with REBASE-on-conflict: an async compaction may win the CAS
    // between our manifest read and commit. A delta append is always
    // rebase-safe (it only ADDS files): the rebase re-reads the current
    // manifest, carries its file list, and retries.
    preCommit() // test seam: inject a concurrent commit into the window
    var base = m
    var attempt = 0
    while (true) {
      // rebasing over a concurrent REBUCKET: our files were routed at the
      // OLD depth — stamp them so coverage reads them correctly in the
      // new space (the rebucket stamped only the files in ITS manifest;
      // ours were in flight)
      val newFilesNow =
        if (base.numBuckets != m.numBuckets)
          newFiles.map(f => if (f.writePids.isEmpty) f.copy(writePids = Some(m.numBuckets)) else f)
        else newFiles
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
          newFiles.map(_.rows).sum, affected.toSeq.sorted, batchMaxLsn, wallMs,
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

  /** Buckets whose deltas span >= `deltaThreshold` distinct epochs. */
  def dueBuckets(table: LakeTable, deltaThreshold: Int): Seq[Int] =
    table.manifest.files.groupBy(_.bucket).collect {
      case (b, fs) if fs.filter(_.kind == FileEntry.DELTA)
        .map(_.epoch).distinct.size >= deltaThreshold => b
    }.toSeq.sorted

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
    // closure over shared-file coverage (identity without a REBUCKET in
    // history): a pre-split file spans several current buckets, and its
    // replacement-by-path below means its sibling buckets rewrite too. The
    // rewrite region is fixed at the PIN's depth — post-pin files are
    // never coarser, so the closed region cannot grow under us
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
      // bucket shares b's residue at gcd(d, m0.numBuckets) — depths form
      // a divisibility chain, so the gcd is simply the coarser of the two
      // (this stays correct across a concurrent REBUCKET)
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
    val bs = buckets.getOrElse(m.files.map(_.bucket).toSet)
    val mrf =
      if (maxRecordsPerFile > 0L) maxRecordsPerFile
      else math.max(1L, m.totalRows / math.max(1, bs.size) / 8L)
    compact(table, bs, dropTombstones, mrf,
      clusterBy = Some(df => graft.lake.ZOrder.zColumn(df, cols)))
  }
}
