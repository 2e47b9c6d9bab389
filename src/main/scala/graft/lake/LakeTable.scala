package graft.lake

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Cast, Descending, Expression, Literal, SortOrder, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import graft.model.Schemas

/** From-scratch Iceberg-style lake table over Parquet: hash-bucketed data
  * files + JSON snapshot manifests + atomic `_current` pointer swap.
  *
  * Layout:
  * {{{
  *   <root>/data/bucket=NN/e<epoch>-<uuid>.parquet
  *   <root>/_manifests/manifest-<version>.json
  *   <root>/_current            (single line: committed manifest version)
  * }}}
  *
  * Design points for 100 TB scale:
  *   - `bucket = pmod(xxhash64(conv_id), numBuckets)` — storage-level hash
  *     partitioning so a MERGE appends deltas only to touched buckets and
  *     compaction rewrites at bucket granularity; dynamic "partition
  *     pruning" = manifest file list restricted to affected buckets.
  *   - Readers never list directories: the manifest carries the exact file
  *     list, so stale/orphaned files are invisible (snapshot isolation) and
  *     S3-style listing storms are avoided.
  *   - Schema evolution is read-time: files keep their write-time schemaId;
  *     reads group by schemaId and cast/align to the current schema.
  *
  * Reference analogue: owid-etl dataset dir + `index.json` + checksum-last
  * commit (`lib/catalog/owid/catalog/datasets.py:59-98`,
  * `etl/steps/__init__.py:938-953`).
  */
final class LakeTable private (val root: Path, spark: SparkSession) {
  import LakeTable._

  /** Commit, memo, staging, adoption and reclaim; split manifests. */
  private[graft] val core = new LakeCore(root, spark, Manifest.writeSplit)

  def manifestDir: Path = core.manifestDir

  def currentVersion: Long = core.currentVersion

  /** The session this table reads and writes through. */
  def sparkSession: SparkSession = spark

  /** The current manifest, parsed once per version (see [[LakeCore]]). */
  def manifest: Manifest = core.manifest

  def manifestAt(version: Long): Manifest = core.manifestAt(version)

  def userSchema: StructType = userSchema(manifest)
  def userSchema(m: Manifest): StructType =
    StructType.fromDDL(m.schemas.find(_.id == m.currentSchemaId).get.ddl)

  /** Bucket assignment expression — deterministic from the key, so it is
    * recomputable at read time and never stored.
    */
  def bucketExpr(numBuckets: Int) =
    pmod(xxhash64(col("conv_id")), lit(numBuckets.toLong)).cast(IntegerType)

  /** Read `files` under manifest `m`, aligned to `target` (schema-evolution
    * groups cast/padded to the current physical schema).
    */
  private[graft] def readAligned(m: Manifest, files: Seq[FileEntry], target: StructType): DataFrame =
    files.groupBy(_.schemaId).map { case (sid, fs) =>
      val fileSchema = Schemas.physical(
        StructType.fromDDL(m.schemas.find(_.id == sid).get.ddl))
      // scans go through GraftFileIndex: pushed-down data filters prune
      // files against the manifest's colStats at physical planning — SQL
      // and DataFrame filters both skip, and the MOR bucket rule is
      // enforced by plan shape (see GraftFileIndex scaladoc)
      val idx = new GraftFileIndex(spark, root, fs, fileSchema)
      val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        idx, new StructType(), fileSchema, None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        Map.empty)(spark)
      alignTo(spark.baseRelationToDataFrame(rel), target)
    }.reduce(_ unionByName _)

  /** Per-key max-LSN winner (the merge-on-read window). Tie-break on an
    * equal-LSN tie prefers the non-delete, mirroring the write-side
    * dedup's (lsn desc, op desc): the engine contract is unique LSNs per
    * key, but a violation must still resolve DETERMINISTICALLY (and the
    * same way here, in the maintenance consumers, and across replays).
    *
    * Only the delete/non-delete leg of the write-side (lsn, op) order is
    * mirrored here: `op` is consumed by the write-side dedup and does NOT
    * survive into persisted delta files (only `_deleted` does), so an
    * 'I'-vs-'U' tie at one (key, lsn) — two NON-delete rows with different
    * payloads, split across commits by an LSN-duplicating source — cannot
    * be ordered by op at read time. Resolve may pick either payload, but
    * it picks the SAME one everywhere: the residual tie is broken by a
    * hash of the full payload, so reads, compactions, replays, and the
    * maintenance consumers (which share [[LakeTable.resolveOrder]]) all
    * agree.
    *
    * `by` is the window's partition: the key columns, optionally with
    * routing columns that are functions of the key (the compactor adds
    * `bucket`, so that its exchange already satisfies the window). Its
    * order is the window sort's order. Routing columns stay out of the
    * payload hash, so a tie resolves as it does in a read.
    */
  private[graft] def maxLsnResolve(df: DataFrame,
                                   by: Seq[String] = Schemas.KEY_COLS): DataFrame = {
    require(Schemas.KEY_COLS.forall(by.contains), s"resolve partition $by lacks a key column")
    val routing = by.filterNot(Schemas.KEY_COLS.contains)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(by.map(col): _*)
      .orderBy(resolveOrder(df.columns.filterNot(routing.contains).toSeq): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** PER-BUCKET merge-on-read resolution: buckets whose files are all BASE
    * are already per-key resolved (compaction wrote them that way) and
    * stream straight from the scan with NO shuffle; only delta-bearing
    * buckets pay the per-key max-LSN window. Buckets partition the key
    * space (bucket = hash(conv_id)), so resolving each side independently
    * is exact. With compaction keeping most buckets delta-free, the common
    * read is O(dirty-bucket shuffle), not O(table shuffle) — at 100 TB a
    * single delta file must not re-shuffle the whole table.
    */
  private def resolveMor(m: Manifest, files: Seq[FileEntry], target: StructType): DataFrame = {
    if (files.isEmpty) return localFrame(spark, target)
    // Dirty = every current-depth bucket a non-base file covers, CLOSED
    // under shared-file coverage over the subset being read: after a
    // REBUCKET, a pre-split base file spans several current buckets, and
    // if any of them is delta-bearing the whole coverage component must
    // resolve together — splitting it would hand a key's stale row to the
    // no-resolve leg (duplicate/stale winners). A merge's coarse delta
    // also spans several buckets, but the merge writes one only for a
    // batch that follows a dense one (CdcMerge.apply), so a sparse batch
    // still dirties just the buckets it wrote to. With a single depth
    // this degenerates to exactly the old per-bucket partition.
    val dirtySeed = files.iterator.filter(_.kind != FileEntry.BASE)
      .flatMap(m.coveredBuckets).toSet
    val dirtyBuckets = Manifest.closureOver(files, m.numBuckets, dirtySeed)
    val dirtySet = Manifest.coveringFiles(files, m.numBuckets, dirtyBuckets)
      .map(_.path).toSet
    val (dirty, clean) = files.partition(f => dirtySet.contains(f.path))
    val parts =
      Option.when(clean.nonEmpty)(readAligned(m, clean, target)).toSeq ++
      Option.when(dirty.nonEmpty)(maxLsnResolve(readAligned(m, dirty, target)))
    parts.reduce(_ unionByName _)
  }

  /** Physical snapshot (includes `_lsn`/`_deleted` bookkeeping and
    * tombstones) for the given buckets (None = all). Files written under
    * older schemas are aligned to the current schema: missing columns →
    * null, widened types → cast.
    *
    * Merge-on-read: when delta files are present, the per-key max-LSN row
    * wins across base+deltas (one window; ties carry identical payloads by
    * construction — duplicate deliveries of the same (key, lsn)).
    */
  def snapshotPhysical(buckets: Option[Set[Int]] = None): DataFrame =
    snapshotPhysical(manifest, buckets)

  /** Same, over a PINNED manifest — concurrent commits between planning and
    * execution must not change which files this read resolves (used by the
    * incremental aggregates' changelog refresh).
    */
  def snapshotPhysical(m: Manifest, buckets: Option[Set[Int]]): DataFrame = {
    val target = Schemas.physical(userSchema(m))
    val wanted = buckets match {
      case Some(bs) => m.filesForBuckets(bs)
      case None => m.files
    }
    resolveMor(m, wanted, target)
  }

  /** User-facing snapshot: live rows only, user columns only. */
  def snapshot(): DataFrame = {
    val m = manifest
    snapshotPhysical(None)
      .filter(!col(Schemas.DELETED_COL))
      .select(userSchema(m).fieldNames.map(col).toSeq: _*)
  }

  /** Filtered snapshot with MANIFEST-LEVEL data skipping: files whose
    * [[ColStat]] bounds cannot satisfy `filter` are excluded before any
    * scan task launches, under [[DataSkipping]]'s MOR-sound bucket rule
    * (per-file for compacted buckets, whole-bucket for delta-bearing
    * ones). The filter is ALSO applied to the surviving rows — stats are
    * file-level, not row-level — so results equal
    * `snapshot().filter(filter)` exactly; only the I/O differs.
    * Z-order the table ([[graft.merge.Compactor.zorder]]) to make the
    * bounds tight on the filter's columns.
    */
  def snapshotWhere(filter: org.apache.spark.sql.Column): DataFrame = {
    val m = manifest
    val pruned = DataSkipping.pruneForSnapshot(spark, m, filter)
    snapshotFromFiles(m, pruned.kept).filter(filter)
  }

  /** Live user-facing snapshot restricted to an explicit (already pruned)
    * file subset of manifest `m` — the building block under
    * [[snapshotWhere]] and the SQL-side skipping rule (which keeps the
    * residual Filter node in the surrounding plan instead).
    */
  def snapshotFromFiles(m: Manifest, files: Seq[FileEntry]): DataFrame = {
    val target = Schemas.physical(userSchema(m))
    resolveMor(m, files, target)
      .filter(!col(Schemas.DELETED_COL))
      .select(userSchema(m).fieldNames.map(col).toSeq: _*)
  }

  /** What [[snapshotWhere]] would read: (kept files, total files) — the
    * observability hook for tests, metrics, and EXPLAIN-style tooling.
    */
  def pruneInfo(filter: org.apache.spark.sql.Column): (Int, Int) = {
    val m = manifest
    val p = DataSkipping.pruneForSnapshot(spark, m, filter)
    (p.kept.size, p.total)
  }

  /** Time travel: the live snapshot as of an older manifest version
    * (Iceberg-style — every commit is a full snapshot; vacuum permitting).
    */
  def snapshotAt(version: Long): DataFrame = {
    val m = manifestAt(version)
    val target = Schemas.physical(userSchema(m))
    resolveMor(m, m.files, target)
      .filter(!col(Schemas.DELETED_COL))
      .select(userSchema(m).fieldNames.map(col).toSeq: _*)
  }

  /** Resolve a wall-clock timestamp to the GREATEST version committed at
    * or before it — the driver-side lookup behind SQL `TIMESTAMP AS OF`.
    * Commit times come from the manifest's lineage ([[CommitInfo]]
    * `committedAtMs`); for timestamps older than the capped in-manifest
    * lineage window, older manifests are walked (each carries its own
    * commit time as its last lineage entry) until the metadata-vacuum
    * horizon, past which the lookup fails LOUDLY rather than silently
    * picking a commit the caller did not mean.
    */
  def versionAtTimestamp(tsMillis: Long): Long = {
    val lin = manifest.lineage
    val elig = lin.filter(_.committedAtMs <= tsMillis)
    val resolved: Option[Long] =
      if (elig.nonEmpty) Some(elig.map(_.version).max)
      else {
        val oldestKnown = lin.map(_.version).minOption.getOrElse(currentVersion + 1)
        var cand: Option[Long] = None
        var v = oldestKnown - 1
        while (v >= 1 && cand.isEmpty) {
          val mv = scala.util.Try(manifestAt(v)).getOrElse(
            throw new IllegalStateException(
              s"TIMESTAMP AS OF: version $v's manifest is past the metadata-vacuum " +
              "horizon — the timestamp precedes retained history"))
          if (mv.lineage.lastOption.exists(_.committedAtMs <= tsMillis)) cand = Some(v)
          v -= 1
        }
        cand
      }
    resolved match {
      case Some(v) =>
        if (scala.util.Try(manifestAt(v)).isFailure) throw new IllegalStateException(
          s"TIMESTAMP AS OF resolves to version $v, whose manifest is past the " +
          "metadata-vacuum horizon — raise vacuumMetadata keepVersions or use a later timestamp")
        v
      case None => throw new IllegalArgumentException(
        s"no commit at or before timestamp $tsMillis ms — the timestamp precedes " +
        "the table's first commit (or its retained history)")
    }
  }

  /** RESTORE: make the live table state equal an earlier version's, as a
    * NEW commit — history is preserved (Delta-style RESTORE semantics):
    * time travel to any pre-restore version still works, and the restore
    * itself appears in DESCRIBE HISTORY with op='restore'. The restored
    * manifest re-references the source version's exact file set (content
    * addressing makes this free — no data is copied or rewritten), keeps
    * the FULL schema history (so pre-restore snapshots stay readable) but
    * points currentSchemaId back at the source version's schema, and
    * keeps the CURRENT stream txn watermark (streamId/lastSourceEpoch):
    * restore is an admin op, not a source rewind — a live writer resumes
    * exactly-once on top of the restored state without re-applying or
    * skipping source batches.
    *
    * A restore is NOT representable as delta rows, so [[changesBetween]]
    * refuses ranges that cross one (loud, never silently-partial) —
    * changelog followers re-sync from a snapshot.
    *
    * Returns the NEW version. Fails loudly if `version`'s manifest is
    * past the metadata-vacuum horizon or any of its data files were
    * vacuumed.
    */
  def restoreTo(version: Long): Long = core.lock.synchronized {
    val cur = currentVersion
    require(version >= 1 && version < cur,
      s"RESTORE: version $version is not an earlier version of this table (current=$cur)")
    val src = scala.util.Try(manifestAt(version)).getOrElse(throw new IllegalStateException(
      s"RESTORE: version $version's manifest is past the metadata-vacuum horizon"))
    src.files.filterNot(f => Files.exists(root.resolve(f.path))) match {
      case missing if missing.nonEmpty => throw new IllegalStateException(
        s"RESTORE to version $version needs ${missing.size} data file(s) that were " +
        s"vacuumed (e.g. ${missing.head.path}); raise vacuum keepVersions")
      case _ =>
    }
    val curM = manifest
    val restored = curM.copy(
      version = cur + 1,
      currentSchemaId = src.currentSchemaId,
      files = src.files,
      // the bucket space must travel WITH the file set: src's files (and
      // their writePids stamps) are expressed relative to src's depth — a
      // restore across a REBUCKET that kept the current numBuckets would
      // misread every unstamped src file at the wrong depth (missed point
      // lookups, wrong coverage closures, duplicate base rows after the
      // next compaction). A later rebucket grows the space again from
      // src's value.
      numBuckets = src.numBuckets,
      totalRows = src.totalRows,
      maxLsn = src.maxLsn,
      lineage = (curM.lineage :+ CommitInfo(cur + 1, curM.lastEpoch, 0L, Nil,
        src.maxLsn, 0L, System.currentTimeMillis(), op = "restore")).takeRight(1000))
    commit(restored, cur)
    cur + 1
  }

  /** Evolve the table's USER schema explicitly (the DDL route — the write
    * path evolves implicitly from batch schemas via the same reconciler).
    * `target` must be reachable from the current schema under
    * [[SchemaReconciler]]'s rules (add nullable column, widen); anything
    * else — dropping, narrowing, incompatible retype — is rejected with
    * the reconciler's message. Metadata-only commit: no data file is
    * touched; old files re-align to the new schema at read time
    * (`readAligned`). Returns the new schema id (current id if `target`
    * is already the current schema).
    */
  def evolveSchema(target: StructType): Int = core.lock.synchronized {
    val m = manifest
    val current = userSchema(m)
    val rec = SchemaReconciler.reconcile(current, target) match {
      case Right(r) => r
      case Left(err) => throw new IllegalArgumentException(s"schema evolution rejected: $err")
    }
    if (!rec.evolved) return m.currentSchemaId
    val id = m.schemas.map(_.id).max + 1
    val evolved = m.copy(
      version = m.version + 1,
      currentSchemaId = id,
      schemas = m.schemas :+ SchemaEntry(id, rec.schema.toDDL),
      lineage = (m.lineage :+ CommitInfo(m.version + 1, m.lastEpoch, 0L, Nil,
        m.maxLsn, 0L, System.currentTimeMillis(), op = "evolve-schema")).takeRight(1000))
    commit(evolved, m.version)
    id
  }

  /** REBUCKET: multiply the bucket space by integer `factor` (>= 2) as a
    * METADATA-ONLY commit — the growth story for a table whose fixed
    * creation-time bucket count the corpus has outgrown (a 10^10-event
    * table created at 64 buckets carries multi-TB buckets: compactions
    * balloon, per-key pruning degrades). No data file is
    * touched: every existing file is stamped with its write depth
    * ([[FileEntry.writePids]], absent = current), and coverage arithmetic
    * (`bucket = hash mod depth`, depth | numBuckets) lets readers,
    * merges, and compactions treat an old-depth file as spanning its
    * `factor` current-depth buckets. New writes route against the new
    * bucket count immediately: a compaction at full depth, a merge at full
    * depth or, when batches cover most buckets, at `CdcMerge.writeDepth`
    * of it. Old-depth files migrate lazily as ordinary compaction
    * rewrites them (exactly [[BucketStore]]'s extendible-hash split,
    * lifted to the CDC table — the difference is the integer-factor
    * generality and that deltas are depth-stamped too).
    *
    * Cost: one O(files) manifest rewrite (stamping changes every
    * segment's content address). Concurrency: CAS-retried against
    * concurrent writers/compactors; in-flight merges and compactions
    * rebase over a rebucket by stamping their own files (see CdcMerge).
    *
    * Reference-scale analogue: owid-etl re-shards nothing (pandas,
    * single node); this is the knob its architecture lacks.
    */
  def rebucket(factor: Int): Int = core.lock.synchronized {
    require(factor >= 2, s"REBUCKET factor must be >= 2, got $factor")
    var attempt = 0
    while (true) {
      val m = manifest
      val target = m.numBuckets * factor
      require(target <= LakeTable.MAX_BUCKETS,
        s"REBUCKET to $target buckets exceeds the ${LakeTable.MAX_BUCKETS} sanity cap")
      val stamped = m.files.map(f =>
        if (f.writePids.isEmpty) f.copy(writePids = Some(m.numBuckets)) else f)
      val m2 = m.copy(
        version = m.version + 1,
        numBuckets = target,
        files = stamped,
        lineage = (m.lineage :+ CommitInfo(m.version + 1, m.lastEpoch, 0L, Nil,
          m.maxLsn, 0L, System.currentTimeMillis(),
          op = "rebucket")).takeRight(1000))
      try { commit(m2, m.version); return target }
      catch {
        case _: CommitConflict if attempt < 10 => attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Incremental changelog read: the change rows (including tombstones as
    * `_deleted = true`) committed in manifest versions (fromVersion,
    * toVersion] — i.e. the DELTA files those commits added. Compaction
    * commits add only base files and therefore contribute nothing (they
    * carry no new changes). This is the "read the lake table as a CDC
    * feed" API.
    */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    val mTo = manifestAt(toVersion)
    val target = Schemas.physical(userSchema(mTo))
    val fromEpoch = manifestAt(fromVersion).lastEpoch
    // walk the manifests in range so deltas already folded away by a later
    // compaction inside the range are still found (files must not have
    // been vacuumed yet — changelog retention == vacuum retention)
    val files = (fromVersion + 1 to toVersion).flatMap { v =>
      val mv = manifestAt(v)
      // a RESTORE rolls state back by re-referencing OLD files — there are
      // no delta rows that represent it, so a follower crossing it would
      // silently miss the rollback. Refuse loudly; re-sync from a snapshot.
      if (mv.lineage.lastOption.exists(ci => ci.version == v && ci.op == "restore"))
        throw new IllegalStateException(
          s"changelog read ($fromVersion, $toVersion] crosses a RESTORE at version $v, " +
          "which is not representable as delta rows — re-sync the follower from a snapshot")
      mv.files.filter(f => f.kind == FileEntry.DELTA && f.epoch > fromEpoch)
    }.distinctBy(_.path)
    if (files.isEmpty) return localFrame(spark, target)
    // fail loudly (not silently-partial) if a referenced delta was vacuumed
    files.filterNot(f => Files.exists(root.resolve(f.path))) match {
      case missing if missing.nonEmpty => throw new IllegalStateException(
        s"changelog read ($fromVersion, $toVersion] needs ${missing.size} delta file(s) " +
        s"that were vacuumed (e.g. ${missing.head.path}); raise vacuum keepVersions " +
        "or read from a newer version")
      case _ =>
    }
    readAligned(mTo, files, target)
  }

  /** Driver-side bucket assignment for a key. */
  def bucketOf(convId: String, numBuckets: Int): Int =
    java.lang.Math.floorMod(keyHash(convId), numBuckets.toLong).toInt

  /** Files that can contain `convId`: bucket pruning + per-file
    * (minKey, maxKey) range pruning from the manifest (populated from
    * parquet footer stats; key-sorted writes keep ranges tight) + per-file
    * bloom pruning where [[buildBlooms]] has annotated the file (delta
    * files span their bucket's key range, so only the bloom can skip them).
    */
  def filesForConversation(convId: String): Seq[FileEntry] =
    filesForConversation(manifest, convId)

  /** Same, over a PINNED manifest: a lookup prunes and reads under one
    * version, so a commit landing in between cannot pair new files with
    * old schemas.
    */
  def filesForConversation(m: Manifest, convId: String): Seq[FileEntry] = {
    val h = keyHash(convId)
    val b = bucketOf(convId, m.numBuckets)
    m.files.filter { f =>
      m.covers(f, b) &&
        f.minKey.forall(_ <= convId) && f.maxKey.forall(_ >= convId) &&
        DataSkipping.KeyBloom.of(f).forall(_.mightContainLong(h))
    }
  }

  /** MAINTENANCE: annotate bloom-less files of the given kinds with a
    * bloom filter over their keys' xxhash64, committed as a metadata-only
    * manifest bump. Runs OFF the write hot path (the merge never pays for
    * it); [[filesForConversation]] then skips delta files whose bloom
    * excludes the key — the pruning leg range stats cannot provide, since
    * every delta file spans its bucket's whole key range.
    *
    * Scale shape: one column-pruned distinct-count scan over the target
    * files, then one bloom aggregation per file-size class (files grouped
    * by power-of-4 distinct-key count so small files don't inherit a huge
    * file's bit array — the aggregate's size parameters are plan
    * constants). Bits are capped at `maxBloomBytes`; an over-full bloom
    * degrades its false-positive rate, never correctness (no false
    * negatives by construction).
    *
    * @return number of files annotated
    */
  def buildBlooms(fpp: Double = 0.05, maxBloomBytes: Long = 1L << 20,
                  kinds: Set[String] = Set(FileEntry.DELTA)): Int = {
    import org.apache.spark.sql.functions.{col, element_at, input_file_name, split => fsplit, xxhash64 => fxxhash64, approx_count_distinct}
    val m0 = manifest
    val targets = m0.files.filter(f =>
      kinds.contains(f.kind) && f.bloom.isEmpty && f.rows > 0)
    if (targets.isEmpty) return 0
    val keyOnly = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("conv_id",
        org.apache.spark.sql.types.StringType)))
    def scanOf(fs: Seq[FileEntry]) = spark.read.schema(keyOnly)
      .parquet(fs.map(f => root.resolve(f.path).toString): _*)
      .select(element_at(fsplit(input_file_name(), "/"), -1).as("f"),
        fxxhash64(col("conv_id")).as("h"))
    val byName = targets.map(f => f.path.split('/').last -> f).toMap

    val counts = scanOf(targets).groupBy("f")
      .agg(approx_count_distinct("h").as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // size classes: power-of-4 ceilings on the distinct estimate (min 256)
    val classes = targets.groupBy { f =>
      val nd = math.max(256L, counts.getOrElse(f.path.split('/').last, f.rows))
      var c = 256L; while (c < nd) c *= 4; c
    }
    val blooms = classes.flatMap { case (n, fs) =>
      val bits = math.min(
        org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, fpp),
        maxBloomBytes * 8)
      val aggExpr = new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        org.apache.spark.sql.graftglue.expression(col("h")),
        org.apache.spark.sql.catalyst.expressions.Literal(n),
        org.apache.spark.sql.catalyst.expressions.Literal(bits))
        .toAggregateExpression()
      scanOf(fs).groupBy("f")
        .agg(org.apache.spark.sql.graftglue.column(aggExpr).as("bloom"))
        .collect()
        .toSeq
        .map(r => r.getString(0) ->
          java.util.Base64.getEncoder.encodeToString(r.getAs[Array[Byte]]("bloom")))
    }.toMap

    // metadata-only commit with CAS retry: annotate whatever of the target
    // files is still present (a concurrent compaction may have folded some)
    var attempt = 0
    while (true) {
      val cur = manifest
      val updated = cur.files.map { f =>
        val name = f.path.split('/').last
        if (f.bloom.isEmpty && byName.contains(name) && blooms.contains(name))
          f.copy(bloom = Some(blooms(name)))
        else f
      }
      val annotated = updated.count(_.bloom.isDefined) - cur.files.count(_.bloom.isDefined)
      if (annotated == 0) return 0
      val m2 = cur.copy(
        version = cur.version + 1,
        files = updated,
        lineage = (cur.lineage :+ CommitInfo(cur.version + 1, cur.lastEpoch,
          0L, Nil, cur.maxLsn, 0L, System.currentTimeMillis())).takeRight(1000))
      try {
        commit(m2, cur.version)
        return annotated
      } catch {
        case _: CommitConflict if attempt < 8 => attempt += 1
      }
    }
    0 // unreachable
  }

  /** Point lookup of one conversation, read on the driver: no Spark job
    * and no broadcast. It pins one manifest and prunes it to the files
    * that can hold `convId` ([[filesForConversation]]: bucket coverage,
    * key range, bloom). From those files it keeps only that key's rows,
    * decoded by the vectorized Parquet reader of Spark's file scan with a
    * row-group filter on `conv_id`. Each row is aligned to the current
    * schema as [[alignTo]] aligns a scan. Each turn keeps its
    * [[resolveOrder]] winner, tombstones are dropped, and rows are sorted
    * by `turn_idx` (see [[PointRead]]).
    *
    * Bound: the rows read are one key's versions in the pruned files, so
    * the cost does not grow with the table. The result is a local
    * relation: `collect()` runs no job. (`count()` plans a global
    * aggregate, which Spark runs as a job even over a local relation.)
    */
  def readConversation(convId: String): DataFrame = readConversation(manifest, convId)

  /** Same, under a PINNED manifest. */
  def readConversation(m: Manifest, convId: String): DataFrame = {
    val user = userSchema(m)
    localFrame(spark, user, PointRead.conversation(spark, root, m,
      filesForConversation(m, convId), Schemas.physical(user), convId))
  }

  /** Order-invariant content checksum of the live snapshot — sum of per-row
    * 64-bit hashes (reference analogue: `pd.util.hash_pandas_object(df).sum()`
    * in owid-etl `etl/grapher_import.py:419-421`). Used by replay tests to
    * assert reconvergence without sorting 10^10 rows.
    */
  def contentChecksum(): Long = {
    val df = snapshot()
    val cols = df.columns.sorted.map(col).toSeq
    // sum in decimal(38,0) — ANSI-safe (no long overflow at 10^10 rows),
    // then fold back to 64 bits (narrowing keeps the low 64 bits).
    val r = df.select(sum(xxhash64(cols: _*).cast("decimal(38,0)")).as("c")).collect()(0)
    if (r.isNullAt(0)) 0L else r.getDecimal(0).toBigInteger.longValue()
  }

  /** Atomically commit a new manifest as the child of `expectedParent`.
    * Optimistic CAS under the table path's monitor (not the instance's):
    * throws [[CommitConflict]] if the current version moved (see
    * [[LakeCore.commit]]).
    */
  def commit(newManifest: Manifest, expectedParent: Long): Unit =
    core.commit(newManifest, expectedParent)

  /** Adopt a `partitionBy("bucket")` staged write as `kind` files of
    * `epoch`: per-file stats come straight from the parquet FOOTERS (row
    * counts, the `_lsn` max, the `conv_id` range, and [[StatsHarvest]]
    * data-skipping bounds for the user columns of `statsSchema` plus
    * `_deleted`, so a pushed `!_deleted` filter skips all-tombstone base
    * files) — a driver-side metadata read, not a Spark job. `statsSchema`
    * is the physical schema the files were written under (passed
    * explicitly: on a schema-evolving write its id is not committed yet).
    * Files land at `data/bucket=<b>/<kind>-e<epoch>-<name>`.
    */
  private[graft] def adoptStaged(staging: Path, epoch: Long, schemaId: Int, kind: String,
                                 statsSchema: StructType): Seq[FileEntry] = {
    // `_lsn` stays out of colStats: its watermark has its own field (maxLsn)
    val userStats = StructType(statsSchema.fields.filterNot(_.name == Schemas.LSN_COL))
    core.adopt(staging) { (p, footer) =>
      val bucket = LakeCore.partitionOf(p, "bucket")
      val s = FooterStats(footer, userStats)
      FileEntry(s"data/bucket=$bucket/$kind-e$epoch-${p.getFileName}", bucket, s.rows,
        s.maxLsn, schemaId, kind, epoch, s.minKey, s.maxKey, colStats = s.colStats,
        bytes = Some(Files.size(p)))
    }
  }

  // ---- consumer reference pins -------------------------------------
  // A downstream consumer (changelog follower, incremental view, a
  // published chart) registers the oldest version it still needs; vacuum
  // and metadata-vacuum DEFER reclamation of anything that version (or
  // its changelog suffix) requires until the pin is released. This is the
  // engine's analogue of the reference's chart-reference delete
  // protection — grapher refuses to delete variables a chart still
  // references (owid-etl `etl/grapher_import.py:457-575`) — re-expressed
  // as Iceberg-style named snapshot refs: the consumer's hold is durable
  // (a file, not process state), survives restarts, and is released
  // explicitly.

  private def refsDir: Path = root.resolve("_refs")

  /** Register (or advance) a named consumer pin at `version`. Fails if the
    * version does not resolve to a retained manifest — a pin on an already
    * vacuumed version would be an unsatisfiable promise.
    */
  def pin(name: String, version: Long): Unit = core.lock.synchronized {
    require(name.nonEmpty && !name.contains('/') && !name.contains('.'),
      s"pin name must be a simple identifier (got '$name')")
    require(scala.util.Try(manifestAt(version)).isSuccess,
      s"cannot pin version $version: its manifest is not retained (already vacuumed?)")
    Files.createDirectories(refsDir)
    Manifest.writeAtomic(refsDir.resolve(name), version.toString)
  }

  /** Release a consumer pin; idempotent. */
  def unpin(name: String): Unit = core.lock.synchronized {
    Files.deleteIfExists(refsDir.resolve(name))
  }

  /** All live pins (name → pinned version). Only files matching the pin
    * name shape count: `pin()`'s writeAtomic stages `name.tmp.<uuid>`
    * siblings in `_refs` before the atomic move, and a crash can leave one
    * behind — parsing it would either throw (torn write) or mint a
    * phantom pin that `unpin(name)` can never release (so vacuum would
    * retain its version forever). Names cannot contain '.', so the filter
    * is exact.
    */
  def pins: Map[String, Long] = {
    if (!Files.isDirectory(refsDir)) return Map.empty
    val s = Files.list(refsDir)
    try s.iterator().asScala
      .filterNot(_.getFileName.toString.contains('.'))
      .flatMap { p =>
        scala.util.Try(new String(Files.readAllBytes(p)).trim.toLong)
          .toOption.map(p.getFileName.toString -> _)
      }.toMap
    finally s.close()
  }

  /** Delete files no longer referenced by any of the last `keepVersions`
    * manifests (vacuum). Safe because readers resolve through `_current`.
    *
    * `changelogRetentionVersions` widens the window for DELTA files only:
    * a changelog consumer (`changesBetween`) reading back that many
    * versions is guaranteed its delta files survive vacuum. Reads past the
    * retention window fail loudly in `changesBetween` (never return
    * silently-partial changes).
    *
    * Consumer [[pin]]s further widen both windows: a pin at version v
    * keeps v's files (snapshot read) AND every later delta file (the
    * pinned consumer's unread changelog suffix `changesBetween(v, cur)`),
    * regardless of how aggressive the numeric retention is.
    */
  def vacuum(keepVersions: Int = 2, changelogRetentionVersions: Int = 0,
             graceMs: Long = 300000L): Int =
    // Same monitor as commit, held while the keep set is built: a commit
    // landing in between would add files the set does not name (their
    // mtime grace protects them too; see LakeCore.reclaimData).
    core.lock.synchronized {
    val cur = currentVersion
    // base+delta files of the last keepVersions manifests, PLUS — delta
    // files only — those of the wider changelog retention window (base
    // generations superseded within it are still reclaimed)
    val keepAll = core.filesOf(cur - keepVersions + 1, cur).map(_.path)
    val keepDeltas =
      if (changelogRetentionVersions <= keepVersions) Nil
      else core.filesOf(cur - changelogRetentionVersions + 1, cur)
        .filter(_.kind == FileEntry.DELTA).map(_.path)
    // pinned consumers: the pinned snapshot's full file set, plus every
    // later delta (their unread changelog suffix). STRICT manifest reads:
    // the numeric-retention filesOf above tolerates metadata-vacuumed
    // manifests, but a pin is a loud-failure promise — silently skipping
    // an unreadable pinned manifest would delete the very snapshot the
    // pin protects. (vacuumMetadata's horizon never passes a pin, so
    // every manifest in [pin, cur] is supposed to be readable.)
    val keepPinned = pins.toSeq.flatMap { case (name, v) =>
      def strictFiles(vers: Range.Inclusive): Seq[FileEntry] = vers.flatMap { vv =>
        try manifestAt(vv.toLong).files
        catch { case e: Throwable => throw new IllegalStateException(
          s"vacuum: manifest $vv required by pin '$name' (at version $v) is unreadable — " +
          "refusing to delete data files; repair or unpin first", e) }
      }
      strictFiles(v.toInt to v.toInt).map(_.path) ++
        strictFiles(math.min(v + 1, cur).toInt to cur.toInt)
          .filter(_.kind == FileEntry.DELTA).map(_.path)
    }
    core.reclaimData((keepAll ++ keepDeltas ++ keepPinned).toSet, graceMs)
  }

  /** Metadata vacuum: bound the time-travel horizon to the last
    * `keepVersions` manifests — older `manifest-*.json` top docs are
    * deleted, then segment files referenced by NO remaining manifest are
    * deleted (content addressing makes this exact). Reads past the horizon
    * fail loudly on the missing manifest. Returns (manifests, segments)
    * removed. Complements [[vacuum]] (data files) — together they bound
    * total table footprint to the retention window.
    */
  def vacuumMetadata(keepVersions: Int = 8): (Int, Int) = core.lock.synchronized {
    // the horizon never passes a pinned version: the pin is a promise
    // that snapshotAt(pinned) and changesBetween(pinned, cur) stay
    // readable until released
    val cur = currentVersion
    core.dropManifestsBefore((math.max(0L, cur - keepVersions + 1) +: pins.values.toSeq).min)
  }
}

object LakeTable {

  /** Sanity cap on the bucket space (2^20): past this, per-bucket file
    * counts are no longer the scaling bottleneck and manifest size is.
    */
  val MAX_BUCKETS: Int = 1 << 20

  /** The canonical per-key resolve ordering, shared by MOR resolve and
    * every changelog-consuming maintenance window: (lsn desc, non-delete
    * first, payload-hash desc). The third key only matters on
    * contract-violating duplicate-LSN input — identical duplicate
    * deliveries hash equal, so normal replays are unaffected — but it
    * turns an arbitrary `row_number` pick into a deterministic one.
    * `payload` names the hashed columns: the physical columns, in any
    * order.
    */
  def resolveOrder(payload: Seq[String]): Seq[org.apache.spark.sql.Column] =
    Seq(col(Schemas.LSN_COL).desc, col(Schemas.DELETED_COL).asc,
      xxhash64(payload.sorted.map(col): _*).desc)

  /** [[resolveOrder]] as Catalyst sort orders over rows of `schema`: the
    * same three keys for the driver-side resolve of a point lookup.
    */
  private[lake] def resolveOrdering(schema: StructType): Seq[SortOrder] = {
    def ref(name: String) = {
      val i = schema.fieldIndex(name)
      BoundReference(i, schema(i).dataType, nullable = true)
    }
    Seq(SortOrder(ref(Schemas.LSN_COL), Descending), SortOrder(ref(Schemas.DELETED_COL), Ascending),
      SortOrder(XxHash64(schema.fieldNames.sorted.map(ref).toSeq, 42L), Descending))
  }

  /** Driver-side key hash — the same xxhash64(seed 42) the `xxhash64`
    * Catalyst function computes, evaluated via the expression itself (so
    * bucket routing and bloom membership agree with distributed plans
    * bit-for-bit).
    */
  def keyHash(convId: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(convId),
        org.apache.spark.sql.types.StringType)), 42L)
      .eval(null).asInstanceOf[Long]

  /** A DataFrame over rows held on the driver: a local relation, so
    * collecting it runs no job.
    */
  private[lake] def localFrame(spark: SparkSession, schema: StructType,
                               rows: Seq[InternalRow] = Nil): DataFrame =
    org.apache.spark.sql.graftglue.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** Align `df` to `target` schema: missing columns → typed nulls, differing
    * types → cast; column order = target order.
    */
  def alignTo(df: DataFrame, target: StructType): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = target.fields.map { tf =>
      have.get(tf.name) match {
        case Some(dt) if dt == tf.dataType => col(tf.name)
        case Some(_) => col(tf.name).cast(tf.dataType).as(tf.name)
        case None => lit(null).cast(tf.dataType).as(tf.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  /** [[alignTo]] as Catalyst expressions over rows of `from`: the same
    * keep, cast and null-pad rule for the driver-side point lookup.
    */
  private[lake] def alignExprs(from: StructType, target: StructType,
                               timeZone: String): Seq[Expression] =
    target.fields.toSeq.map { tf =>
      val i = from.fieldNames.indexOf(tf.name)
      if (i < 0) Literal(null, tf.dataType)
      else if (from(i).dataType == tf.dataType) BoundReference(i, tf.dataType, nullable = true)
      else Cast(BoundReference(i, from(i).dataType, nullable = true), tf.dataType, Some(timeZone))
    }

  /** The engine pins its sessions' parquet timestamp physical type to
    * TIMESTAMP_MICROS (Iceberg's mandated unit): Spark's INT96 legacy
    * default writes NO usable min/max statistics, which would silently
    * kill both the `_lsn` watermark harvest and timestamp data skipping.
    * Applied on every create/load — the two gates every write path's
    * session passes through.
    */
  private def pinParquetTimestamps(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

  def create(spark: SparkSession, dir: String, schema: StructType,
             numBuckets: Int): LakeTable = {
    pinParquetTimestamps(spark)
    val root = Paths.get(dir)
    require(!Files.exists(root.resolve("_current")), s"table already exists at $dir")
    val t = new LakeTable(root, spark)
    t.core.create(Manifest.empty(numBuckets, schema.toDDL))
    t
  }

  def load(spark: SparkSession, dir: String): LakeTable = {
    pinParquetTimestamps(spark)
    val root = Paths.get(dir)
    require(Files.exists(root.resolve("_current")), s"no lake table at $dir")
    new LakeTable(root, spark)
  }

  def createOrLoad(spark: SparkSession, dir: String, schema: StructType,
                   numBuckets: Int): LakeTable =
    if (Files.exists(Paths.get(dir).resolve("_current"))) load(spark, dir)
    else create(spark, dir, schema, numBuckets)
}
