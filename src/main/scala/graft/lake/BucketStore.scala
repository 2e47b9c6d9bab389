package graft.lake

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StructField, StructType}

/** A bucket-partitioned, append-only lake store for MAINTENANCE STATE —
  * the storage backend that graduates the incremental dedup/ANN stores
  * out of Spark block-manager memory (round-3 scale gap: a corpus-sized
  * signature store cannot live as a checkpointed DataFrame view, and a
  * per-refresh carry-rewrite is O(corpus) I/O).
  *
  * The manifest mechanics are [[LakeCore]]'s, the same ones a
  * [[LakeTable]] runs on: the CAS commit and its memo (inline manifests,
  * [[Manifest.writeInline]]: one doc beats per-pid segments at store pid
  * counts), staged writes under `_staging/` with the sweep of crashed
  * attempts, footer-read adoption, and the reclaim of unreferenced data
  * files and old manifests. What this class owns is the store's meaning:
  * the `_sver`/`_deleted` row versioning and its resolve, the pid layout
  * and its lazy split policy, [[replaceAll]], and [[pidsOf]]. Coverage of
  * a file written at an older pid depth is [[Manifest.covers]].
  *
  * LSM-shaped lifecycle:
  *
  *  - **append** writes a change batch (upserts + `_deleted` tombstones)
  *    as DELTA files — O(batch) rows, NO carry-rewrite of old state;
  *  - **read** resolves latest-per-key via a `max_by` hash aggregation
  *    (map-side partial combine) across base+delta files, and PRUNES to
  *    the partitions a caller's probe touches: base files are laid out
  *    one-partition-per-file-group by `pid = pmod(xxhash64(partCols),
  *    numPids)` and selected through the manifest, so a banded LSH probe
  *    (or an IVF cell probe) reads O(touched partitions), not O(store);
  *  - **compact** folds the delta tail into per-pid base files — only
  *    pids the deltas touch are rewritten (O(touched)), tombstones are
  *    dropped, and when partitions outgrow `maxRowsPerPid` the partition
  *    space SPLITS (numPids doubles, lazily: see [[compact]]; amortized
  *    like any LSM level promotion) so per-partition read cost stays
  *    bounded as the store grows — that is what keeps a constant-size
  *    refresh FLAT while the corpus grows 10×.
  *
  * The manifest's `lastSourceEpoch` field carries the WATERMARK: the
  * source-table version this store reflects. append() commits rows and
  * watermark atomically, so a resuming maintenance loop reads the
  * watermark from the store itself — no snapshot rebuild, no side-channel
  * marker files.
  *
  * Reference analogue: owid-etl's per-variable checksum short-circuit
  * skipping untouched objects (`etl/grapher_import.py:287-289`), applied
  * to index maintenance state.
  */
final class BucketStore private (val root: Path, spark: SparkSession,
                                 val partCols: Seq[String], val keyCols: Seq[String]) {
  import BucketStore._

  private[graft] val core = new LakeCore(root, spark, Manifest.writeInline)

  def currentVersion: Long = core.currentVersion

  /** The current manifest, parsed once per version (see [[LakeCore]]). */
  def manifest: Manifest = core.manifest
  def numPids: Int = manifest.numBuckets

  /** Source-table version the committed store reflects (-1 = fresh). */
  def watermark: Long = manifest.lastSourceEpoch

  def userSchema: StructType = StructType.fromDDL(manifest.schemas.head.ddl)
  private def physSchema: StructType = StructType(userSchema.fields.toSeq :+
    StructField(DELETED_COL, BooleanType, nullable = false) :+
    StructField(VER_COL, LongType, nullable = false))

  /** Partition id of a row — deterministic from partCols, recomputable at
    * read time, never stored in the data files.
    */
  def pidExpr(nPids: Int): Column =
    pmod(xxhash64(partCols.map(col): _*), lit(nPids.toLong)).cast(IntegerType)

  /** Driver-side pid set for a SMALL probe frame (a batch's touched
    * (band,bucket) pairs, a query set's IVF cells): distinct pids are
    * collected, never the part values themselves — the result is bounded
    * by numPids ints regardless of probe size.
    */
  def pidsOf(probe: DataFrame): Set[Int] = {
    val n = numPids
    probe.select(pidExpr(n).as("__pid")).distinct()
      .collect().map(_.getInt(0)).toSet
  }

  /** Append a change batch: rows carry the user columns plus a `_deleted`
    * boolean (true = tombstone for that key; payload columns may be null).
    * O(batch) write as DELTA files; the `watermark` commits atomically
    * with the rows. Caller contract: at most one LIVE row per resolve key
    * per append — violations would tie in the resolve and corrupt state
    * nondeterministically, so refuse upstream (see
    * IncrementalDedup.requireUniqueKeys).
    */
  def append(batch: DataFrame, watermark: Long): Unit = core.lock.synchronized {
    val m = manifest
    val ver = m.version + 1
    // tombstones must carry the SAME partCols values as the rows they
    // shadow (enforced structurally: partCols ⊆ keyCols, so a tombstone
    // addressing a key necessarily routes to that key's partition)
    val del = if (batch.columns.contains(DELETED_COL))
      coalesce(col(DELETED_COL), lit(false)) else lit(false)
    val cols = userSchema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq :+
      del.as(DELETED_COL) :+
      lit(ver).as(VER_COL)
    val staging = core.stagingFor("append")
    // bound the file count per append: a change batch arriving with the
    // session's full shuffle parallelism would otherwise write ~32 tiny
    // delta files per refresh, and every probe pays the listing — the
    // delta tail is always read, so its FILE count matters as much as its
    // row count. A handful of writers is plenty for O(batch) rows.
    val writers = math.max(1, spark.sparkContext.defaultParallelism / 8)
    batch.select(cols: _*).coalesce(writers).write.parquet(staging.toString)
    val adopted = core.adopt(staging) { (p, footer) =>
      FileEntry(s"data/delta/${FileEntry.DELTA}-v$ver-${p.getFileName}", -1, rowCount(footer),
        ver, 0, FileEntry.DELTA, ver)
    }
    core.commit(m.copy(version = ver, lastEpoch = ver, files = m.files ++ adopted,
      lastSourceEpoch = watermark), expectedParent = m.version)
  }

  /** Does base file `f` hold rows of any `touched` current-depth pid? A
    * file written at depth P covers pids {bucket + j·P}: extendible-hash
    * doubling keeps carried files valid.
    */
  private def covers(m: Manifest, f: FileEntry, touched: Set[Int]): Boolean =
    touched.exists(m.covers(f, _))

  /** Read the resolved live rows — all partitions, or only `touched` pids
    * (delta files are always read: they are unpartitioned by design, and
    * their volume is bounded by the compaction cadence, not the store).
    * With no delta tail the base files are already resolved and
    * tombstone-free, so the read is a straight scan — no shuffle.
    */
  def read(touched: Option[Set[Int]] = None): DataFrame = {
    val m = manifest
    val files = m.files.filter(f =>
      f.kind == FileEntry.DELTA || touched.forall(covers(m, f, _)))
    val userCols = userSchema.fieldNames.map(col).toSeq
    if (files.isEmpty) return LakeTable.localFrame(spark, userSchema)
    val raw = spark.read.schema(physSchema)
      .parquet(files.map(f => root.resolve(f.path).toString): _*)
    if (files.forall(_.kind == FileEntry.BASE)) raw.select(userCols: _*)
    else resolve(raw).select(userCols: _*)
  }

  /** Latest-per-key winner: highest commit version wins; within one
    * append a live row beats its own same-key tombstone (an update whose
    * new row lands in the same partition as the tombstone it replaces).
    * Hash aggregation, not a window — partial combine on the map side.
    */
  private def resolve(df: DataFrame): DataFrame = {
    val all = struct(df.columns.map(col).toSeq: _*)
    val ord = struct(col(VER_COL), when(col(DELETED_COL), lit(0)).otherwise(lit(1)))
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(all, ord).as("__r"))
      .select(col("__r.*"))
      .filter(!col(DELETED_COL))
  }

  /** Fold the delta tail into per-pid base files. Only delta-touched
    * partitions are rewritten — and a SPLIT (numPids doubling when
    * partitions outgrow `maxRowsPerPid`) is LAZY, extendible-hash style:
    * pid = hash mod 2^k, so doubling sends each old partition's rows to
    * exactly {p, p + 2^k} — carried base files stay valid at their
    * recorded write depth ([[FileEntry.writePids]]) and only the
    * OVERSIZED partitions (the ones the split is for) plus the delta-
    * touched ones rewrite at the new depth. O(touched + oversized),
    * never O(store); old-depth files migrate as later compactions touch
    * them. Tombstones are dropped (every file that could hold a shadowed
    * row is in the rewrite set with its tombstone). Returns the number
    * of (old-depth) partitions rewritten.
    */
  def compact(maxRowsPerPid: Long = 1L << 19): Int = core.lock.synchronized {
    val m = manifest
    val cur = m.numBuckets
    val deltas = m.files.filter(_.kind == FileEntry.DELTA)
    // PER-PARTITION size estimates (over-count shadowed rows — conservative
    // in the right direction): base files carry their pid (an old-depth
    // file's rows are attributed to its canonical low pid — conservative
    // concentration); delta rows' pids come from one scan that also
    // yields the touched-pid set
    val deltaPerPid: Map[Int, Long] =
      if (deltas.isEmpty) Map.empty
      else spark.read.schema(physSchema)
        .parquet(deltas.map(f => root.resolve(f.path).toString): _*)
        .groupBy(pidExpr(cur).as("__pid")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val basePerPid = m.files.filter(_.kind == FileEntry.BASE)
      .groupBy(_.bucket).view.mapValues(_.map(_.rows).sum).toMap
    val perPid = (basePerPid.keySet ++ deltaPerPid.keySet).map(p =>
      p -> (basePerPid.getOrElse(p, 0L) + deltaPerPid.getOrElse(p, 0L))).toMap
    val estRows = m.files.map(_.rows).sum
    // split on EITHER signal: average occupancy (uniform growth), or an
    // oversized partition that is actually divisible — a single hot
    // partCols value hashes to one pid at ANY numPids, so splitting for
    // it alone would be futile (warned below instead)
    val avgNeed =
      Integer.highestOneBit(math.max(1, (estRows / math.max(1L, maxRowsPerPid)).toInt)) * 2
    // `oversized` from attribution is a SUPERSET signal (a carried file's
    // rows concentrate on its canonical low pid, so any truly-oversized
    // current pid makes its attributed pid flag too); the bounded scan
    // below then measures the REAL per-current-pid sizes and divisibility
    // across every pid the candidate files cover — probing only the
    // attributed pid would let an oversized sibling evade the split
    val oversized = perPid.filter(_._2 > maxRowsPerPid).keys.toSet
    lazy val hotStats: Seq[(Int, Long, Long)] =
      if (oversized.isEmpty) Nil
      else {
        val hotFiles = m.files.filter(f =>
          f.kind == FileEntry.DELTA || covers(m, f, oversized))
        spark.read.schema(physSchema)
          .parquet(hotFiles.map(f => root.resolve(f.path).toString): _*)
          .groupBy(pidExpr(cur).as("__pid"))
          .agg(count(lit(1)).as("n"),
            approx_count_distinct(struct(partCols.map(col): _*)).as("nvals"))
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      }
    lazy val realOversized = hotStats.filter(_._2 > maxRowsPerPid)
    lazy val hotDivisible = realOversized.exists(_._3 >= 2L)
    val maxNeed = if (oversized.nonEmpty && hotDivisible) cur * 2 else 0
    val needPids = Seq(cur, avgNeed, maxNeed).max
    val splitting = needPids > cur
    if (deltas.isEmpty && !splitting) return 0
    val nPids = if (splitting) needPids else cur
    // rewrite scope (current-depth pids): delta-touched partitions
    // always; on a split also every oversized partition (the rewrite is
    // what actually shrinks them — under-bound partitions carry at their
    // old depth and migrate lazily)
    val touchedOld = deltaPerPid.keySet ++
      (if (splitting && oversized.nonEmpty) realOversized.map(_._1).toSet else Set.empty)
    val (inputFiles, carried0) = m.files.partition(f =>
      f.kind == FileEntry.DELTA || covers(m, f, touchedOld))
    // STAMP carried legacy entries (writePids=None == "current depth")
    // with the depth that is true NOW: after a split changes numBuckets,
    // an unstamped file would be misread at the NEW depth — pruned reads
    // would skip it (silent row loss) and later compactions would fail
    // to fold tombstones over it (resurrection)
    val carried = carried0.map(f =>
      if (f.kind == FileEntry.BASE && f.writePids.isEmpty) f.copy(writePids = Some(cur))
      else f)
    if (inputFiles.isEmpty) return 0
    val input = spark.read.schema(physSchema)
      .parquet(inputFiles.map(f => root.resolve(f.path).toString): _*)
    val ver = m.version + 1
    val resolved = resolve(input) // tombstones dropped
      .withColumn(VER_COL, lit(ver)) // rebased: one generation per base file set
      .withColumn("__pid", pidExpr(nPids))
    val staging = core.stagingFor("compact")
    val writers = math.max(1, math.min(64, touchedOld.size * (nPids / cur)))
    resolved.repartition(writers, col("__pid"))
      .write.partitionBy("__pid").parquet(staging.toString)
    val adopted = adoptBases(staging, ver, nPids)
    core.commit(m.copy(version = ver, lastEpoch = ver, numBuckets = nPids,
      files = carried ++ adopted), expectedParent = m.version)
    // observability: a partition still over the bound after the fold holds
    // an indivisible hot partCols value — probes touching it pay
    // O(hot-cluster), and no amount of splitting changes that
    adopted.groupBy(_.bucket).view.mapValues(_.map(_.rows).sum)
      .filter(_._2 > maxRowsPerPid).foreach { case (p, rows) =>
        System.err.println(s"[bucket-store] WARN: partition $p at $root holds " +
          s"$rows rows > maxRowsPerPid=$maxRowsPerPid after compaction — a single " +
          "hot partition value is indivisible under hash partitioning")
      }
    touchedOld.size
  }

  /** Replace the ENTIRE store content with `rows` (live user rows, no
    * tombstones), written directly as resolved per-pid base files — the
    * deliberate O(corpus) generation rewrite (an ANN retrain's
    * re-assignment, a bulk re-derivation) done in ONE write instead of
    * tombstone-everything + re-append + compact (~3× the row I/O). The
    * partition space grows (power-of-two) if the new generation needs it.
    * Caller contract: one row per resolve key.
    */
  def replaceAll(rows: DataFrame, watermark: Long,
                 maxRowsPerPid: Long = 1L << 19): Unit = core.lock.synchronized {
    val m = manifest
    val est = rows.count()
    val nPids = math.max(m.numBuckets,
      Integer.highestOneBit(math.max(1, (est / math.max(1L, maxRowsPerPid)).toInt)) * 2)
    val ver = m.version + 1
    val out = rows.select(userSchema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      .withColumn(DELETED_COL, lit(false))
      .withColumn(VER_COL, lit(ver))
      .withColumn("__pid", pidExpr(nPids))
    val staging = core.stagingFor("replace")
    out.repartition(math.max(1, math.min(64, nPids)), col("__pid"))
      .write.partitionBy("__pid").parquet(staging.toString)
    val adopted = adoptBases(staging, ver, nPids)
    core.commit(m.copy(version = ver, lastEpoch = ver, numBuckets = nPids,
      files = adopted, lastSourceEpoch = watermark), expectedParent = m.version)
  }

  /** Delete data files referenced by none of the last `keepVersions`
    * manifests, and GC old manifest docs/segments. Bounds the store's
    * footprint to the retention window (no readers time-travel this
    * store; 2 versions cover an in-flight read against the previous
    * manifest).
    */
  def vacuum(keepVersions: Int = 2, graceMs: Long = 300000L): Int =
    core.lock.synchronized {
      val cur = currentVersion
      val horizon = math.max(0L, cur - keepVersions + 1)
      val removed = core.reclaimData(core.filesOf(horizon, cur).map(_.path).toSet, graceMs)
      core.dropManifestsBefore(horizon)
      removed
    }

  // ---- internals ---------------------------------------------------

  private def rowCount(footer: ParquetMetadata): Long =
    footer.getBlocks.asScala.map(_.getRowCount).sum

  /** Adopt a `partitionBy("__pid")` staged write: one base entry per
    * file, pid from its partition directory, write depth recorded for
    * lazy-split coverage.
    */
  private def adoptBases(staging: Path, ver: Long, nPids: Int): Seq[FileEntry] =
    core.adopt(staging) { (p, footer) =>
      val pid = LakeCore.partitionOf(p, "__pid")
      FileEntry(s"data/pid=$pid/${FileEntry.BASE}-v$ver-${p.getFileName}", pid, rowCount(footer),
        ver, 0, FileEntry.BASE, ver, writePids = Some(nPids))
    }
}

object BucketStore {
  /** Internal bookkeeping columns in every store data file. */
  val DELETED_COL = "_deleted"
  val VER_COL = "_sver"

  private final case class StoreConfig(partCols: List[String], keyCols: List[String])
  private implicit val fmts: org.json4s.Formats =
    org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)

  /** Create a store. `schema` = the user row schema (no bookkeeping
    * columns); `partCols` ⊆ schema drive partition pruning (the probe
    * key); `keyCols` ⊆ schema are the resolve identity (latest wins).
    */
  def create(spark: SparkSession, dir: String, schema: StructType,
             partCols: Seq[String], keyCols: Seq[String],
             numPids: Int = 64): BucketStore = {
    val root = Paths.get(dir)
    require(!Files.exists(root.resolve("_current")), s"store already exists at $dir")
    require(numPids > 0 && Integer.bitCount(numPids) == 1,
      s"numPids must be a power of two (got $numPids) — lazy extendible-hash " +
      "splits require every write depth to divide every later depth")
    require(partCols.nonEmpty && keyCols.nonEmpty)
    (partCols ++ keyCols).foreach(c => require(schema.fieldNames.contains(c),
      s"'$c' is not a schema column"))
    // a tombstone addresses a key; its partition must be derivable from
    // that key alone, or the tombstone could land in a different pid than
    // the row it shadows and never fold over it at compaction
    require(partCols.forall(keyCols.contains),
      s"partCols (${partCols.mkString(",")}) must be a subset of keyCols " +
      s"(${keyCols.mkString(",")}) so tombstones route to their target's partition")
    Manifest.writeAtomic(root.resolve("_store.json"),
      org.json4s.jackson.Serialization.write(StoreConfig(partCols.toList, keyCols.toList)))
    val s = new BucketStore(root, spark, partCols, keyCols)
    s.core.create(Manifest.empty(numPids, schema.toDDL))
    s
  }

  def load(spark: SparkSession, dir: String): BucketStore = {
    val root = Paths.get(dir)
    require(Files.exists(root.resolve("_current")), s"no bucket store at $dir")
    val cfg = org.json4s.jackson.Serialization.read[StoreConfig](
      new String(Files.readAllBytes(root.resolve("_store.json"))))
    val s = new BucketStore(root, spark, cfg.partCols, cfg.keyCols)
    // the lazy-split invariant (every write depth divides every later
    // depth) only holds for power-of-two partition counts — refuse a
    // store that predates the create-time check rather than let a split
    // produce meaningless coverage arithmetic
    require(Integer.bitCount(s.numPids) == 1,
      s"store at $dir has numPids=${s.numPids}, not a power of two — " +
      "rebuild it (lazy splits require divisible depths)")
    s
  }

  def createOrLoad(spark: SparkSession, dir: String, schema: StructType,
                   partCols: Seq[String], keyCols: Seq[String],
                   numPids: Int = 64): BucketStore =
    if (Files.exists(Paths.get(dir).resolve("_current"))) load(spark, dir)
    else create(spark, dir, schema, partCols, keyCols, numPids)
}
