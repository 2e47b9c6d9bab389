package graft.ops

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.BucketStore

/** Lake-backed MinHash signature store — the one backend of incremental
  * near-dup maintenance, built from [[IncrementalDedup]]'s signature and
  * estimator. At scale the store is corpus-sized, so it lives on disk,
  * is refreshed by APPENDS and is probed through PARTITION PRUNING.
  *
  * Two [[graft.lake.BucketStore]]s:
  *
  *  - `bands`: one row per (key, band, bucket) carrying the full
  *    signature, PARTITIONED BY (band, bucket) — the banded LSH probe of
  *    a change batch prunes to exactly the partitions the batch's bucket
  *    ids hash into. With compaction splitting partitions as the store
  *    grows, probe cost is O(batch · bands · rowsPerPartition-bound),
  *    independent of corpus size.
  *  - `keys`: one row per key carrying (sig, bands), PARTITIONED BY key —
  *    the O(batch) lookup that finds an updated/deleted key's OLD
  *    (band, bucket) rows so tombstones route to the right partitions.
  *
  * Refresh I/O: shingling O(batch) (the expensive leg, unchanged), two
  * O(batch) appends, one key-pruned index lookup, one bucket-pruned
  * candidate read. NO carry-rewrite — untouched state is never read or
  * written.
  *
  * Crash contract (drives [[graft.stream.DedupMaintenance]] lake mode):
  * pairs are computed against the PRE-append manifests (snapshot
  * isolation) so the caller can durably log them BEFORE [[PendingRefresh.commit]]
  * appends the stores; `bands` commits before `keys`, and the resume
  * watermark is `keys.watermark` (the last committer) — replaying a
  * half-committed window re-reads old index state, re-emits identical
  * tombstones/rows (idempotent under latest-wins resolve), and re-derives
  * identical pairs (collapsed by the pair log's latest-wins dedupe).
  * At-least-once with exact duplicates, never gaps.
  */
final class LakeDedupStore private (val spark: SparkSession, root: String,
                                    val bandStore: BucketStore, val keyIndex: BucketStore,
                                    val bands: Int, val rowsPerBand: Int, val shingleN: Int) {

  /** Source-table version the store reflects (-1 = fresh). `keys` commits
    * last, so its watermark is the conservative resume point.
    */
  def watermark: Long = keyIndex.watermark

  /** The resolved (key, sig, bands) view — tests and rebuild tooling;
    * O(store) read, not on any refresh path.
    */
  def snapshot(): DataFrame = keyIndex.read(None)

  /** A planned-but-uncommitted refresh: `pairs` reads pre-append store
    * state plus the in-batch rows (log it first), `commit(watermark)`
    * appends both stores atomically-per-store.
    */
  final class PendingRefresh private[LakeDedupStore] (
      val pairs: DataFrame, appendBands: DataFrame, appendKeys: DataFrame) {
    private var done = false
    def commit(watermark: Long): Unit = {
      require(!done, "refresh already committed")
      done = true
      bandStore.append(appendBands, watermark)
      keyIndex.append(appendKeys, watermark)
    }
  }

  /** Plan one refresh. `upserts` = (key, text) latest-per-key; `deletes` =
    * (key) tombstoned this window; the two must be disjoint (resolve the
    * window latest-per-key upstream).
    */
  def planRefresh(upserts: DataFrame, deletes: DataFrame,
                  minJaccard: Double): PendingRefresh = {
    val k = bands * rowsPerBand
    // O(batch): the only text-reading leg
    val newSigs = IncrementalDedup.signatureOf(upserts, "text", "key", bands, rowsPerBand, shingleN)
      .localCheckpoint(true)
    IncrementalDedup.requireUniqueKeys(newSigs, "LakeDedupStore.planRefresh")
    val delKeys = deletes.select(col("key").cast("string").as("key")).localCheckpoint(true)
    val touchedKeys = newSigs.select("key").unionByName(delKeys).distinct()
      .localCheckpoint(true)
    // key-pruned OLD-state lookup: which (band, bucket) rows must die
    val oldEntries = keyIndex.read(Some(keyIndex.pidsOf(touchedKeys)))
      .join(touchedKeys, Seq("key"), "left_semi")
    val bandTombs = oldEntries.select(col("key"), explode(col("bands")).as("bb"))
      .select(col("key"), col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        lit(null).cast(ArrayType(LongType)).as("sig"),
        lit(true).as(BucketStore.DELETED_COL))
    val newBandRows = banded(newSigs)
      .withColumn(BucketStore.DELETED_COL, lit(false))
    val keyTombs = delKeys
      .withColumn("sig", lit(null).cast(ArrayType(LongType)))
      .withColumn("bands", lit(null).cast(bandsType))
      .withColumn(BucketStore.DELETED_COL, lit(true))
    val keyRows = newSigs.withColumn(BucketStore.DELETED_COL, lit(false))
    // candidates: bucket-pruned read of PRE-append state, minus every
    // touched key's old rows (update replacement / deletion), plus the
    // batch itself (same-batch pairs): every post-refresh signature that
    // shares a (band, bucket) with the batch.
    val probe = banded(newSigs)
    val pruned = bandStore.read(Some(bandStore.pidsOf(probe.select("band", "bucket"))))
      .join(touchedKeys, Seq("key"), "left_anti")
    val cand = pruned.unionByName(newBandRows.drop(BucketStore.DELETED_COL))
    val pairs = probe
      .select(col("band"), col("bucket"), col("key").as("key_l"), col("sig").as("sig_l"))
      .join(cand.select(col("band"), col("bucket"), col("key").as("key_r"), col("sig").as("sig_r")),
        Seq("band", "bucket"))
      .filter(col("key_l") =!= col("key_r"))
      .select(least(col("key_l"), col("key_r")).as("key_a"),
        greatest(col("key_l"), col("key_r")).as("key_b"),
        IncrementalDedup.estimatedJaccard(col("sig_l"), col("sig_r"), k).as("est_jaccard"))
      .dropDuplicates("key_a", "key_b")
      .filter(col("est_jaccard") >= minJaccard)
    new PendingRefresh(pairs, bandTombs.unionByName(newBandRows), keyTombs.unionByName(keyRows))
  }

  /** Plan + commit in one call (batch callers / tests); the returned
    * pairs are materialized before the commit so they are immune to a
    * concurrent vacuum of the pre-append file generation.
    */
  def refresh(upserts: DataFrame, deletes: DataFrame, watermark: Long,
              minJaccard: Double = 0.7): DataFrame = {
    val p = planRefresh(upserts, deletes, minJaccard)
    val pairs = p.pairs.localCheckpoint(true)
    p.commit(watermark)
    pairs
  }

  /** Fold delta tails into pruned per-partition base files and reclaim
    * superseded generations; partitions split when they outgrow
    * `maxRowsPerPid` (the knob that keeps probe cost flat as the corpus
    * grows). Run every K windows from the maintenance loop.
    */
  def maintain(maxRowsPerPid: Long = 1L << 19, vacuumGraceMs: Long = 300000L): Unit = {
    bandStore.compact(maxRowsPerPid)
    keyIndex.compact(maxRowsPerPid)
    bandStore.vacuum(graceMs = vacuumGraceMs)
    keyIndex.vacuum(graceMs = vacuumGraceMs)
  }

  private def bandsType = ArrayType(StructType(Seq(
    StructField("band", IntegerType), StructField("bucket", IntegerType))))

  private def banded(sigs: DataFrame): DataFrame =
    sigs.select(col("key"), col("sig"), explode(col("bands")).as("bb"))
      .select(col("key"), col("sig"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
}

object LakeDedupStore {

  private final case class DedupConfig(bands: Int, rowsPerBand: Int, shingleN: Int)
  private implicit val fmts: org.json4s.Formats =
    org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)

  private def bandSchema = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("band", IntegerType, nullable = false),
    StructField("bucket", IntegerType, nullable = false),
    StructField("sig", ArrayType(LongType))))

  private def keySchema = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("sig", ArrayType(LongType)),
    StructField("bands", ArrayType(StructType(Seq(
      StructField("band", IntegerType), StructField("bucket", IntegerType)))))))

  def create(spark: SparkSession, dir: String, bands: Int = 8, rowsPerBand: Int = 4,
             shingleN: Int = 3, numPids: Int = 64): LakeDedupStore = {
    require(!Files.exists(Paths.get(dir, "_dedup.json")), s"dedup store already exists at $dir")
    Files.createDirectories(Paths.get(dir))
    graft.lake.Manifest.writeAtomic(Paths.get(dir, "_dedup.json"),
      org.json4s.jackson.Serialization.write(DedupConfig(bands, rowsPerBand, shingleN)))
    val b = BucketStore.create(spark, s"$dir/bands", bandSchema,
      partCols = Seq("band", "bucket"), keyCols = Seq("key", "band", "bucket"),
      numPids = numPids)
    val ki = BucketStore.create(spark, s"$dir/keys", keySchema,
      partCols = Seq("key"), keyCols = Seq("key"), numPids = numPids)
    new LakeDedupStore(spark, dir, b, ki, bands, rowsPerBand, shingleN)
  }

  /** Load an existing store. LSH parameters come from the store's own
    * config — a caller cannot accidentally probe a store signed under
    * different slicing (which would silently miss every cross-generation
    * candidate); pass `expect` to assert the parameters you require.
    */
  def load(spark: SparkSession, dir: String,
           expect: Option[(Int, Int, Int)] = None): LakeDedupStore = {
    val cfg = org.json4s.jackson.Serialization.read[DedupConfig](
      new String(Files.readAllBytes(Paths.get(dir, "_dedup.json"))))
    expect.foreach { case (b, r, n) => require(
      cfg.bands == b && cfg.rowsPerBand == r && cfg.shingleN == n,
      s"store at $dir was built with (bands=${cfg.bands}, rowsPerBand=${cfg.rowsPerBand}, " +
      s"shingleN=${cfg.shingleN}) but caller expects ($b, $r, $n)") }
    new LakeDedupStore(spark, dir,
      BucketStore.load(spark, s"$dir/bands"), BucketStore.load(spark, s"$dir/keys"),
      cfg.bands, cfg.rowsPerBand, cfg.shingleN)
  }

  def createOrLoad(spark: SparkSession, dir: String, bands: Int = 8,
                   rowsPerBand: Int = 4, shingleN: Int = 3,
                   numPids: Int = 64): LakeDedupStore =
    if (Files.exists(Paths.get(dir, "_dedup.json")))
      load(spark, dir, expect = Some((bands, rowsPerBand, shingleN)))
    else create(spark, dir, bands, rowsPerBand, shingleN, numPids)
}
