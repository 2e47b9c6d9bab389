package graft.ops

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.BucketStore
import IncrementalAnn.IvfIndex

/** Lake-backed IVF assignment store — the one backend of incremental ANN
  * maintenance, over [[IncrementalAnn]]'s quantizer. Like
  * [[LakeDedupStore]], the assigned store lives on disk, refresh appends
  * O(batch), and search prunes to the probed cells via the manifest
  * instead of scanning the full store.
  *
  * Two [[graft.lake.BucketStore]]s:
  *
  *  - `vecs`: one row per (id, cell, vec), PARTITIONED BY cell — an
  *    nprobe search reads only the probed cells' partitions, which IS
  *    the IVF cost model (search ∝ corpus · nprobe / nlist) realized at
  *    the storage layer;
  *  - `cells`: (id, cell), PARTITIONED BY id — the O(batch) lookup that
  *    finds a changed vector's OLD cell so its tombstone routes to the
  *    right partition (the quantizer cannot recover it: the old vector
  *    is gone).
  *
  * The quantizer itself stays a JSON doc ([[IncrementalAnn.saveIndex]]),
  * persisted next to the store; `watermark` lives in the `cells` store
  * (the last committer), mirroring the dedup store's crash contract:
  * replaying a half-committed window re-derives identical tombstones and
  * rows, idempotent under latest-wins resolve.
  */
final class LakeAnnStore private (val spark: SparkSession, val root: String,
                                  val vecStore: BucketStore, val cellIndex: BucketStore) {

  def watermark: Long = cellIndex.watermark

  def index: IvfIndex = IncrementalAnn.loadIndex(s"$root/index.json")

  def setIndex(idx: IvfIndex): Unit = IncrementalAnn.saveIndex(idx, s"$root/index.json")

  /** Resolved (id, cell, vec) — tests/rebuild only; O(store). */
  def snapshot(): DataFrame = vecStore.read(None)

  /** One refresh: assign ONLY the changed vectors, tombstone their old
    * cells (key-pruned lookup), append. O(batch) everywhere.
    * `changed` = (id, vec) latest-per-key; `deletes` = (id); disjoint.
    */
  def refresh(changed: DataFrame, deletes: DataFrame, watermark: Long): Unit = {
    val idx = index
    val fresh = changed.select(col("id").cast("string").as("id"), col("vec"))
      .withColumn("cell", idx.assignExpr(col("vec")))
      .select("id", "cell", "vec")
      .localCheckpoint(true)
    val dup = fresh.groupBy("id").count().filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"LakeAnnStore.refresh: change batch has multiple rows for id " +
      s"'${if (dup.isEmpty) "" else dup(0).get(0)}' — resolve latest-per-key first")
    val delIds = deletes.select(col("id").cast("string").as("id")).localCheckpoint(true)
    val touched = fresh.select("id").unionByName(delIds).distinct().localCheckpoint(true)
    val oldCells = cellIndex.read(Some(cellIndex.pidsOf(touched)))
      .join(touched, Seq("id"), "left_semi")
    val vecTombs = oldCells.select(col("id"), col("cell"),
      lit(null).cast(ArrayType(FloatType)).as("vec"),
      lit(true).as(BucketStore.DELETED_COL))
    val vecRows = fresh.withColumn(BucketStore.DELETED_COL, lit(false))
    vecStore.append(vecTombs.unionByName(vecRows), watermark)
    val cellTombs = delIds.withColumn("cell", lit(null).cast(IntegerType))
      .withColumn(BucketStore.DELETED_COL, lit(true))
    val cellRows = fresh.select("id", "cell").withColumn(BucketStore.DELETED_COL, lit(false))
    cellIndex.append(cellTombs.unionByName(cellRows), watermark)
  }

  /** Top-k search, cell-pruned: same plan shape as the batch operator's
    * probe (explode nprobe cells per query, equi-join on cell, exact
    * cosine re-rank), but the store side reads ONLY the probed cells'
    * partitions through the manifest.
    */
  def search(queries: DataFrame, queryVec: String, queryId: String, k: Int): DataFrame = {
    val idx = index
    val q = queries.select(col(queryId).cast("string").as("query_id"), col(queryVec).as("qv"))
      .withColumn("cell", explode(idx.probeExpr(col("qv"))))
      .localCheckpoint(true)
    val pids = vecStore.pidsOf(q.select("cell"))
    val store = vecStore.read(Some(pids))
    val cand = q.join(store, Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      .dropDuplicates("query_id", "id")
      .withColumn("cosine", SimilarityOps.cosine(col("qv"), col("vec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("corpus_id"), col("cosine"), col("rank"))
  }

  /** Retrain signal — max cell share over fair share, from the (id, cell)
    * index: a two-column aggregation, never reads vectors.
    */
  def imbalance(): Double = {
    val counts = cellIndex.read(None).groupBy("cell").count().collect()
    val total = counts.map(_.getLong(1)).sum
    if (total == 0) 1.0
    else counts.map(_.getLong(1)).max.toDouble * index.nlist / total
  }

  /** Swap in a retrained quantizer and re-assign the whole corpus — the
    * one deliberately O(corpus) operation, amortized over the many
    * batches whose drift triggered it. Written as ONE direct generation
    * replace per store ([[BucketStore.replaceAll]]): the earlier
    * tombstone-everything + re-append + compact form paid ~3× the row
    * I/O for the same result.
    *
    * Crash-safe across the THREE commit points (index.json, vecs, cells),
    * each individually atomic but jointly not: a write-ahead marker
    * ([[LakeAnnStore.PENDING]]) brackets the sequence, and [[load]]
    * completes an interrupted reassign before returning the store.
    * Replay converges from ANY crash point because reassignment is a
    * pure function of (live vectors, index.json) and the vectors
    * themselves never change under a reassign — only their cells do.
    */
  def reassign(newIndex: IvfIndex, maxRowsPerPid: Long = 1L << 19): Unit = {
    val live = snapshot().localCheckpoint(true) // (id, cell, vec) under the OLD index
    graft.lake.Manifest.writeAtomic(Paths.get(root, LakeAnnStore.PENDING),
      s"""{"startedAtWatermark":$watermark}""")
    setIndex(newIndex)
    reassignUnderCurrentIndex(live, maxRowsPerPid)
  }

  /** The replay body: assign `live` (id, vec) under whatever index.json
    * currently holds, replace both stores, clear the marker, vacuum.
    * Idempotent — [[load]] calls it with a fresh snapshot to finish a
    * reassign whose writer died mid-sequence.
    */
  private def reassignUnderCurrentIndex(live: DataFrame, maxRowsPerPid: Long): Unit = {
    val idx = index
    val wm = watermark
    val rows = live.select(col("id"), col("vec"))
      .withColumn("cell", idx.assignExpr(col("vec")))
      .select("id", "cell", "vec")
      .localCheckpoint(true) // one assignment pass feeds both stores
    vecStore.replaceAll(rows, wm, maxRowsPerPid)
    cellIndex.replaceAll(rows.select("id", "cell"), wm, maxRowsPerPid)
    Files.deleteIfExists(Paths.get(root, LakeAnnStore.PENDING))
    vecStore.vacuum()
    cellIndex.vacuum()
  }

  private[graft] def completePendingReassign(): Unit =
    if (Files.exists(Paths.get(root, LakeAnnStore.PENDING))) {
      System.err.println(s"[lake-ann] completing interrupted reassign at $root")
      reassignUnderCurrentIndex(snapshot().localCheckpoint(true), 1L << 19)
    }

  def maintain(maxRowsPerPid: Long = 1L << 19, vacuumGraceMs: Long = 300000L): Unit = {
    vecStore.compact(maxRowsPerPid)
    cellIndex.compact(maxRowsPerPid)
    vecStore.vacuum(graceMs = vacuumGraceMs)
    cellIndex.vacuum(graceMs = vacuumGraceMs)
  }
}

object LakeAnnStore {

  /** Write-ahead marker for [[LakeAnnStore.reassign]] — present iff a
    * reassign has started and not yet committed both stores.
    */
  private[graft] val PENDING = "reassign.pending"

  private def vecSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("cell", IntegerType, nullable = false),
    StructField("vec", ArrayType(FloatType))))

  private def cellSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("cell", IntegerType)))

  def create(spark: SparkSession, dir: String, index: IvfIndex,
             numPids: Int = 64): LakeAnnStore = {
    require(!Files.exists(Paths.get(dir, "index.json")), s"ANN store already exists at $dir")
    Files.createDirectories(Paths.get(dir))
    IncrementalAnn.saveIndex(index, s"$dir/index.json")
    val v = BucketStore.create(spark, s"$dir/vecs", vecSchema,
      partCols = Seq("cell"), keyCols = Seq("id", "cell"), numPids = numPids)
    val c = BucketStore.create(spark, s"$dir/cells", cellSchema,
      partCols = Seq("id"), keyCols = Seq("id"), numPids = numPids)
    new LakeAnnStore(spark, dir, v, c)
  }

  def load(spark: SparkSession, dir: String): LakeAnnStore = {
    require(Files.exists(Paths.get(dir, "index.json")), s"no ANN store at $dir")
    val s = new LakeAnnStore(spark, dir,
      BucketStore.load(spark, s"$dir/vecs"), BucketStore.load(spark, s"$dir/cells"))
    // a writer that died mid-reassign left the marker: the two stores (and
    // possibly index.json) disagree on cells. Finish the reassign here —
    // before anyone reads — so every loaded store is self-consistent.
    s.completePendingReassign()
    s
  }

  def createOrLoad(spark: SparkSession, dir: String, index: => IvfIndex,
                   numPids: Int = 64): LakeAnnStore =
    if (Files.exists(Paths.get(dir, "index.json"))) load(spark, dir)
    else create(spark, dir, index, numPids)
}
