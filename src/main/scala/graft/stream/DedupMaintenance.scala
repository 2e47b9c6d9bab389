package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.lake.LakeTable
import graft.model.Schemas

/** Live near-duplicate maintenance over a lake table's change feed — the
  * engine-level wiring of [[ChangelogFollower]] × [[graft.ops.LakeDedupStore]]:
  * every committed version window is consumed as (latest-per-key resolve
  * → tombstones and upserts → one store refresh), and the freshly emitted
  * pairs are appended to a parquet log partitioned by the window's end
  * version (so a downstream consumer can itself read the pair log
  * incrementally, by version).
  *
  * Work per window is O(changed turns) on the expensive legs (see
  * LakeDedupStore); the follower holds a durable [[LakeTable.pin]] so
  * vacuum never reclaims an unconsumed window. The store's own watermark
  * is the one resume point after a restart.
  */
object DedupMaintenance {

  /** One live maintenance loop per (table root, pin): a second start
    * while the previous follower thread is alive would interleave windows
    * into one pair log and move one pin in both directions. startLake
    * (dedup and ANN) refuses while the previous loop's thread lives
    * (close() first).
    */
  private val live = scala.collection.mutable.Map.empty[String, () => Boolean]

  private[stream] def registerLive[H](table: LakeTable, pinName: String,
                                      mk: String => (H, () => Boolean)): H = live.synchronized {
    val key = table.root.toAbsolutePath.normalize.toString + "#" + pinName
    live.get(key).foreach(alive => require(!alive(),
      s"a maintenance loop for pin '$pinName' on ${table.root} is still live — " +
      "close() it before starting another"))
    val (h, probe) = mk(key)
    live(key) = probe
    h
  }

  /** Deregister ONLY if the registered loop provably died — a close() that
    * threw with its thread still alive must keep blocking a restart, and a
    * stale handle's late close() must not evict a newer live registration.
    */
  private[stream] def releaseLive(key: String): Unit = live.synchronized {
    live.get(key).foreach(alive => if (!alive()) live.remove(key))
  }

  private type AtomicLong = java.util.concurrent.atomic.AtomicLong

  /** Per-key latest rows of a changelog window, keyed by the concatenated
    * primary key — THE ONE window-resolve shared by every maintenance
    * consumer (the dedup and ANN loops), so the pick can never
    * drift between them. Resolution order is [[LakeTable.resolveOrder]]
    * (lsn, non-delete, payload-hash) — identical to the MOR read path even
    * on contract-violating duplicate-LSN input. Eagerly checkpointed: each
    * consumer derives several frames from it.
    */
  private[stream] def windowLatest(changes: DataFrame, keyName: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(Schemas.KEY_COLS.map(col): _*)
      .orderBy(LakeTable.resolveOrder(changes.columns.toSeq): _*)
    changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .withColumn(keyName, concat_ws("#", Schemas.KEY_COLS.map(col): _*))
      .localCheckpoint(true)
  }

  /** Append per-key touch records (key, deleted, to_version) for a
    * consumed window — the retraction side-channel the append-only pair
    * log lacks: a pair emitted at window v involving keys last touched at
    * (ta, tb) is CURRENT iff v >= max(ta, tb) (any later touch of either
    * endpoint re-emits the pair if it still holds, so a missing
    * re-emission IS the retraction). At-least-once like the pair log:
    * crash replays append identical rows; readers resolve latest-per-key.
    */
  private def appendTouches(latest: DataFrame, touchesDir: String,
                            toVersion: Long): Unit =
    latest.select(col("key"), col(Schemas.DELETED_COL).as("deleted"))
      .withColumn("to_version", lit(toVersion))
      .write.mode("append").partitionBy("to_version").parquet(touchesDir)

  /** Live keys as of `version` from the touch log: latest touch per key,
    * tombstoned keys dropped. Returns (key, last_touch).
    */
  def liveKeysAt(spark: org.apache.spark.sql.SparkSession, touchesDir: String,
                 version: Long): DataFrame = {
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(touchesDir)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("last_touch", org.apache.spark.sql.types.LongType))))
    spark.read.parquet(touchesDir)
      .filter(col("to_version") <= version)
      .groupBy("key")
      .agg(max_by(struct(col("deleted"), col("to_version")), col("to_version")).as("__t"))
      .filter(!col("__t.deleted"))
      .select(col("key"), col("__t.to_version").as("last_touch"))
  }

  /** INCREMENTALLY-MAINTAINED near-dup cluster map as of `version`:
    * connected components over the CURRENT pairs of the pair log — a pair
    * is current iff both endpoints are live and its to_version is >= both
    * endpoints' last touches (see [[appendTouches]]: a similarity-
    * dissolving update simply never re-emits the pair, and the staleness
    * rule drops the old one). Every live key gets a cluster (singletons =
    * own key).
    *
    * Scale shape: the expensive leg (shingling + banded probing) was
    * already paid incrementally per window; this consumer is two
    * partition-pruned log scans, two equi-joins, and CC over the
    * qualifying PAIRS (near-dup edge count, corpus-bounded but typically
    * tiny relative to the corpus).
    */
  def clustersAt(spark: org.apache.spark.sql.SparkSession, pairsDir: String,
                 touchesDir: String, version: Long,
                 minJaccard: Double = 0.0): DataFrame = {
    val live = liveKeysAt(spark, touchesDir, version)
    val edges = pairsBetween(spark, pairsDir, 0L, version)
      .filter(col("est_jaccard") >= minJaccard)
      .join(live.select(col("key").as("key_a"), col("last_touch").as("__ta")), "key_a")
      .join(live.select(col("key").as("key_b"), col("last_touch").as("__tb")), "key_b")
      .filter(col("to_version") >= greatest(col("__ta"), col("__tb")))
      .select("key_a", "key_b")
    graft.ops.GraphOps.clusterAssignments(live.select("key"), "key", edges)
  }

  /** Read the pair log for windows in (fromVersion, toVersion] — the
    * incremental-consumer read path (partition-pruned by to_version).
    * An unwritten log (fresh table, or tombstone-only windows so far)
    * reads as empty, not as a missing-path error. `dedupe` (default on)
    * collapses per-pair duplicates BY LATEST to_version: crash-replay
    * copies are exact duplicates and collapse losslessly, while a
    * legitimate re-emission after a document UPDATE (same pair, new
    * est_jaccard, later to_version) resolves to the NEWEST pair — the
    * "consumer holds latest pairs per key" contract of
    * [[graft.ops.LakeDedupStore]]; an arbitrary dropDuplicates pick
    * would nondeterministically hand back the stale similarity.
    */
  def pairsBetween(spark: org.apache.spark.sql.SparkSession, pairsDir: String,
                   fromVersion: Long, toVersion: Long,
                   dedupe: Boolean = true): DataFrame = {
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(pairsDir)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("key_a", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("key_b", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("est_jaccard", org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("to_version", org.apache.spark.sql.types.LongType))))
    val raw = spark.read.parquet(pairsDir)
      .filter(col("to_version") > fromVersion && col("to_version") <= toVersion)
    if (dedupe)
      raw.groupBy("key_a", "key_b")
        .agg(max_by(struct(col("est_jaccard"), col("to_version")),
          col("to_version")).as("__p"))
        .select(col("key_a"), col("key_b"),
          col("__p.est_jaccard").as("est_jaccard"),
          col("__p.to_version").as("to_version"))
    else raw
  }

  final class LakeHandle private[DedupMaintenance] (
      follower: ChangelogFollower.Handle,
      val store: graft.ops.LakeDedupStore,
      processedRef: AtomicLong,
      liveKey: String) extends AutoCloseable {
    /** Last fully committed table version (== store watermark). */
    def processedVersion: Long = processedRef.get()
    def failure: Option[Throwable] = follower.failure
    override def close(): Unit =
      try follower.close() finally DedupMaintenance.releaseLive(liveKey)
  }

  /** Start (or RESUME — the store's own watermark decides) lake-backed
    * maintenance. A fresh store bootstraps from the live snapshot at the
    * current version (the one O(corpus) pass, paid once per store, never
    * per restart). Per window: pairs are planned against pre-append
    * state, durably logged, THEN the stores commit with the window's
    * version as watermark — a crash at any point replays from the
    * watermark with idempotent appends and log duplicates that
    * [[pairsBetween]]'s latest-wins dedupe collapses (at-least-once,
    * never gaps). Every `compactEvery` windows the store folds its delta
    * tail and splits outgrown partitions.
    */
  def startLake(table: LakeTable, textColumn: String, pairsDir: String,
                storeDir: String, bands: Int = 8, rowsPerBand: Int = 4,
                minJaccard: Double = 0.7, pollMs: Long = 200L,
                pinName: String = "dedup-maintenance",
                numPids: Int = 64, compactEvery: Int = 8,
                maxRowsPerPid: Long = 1L << 19,
                touchesDir: Option[String] = None): LakeHandle = {
    val spark = table.sparkSession
    registerLive(table, pinName, liveKey => {
      // EVERYTHING effectful sits after the singleton check — a REFUSED
      // start must be a pure no-op, and the bootstrap is the opposite of
      // one (store creation, pair-log appends, store commits; two racing
      // starts would both bootstrap and double the pair log)
      val store = graft.ops.LakeDedupStore.createOrLoad(spark, storeDir,
        bands, rowsPerBand, numPids = numPids)
      var from = store.watermark
      if (from < 0) {
        val v = table.currentVersion
        val ups = table.snapshotAt(v)
          .withColumn("key", concat_ws("#", Schemas.KEY_COLS.map(col): _*))
          .select(col("key"), col(textColumn).as("text"))
        val plan = store.planRefresh(ups,
          ups.select("key").limit(0), minJaccard)
        plan.pairs.withColumn("to_version", lit(v))
          .write.mode("append").partitionBy("to_version").parquet(pairsDir)
        touchesDir.foreach(appendTouches(
          ups.select(col("key"), lit(false).as(Schemas.DELETED_COL)), _, v))
        plan.commit(v)
        from = v
      }
      val processedRef = new AtomicLong(from)
      val windows = new AtomicLong(0L)
      val follower = ChangelogFollower.follow(table, from, pollMs,
        pinName = Some(pinName)) { (changes, toVersion) =>
        val latest = windowLatest(changes, "key")
        val deleted = latest.filter(col(Schemas.DELETED_COL)).select("key")
        val upserts = latest.filter(!col(Schemas.DELETED_COL))
          .select(col("key"), col(textColumn).as("text"))
        touchesDir.foreach(appendTouches(latest, _, toVersion))
        val plan = store.planRefresh(upserts, deleted, minJaccard)
        plan.pairs.withColumn("to_version", lit(toVersion))
          .write.mode("append").partitionBy("to_version").parquet(pairsDir)
        plan.commit(toVersion) // watermark = toVersion, atomic with the rows
        processedRef.set(toVersion)
        if (windows.incrementAndGet() >= compactEvery) {
          store.maintain(maxRowsPerPid)
          windows.set(0L)
        }
      }
      (new LakeHandle(follower, store, processedRef, liveKey), () => follower.isAlive)
    })
  }
}
