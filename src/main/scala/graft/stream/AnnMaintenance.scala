package graft.stream

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.functions._
import graft.lake.LakeTable
import graft.model.Schemas
import graft.ops.{IncrementalAnn, LakeAnnStore}

/** Live ANN-index maintenance over a lake table's change feed — the ANN
  * twin of [[DedupMaintenance.startLake]]: [[ChangelogFollower]] ×
  * [[LakeAnnStore]]. Every committed version window is consumed as
  * (tombstones → store removal, upserts → latest-per-key resolve →
  * assignment refresh); rows whose embedding column is NULL are treated
  * as removals (an unembedded row is unsearchable — keeping a stale
  * vector for it would answer queries with deleted content).
  *
  * Work per window is O(changed rows): assignment is one broadcast-argmin
  * pass over the batch, appends are delta files, the old-cell lookup is
  * key-pruned. Every `compactEvery` windows the store folds its delta
  * tail; when [[LakeAnnStore.imbalance]] exceeds `retrainAbove`, the
  * quantizer is RETRAINED on the store snapshot and the corpus
  * re-assigned once — the deliberately O(corpus) step, amortized over
  * the drifting batches that triggered it.
  *
  * Resume is watermark-driven like the dedup loop: the store's `cells`
  * index commits last and carries the source-table version, so a restart
  * re-follows from `store.watermark` with idempotent replay — no
  * snapshot rebuild, no side-channel markers. A fresh store bootstraps
  * once from the live snapshot (training the initial quantizer on it).
  */
object AnnMaintenance {

  final class Handle private[AnnMaintenance] (
      follower: ChangelogFollower.Handle,
      val store: LakeAnnStore,
      processedRef: AtomicLong,
      retrainsRef: AtomicLong,
      liveKey: String) extends AutoCloseable {
    def processedVersion: Long = processedRef.get()
    /** How many drift-triggered retrains have run (observability). */
    def retrains: Long = retrainsRef.get()
    def failure: Option[Throwable] = follower.failure
    override def close(): Unit =
      try follower.close() finally DedupMaintenance.releaseLive(liveKey)
  }

  /** Start (or resume — the store's watermark decides). `embedColumn`
    * must be an `array<float>` column of the table's schema.
    */
  def startLake(table: LakeTable, embedColumn: String, storeDir: String,
                nlist: Int = 16, nprobe: Int = 4,
                pollMs: Long = 200L, pinName: String = "ann-maintenance",
                numPids: Int = 64, compactEvery: Int = 8,
                retrainAbove: Double = 4.0,
                maxRowsPerPid: Long = 1L << 19): Handle = {
    val spark = table.sparkSession
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("id", concat_ws("#", Schemas.KEY_COLS.map(col): _*))
    // shares the dedup loop's live registry: one maintenance loop per
    // (table, pin), refused while the previous thread lives. EVERYTHING
    // effectful — store creation, quantizer training, the bootstrap
    // commit, the follower's pin — sits after the check, so a refused
    // start is a pure no-op (two racing starts must not both bootstrap).
    DedupMaintenance.registerLive(table, pinName, liveKey => {
    val existing = java.nio.file.Files.exists(
      java.nio.file.Paths.get(storeDir, "index.json"))
    val store =
      if (existing) LakeAnnStore.load(spark, storeDir)
      else LakeAnnStore.create(spark, storeDir,
        // placeholder 1-cell index; the bootstrap block below trains the
        // real quantizer before any vector is assigned
        IncrementalAnn.IvfIndex(Array(Array.fill(8)(1.0)), nprobe = 1), numPids)
    if (store.watermark < 0) {
      // bootstrap — runs for a FRESH store and equally for one that
      // crashed mid-bootstrap (index.json written, cellIndex commit never
      // landed → watermark still -1): train the quantizer on the live
      // embedded rows and assign them, idempotent under latest-wins
      // appends. The one O(corpus) pass, paid per store, not per restart.
      // An empty (or all-null) corpus keeps a trivial 1-cell index; the
      // undertrained signal below retrains it as vectors arrive.
      val v = table.currentVersion
      val live = keyed(table.snapshotAt(v))
        .filter(col(embedColumn).isNotNull)
        .select(col("id"), col(embedColumn).as("vec"))
        .localCheckpoint(true)
      val n = live.count()
      if (n >= nlist) store.setIndex(IncrementalAnn.train(live, "vec", "id", nlist, nprobe))
      else if (n > 0) store.setIndex(IncrementalAnn.IvfIndex(
        Array(Array.fill(live.select(size(col("vec"))).head().getInt(0))(1.0)), nprobe = 1))
      store.refresh(live.select(col("id"), col("vec")), live.select("id").limit(0), v)
    }
    val from = store.watermark
    val processedRef = new AtomicLong(from)
    val retrainsRef = new AtomicLong(0L)
    val windows = new AtomicLong(0L)
    val follower = ChangelogFollower.follow(table, from, pollMs,
      pinName = Some(pinName)) { (changes, toVersion) =>
      val latest = DedupMaintenance.windowLatest(changes, "id")
      // tombstones AND null-embedding upserts both leave the index
      val removed = latest.filter(
        col(Schemas.DELETED_COL) || col(embedColumn).isNull).select("id")
      val upserts = latest.filter(
        !col(Schemas.DELETED_COL) && col(embedColumn).isNotNull)
        .select(col("id"), col(embedColumn).as("vec"))
      store.refresh(upserts, removed, toVersion)
      processedRef.set(toVersion)
      if (windows.incrementAndGet() >= compactEvery) {
        store.maintain(maxRowsPerPid)
        // retrain when the quantizer drifted (imbalance) OR when it is
        // still the bootstrap trivial index and the corpus has since
        // grown enough to train a real one
        val idx = store.index
        val undertrained = idx.nlist < nlist
        if (undertrained || store.imbalance() > retrainAbove) {
          val live = store.snapshot().select("id", "vec").localCheckpoint(true)
          if (live.count() >= nlist) {
            store.reassign(IncrementalAnn.train(live, "vec", "id", nlist, nprobe),
              maxRowsPerPid)
            retrainsRef.incrementAndGet()
          }
        }
        windows.set(0L)
      }
    }
    (new Handle(follower, store, processedRef, retrainsRef, liveKey),
      () => follower.isAlive)
    })
  }
}
