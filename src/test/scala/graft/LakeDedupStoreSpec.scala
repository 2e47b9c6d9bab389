package graft

import org.apache.spark.sql.functions._
import graft.lake.BucketStore
import graft.ops.{IncrementalDedup, LakeDedupStore}

/** The lake-backed signature store's maintained pair state must equal a
  * from-scratch recompute over the current corpus at every step — adds,
  * updates, deletes, resurrection — including across compaction,
  * partition SPLITS, and a cold reload.
  */
class LakeDedupStoreSpec extends SparkSpec {
  import spark.implicits._

  private val bands = 8
  private val rowsPerBand = 4
  private val minJ = 0.5

  /** From-scratch oracle (same estimator): the banded self-join over the
    * whole corpus.
    */
  private def fullRecompute(corpus: Map[String, String]): Set[(String, String)] =
    if (corpus.isEmpty) Set.empty
    else pairSet(IncrementalDedup.pairsOf(corpus.toSeq.toDF("key", "text"), "text", "key",
      bands, rowsPerBand, minJ))

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.select("key_a", "key_b").collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("lake-backed refresh stream equals full recompute at every step, across compaction and reload") {
    val dir = tmpDir("lakededup")
    try {
      val store = LakeDedupStore.create(spark, s"$dir/s", bands, rowsPerBand, numPids = 16)
      val base = "the quick brown fox jumps over the lazy dog and runs far away today"
      def twin(tag: String) = base + " " + tag
      var corpus = Map.empty[String, String]
      var pairState = Set.empty[(String, String)]
      var wm = 0L

      def applyBatch(s: LakeDedupStore, upserts: Seq[(String, String)],
                     deletes: Seq[String] = Nil): Unit = {
        corpus = corpus -- deletes ++ upserts
        wm += 1
        val changed = upserts.map(_._1).toSet ++ deletes
        pairState = pairState.filterNot { case (a, b) => changed(a) || changed(b) }
        pairState ++= pairSet(s.refresh(
          upserts.toDF("key", "text"), deletes.toDF("key"), wm, minJ))
        assert(s.snapshot().count() == corpus.size, "key index drifted from corpus")
        assert(pairState == fullRecompute(corpus),
          s"divergence at wm=$wm; corpus=${corpus.keys.toSeq.sorted}")
        assert(s.watermark == wm)
      }

      applyBatch(store, Seq("a1" -> twin("alpha"), "a2" -> twin("beta"),
        "z1" -> "completely different words about spark catalyst optimizer internals"))
      assert(pairState.contains(("a1", "a2")))
      // cross-batch pair emission
      applyBatch(store, Seq("a3" -> twin("gamma")))
      assert(pairState.contains(("a1", "a3")) && pairState.contains(("a2", "a3")))
      // UPDATE away from the cluster: old pairs die, tombstones route to
      // the old (band, bucket) partitions
      applyBatch(store, Seq("a2" -> "entirely new content mentioning parquet footers and manifests only"))
      assert(!pairState.exists { case (a, b) => a == "a2" || b == "a2" })
      // compact mid-stream (tiny maxRowsPerPid forces a SPLIT too) — the
      // fold must not change any answer
      val pidsBefore = store.bandStore.numPids
      store.maintain(maxRowsPerPid = 2, vacuumGraceMs = 0L)
      assert(store.bandStore.numPids > pidsBefore, "expected a partition split")
      assert(store.snapshot().count() == corpus.size)
      assert(store.bandStore.manifest.files.forall(_.kind == graft.lake.FileEntry.BASE))
      // DELETE and resurrection, post-split
      applyBatch(store, Seq.empty, deletes = Seq("a1"))
      assert(!pairState.exists { case (a, b) => a == "a1" || b == "a1" })
      applyBatch(store, Seq("a2" -> twin("delta")))
      assert(pairState.contains(("a2", "a3")))

      // COLD RELOAD: a fresh handle over the same directory sees the same
      // watermark and continues identically — no snapshot rebuild
      val reloaded = LakeDedupStore.load(spark, s"$dir/s")
      assert(reloaded.watermark == wm)
      assert(reloaded.snapshot().count() == corpus.size)
      applyBatch(reloaded, Seq("a4" -> twin("epsilon")))
      assert(pairState.contains(("a2", "a4")) && pairState.contains(("a3", "a4")))
      // parameter-mismatch load is refused loudly
      val e = intercept[IllegalArgumentException](
        LakeDedupStore.load(spark, s"$dir/s", expect = Some((9, 4, 3))))
      assert(e.getMessage.contains("built with"), e.getMessage)
    } finally rmrf(dir)
  }

  test("planRefresh pairs read pre-append state: log-then-commit never gaps, replay duplicates collapse") {
    val dir = tmpDir("lakeplan")
    try {
      val store = LakeDedupStore.create(spark, s"$dir/s", bands, rowsPerBand, numPids = 8)
      val base = "a reply that will appear in two conversations almost verbatim tonight"
      store.refresh(Seq("c1" -> (base + " one")).toDF("key", "text"),
        Seq.empty[String].toDF("key"), 1L, minJ)
      // plan window 2, WRITE pairs to the log, then commit the stores —
      // the maintenance crash-ordering. The lazily-planned pairs must
      // see window 2's candidates even though commit() appends later.
      val plan = store.planRefresh(Seq("c2" -> (base + " two")).toDF("key", "text"),
        Seq.empty[String].toDF("key"), minJ)
      plan.pairs.withColumn("to_version", lit(2L))
        .write.partitionBy("to_version").mode("append").parquet(s"$dir/pairs")
      plan.commit(2L)
      assert(store.watermark == 2L)
      val logged = spark.read.parquet(s"$dir/pairs")
        .select("key_a", "key_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(logged == Set(("c1", "c2")), logged)
      // plan shape: the candidate generation is a banded EQUI-join — no
      // cartesian/nested-loop leg may appear in the pairs plan at any scale
      val pairsPlan = store.planRefresh(Seq("c9" -> (base + " nine")).toDF("key", "text"),
        Seq.empty[String].toDF("key"), minJ).pairs
        .queryExecution.executedPlan.toString
      assert(!pairsPlan.contains("CartesianProduct") &&
        !pairsPlan.contains("BroadcastNestedLoopJoin"), pairsPlan.take(800))
      intercept[IllegalArgumentException](plan.commit(3L)) // double-commit refused
      // crash REPLAY of window 2 (stores already committed): identical
      // pairs re-derived — the pair log collapses them to the newest
      val replay = store.refresh(Seq("c2" -> (base + " two")).toDF("key", "text"),
        Seq.empty[String].toDF("key"), 2L, minJ)
      replay.withColumn("to_version", lit(2L))
        .write.partitionBy("to_version").mode("append").parquet(s"$dir/pairs")
      val deduped = graft.stream.DedupMaintenance.pairsBetween(spark, s"$dir/pairs", 0L, 9L)
      assert(deduped.count() == 1)
      assert(store.snapshot().count() == 2) // replayed upsert did not duplicate state
    } finally rmrf(dir)
  }

  test("lake-mode DedupMaintenance: live follower, watermark-driven resume with no snapshot rebuild, pin tracks watermark") {
    import graft.lake.LakeTable
    import graft.merge.CdcMerge
    import graft.model.Schemas
    val dir = tmpDir("lakemaint")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      val base = "the maintenance thread watches a long answer about shuffle partitioning"
      def turn(conv: String, lsn: Long, text: String, op: String = "U") =
        (conv, 0, "assistant", text, null.asInstanceOf[String],
          new java.sql.Timestamp(1700000000000L + lsn), op, lsn)
      def df(rows: Seq[(String, Int, String, String, String, java.sql.Timestamp, String, Long)]) =
        rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "op", "lsn")
      def awaitTrue(cond: => Boolean, ms: Long = 60000): Unit = {
        val deadline = System.currentTimeMillis() + ms
        while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
      }

      // pre-existing rows: the fresh store BOOTSTRAPS from the snapshot
      CdcMerge.apply(table, df(Seq(
        turn("c1", 1, base + " alpha"), turn("c2", 2, base + " beta"))), 0L)
      val h = graft.stream.DedupMaintenance.startLake(table, "text", s"$dir/pairs",
        s"$dir/store", minJaccard = 0.5, pollMs = 30L, numPids = 8, compactEvery = 2)
      try {
        assert(h.store.watermark == table.currentVersion) // bootstrap committed
        val boot = graft.stream.DedupMaintenance
          .pairsBetween(spark, s"$dir/pairs", -1L, table.currentVersion)
        assert(pairSet(boot) == Set(("c1#0", "c2#0")))
        // live windows: third twin, then an update away, then a tombstone
        CdcMerge.apply(table, df(Seq(turn("c3", 3, base + " gamma"))), 1L)
        val v2 = table.currentVersion
        awaitTrue(h.processedVersion >= v2)
        assert(h.failure.isEmpty, h.failure.toString)
        val w2 = graft.stream.DedupMaintenance.pairsBetween(spark, s"$dir/pairs",
          v2 - 1, v2)
        assert(pairSet(w2) == Set(("c1#0", "c3#0"), ("c2#0", "c3#0")), pairSet(w2))
        CdcMerge.apply(table, df(Seq(
          turn("c2", 10, "rewritten entirely different answer text now"),
          turn("c1", 11, "", op = "D"))), 2L)
        val v3 = table.currentVersion
        awaitTrue(h.processedVersion >= v3)
        assert(h.store.snapshot().count() == 2) // c1 gone, c2+c3 live
        // the pin write lands after the callback (and any in-callback
        // compaction) — poll rather than race it
        awaitTrue(table.pins("dedup-maintenance") == v3)
        assert(table.pins("dedup-maintenance") == v3)
      } finally h.close()

      // RESTART while "down": new twin arrives, then resume purely from
      // the store's watermark — same startLake call, no rebuild marker
      CdcMerge.apply(table, df(Seq(turn("c4", 20, base + " delta"))), 3L)
      val v4 = table.currentVersion
      val h2 = graft.stream.DedupMaintenance.startLake(table, "text", s"$dir/pairs",
        s"$dir/store", minJaccard = 0.5, pollMs = 30L, numPids = 8)
      try {
        awaitTrue(h2.processedVersion >= v4)
        assert(h2.failure.isEmpty, h2.failure.toString)
        // c4 pairs with c3 only (c2 was updated away, c1 deleted)
        val w4 = graft.stream.DedupMaintenance.pairsBetween(spark, s"$dir/pairs", v4 - 1, v4)
        assert(pairSet(w4) == Set(("c3#0", "c4#0")), pairSet(w4))
        assert(h2.store.snapshot().count() == 3,
          h2.store.snapshot().select("key").collect().map(_.getString(0)).mkString(","))
        // full pair log resolves to the live-pair state
        val all = graft.stream.DedupMaintenance.pairsBetween(spark, s"$dir/pairs", -1L, v4)
        assert(all.count() >= 4) // historical pairs retained; consumer filters by its own state
      } finally h2.close()
    } finally rmrf(dir)
  }

  test("BucketStore: latest-wins resolve, pruned reads, tombstone fold, split preserves content") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("bstore")
    try {
      val schema = StructType(Seq(
        StructField("g", IntegerType, nullable = false),
        StructField("id", StringType, nullable = false),
        StructField("v", IntegerType)))
      val bs = BucketStore.create(spark, s"$dir/b", schema,
        partCols = Seq("g"), keyCols = Seq("g", "id"), numPids = 4)
      assert(bs.watermark == -1L)
      bs.append(Seq((1, "a", 10), (1, "b", 11), (2, "c", 20)).toDF("g", "id", "v"), 1L)
      // update + tombstone in one append; same-append live beats its own tombstone
      bs.append(Seq((1, "a", 99, false), (2, "c", 0, true), (3, "d", 30, false), (3, "d", 0, true))
        .toDF("g", "id", "v", "_deleted"), 2L)
      def content() = bs.read(None).collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
      val expect = Set((1, "a", 99), (1, "b", 11), (3, "d", 30))
      assert(content() == expect)
      assert(bs.watermark == 2L)
      // pruned read: only partitions of g=1 (plus the delta tail pre-compaction)
      val pids1 = bs.pidsOf(Seq(Tuple1(1)).toDF("g"))
      assert(bs.read(Some(pids1)).filter(col("g") === 1).count() == 2)
      // compact folds deltas into per-pid bases, drops tombstones
      bs.compact()
      assert(bs.manifest.files.forall(_.kind == graft.lake.FileEntry.BASE))
      assert(content() == expect)
      // post-compaction pruned read touches ONLY the pruned pids' files
      val prunedFiles = bs.manifest.files.filter(f => pids1.contains(f.bucket))
      assert(prunedFiles.nonEmpty && prunedFiles.size < bs.manifest.files.size)
      assert(bs.read(Some(pids1)).collect().map(_.getString(1)).toSet == Set("a", "b"))
      // split: force numPids growth; content identical, pruning still works
      bs.append((10 until 40).map(i => (i, s"k$i", i)).toDF("g", "id", "v"), 3L)
      val before = bs.numPids
      bs.compact(maxRowsPerPid = 2)
      assert(bs.numPids > before, s"expected split beyond $before pids")
      assert(bs.read(None).count() == 33)
      val pidsNew = bs.pidsOf(Seq(Tuple1(17)).toDF("g"))
      assert(bs.read(Some(pidsNew)).filter(col("g") === 17).count() == 1)
      // vacuum reclaims superseded generations; store still reads
      bs.vacuum(keepVersions = 1, graceMs = 0L)
      assert(bs.read(None).count() == 33)
      // reload sees identical state
      val re = BucketStore.load(spark, s"$dir/b")
      assert(re.read(None).count() == 33 && re.watermark == 3L && re.numPids == bs.numPids)
    } finally rmrf(dir)
  }

  test("sustained windows: periodic compaction keeps the store's file count and delta tail bounded, content stays exact") {
    val dir = tmpDir("lakesustain")
    try {
      val store = LakeDedupStore.create(spark, s"$dir/s", bands, rowsPerBand, numPids = 16)
      val base = "sustained stream of answers about partition pruning and shuffle behavior in spark"
      var corpus = Map.empty[String, String]
      var pairState = Set.empty[(String, String)]
      var maxFiles = 0
      // 12 windows: rolling upserts (some keys revisited → updates +
      // tombstone traffic), compaction every 4 windows — the lake-mode
      // maintenance cadence in miniature
      (1 to 12).foreach { wmi =>
        val ups = Seq(
          s"k${wmi % 7}" -> s"$base tag$wmi",
          s"fresh$wmi" -> s"$base fresh$wmi")
        val dels = if (wmi % 5 == 0) Seq(s"fresh${wmi - 2}") else Nil
        corpus = corpus -- dels ++ ups
        val changed = ups.map(_._1).toSet ++ dels
        pairState = pairState.filterNot { case (a, b) => changed(a) || changed(b) }
        pairState ++= pairSet(store.refresh(
          ups.toDF("key", "text"), dels.toDF("key"), wmi.toLong, minJ))
        if (wmi % 4 == 0) store.maintain(maxRowsPerPid = 1L << 19, vacuumGraceMs = 0L)
        maxFiles = math.max(maxFiles,
          store.bandStore.manifest.files.size + store.keyIndex.manifest.files.size)
      }
      // delta tail bounded by the compaction cadence, never by stream age
      val deltaTail = store.bandStore.manifest.files.count(_.kind == graft.lake.FileEntry.DELTA)
      assert(deltaTail <= 16, s"delta tail grew past the cadence bound: $deltaTail")
      assert(maxFiles < 150, s"file count grew unbounded: $maxFiles")
      store.maintain(vacuumGraceMs = 0L)
      assert(store.bandStore.manifest.files.forall(_.kind == graft.lake.FileEntry.BASE))
      // content and pair state still EXACT after 12 windows + 4 compactions
      assert(store.snapshot().count() == corpus.size)
      assert(pairState == fullRecompute(corpus))
    } finally rmrf(dir)
  }

  test("BucketStore lazy split: only oversized + delta-touched partitions rewrite; carried old-depth files stay readable") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("bstorelazy")
    try {
      val schema = StructType(Seq(
        StructField("g", IntegerType, nullable = false),
        StructField("id", StringType, nullable = false)))
      val bs = BucketStore.create(spark, s"$dir/b", schema,
        partCols = Seq("g"), keyCols = Seq("g", "id"), numPids = 8)
      // find two part values sharing a pid (pigeonhole over 20 values)
      def pidOf(g: Int) = bs.pidsOf(Seq(Tuple1(g)).toDF("g")).head
      val byPid = (1 to 20).groupBy(pidOf)
      val (hotPid, hotGs) = byPid.find(_._2.size >= 2).get
      val hotPair = hotGs.take(2)
      val coldGs = (1 to 20).filterNot(hotPair.contains).take(10)
      // hot partition: 40 rows across two part values; cold: 2 rows each
      val rows = hotPair.flatMap(g => (0 until 20).map(i => (g, s"h$g-$i"))) ++
        coldGs.flatMap(g => (0 until 2).map(i => (g, s"c$g-$i")))
      bs.append(rows.toDF("g", "id"), 1L)
      bs.compact(maxRowsPerPid = 1L << 19) // fold, no split
      assert(bs.numPids == 8)
      val beforeFiles = bs.manifest.files.map(_.path).toSet
      // a small delta into one COLD value, then compact with a tight
      // bound: the hot partition is oversized → split; rewrite scope =
      // {delta-touched pid, hot pid}; every other partition's base file
      // must be CARRIED at its old write depth, not rewritten
      bs.append(Seq((coldGs.head, "late")).toDF("g", "id"), 2L)
      bs.compact(maxRowsPerPid = 8)
      assert(bs.numPids > 8, "expected a split")
      val files = bs.manifest.files
      val carriedOldDepth = files.filter(f =>
        beforeFiles.contains(f.path) && f.writePids.contains(8))
      assert(carriedOldDepth.nonEmpty,
        "lazy split must carry untouched old-depth base files")
      // content exact, including rows living in carried old-depth files
      assert(bs.read(None).count() == rows.size + 1)
      val carriedG = coldGs.find(g => pidOf(g) != hotPid && g != coldGs.head).get
      val pruned = bs.read(Some(bs.pidsOf(Seq(Tuple1(carriedG)).toDF("g"))))
      assert(pruned.filter(org.apache.spark.sql.functions.col("g") === carriedG).count() == 2)
      // the hot partition was actually rewritten at the new depth
      val hotNew = bs.read(Some(bs.pidsOf(hotPair.map(Tuple1(_)).toDF("g"))))
      assert(hotNew.filter(org.apache.spark.sql.functions.col("g").isin(hotPair: _*))
        .count() == 40)
    } finally rmrf(dir)
  }

  test("BucketStore append is O(batch): delta files only, base files untouched; empty append advances only the watermark") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("bstoreob")
    try {
      val schema = StructType(Seq(
        StructField("g", IntegerType, nullable = false),
        StructField("id", StringType, nullable = false)))
      val bs = BucketStore.create(spark, s"$dir/b", schema,
        partCols = Seq("g"), keyCols = Seq("g", "id"), numPids = 4)
      bs.append((0 until 100).map(i => (i % 7, s"k$i")).toDF("g", "id"), 1L)
      bs.compact()
      val basePaths = bs.manifest.files.map(_.path).toSet
      bs.append(Seq((1, "new1"), (2, "new2")).toDF("g", "id"), 2L)
      val after = bs.manifest.files
      // every pre-existing base entry carried byte-identically; additions are deltas
      assert(basePaths.subsetOf(after.map(_.path).toSet))
      val deltas = after.filterNot(f => basePaths.contains(f.path))
      assert(deltas.nonEmpty && deltas.forall(_.kind == graft.lake.FileEntry.DELTA))
      assert(deltas.map(_.rows).sum == 2)
      // empty batch: watermark advances, no rows added
      bs.append(Seq.empty[(Int, String)].toDF("g", "id"), 3L)
      assert(bs.watermark == 3L)
      assert(bs.read(None).count() == 102)
    } finally rmrf(dir)
  }
}
