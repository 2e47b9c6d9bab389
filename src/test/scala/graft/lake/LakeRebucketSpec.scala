package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.WalGen
import graft.merge.{CdcMerge, Compactor}
import graft.model.Schemas
import graft.sql.LakeCatalog

/** REBUCKET — lazy extendible-hash growth of the lake table's bucket
  * space: the metadata-only commit, coverage-closed reads/merges/
  * compactions across mixed write depths, point-lookup pruning, SQL
  * surface, and the streaming auto-grow knob.
  */
class LakeRebucketSpec extends graft.SparkSpec {
  import spark.implicits._

  private val TS = new java.sql.Timestamp(1700000000000L)

  /** A CDC batch: (op, lsn, conv_id, turn_idx, text). */
  private def batch(rows: (String, Long, String, Int, String)*): DataFrame =
    rows.map { case (op, lsn, c, t, txt) => (op, lsn, c, t, "user", txt, null: String, TS) }
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")

  private def state(table: LakeTable): Map[(String, Int), String] =
    table.snapshot().select("conv_id", "turn_idx", "text").collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getString(2))).toMap

  private def oracleCheck(table: LakeTable, cfg: WalGen.Config): Unit = {
    val oracle = WalGen.oracleState(cfg)
    val got = state(table)
    assert(got.size == oracle.size, s"rows: got ${got.size}, oracle ${oracle.size}")
    oracle.foreach { case (k, e) => assert(got(k) == e.text, s"text mismatch at $k") }
  }

  test("rebucket is metadata-only: state identical, files depth-stamped, lineage records it") {
    val dir = tmpDir("rb-meta")
    val cfg = WalGen.Config(numEvents = 6000, numConvs = 60)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      (0 until 3).foreach(b => CdcMerge.apply(table,
        WalGen.events(spark, cfg, b * 2000L, (b + 1) * 2000L).toDF(), b.toLong))
      Compactor.compactIfNeeded(table, deltaThreshold = 2) // mix of base + delta files
      val before = state(table)
      val paths = table.manifest.files.map(_.path).toSet
      val v0 = table.currentVersion

      assert(table.rebucket(2) == 8)
      val m = table.manifest
      assert(m.numBuckets == 8)
      assert(m.version == v0 + 1)
      assert(m.files.map(_.path).toSet == paths, "no data file may change")
      assert(m.files.forall(_.writePids.contains(4)), "every file stamped with its write depth")
      assert(m.lineage.last.op == "rebucket")
      assert(state(table) == before, "snapshot must be identical after rebucket")
      oracleCheck(table, cfg)

      // factor must be >= 2
      intercept[IllegalArgumentException](table.rebucket(1))
    } finally rmrf(dir)
  }

  test("writes after rebucket route at the new depth; mixed-depth MOR resolves exactly") {
    val dir = tmpDir("rb-mor")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      val convs = (0 until 20).map(i => s"conv-$i")
      CdcMerge.apply(table, batch(convs.map(c => ("I", 1L, c, 0, s"v1-$c")): _*), 0L)
      Compactor.compact(table, table.manifest.files.map(_.bucket).toSet) // all base
      table.rebucket(4) // 2 -> 8 buckets in one step (integer factor, not just doubling)
      assert(table.manifest.numBuckets == 8)

      // updates + a delete + a fresh insert, all routed at the NEW depth
      CdcMerge.apply(table, batch(
        ("U", 10L, "conv-3", 0, "v2-conv-3"),
        ("D", 11L, "conv-7", 0, ""),
        ("I", 12L, "conv-99", 0, "v1-conv-99")), 1L)
      // routed in the NEW space at its full depth of 8: the batch before
      // wrote to 2 buckets, which reads as sparse against 8, and each delta
      // holds exactly the conversations of its depth-8 bucket
      val newDeltas = table.manifest.files.filter(_.kind == FileEntry.DELTA)
      assert(newDeltas.nonEmpty && newDeltas.forall(_.writePids.isEmpty),
        s"post-rebucket deltas are current-depth files, got ${newDeltas.map(_.writePids)}")
      newDeltas.foreach { f =>
        val held = spark.read.parquet(table.root.resolve(f.path).toString)
          .select("conv_id").distinct().collect().map(_.getString(0))
        assert(held.nonEmpty && held.forall(table.bucketOf(_, 8) == f.bucket),
          s"${f.path} (depth-8 bucket ${f.bucket}) holds ${held.mkString(",")}")
      }

      val got = state(table)
      assert(got(("conv-3", 0)) == "v2-conv-3", "new-depth delta must shadow old-depth base")
      assert(!got.contains(("conv-7", 0)), "tombstone must delete across depths")
      assert(got(("conv-99", 0)) == "v1-conv-99")
      assert(got.size == 20) // 20 - 1 deleted + 1 inserted
      // no duplicate winners: exactly one row per surviving key
      val dups = table.snapshot().groupBy("conv_id", "turn_idx").count()
        .filter(col("count") > 1).count()
      assert(dups == 0, "a key must never resolve to two rows across depths")

      // a STALE update (lower LSN than the base row's) must lose
      CdcMerge.apply(table, batch(("U", 0L, "conv-5", 0, "stale")), 2L)
      assert(state(table)(("conv-5", 0)) == "v1-conv-5")
    } finally rmrf(dir)
  }

  test("compaction closes over old-depth coverage and migrates files to the new depth") {
    val dir = tmpDir("rb-compact")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      val convs = (0 until 40).map(i => s"conv-$i")
      CdcMerge.apply(table, batch(convs.map(c => ("I", 1L, c, 0, s"v1-$c")): _*), 0L)
      Compactor.compact(table, table.manifest.files.map(_.bucket).toSet)
      table.rebucket(2) // -> 4, old bases at depth 2
      CdcMerge.apply(table, batch(("U", 10L, "conv-3", 0, "v2-conv-3")), 1L)
      val before = state(table)

      // compacting the delta's bucket must pull in the old-depth base file
      // (shared coverage) and report the whole closed component
      val deltaBucket = table.manifest.files.find(_.kind == FileEntry.DELTA).get.bucket
      val r = Compactor.compact(table, Set(deltaBucket)).get
      val m = table.manifest
      assert(r.compactedBuckets.size >= 2,
        s"closure must widen to the old file's sibling buckets, got ${r.compactedBuckets}")
      assert(m.files.forall(_.kind == FileEntry.BASE) || m.files.exists(_.writePids.isEmpty))
      // the rewritten region is at the current depth now
      val rewritten = m.files.filter(f => r.compactedBuckets.contains(f.bucket) && f.writePids.isEmpty)
      assert(rewritten.nonEmpty, "compaction output must be current-depth files")
      assert(state(table) == before, "compaction must not change the resolved state")

      // a second compaction pass over everything leaves only current-depth bases
      Compactor.compact(table, (0 until m.numBuckets).toSet)
      assert(table.manifest.files.forall(f =>
        f.kind == FileEntry.BASE && f.writePids.isEmpty))
      assert(state(table) == before)
    } finally rmrf(dir)
  }

  test("compaction is due per current bucket across write depths") {
    val dir = tmpDir("rb-due")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      val convs = (0 until 24).map(i => s"conv-$i")
      // epoch 0: depth-2 deltas, stamped by the rebucket to 4
      CdcMerge.apply(table, batch(convs.map(c => ("I", 1L, c, 0, s"v1-$c")): _*), 0L)
      table.rebucket(2)
      // epoch 1: one conversation of current bucket 3, at depth 4
      val c3 = convs.find(table.bucketOf(_, 4) == 3).get
      CdcMerge.apply(table, batch(("U", 10L, c3, 0, s"v2-$c3")), 1L)
      val m = table.manifest
      // the depth-2 delta of bucket 1 and the depth-4 delta of bucket 3
      // both cover bucket 3: two epochs there, one everywhere else
      assert(m.files.exists(f => f.epoch == 0L && f.bucket == 1 && f.writePids.contains(2)))
      assert(m.files.exists(f => f.epoch == 1L && f.bucket == 3 && m.fileDepth(f) == 4))
      assert(Compactor.dueBuckets(table, 2) == Seq(3))
      assert(Compactor.dueBuckets(table, 1) == (0 until 4))
      val before = state(table)
      val r = Compactor.compactIfNeeded(table, deltaThreshold = 2).get
      assert(r.compactedBuckets.contains(3))
      assert(Compactor.dueBuckets(table, 2).isEmpty)
      assert(state(table) == before)
      assert(before((c3, 0)) == s"v2-$c3")
    } finally rmrf(dir)
  }

  test("point-lookup pruning is coverage-aware: filesForConversation finds every holder") {
    val dir = tmpDir("rb-point")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      val convs = (0 until 24).map(i => s"conv-$i")
      CdcMerge.apply(table, batch(convs.map(c => ("I", 1L, c, 0, s"v1-$c")): _*), 0L)
      Compactor.compact(table, table.manifest.files.map(_.bucket).toSet)
      table.rebucket(4) // -> 8
      CdcMerge.apply(table, batch(("U", 10L, "conv-3", 0, "v2-conv-3")), 1L)

      // ground truth: which files actually hold each conversation
      val m = table.manifest
      val holders: Map[String, Set[String]] = m.files.flatMap { f =>
        spark.read.parquet(table.root.resolve(f.path).toString)
          .select("conv_id").distinct().collect().map(_.getString(0) -> f.path)
      }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

      convs.foreach { c =>
        val pruned = table.filesForConversation(c).map(_.path).toSet
        assert(holders(c).subsetOf(pruned),
          s"$c: pruning must never drop a holder (held=${holders(c)}, pruned=$pruned)")
      }
      // and it still prunes: no conversation needs every file
      assert(convs.exists(c => table.filesForConversation(c).size < m.files.size))
    } finally rmrf(dir)
  }

  test("snapshotWhere skipping stays exact across mixed depths") {
    val dir = tmpDir("rb-skip")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      val convs = (0 until 30).map(i => s"conv-$i")
      CdcMerge.apply(table, batch(convs.map(c => ("I", 1L, c, 0, s"v1-$c")): _*), 0L)
      Compactor.compact(table, table.manifest.files.map(_.bucket).toSet)
      table.rebucket(2)
      // delta shadows an old-depth base row with text the filter EXCLUDES:
      // skipping must not resurrect the masked base row
      CdcMerge.apply(table, batch(("U", 10L, "conv-3", 0, "masked")), 1L)
      val filt = col("text").startsWith("v1-")
      val expect = table.snapshot().filter(filt).collect().toSet
      val gotRows = table.snapshotWhere(filt).collect().toSet
      assert(gotRows == expect)
      assert(!gotRows.exists(_.getString(0) == "conv-3"),
        "masked old-depth base row must not leak through skipping")
    } finally rmrf(dir)
  }

  test("SQL: OPTIMIZE t REBUCKET TO n / FACTOR k; non-multiple target rejected") {
    val dir = tmpDir("rb-sql")
    spark.sparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val table = LakeTable.create(s2, s"$dir/t", Schemas.transcript, numBuckets = 4)
      LakeCatalog.register("lake_rb", s"$dir/t")
      CdcMerge.apply(table, batch(("I", 1L, "c1", 0, "t1")), 0L)

      val r = s2.sql("OPTIMIZE lake_rb REBUCKET TO 8").collect()
      assert(r.head.getInt(0) == 8)
      assert(table.manifest.numBuckets == 8)
      val r2 = s2.sql("OPTIMIZE lake_rb REBUCKET FACTOR 2").collect()
      assert(r2.head.getInt(0) == 16)
      val e = intercept[IllegalArgumentException](s2.sql("OPTIMIZE lake_rb REBUCKET TO 24"))
      assert(e.getMessage.contains("multiple"))
      assert(state(table)(("c1", 0)) == "t1")

      // DESCRIBE DETAIL surfaces the mid-migration state: grown bucket
      // space, files still at their original write depth
      val det = s2.sql("DESCRIBE DETAIL lake_rb").collect().head
      assert(det.getAs[Int]("num_buckets") == 16)
      assert(det.getAs[String]("write_depths") == "4")
      assert(det.getAs[Int]("num_files") >= 1)
      assert(det.getAs[Long]("total_rows") == 1L)
      assert(det.getAs[Long]("size_bytes") > 0L)
      // an unregistered name delegates: `DESC detail price` is Spark's own
      // column describe over a table literally named detail
      s2.sql("SELECT 1 AS price").createOrReplaceTempView("detail")
      assert(s2.sql("DESC detail price").collect().nonEmpty)
      s2.catalog.dropTempView("detail")
    } finally {
      LakeCatalog.unregister("lake_rb")
      rmrf(dir)
    }
  }

  test("concurrent REBUCKET races: MOR merge and async compactor stamp their output") {
    val dir = tmpDir("rb-race")
    try {
      // --- MOR merge loses the CAS to a rebucket: its deltas were routed
      // at the old depth and must commit stamped so coverage reads them
      val t1 = LakeTable.create(spark, s"$dir/t1", Schemas.transcript, numBuckets = 2)
      CdcMerge.apply(t1, batch(("I", 1L, "conv-a", 0, "v1-a"), ("I", 1L, "conv-b", 0, "v1-b")), 0L)
      val st1 = CdcMerge.apply(t1, batch(("U", 10L, "conv-a", 0, "v2-a")), 1L,
        preCommit = () => { t1.rebucket(2); () })
      assert(st1.applied)
      val m1 = t1.manifest
      assert(m1.numBuckets == 4)
      val epoch2Deltas = m1.files.filter(f => f.epoch == st1.effEpoch)
      assert(epoch2Deltas.nonEmpty && epoch2Deltas.forall(_.writePids.contains(2)),
        s"rebased deltas must carry their write depth, got ${epoch2Deltas.map(_.writePids)}")
      assert(state(t1)(("conv-a", 0)) == "v2-a")
      assert(state(t1)(("conv-b", 0)) == "v1-b")

      // --- concurrent compactor: pinned at depth 2, rebucket commits
      // mid-flight — the rebase stamps its output and the fold is exact
      val t2 = LakeTable.create(spark, s"$dir/t2", Schemas.transcript, numBuckets = 2)
      CdcMerge.apply(t2, batch((0 until 16).map(i => ("I", 1L, s"conv-$i", 0, s"v1-$i")): _*), 0L)
      CdcMerge.apply(t2, batch(("U", 10L, "conv-3", 0, "v2-3")), 1L)
      val before2 = state(t2)
      val r = Compactor.compact(t2, t2.manifest.files.map(_.bucket).toSet,
        preCommit = () => { t2.rebucket(2); () })
      assert(r.isDefined, "compactor must rebase over a rebucket, not abandon")
      val m2 = t2.manifest
      assert(m2.numBuckets == 4)
      val folded = m2.files.filter(_.kind == FileEntry.BASE)
      assert(folded.nonEmpty && folded.forall(_.writePids.contains(2)),
        s"rebased compaction output must carry the pin's depth, got ${folded.map(_.writePids)}")
      assert(state(t2) == before2)
      // a later compaction migrates to the current depth
      Compactor.compact(t2, (0 until 4).toSet)
      assert(t2.manifest.files.forall(_.writePids.isEmpty))
      assert(state(t2) == before2)
    } finally rmrf(dir)
  }

  test("restore across a rebucket restores the bucket space with the file set") {
    val dir = tmpDir("rb-restore")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      val convs = (0 until 24).map(i => s"conv-$i")
      CdcMerge.apply(table, batch(convs.map(c => ("I", 1L, c, 0, s"v1-$c")): _*), 0L)
      Compactor.compactIfNeeded(table, deltaThreshold = 1) // unstamped depth-4 bases
      val vPre = table.currentVersion
      val preState = state(table)

      table.rebucket(2) // -> 8
      CdcMerge.apply(table, batch(("U", 10L, "conv-3", 0, "v2-conv-3")), 1L)
      assert(state(table)(("conv-3", 0)) == "v2-conv-3")

      // restore to the pre-rebucket version: the bucket space must travel
      // with the file set — keeping 8 buckets would misread every
      // unstamped depth-4 file (missed point lookups, broken closures)
      table.restoreTo(vPre)
      val m = table.manifest
      assert(m.numBuckets == 4, s"restore must restore src numBuckets, got ${m.numBuckets}")
      assert(state(table) == preState)
      convs.foreach { c =>
        assert(table.filesForConversation(c).nonEmpty,
          s"$c: point lookup lost its file after restore")
      }
      // post-restore writes and a fresh rebucket still behave
      CdcMerge.apply(table, batch(("U", 20L, "conv-5", 0, "v3-conv-5")), 2L)
      table.rebucket(2)
      assert(state(table)(("conv-5", 0)) == "v3-conv-5")
      assert(state(table)(("conv-3", 0)) == "v1-conv-3") // the restored-away update stays away
    } finally rmrf(dir)
  }

  test("plan shape: after a rebucket only the dirty coverage component pays the resolve window") {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scannedFiles(p: LogicalPlan): Seq[String] = p.collectLeaves().flatMap {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.inputFiles.toSeq
        case _ => Nil
      }
      case _ => Nil
    }
    val dir = tmpDir("rb-plan")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      val convs = (0 until 40).map(i => s"conv-$i")
      CdcMerge.apply(table, batch(convs.map(c => ("I", 1L, c, 0, s"v1-$c")): _*), 0L)
      Compactor.compact(table, (0 until 4).toSet) // one base file per old bucket
      table.rebucket(2) // -> 8; bases stamped at depth 4
      CdcMerge.apply(table, batch(("U", 10L, "conv-7", 0, "v2-conv-7")), 1L)
      val m = table.manifest
      val delta = m.files.find(_.kind == FileEntry.DELTA).get
      // the dirty component = the delta + exactly the ONE depth-4 base
      // covering its bucket; the other three bases must stream outside
      // the window (shuffle-free)
      val coveringBase = m.files.filter(f =>
        f.kind == FileEntry.BASE && m.covers(f, delta.bucket)).map(_.path)
      assert(coveringBase.size == 1)
      val plan = table.snapshotPhysical(None).queryExecution.optimizedPlan
      val windows = plan.collect { case w: LWindow => w }
      assert(windows.size == 1, s"expected one resolve window, got ${windows.size}")
      val windowed = scannedFiles(windows.head)
      val all = scannedFiles(plan)
      val wantDirty = Set(delta.path, coveringBase.head).map(p => s"$dir/t/$p")
      assert(windowed.map(f => f.stripPrefix("file:")).toSet == wantDirty,
        s"window must read exactly the dirty coverage component: got ${windowed.mkString(",")}")
      assert(all.size == m.files.size && all.size > windowed.size,
        "clean old-depth bases must be read OUTSIDE the window")
    } finally rmrf(dir)
  }

  test("randomized interleaving of merges, rebuckets, and compactions matches a shadow oracle") {
    val dir = tmpDir("rb-prop")
    try {
      val rnd = new scala.util.Random(20260818L)
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      val shadow = scala.collection.mutable.Map.empty[(String, Int), (Long, String)]
      var lsn = 0L
      var epoch = 0L
      val keys = for (c <- 0 until 30; t <- 0 until 2) yield (s"conv-$c", t)

      (0 until 40).foreach { step =>
        rnd.nextInt(10) match {
          case r if r <= 5 => // a CDC batch of random upserts/deletes
            val rows = (0 until (1 + rnd.nextInt(8))).map { _ =>
              val (c, t) = keys(rnd.nextInt(keys.size))
              lsn += 1
              if (rnd.nextInt(5) == 0) { shadow.remove((c, t)); ("D", lsn, c, t, "") }
              else { shadow((c, t)) = (lsn, s"v$lsn"); ("U", lsn, c, t, s"v$lsn") }
            }
            CdcMerge.apply(table, batch(rows: _*), epoch); epoch += 1
          case 6 | 7 => // compact a random subset of current buckets
            val n = table.manifest.numBuckets
            val bs = (0 until n).filter(_ => rnd.nextBoolean()).toSet
            if (bs.nonEmpty) Compactor.compact(table, bs)
          case 8 => // grow the space by a random integer factor
            if (table.manifest.numBuckets <= 64) table.rebucket(2 + rnd.nextInt(2))
          case 9 => // concurrent-form compactor over everything
            val files = table.manifest.files
            if (files.nonEmpty) Compactor.compact(table, files.map(_.bucket).toSet)
        }
        if (step % 8 == 7) { // periodic full equality check
          val got = state(table)
          val want = shadow.map { case (k, (_, v)) => k -> v }.toMap
          assert(got == want, s"divergence at step $step: " +
            s"missing=${(want.keySet -- got.keySet).take(5)} extra=${(got.keySet -- want.keySet).take(5)}")
        }
      }
      val got = state(table)
      assert(got == shadow.map { case (k, (_, v)) => k -> v }.toMap)
      assert(table.manifest.numBuckets > 2, "the run should have rebucketed at least once")
    } finally rmrf(dir)
  }

  test("changesBetween spans a rebucket commit; stream auto-rebucket converges to the oracle") {
    val dir = tmpDir("rb-stream")
    val cfg = WalGen.Config(numEvents = 8000, numConvs = 50)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      WalGen.writeWal(spark, s"$dir/wal", cfg, numChunks = 8)
      // tiny bound: the stream must outgrow 2 buckets almost immediately
      val q = graft.stream.CdcStream.start(spark, s"$dir/wal", table, s"$dir/cp",
        maxFilesPerTrigger = 2, maxRowsPerBucket = 500L)
      q.awaitTermination()
      graft.stream.CdcStream.awaitMaintenance()
      assert(table.manifest.numBuckets > 2,
        s"auto-rebucket must have grown the bucket space, still at ${table.manifest.numBuckets}")
      oracleCheck(table, cfg)
      assert(table.manifest.lineage.exists(_.op == "rebucket"))

      // the changelog spans the rebucket commit (rebucket adds no rows,
      // so the feed equals the raw deduped deltas)
      val changes = table.changesBetween(0L, table.currentVersion)
      assert(changes.count() > 0)
      val latest = changes.groupBy("conv_id", "turn_idx")
        .agg(max_by(col("text"), col(Schemas.LSN_COL)).as("text"),
          max_by(col(Schemas.DELETED_COL), col(Schemas.LSN_COL)).as("del"))
        .filter(!col("del"))
        .collect().map(r => ((r.getString(0), r.getInt(1)), r.getString(2))).toMap
      val oracle = WalGen.oracleState(cfg)
      assert(latest.size == oracle.size)
      oracle.foreach { case (k, e) => assert(latest(k) == e.text, s"changelog mismatch at $k") }
    } finally rmrf(dir)
  }
}
