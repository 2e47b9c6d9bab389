package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, ShufflePartitionIdPassThrough}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import graft.merge.CdcMerge

/** Physical-plan-shape assertions for the headline paths — the plans must
  * stay the ones you'd want at 100 TB, not just produce correct rows:
  * filters reach the parquet scan, projections prune the read schema,
  * small joins broadcast, and the merge-on-read apply and the compaction
  * each shuffle once.
  */
class PlanShapeSpec extends SparkSpec {

  private object Aqe extends AdaptiveSparkPlanHelper

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = Queries.all(name)(spark, sfDir)
    df.collect() // AQE: materialize the final plan
    df.queryExecution.executedPlan.toString
  }

  test("filters and projection push into the parquet scan") {
    val plan = planOf("q_scan_filter_project")
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("LessThan(l_shipdate") || plan.contains("GreaterThan(l_discount"),
      s"expected a pushed comparison filter:\n${plan.take(2000)}")
    // ReadSchema must be the 5 referenced columns, not all 16 lineitem columns
    val readSchema = "ReadSchema:.*".r.findFirstIn(plan).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"scan reads unreferenced columns: $readSchema")
  }

  test("fact-dim join broadcasts the small side") {
    val plan = planOf("q_join_inner_agg")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), "small-dim join must not sort-merge")
  }

  /** The physical plan of the one parquet write `apply` runs, as a
    * `QueryExecutionListener` sees it (listener events arrive off-thread).
    */
  private def writePlanOf(apply: => Unit): SparkPlan = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (Aqe.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          seen.put(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      apply
      val plan = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(plan != null, "no write plan reached the listener")
      plan
    } finally spark.listenerManager.unregister(listener)
  }

  /** The partitioning of the apply's exchange, asserting it is the only one. */
  private def routingOf(plan: SparkPlan, shown: String): Partitioning = {
    val exchanges = Aqe.collect(plan) { case e: ShuffleExchangeLike => e }
    assert(exchanges.size == 1, s"expected exactly one exchange, $shown")
    exchanges.head.outputPartitioning
  }

  /** The apply's only exchange is the partition-id pass-through into
    * `parts` partitions, keyed by the column `by`.
    */
  private def assertPassThrough(plan: SparkPlan, parts: Int, by: String, shown: String): Unit =
    routingOf(plan, shown) match {
      case ShufflePartitionIdPassThrough(pid, n) =>
        assert(n == parts, s"expected $parts writer partitions, $shown")
        assert(pid.child.references.map(_.name).toSeq == Seq(by),
          s"expected partition ids from `$by`, $shown")
      case other => fail(s"expected the partition-id pass-through, got $other, $shown")
    }

  /** The apply's only exchange hashes the columns `by` into `parts`
    * partitions.
    */
  private def assertHashed(plan: SparkPlan, parts: Int, by: Seq[String], shown: String): Unit =
    routingOf(plan, shown) match {
      case HashPartitioning(exprs, n) =>
        assert(n == parts, s"expected $parts writer partitions, $shown")
        assert(exprs.flatMap(_.references.map(_.name)) == by, s"expected hashing by $by, $shown")
      case other => fail(s"expected hash partitioning, got $other, $shown")
    }

  test("merge-on-read apply shuffles the raw batch once and dedups after the exchange") {
    val dir = tmpDir("planshape-mor")
    try {
      // 8 buckets in the 4-partition test session: the first batch has no
      // density history, so it is routed at full depth, hashed by bucket
      // over 4 writer tasks; it covers every bucket, so the second is
      // routed at depth 4
      val t = graft.lake.LakeTable.create(spark, s"$dir/t",
        graft.model.Schemas.transcript, numBuckets = 8)
      val ts = new java.sql.Timestamp(1700000000000L)
      // one conversation takes ~60% of the events, so the first batch's
      // per-bucket stats flag its depth-4 bucket as hot for the second batch
      def batch(lsnBase: Long) = spark.range(4000).select(
        lit("U").as("op"), (col("id") + lsnBase).as("lsn"),
        when(col("id") % 10 < 6, "conv-hot")
          .otherwise(concat(lit("conv"), pmod(col("id"), lit(40)))).as("conv_id"),
        pmod(col("id"), lit(1500)).cast("int").as("turn_idx"),
        lit("user").as("role"), lit("x").as("text"),
        lit(null).cast("string").as("tool"), lit(ts).as("ts"))
      val hotBucket = t.bucketOf("conv-hot", 4)
      val touched = ("conv-hot" +: (0 until 40).map(i => s"conv$i")).map(t.bucketOf(_, 8)).toSet
      assert(touched.size * 2 >= 8)
      // unsalted: hashed by bucket into 4 writer partitions; salted: one
      // partition per depth-4 bucket, and the hot bucket's 3 extra salt
      // slots get ids 4..6
      for ((epoch, depth) <- Seq((0L, 8), (1L, 4))) {
        val plan = writePlanOf(CdcMerge.apply(t, batch(epoch * 100000), epoch, saltBuckets = 4))
        val aggs = Aqe.collect(plan) { case a: BaseAggregateExec => a }
        val sorts = Aqe.collect(plan) { case s: SortExec => s }
        val shown = s"epoch $epoch:\n${plan.treeString.take(4000)}"
        if (epoch == 0L) assertHashed(plan, 4, Seq("bucket"), shown)
        else assertPassThrough(plan, 7, "_pid", shown)
        assert(aggs.isEmpty, s"dedup must not aggregate, $shown")
        assert(sorts.size == 1, s"the window's sort must serve the writer, $shown")
        // one file per bucket of the routing depth, the hot one split 4 ways
        val m = t.manifest
        val files = m.files.filter(_.epoch == epoch)
        assert(files.forall(m.fileDepth(_) == depth), s"epoch $epoch: ${files.map(_.writePids)}")
        val perBucket = files.groupBy(_.bucket).view.mapValues(_.size).toMap
        val expected =
          if (epoch == 0L) touched.map(_ -> 1).toMap
          else (0 until 4).map(b => b -> (if (b == hotBucket) 4 else 1)).toMap
        assert(perBucket == expected, s"epoch $epoch: files per depth-$depth bucket $perBucket")
      }
    } finally rmrf(dir)
  }

  test("merge-on-read apply writes one delta file per writer task: 4, not 32, on a 32-bucket table") {
    val dir = tmpDir("planshape-depth")
    try {
      val cfg = graft.gen.WalGen.Config(numEvents = 6000, numConvs = 300)
      val t = graft.lake.LakeTable.create(spark, s"$dir/t",
        graft.model.Schemas.transcript, numBuckets = 32)
      def batch(k: Long) = graft.gen.WalGen.events(spark, cfg, k * 3000, (k + 1) * 3000).toDF()
      // the first batch has no density history: one file per bucket
      CdcMerge.apply(t, batch(0), 0L)
      val first = t.manifest.files
      assert(first.size == 32 && first.forall(_.writePids.isEmpty), first.map(f => (f.bucket, f.writePids)))
      assert(t.manifest.lineage.last.upsertedBuckets == (0 until 32))
      // it covered every bucket, so the next is routed at depth 4
      val plan = writePlanOf(CdcMerge.apply(t, batch(1), 1L))
      assertPassThrough(plan, 4, "bucket", plan.treeString.take(4000))
      val m = t.manifest
      val added = m.files.filter(_.epoch == 1L)
      assert(added.size == 4, s"expected 4 delta files, got ${added.size}")
      assert(added.forall(f => f.kind == graft.lake.FileEntry.DELTA && f.writePids.contains(4)))
      // together they cover every current bucket exactly once
      assert(added.flatMap(m.coveredBuckets).sorted == (0 until 32))
    } finally rmrf(dir)
  }

  test("a sparse batch is routed at full depth, one file per bucket it writes to") {
    val dir = tmpDir("planshape-sparse")
    try {
      val cfg = graft.gen.WalGen.Config(numEvents = 12000, numConvs = 300)
      val t = graft.lake.LakeTable.create(spark, s"$dir/t",
        graft.model.Schemas.transcript, numBuckets = 32)
      def dense(k: Long) = graft.gen.WalGen.events(spark, cfg, k * 3000, (k + 1) * 3000).toDF()
      val ts = new java.sql.Timestamp(1700000000000L)
      // `turns` turns of one conversation, as a local relation (what a SQL
      // MERGE ... USING (VALUES ...) gives): a literal key would be folded
      // out of the window's partition
      def solo(lsn: Long, turns: Int) = spark.createDataFrame(java.util.List.of(
        (0 until turns).map(i => org.apache.spark.sql.Row("U", lsn + i, "conv-solo", i,
          "user", "x", null, ts)): _*), graft.model.Schemas.changeEvent)
      val soloBucket = t.bucketOf("conv-solo", 32)
      def depthsOf(epoch: Long) = {
        val m = t.manifest
        m.files.filter(_.epoch == epoch).map(f => (f.bucket, m.fileDepth(f)))
      }
      CdcMerge.apply(t, dense(0), 0L)
      CdcMerge.apply(t, dense(1), 1L)
      assert(depthsOf(1L).map(_._2).distinct == Seq(4))
      // epoch 2 follows a dense batch, but one row cannot cover half of
      // the buckets: full depth, one file, which marks only its own bucket
      // delta-bearing
      val plan = writePlanOf(CdcMerge.apply(t, solo(100000L, 1), 2L))
      assertHashed(plan, 4, Seq("bucket"), plan.treeString.take(4000))
      assert(depthsOf(2L) == Seq((soloBucket, 32)))
      assert(t.manifest.lineage.last.upsertedBuckets == Seq(soloBucket))
      // epoch 3 follows a batch that wrote to 1 bucket of 32: full depth,
      // though it covers every bucket; epoch 4 follows it at depth 4
      CdcMerge.apply(t, dense(2), 3L)
      assert(depthsOf(3L).map(_._1).sorted == (0 until 32) && depthsOf(3L).forall(_._2 == 32))
      CdcMerge.apply(t, dense(3), 4L)
      assert(depthsOf(4L).map(_._2).distinct == Seq(4))
      // 40 rows of one conversation after a dense batch: the one-batch lag
      // routes them at depth 4, and the lineage records the one bucket
      // they wrote to, so the next such batch is routed at full depth
      val s5 = CdcMerge.apply(t, solo(200000L, 40), 5L)
      assert(s5.affectedBuckets == 1 && depthsOf(5L) == Seq((soloBucket % 4, 4)))
      CdcMerge.apply(t, solo(300000L, 40), 6L)
      assert(depthsOf(6L) == Seq((soloBucket, 32)))
      // epoch 6's one file held all of its rows, so that bucket is hot for
      // epoch 7, still at full depth: its salt joins the bucket in the
      // hash key, over 7 extra writer partitions, and it splits into
      // several full-depth files
      val plan7 = writePlanOf(CdcMerge.apply(t, solo(400000L, 40), 7L))
      val shown7 = plan7.treeString.take(4000)
      assertHashed(plan7, 4 + 7, Seq("bucket", "_salt"), shown7)
      assert(Aqe.collect(plan7) { case s: SortExec => s }.size == 1, shown7)
      assert(depthsOf(7L).size > 1 && depthsOf(7L).forall(_ == (soloBucket, 32)), depthsOf(7L))
      assert(t.snapshot().filter(col("conv_id") === "conv-solo").count() == 40)
    } finally rmrf(dir)
  }

  /** Exchanges in `plan`, counting those inside a cached relation it
    * scans: a persisted input's shuffle still runs once per rewrite.
    */
  private def exchangesIn(plan: SparkPlan): Int = Aqe.collect(plan) {
    case _: ShuffleExchangeLike => 1
    case m: InMemoryTableScanExec => exchangesIn(m.relation.cachedPlan)
  }.sum

  test("compaction shuffles once and sorts once") {
    val dir = tmpDir("planshape-compact")
    try {
      val cfg = graft.gen.WalGen.Config(numEvents = 6000, numConvs = 60)
      def events(from: Long, to: Long) = graft.gen.WalGen.events(spark, cfg, from, to).toDF()
      def assertShape(what: String, plan: SparkPlan, sorts: Int): Unit = {
        val shown = s"$what:\n${plan.treeString.take(4000)}"
        assert(exchangesIn(plan) == 1, s"expected exactly one exchange, $shown")
        assert(Aqe.collect(plan) { case s: SortExec => s }.size == sorts,
          s"expected $sorts sort(s), $shown")
      }
      // two delta epochs on every bucket
      val t = graft.lake.LakeTable.create(spark, s"$dir/t",
        graft.model.Schemas.transcript, numBuckets = 4)
      CdcMerge.apply(t, events(0, 3000), 0L)
      CdcMerge.apply(t, events(3000, 6000), 1L)
      assertShape("two delta epochs", writePlanOf(
        assert(graft.merge.Compactor.compact(t, (0 until 4).toSet).isDefined)), sorts = 1)
      // pre-split bases: bucket 0's base at depth 2 also covers bucket 2
      val r = graft.lake.LakeTable.create(spark, s"$dir/r",
        graft.model.Schemas.transcript, numBuckets = 2)
      CdcMerge.apply(r, events(0, 3000), 0L)
      graft.merge.Compactor.compact(r, Set(0, 1))
      r.rebucket(2)
      CdcMerge.apply(r, events(3000, 6000), 1L)
      assertShape("REBUCKET with pre-split bases", writePlanOf(
        assert(graft.merge.Compactor.compact(r, Set(0)).isDefined)), sorts = 1)
      // a ZORDER layout keeps its own sort, after the same exchange
      val zplan = writePlanOf(assert(graft.merge.Compactor.zorder(t, Seq("ts")).isDefined))
      assert(exchangesIn(zplan) == 1, s"ZORDER:\n${zplan.treeString.take(4000)}")
    } finally rmrf(dir)
  }

  test("snapshot of an all-BASE table has no shuffle at all") {
    val dir = tmpDir("planshape")
    try {
      val cfg = graft.gen.WalGen.Config(numEvents = 2000, numConvs = 30)
      val t = graft.lake.LakeTable.create(spark, s"$dir/t",
        graft.model.Schemas.transcript, numBuckets = 2)
      CdcMerge.apply(t, graft.gen.WalGen.events(spark, cfg, 0, 2000).toDF(), 0L)
      graft.merge.Compactor.compact(t, Set(0, 1))
      val df = t.snapshot()
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"clean-table read must be shuffle-free:\n$plan")
      assert(!plan.contains("Window"), "clean-table read must not window")
    } finally rmrf(dir)
  }

  test("dedup/ANN scale paths plan as equi-joins — no quadratic leg") {
    // Encodes BENCH's "no quadratic leg" claim as a regression test: the
    // production (bench-twin) form of every dedup/ANN operator must not
    // plan a CartesianProduct or BroadcastNestedLoopJoin anywhere.
    // Intentionally-quadratic forms are excluded: q_neardup_exact_pairs
    // (bounded oracle baseline) and q_ann_brute_force (the exact baseline
    // broadcast crossJoin).
    val sfDir = "/root/testdata/sf0.001"
    val scalePaths = Seq("q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_simhash",
      "q_dedup_ngram_jaccard", "q_dedup_drop_neardup", "q_dedup_embedding_cosine",
      "q_ann_lsh", "q_ann_ivf")
    val reg = graft.Queries.allForBench
    scalePaths.foreach { name =>
      val plan = reg(name)(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n${plan.take(2000)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a BroadcastNestedLoopJoin:\n${plan.take(2000)}")
    }
  }

  test("incremental dedup refresh re-shingles only the batch: store side scans stored signatures") {
    import spark.implicits._
    val dir = tmpDir("planshape-dedup")
    try {
      val docs = (0 until 200).map(i => (s"d$i", s"document number $i sharing lots of words with neighbors"))
      val store = graft.ops.LakeDedupStore.create(spark, s"$dir/s", 8, 4, numPids = 8)
      store.refresh(docs.toDF("key", "text"), Seq.empty[String].toDF("key"), 1L)
      val batch = Seq(("n1", "a brand new arrival"), ("n2", "a brand new arrival"))
      val pairs = store.planRefresh(batch.toDF("key", "text"),
        Seq.empty[String].toDF("key"), 0.7).pairs
      val plan = pairs.queryExecution.executedPlan.toString
      // the stored side enters as a parquet scan of persisted signatures,
      // NOT as a re-computation of the text pipeline; the signature
      // expression appears only for the 2-doc batch side
      assert(plan.contains("Scan parquet") && plan.contains("sig:array<bigint>"),
        s"store side is not a scan of stored signatures:\n${plan.take(2000)}")
      val shingleOps = "minhash_signature|regexp_extract_all|sentences\\(".r
        .findAllIn(plan).size
      // one signature pipeline (the batch side of the candidate join may be
      // referenced from a reused exchange/subplan, so allow plan-node reuse,
      // but a store-side recompute would roughly double the count vs the
      // batch-only baseline)
      val batchOnlyPlan = graft.ops.IncrementalDedup.signatureOf(
        batch.toDF("key", "text"), "text", "key", 8, 4)
        .queryExecution.executedPlan.toString
      val baseline = "minhash_signature|regexp_extract_all|sentences\\(".r
        .findAllIn(batchOnlyPlan).size
      assert(shingleOps <= baseline * 2,
        s"refresh plan computes signatures $shingleOps times (batch-only baseline $baseline):\n${plan.take(3000)}")
      // and no quadratic leg, same contract as the batch operators
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    } finally rmrf(dir)
  }

  test("window fills plan running frames only — no unbounded-FOLLOWING scan") {
    // Spark's UnboundedFollowingWindowFunctionFrame re-scans from the
    // current row to the partition end for EVERY row — O(p²) per
    // partition. bfill and interpolate's next-observation leg must plan
    // as running frames over descending time instead (round-6 finding #5).
    import spark.implicits._
    val df = Seq((1L, 1L, Some(1.0)), (1L, 2L, None), (1L, 3L, Some(3.0)))
      .toDF("ent", "t", "v")
    for ((name, out) <- Seq(
        "bfill" -> graft.ops.TimeOps.bfill(df, Seq("ent"), "t", "v"),
        "interpolate" -> graft.ops.TimeOps.interpolate(df, Seq("ent"), "t", "v"))) {
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("unboundedfollowing"),
        s"$name plans an unbounded-following frame:\n${plan.take(3000)}")
    }
    // value golden for the rewritten legs: interior gap interpolated,
    // bfill takes the next observation
    val interp = graft.ops.TimeOps.interpolate(df, Seq("ent"), "t", "v")
      .orderBy("t").collect().map(_.getDouble(2))
    assert(interp.toSeq == Seq(1.0, 2.0, 3.0))
    val bf = graft.ops.TimeOps.bfill(df, Seq("ent"), "t", "v")
      .orderBy("t").collect().map(_.getDouble(2))
    assert(bf.toSeq == Seq(1.0, 3.0, 3.0))
  }

  test("shingles evaluate the tokenize per ROW, not per gram element") {
    // The gram builder must be the zip_with chain (one split per slice),
    // not a transform lambda indexing a captured token array — a captured
    // non-attribute subtree re-evaluates PER ELEMENT (round-6 finding #3).
    // parquet-backed input: a local literal relation would be constant-
    // folded into a LocalTableScan and show no expressions at all
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val plan = df.select(graft.ops.TextOps.shingles(col("text"), 3).as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("zip_with"), s"expected zip_with gram chain:\n${plan.take(2000)}")
    assert(!plan.contains("element_at"),
      s"gram lambda still indexes a captured token array:\n${plan.take(2000)}")
    // staged forms keep their materializing projections (CollapseProject
    // must not re-inline the multiply-referenced arrays)
    val rep = graft.ops.QualityOps.repetitionSignals(df, "doc_id", "text", 2, " ")
      .queryExecution.executedPlan.toString
    assert(rep.contains("__ls") && rep.contains("__gr"),
      s"repetitionSignals lost its staged array columns:\n${rep.take(3000)}")
    val chunks = graft.ops.ChunkOps.chunkByTokens(df, "doc_id", "text", 2, 0)
      .queryExecution.executedPlan.toString
    assert(chunks.contains("__toks"),
      s"chunkByTokens lost its staged token column:\n${chunks.take(3000)}")
  }
}
