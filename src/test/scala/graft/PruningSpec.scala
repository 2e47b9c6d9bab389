package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.gen.WalGen
import graft.lake.{FileEntry, LakeTable}
import graft.merge.{CdcMerge, Compactor}
import graft.model.Schemas

/** File-level key-range pruning: manifest (minKey, maxKey) from footer
  * stats + key-sorted compaction → single-conversation reads touch a
  * strict subset of the bucket's files.
  */
class PruningSpec extends SparkSpec {
  import spark.implicits._

  private val TS = new java.sql.Timestamp(1700000000000L)

  /** A CDC batch: (op, lsn, conv_id, turn_idx, text). */
  private def batch(rows: (String, Long, String, Int, String)*): DataFrame =
    rows.map { case (op, lsn, c, t, txt) => (op, lsn, c, t, "user", txt, null: String, TS) }
      .toDF("op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** Jobs this thread starts while `f` runs (a job group tags them, so
    * jobs of other threads do not count). Listener events arrive in order,
    * so a marker job run after `f` flushes every job `f` started.
    */
  private def jobsDuring(f: => Unit): Int = {
    val group = s"jobsDuring-${java.util.UUID.randomUUID}"
    val marker = "jobsDuring-marker"
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties)
        .filter(_.getProperty("spark.jobGroup.id") == group)
        .foreach(p => starts.put(String.valueOf(p.getProperty("spark.job.description"))))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "")
    try {
      f
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      var n = 0
      var d = starts.poll(60, TimeUnit.SECONDS)
      while (d != null && d != marker) { n += 1; d = starts.poll(60, TimeUnit.SECONDS) }
      assert(d == marker, "the marker job's start never reached the listener")
      n
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  /** A row's values with their JVM classes: `Row ==` alone equates 1 and 1L. */
  private def typed(r: Row): Seq[Any] =
    r.toSeq.map(v => if (v == null) null else (v, v.getClass.getName))

  test("readConversation prunes to few files and matches the oracle") {
    val dir = tmpDir("prune")
    val cfg = WalGen.Config(numEvents = 20000, numConvs = 400, maxTurns = 20)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      (0 until 4).foreach { b =>
        CdcMerge.apply(table, WalGen.events(spark, cfg, b * 5000L, (b + 1) * 5000L).toDF(), b.toLong)
      }
      // small maxRecordsPerFile → several key-sorted base files per bucket
      Compactor.compact(table, Set(0, 1), maxRecordsPerFile = 500L)
      val m = table.manifest
      assert(m.files.forall(_.kind == FileEntry.BASE))
      assert(m.files.forall(f => f.minKey.isDefined && f.maxKey.isDefined))
      val oracle = WalGen.oracleState(cfg)
      val convId = oracle.keys.head._1
      val bucketFiles = m.files.count(_.bucket == table.bucketOf(convId, m.numBuckets))
      val pruned = table.filesForConversation(convId)
      assert(bucketFiles > 2, s"need multiple files per bucket for the test: $bucketFiles")
      assert(pruned.size < bucketFiles,
        s"no pruning: ${pruned.size} of $bucketFiles bucket files")
      // and the pruned read is correct
      val expect = oracle.collect { case ((c, t), e) if c == convId => t -> e.text }.toMap
      val got = table.readConversation(convId).collect()
        .map(r => r.getInt(1) -> r.getString(3)).toMap
      assert(got == expect)
      // unknown conversation: empty, no error
      assert(table.readConversation("conv-does-not-exist").count() == 0)
    } finally rmrf(dir)
  }

  test("per-bucket merge-on-read: one delta file does not shuffle clean buckets") {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scannedFiles(p: LogicalPlan): Seq[String] = p.collectLeaves().flatMap {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.inputFiles.toSeq
        case _ => Nil
      }
      case _ => Nil
    }
    val dir = tmpDir("mor")
    val cfg = WalGen.Config(numEvents = 8000, numConvs = 200, maxTurns = 20)
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 4)
      CdcMerge.apply(table, WalGen.events(spark, cfg, 0, 8000).toDF(), 0L)
      Compactor.compact(table, Set(0, 1, 2, 3)) // all buckets now BASE-only
      // one more tiny batch touching a single conversation → delta in ONE bucket
      val ev = WalGen.events(spark, cfg, 0, 200).toDF()
      val cid = ev.select("conv_id").first().getString(0)
      CdcMerge.apply(table, ev.filter(col("conv_id") === cid), 1L)
      val m = table.manifest
      val dirtyBuckets = m.files.filter(_.kind == FileEntry.DELTA).map(_.bucket).toSet
      assert(dirtyBuckets.size == 1, s"expected one dirty bucket, got $dirtyBuckets")
      val df = table.snapshotPhysical(None)
      val plan = df.queryExecution.optimizedPlan
      val windows = plan.collect { case w: LWindow => w }
      assert(windows.size == 1, s"expected exactly one max-LSN window, got ${windows.size}")
      val windowed = scannedFiles(windows.head)
      val all = scannedFiles(plan)
      val dirty = dirtyBuckets.head
      assert(windowed.nonEmpty && windowed.forall(_.contains(s"bucket=$dirty")),
        s"window must only read the dirty bucket; read: ${windowed.mkString(",")}")
      assert(all.size > windowed.size, "clean buckets must be read OUTSIDE the window")
      // and the per-bucket split is still correct
      val dupKeys = table.snapshot().groupBy("conv_id", "turn_idx")
        .count().filter(col("count") > 1).count()
      assert(dupKeys == 0)
      assert(table.snapshot().count() > 0)
    } finally rmrf(dir)
  }

  test("point lookup: the driver-local read equals the snapshot for every key and runs no job") {
    val dir = tmpDir("point")
    val cfg = WalGen.Config(numEvents = 3000, numConvs = 48, maxTurns = 12)
    def events(from: Long, until: Long) = WalGen.events(spark, cfg, from, until).toDF()
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      // base files, then REBUCKET 2 -> 4: each pre-split base file covers two buckets
      CdcMerge.apply(table, events(0, 1200), 0L)
      Compactor.compact(table, Set(0, 1))
      table.rebucket(2)
      // three delta layers over the shared coverage; WalGen's deletes leave tombstones
      Seq((1200L, 1700L), (1700L, 2200L), (2200L, 2600L)).zipWithIndex.foreach {
        case ((a, b), i) => CdcMerge.apply(table, events(a, b), i + 1L)
      }
      // equal-LSN ties split across commits: update vs update (the payload
      // hash decides) and delete vs update (the non-delete wins)
      CdcMerge.apply(table, batch(("U", 9000000L, "conv00000001", 30, "tie-a"),
        ("D", 9000001L, "conv00000002", 30, null)), 4L)
      CdcMerge.apply(table, batch(("U", 9000000L, "conv00000001", 30, "tie-b"),
        ("U", 9000001L, "conv00000002", 30, "kept")), 5L)
      // files written before a column was added, and turn_idx widened int -> long
      CdcMerge.apply(table, events(2600, 3000)
        .withColumn("turn_idx", col("turn_idx").cast("long"))
        .withColumn("tool_meta", concat(lit("m-"), col("lsn"))), 6L)

      val m = table.manifest
      val deltaDepth = m.files.filter(_.kind == FileEntry.DELTA)
        .groupBy(_.bucket).values.map(_.size).max
      assert(deltaDepth >= 3, s"delta depth $deltaDepth")
      assert(m.files.exists(_.writePids.contains(2)), "no pre-REBUCKET file with shared coverage")
      assert(m.files.map(_.schemaId).distinct.size >= 2, "no file from before the column was added")
      assert(table.snapshotPhysical().filter(col(Schemas.DELETED_COL)).count() > 0, "no tombstones")

      // snapshot().filter(conv_id === k).orderBy("turn_idx") for every key, in one scan
      val snap = table.snapshot()
      val expected = snap.orderBy("conv_id", "turn_idx").collect().toSeq.groupBy(_.getString(0))
      assert(expected("conv00000002").exists(r => r.getAs[String]("text") == "kept"))
      val keys = table.snapshotPhysical().select("conv_id").distinct().collect().map(_.getString(0))
      var got = Map.empty[String, (DataFrame, Seq[Row])]
      assert(jobsDuring {
        got = keys.map { k => val df = table.readConversation(k); k -> (df, df.collect().toSeq) }.toMap
      } == 0)
      keys.foreach { k =>
        val (df, rows) = got(k)
        assert(df.schema.map(f => f.name -> f.dataType) == snap.schema.map(f => f.name -> f.dataType))
        assert(rows.map(typed) == expected.getOrElse(k, Nil).map(typed), s"lookup $k")
        assert(df.count() == rows.size)
      }
      assert(jobsDuring(assert(table.readConversation("conv-absent").collect().isEmpty)) == 0)
      assert(table.readConversation("conv-absent").count() == 0)
    } finally rmrf(dir)
  }

  test("point lookup pinned at a version ignores a later schema-evolving commit") {
    val dir = tmpDir("pin")
    try {
      val table = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      CdcMerge.apply(table, batch(("I", 1L, "c1", 0, "v1"), ("I", 2L, "c1", 1, "v1")), 0L)
      val mv = table.manifest
      val before = table.readConversation(mv, "c1").collect().toSeq
      // version v+1 adds a column and rewrites c1's turn 0 under the new schema
      CdcMerge.apply(table, batch(("U", 3L, "c1", 0, "v2")).withColumn("tool_meta", lit("m")), 1L)
      assert(table.userSchema.fieldNames.contains("tool_meta"))
      val pinned = table.readConversation(mv, "c1")
      assert(pinned.columns.toSeq == table.userSchema(mv).fieldNames.toSeq)
      assert(pinned.collect().toSeq == before)
      assert(before.map(_.getAs[String]("text")) == Seq("v1", "v1"))
      assert(table.readConversation("c1").collect().map(_.getAs[String]("text")).toSeq ==
        Seq("v2", "v1"))
    } finally rmrf(dir)
  }
}
