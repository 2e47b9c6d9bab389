package graft.lake

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Schemas
import graft.merge.{Bootstrap, CdcMerge, Compactor}

/** Manifest-level data skipping + z-order clustering: stats harvesting,
  * predicate pruning soundness (incl. the MOR bucket rule and schema
  * evolution), skipping effectiveness after OPTIMIZE ZORDER, and exact
  * result equality between `snapshotWhere` and `snapshot().filter`.
  */
class DataSkippingSpec extends graft.SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def mkRows(n: Int): DataFrame = {
    // conv hash decorrelates from ts on purpose: z-order must reclaim
    // ts locality that key-bucketing destroyed
    val rows = (0 until n).map { i =>
      (s"c${i % 97}", i, if (i % 3 == 0) "user" else "assistant",
       s"text-$i", if (i % 5 == 0) "search" else null,
       ts(f"2024-01-${1 + (i * 31 / n)}%02d 00:00:00"))
    }
    rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  private def loaded(n: Int, dir: String, buckets: Int = 4): LakeTable = {
    val t = LakeTable.create(spark, dir, Schemas.transcript, buckets)
    Bootstrap.load(t, mkRows(n), snapshotLsn = n.toLong, maxRecordsPerFile = 64L)
    t
  }

  private def assertSame(t: LakeTable, filter: org.apache.spark.sql.Column): Unit = {
    val a = t.snapshotWhere(filter).orderBy("conv_id", "turn_idx").collect().toSeq
    val b = t.snapshot().filter(filter).orderBy("conv_id", "turn_idx").collect().toSeq
    assert(a == b, s"snapshotWhere diverged from snapshot().filter for $filter")
  }

  test("footer harvest: colStats carry typed bounds for every user column") {
    val dir = tmpDir("skip-harvest")
    try {
      val t = loaded(500, s"$dir/t")
      val m = t.manifest
      assert(m.files.nonEmpty)
      val st = m.files.head.colStats.getOrElse(fail("no colStats harvested"))
      // string bounds raw, int bounds as longs, ts bounds as epoch MICROS
      // (fails loudly if the session wrote INT96 timestamps)
      assert(st.contains("conv_id") && st("conv_id").min.get.startsWith("c"))
      assert(st("turn_idx").min.get.toLong >= 0L)
      val tsLo = st.get("ts").flatMap(_.min).getOrElse(
        fail("no ts bounds — INT96 timestamps written?")).toLong
      assert(tsLo > 1600000000L * 1000000L, s"ts bound not in micros: $tsLo")
      // tool is null on most rows but not all → nulls tracked
      assert(st("tool").nulls > 0L)
    } finally rmrf(dir)
  }

  test("footer harvest: adopted stats equal a default-options footer read of every file") {
    val dir = tmpDir("skip-footer")
    try {
      val t = LakeTable.create(spark, s"$dir/t", Schemas.transcript, numBuckets = 2)
      def batch(op: String, lsn: Long, n: Int, extra: Seq[org.apache.spark.sql.Column] = Nil) =
        spark.range(n).select(Seq(lit(op).as("op"), (col("id") + lsn).as("lsn"),
          concat(lit("c"), pmod(col("id"), lit(13))).as("conv_id"),
          col("id").cast("int").as("turn_idx"), lit("user").as("role"),
          when(col("id") % 7 === 0, lit(null)).otherwise(concat(lit("t"), col("id"))).as("text"),
          lit(null).cast("string").as("tool"),
          timestamp_seconds(lit(1709251200L) + col("id") * 60).as("ts")) ++ extra: _*)
      CdcMerge.apply(t, batch("U", 0L, 300), 0L)
      // a schema-evolving batch: a new column, written under schema id 1
      CdcMerge.apply(t, batch("U", 1000L, 200, Seq((col("id") / 7.0).as("score"))), 1L)
      // deletes only: every file of this epoch holds tombstones alone
      CdcMerge.apply(t, batch("D", 2000L, 40), 2L)
      val m = t.manifest
      val tombstoneOnly = m.files.filter(f => f.epoch == 2L &&
        f.colStats.flatMap(_.get(Schemas.DELETED_COL)).exists(s => s.min.contains("true")))
      assert(tombstoneOnly.nonEmpty, "no tombstone-only file staged")
      assert(m.files.exists(_.schemaId == 1), "no file under the evolved schema")
      Compactor.compact(t, Set(0)).getOrElse(fail("compaction did not commit"))
      val files = (m.files ++ t.manifest.files).distinctBy(_.path)
      assert(files.exists(_.kind == FileEntry.BASE) && files.exists(_.kind == FileEntry.DELTA))
      files.foreach { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(t.root.resolve(f.path).toUri),
          new org.apache.hadoop.conf.Configuration())
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val oracle = try {
          val written = Schemas.physical(StructType.fromDDL(
            t.manifest.schemas.find(_.id == f.schemaId).get.ddl))
          FooterStats(reader.getFooter,
            StructType(written.fields.filterNot(_.name == Schemas.LSN_COL)))
        } finally reader.close()
        assert(FooterStats(f.rows, f.maxLsn, f.minKey, f.maxKey, f.colStats) == oracle,
          s"${f.path}: adopted stats differ from the default footer read")
        assert(f.colStats.exists(_.get("ts").exists(_.min.isDefined)), s"${f.path}: no ts bounds")
      }
    } finally rmrf(dir)
  }

  test("snapshotWhere == snapshot().filter across predicate shapes") {
    val dir = tmpDir("skip-eq")
    try {
      val t = loaded(800, s"$dir/t")
      Compactor.zorder(t, Seq("ts", "turn_idx"), maxRecordsPerFile = 64L)
      assertSame(t, col("turn_idx") < 50)
      assertSame(t, col("turn_idx") >= 780)
      assertSame(t, col("ts") >= lit(ts("2024-01-28 00:00:00")))
      assertSame(t, col("ts").between(lit(ts("2024-01-10 00:00:00")), lit(ts("2024-01-12 00:00:00"))))
      assertSame(t, col("role") === "user" && col("turn_idx") > 700)
      assertSame(t, col("conv_id") === "c13" || col("turn_idx") === 7)
      assertSame(t, col("tool").isNull)
      assertSame(t, col("tool").isNotNull)
      assertSame(t, col("conv_id").startsWith("c1"))
      assertSame(t, col("conv_id").isin("c1", "c2", "zzz"))
      assertSame(t, col("role") =!= "user")
      assertSame(t, lit(false))
      assertSame(t, length(col("text")) > 6) // unsupported shape: no pruning, same rows
    } finally rmrf(dir)
  }

  test("zorder makes ts-range scans skip most files; key-sorted layout cannot") {
    val dir = tmpDir("skip-z")
    try {
      val t = loaded(2000, s"$dir/t")
      val narrow = col("ts").between(
        lit(ts("2024-01-05 00:00:00")), lit(ts("2024-01-06 23:59:59")))
      val (keptBefore, totalBefore) = t.pruneInfo(narrow)
      Compactor.zorder(t, Seq("ts"), maxRecordsPerFile = 64L)
      val (keptAfter, totalAfter) = t.pruneInfo(narrow)
      assert(totalAfter >= 8, s"expected multiple files, got $totalAfter")
      assert(keptAfter.toDouble / totalAfter <= 0.5,
        s"zorder skipping too weak: kept $keptAfter of $totalAfter (before: $keptBefore/$totalBefore)")
      assertSame(t, narrow)
      // point lookups on the key still work (bloom-less: bounds are loose
      // after zorder but correctness is untouched)
      assertSame(t, col("conv_id") === "c5")
    } finally rmrf(dir)
  }

  test("key blooms feed scan-level skipping: point lookups open fewer files than stats-only") {
    val dir = tmpDir("skip-bloom")
    try {
      val t = loaded(2000, s"$dir/t")
      // z-order deliberately loosens (minKey, maxKey) — the case VERDICT
      // flagged: stats alone cannot prune a key point lookup here
      Compactor.zorder(t, Seq("ts"), maxRecordsPerFile = 64L)
      val present = col("conv_id") === "c13"
      // absent key chosen INSIDE the [c0, c96] key range: a key outside it
      // is already excluded by min/max stats and proves nothing about blooms
      val absent = col("conv_id") === "c13absent"
      val (keptStatsPresent, total) = t.pruneInfo(present)
      val (keptStatsAbsent, _) = t.pruneInfo(absent)
      assert(t.buildBlooms(kinds = Set(FileEntry.BASE)) > 0, "no blooms built")
      val (keptBloomPresent, _) = t.pruneInfo(present)
      val (keptBloomAbsent, _) = t.pruneInfo(absent)
      // bloom must strictly beat stats-only pruning on this layout, and an
      // absent key should exclude almost everything (fpp 5%)
      assert(keptBloomPresent < keptStatsPresent,
        s"bloom did not prune: $keptBloomPresent vs stats-only $keptStatsPresent of $total")
      assert(keptBloomAbsent < keptStatsAbsent &&
        keptBloomAbsent <= math.max(2, total / 4),
        s"absent-key lookup kept $keptBloomAbsent of $total files")
      // soundness: results identical to the unpruned read, including the
      // Or-composition case (a bloom miss under an OR must not drop files
      // the other disjunct needs)
      assertSame(t, present)
      assertSame(t, absent)
      assertSame(t, absent || col("turn_idx") === 7)
      assertSame(t, col("conv_id").isin("c13", "c13absent"))
    } finally rmrf(dir)
  }

  test("bloom cache: bounded, and a just-used bloom survives eviction past the cap") {
    import DataSkipping.KeyBloom
    val bf = org.apache.spark.util.sketch.BloomFilter.create(16, 0.05)
    bf.putLong(LakeTable.keyHash("conv-hot"))
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    val b64 = java.util.Base64.getEncoder.encodeToString(out.toByteArray)
    def entry(i: Int) = FileEntry(s"data/bucket=0/bloom-cache-$i.parquet", 0, 1L, 1L, 0,
      FileEntry.DELTA, 0L, bloom = Some(b64))
    val hot = entry(-1)
    // twice the cap of distinct blooms, with `hot` looked up every 64 of them
    (0 until 2 * KeyBloom.CacheCap).foreach { i =>
      if (i % 64 == 0) assert(KeyBloom.mightContain(hot, "conv-hot"))
      KeyBloom.of(entry(i))
      assert(KeyBloom.cacheSize <= KeyBloom.CacheCap, s"cache grew past its cap at insert $i")
      assert(KeyBloom.isCached(hot.path), s"a just-used bloom was evicted at insert $i")
      assert(KeyBloom.isCached(entry(i).path))
    }
    assert(!KeyBloom.isCached(entry(0).path), "the least recently used bloom should go first")
  }

  test("OPTIMIZE ... ZORDER BY SQL rewrites and stays readable") {
    val dir = tmpDir("skip-sql")
    spark.sparkContext // ensure the shared context exists (builder reuses it)
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val t = loaded(600, s"$dir/t")
      graft.sql.LakeCatalog.register("zdemo", s"$dir/t")
      try {
        val r = s2.sql("OPTIMIZE zdemo ZORDER BY (ts, turn_idx) ROWS 64").collect()
        assert(r.head.getInt(0) > 0)
        assertSame(t, col("ts") >= lit(ts("2024-01-20 00:00:00")))
        val bad = intercept[Exception](s2.sql("OPTIMIZE zdemo ZORDER BY (nope)").collect())
        assert(bad.getMessage.contains("nope"))
      } finally graft.sql.LakeCatalog.unregister("zdemo")
    } finally rmrf(dir)
  }

  test("MOR bucket rule: delta-bearing buckets are kept whole — no stale-row leak") {
    val dir = tmpDir("skip-mor")
    try {
      val t = LakeTable.create(spark, s"$dir/t", Schemas.transcript, 1)
      def ev(op: String, lsn: Long, turn: Int, role: String, tIdx: Int): Row =
        Row(op, lsn, "conv", turn, role, s"t$tIdx", null, ts("2024-01-01 00:00:00"))
      def batch(rows: Row*): DataFrame =
        spark.createDataFrame(spark.sparkContext.parallelize(rows), Schemas.changeEvent)
      // base: key (conv,1) role=user — MATCHES the predicate
      CdcMerge.apply(t, batch(ev("I", 1L, 1, "user", 1)), epoch = 0L)
      Compactor.compact(t, Set(0))
      // delta: same key updated to role=assistant — predicate now FAILS.
      // Naive per-file pruning would drop the delta file (no matching row
      // in it) and crown the stale base row the winner.
      CdcMerge.apply(t, batch(ev("U", 2L, 1, "assistant", 2)), epoch = 1L)
      val leak = t.snapshotWhere(col("role") === "user").collect()
      assert(leak.isEmpty, s"stale row leaked through MOR skipping: ${leak.toSeq}")
      // and the whole-bucket drop side: nothing matches 'ghost' anywhere
      val (kept, total) = t.pruneInfo(col("role") === "ghost")
      assert(kept == 0 && total > 0, s"expected whole-bucket skip, kept=$kept/$total")
    } finally rmrf(dir)
  }

  test("schema evolution: files predating a column are skipped for non-null predicates on it") {
    val dir = tmpDir("skip-evo")
    try {
      val t = loaded(300, s"$dir/t")
      t.evolveSchema(StructType(Seq(StructField("score", DoubleType))))
      val (kept, total) = t.pruneInfo(col("score") > 0.5)
      assert(kept == 0 && total > 0,
        s"old files null-fill 'score' and can never match score>0.5: kept=$kept/$total")
      assert(t.snapshotWhere(col("score") > 0.5).collect().isEmpty)
      // IS NULL on the new column must KEEP the old files
      val (keptNull, _) = t.pruneInfo(col("score").isNull)
      assert(keptNull == total)
      assert(t.snapshotWhere(col("score").isNull).count() == 300L)
    } finally rmrf(dir)
  }

  test("prune soundness: UTF-8 byte order, -0.0 bounds, oversized-value stats") {
    val schema = StructType(Seq(
      StructField("text", StringType), StructField("x", DoubleType)))
    def pred(c: org.apache.spark.sql.Column) =
      DataSkipping.resolvePredicate(spark, schema, c)
    // a supplementary character sorts ABOVE U+FFFF in UTF-8 byte order
    // (what parquet stats + UTF8String use) but BELOW it in Java's UTF-16
    // code-unit order — the wrong ordering silently skips a matching file
    val emoji = new String(Character.toChars(0x1F600))
    val stEmoji = Some(Map("text" -> ColStat(Some(emoji), Some(emoji), 0L)))
    assert(DataSkipping.mayMatch(schema, stEmoji, 1L, pred(col("text") >= "\uffff")),
      "emoji is >= \\uffff under UTF-8 byte order — file must be kept")
    assert(DataSkipping.mayMatch(schema, stEmoji, 1L, pred(col("text") === emoji)))
    assert(!DataSkipping.mayMatch(schema, stEmoji, 1L, pred(col("text") < "\uffff")),
      "nothing in the file sorts below \\uffff — skip stays effective")
    // -0.0 bounds: Spark evaluates -0.0 = 0.0 as TRUE; legacy stats that
    // rendered -0.0 must not skip an = 0.0 predicate (parse normalizes)
    val stZero = Some(Map("x" -> ColStat(Some("-0.0"), Some("-0.0"), 0L)))
    assert(DataSkipping.mayMatch(schema, stZero, 1L, pred(col("x") === 0.0)))
    assert(DataSkipping.mayMatch(schema, stZero, 1L, pred(col("x") === -0.0)))
  }

  test("oversized string values: bounds stay sound or absent — the row is always found") {
    // parquet-mr suppresses/truncates chunk stats around oversized binary
    // values; whichever it does for this writer, a point query for the big
    // value must still find it (unsound bounds from the OTHER values would
    // skip its file)
    val dir = tmpDir("skip-big")
    try {
      val big = "z" * 5000 // past parquet's 4KB stats cutoff
      val rows = Seq(
        ("c1", 0, "user", "aaa", null: String, ts("2024-01-01 00:00:00")),
        ("c2", 0, "user", big, null: String, ts("2024-01-01 00:00:00")))
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      val t = LakeTable.create(spark, s"$dir/t", graft.model.Schemas.transcript, 1)
      graft.merge.Bootstrap.load(t, rows, snapshotLsn = 1L)
      val got = t.snapshotWhere(col("text") === big).collect()
      assert(got.length == 1 && got.head.getAs[String]("conv_id") == "c2")
      // and an unrelated narrow query still behaves
      assert(t.snapshotWhere(col("text") === "aaa").count() == 1L)
    } finally rmrf(dir)
  }

  test("z primitives: interleave is Morton order; bins respect quantile boundaries") {
    // interleave check against a bit-twiddling reference
    def morton(bits: Int, vals: Seq[Long]): Long = {
      var z = 0L
      for (i <- 0 until bits; c <- vals.indices)
        z |= ((vals(c) >> i) & 1L) << (i * vals.size + c)
      z
    }
    val df = Seq((3L, 5L), (255L, 0L), (0L, 255L), (17L, 200L)).toDF("a", "b")
    val got = df.select(ZOrder.interleave(Seq(col("a"), col("b")), 8)).as[Long].collect()
    val want = Seq(Seq(3L, 5L), Seq(255L, 0L), Seq(0L, 255L), Seq(17L, 200L))
      .map(v => morton(8, v))
    assert(got.toSeq == want)

    val bins = Seq(0.5, 1.5, 2.5, 7.0, 100.0).toDF("x")
      .select(ZOrder.binOf(col("x"), Array(1.0, 2.0, 3.0)).as("b")).as[Long].collect()
    assert(bins.toSeq == Seq(0L, 1L, 2L, 3L, 3L))
  }
}
