package graft.tools

import org.apache.spark.sql.SparkSession
import graft.gen.WalGen
import graft.lake.LakeTable
import graft.model.Schemas
import graft.stream.CdcStream

/** CLI demo / smoke driver: generate a deterministic WAL, stream-apply it
  * into a LakeTable, print snapshot sample + commit lineage + oracle check.
  *
  * Usage: runMain graft.tools.CdcDemo [numEvents] [workDir]
  */
object CdcDemo {
  def main(args: Array[String]): Unit = {
    val numEvents = args.headOption.map(_.toLong).getOrElse(50000L)
    val work = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .appName("graft-cdc-demo")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.file.impl", classOf[graft.util.FastLocalFileSystem].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(new CdcStream.MetricsListener(s"$work/metrics.jsonl"))

    val cfg = WalGen.Config(numEvents = numEvents, numConvs = math.max(10L, numEvents / 100), maxTurns = 40)
    println(s"[demo] writing WAL: $numEvents events -> $work/wal")
    WalGen.writeWal(spark, s"$work/wal", cfg, numChunks = 8)
    val table = LakeTable.create(spark, s"$work/table", Schemas.transcript, numBuckets = 16)
    val t0 = System.nanoTime()
    CdcStream.runToCompletion(spark, s"$work/wal", table, s"$work/cp", maxFilesPerTrigger = 2)
    val secs = (System.nanoTime() - t0) / 1e9
    val m = table.manifest
    println(f"[demo] applied ${cfg.numEvents} events in $secs%.1fs (${cfg.numEvents / secs}%.0f ev/s)")
    println(s"[demo] manifest v${m.version} lastEpoch=${m.lastEpoch} files=${m.files.size} " +
      s"liveRows<=${m.totalRows} maxLsn=${m.maxLsn}")
    println("[demo] lineage (last 5 commits):")
    m.lineage.takeRight(5).foreach(c =>
      println(s"  v${c.version} epoch=${c.epoch} rows=${c.batchRows} buckets=${c.upsertedBuckets.size} wallMs=${c.wallMs}"))
    println("[demo] snapshot sample:")
    table.snapshot().orderBy("conv_id", "turn_idx").show(10, truncate = 40)

    // pruned point lookup: manifest bucket + key-range file pruning
    val conv = "conv00000000"
    val pruned = table.filesForConversation(conv)
    println(s"[demo] point lookup $conv: scans ${pruned.size} of ${m.files.size} files " +
      s"(bucket ${table.bucketOf(conv, m.numBuckets)})")
    println(s"[demo] $conv turns: ${table.readConversation(conv).collect().length}")

    // oracle check (driver-side reducer over the same deterministic stream)
    val oracle = WalGen.oracleState(cfg)
    val got = table.snapshot().select("conv_id", "turn_idx", "text").collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getString(2))).toMap
    val ok = got.size == oracle.size && oracle.forall { case (k, e) => got.get(k).contains(e.text) }
    println(s"[demo] oracle check: rows=${got.size} expected=${oracle.size} textEquality=${if (ok) "PASS" else "FAIL"}")
    println(s"[demo] per-batch metrics at $work/metrics.jsonl")
    val cat = new graft.ops.Catalog(spark, work)
    cat.entries.foreach(e => println(
      s"[demo] catalog: table=${e.table} lake=${e.isLake} path=${e.path}"))

    // streaming analytics surface: watermarked op-mix per event-time window
    val wq = graft.stream.StreamOps.windowedOpCounts(
        graft.stream.StreamOps.walStream(spark, s"$work/wal", maxFilesPerTrigger = 2),
        windowDur = "10 minutes", watermark = "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("opmix")
      .option("checkpointLocation", s"$work/cp-opmix")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    wq.awaitTermination()
    println("[demo] op mix per 10-min window (finalized windows):")
    spark.table("opmix").orderBy("window_start", "op").show(9, truncate = false)
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
