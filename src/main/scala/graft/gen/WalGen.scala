package graft.gen

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.ChangeEvent
import graft.util.DetHash._

/** Deterministic synthetic WAL (binlog) generator — no external data, no RNG
  * state: event i is a pure function of (seed, i), so executors generate it
  * in parallel with `spark.range` and the test oracle recomputes the exact
  * same stream on the driver (FIXTURES.md F2 scenarios).
  *
  * Scenarios injected:
  *  - Zipf-ish hot conversations (inverse-CDF of a 1/k density): the top
  *    conv_id receives ~ln2/ln(numConvs) of all events → exercises salting.
  *  - duplicate delivery: every `dupEvery`-th event repeats its predecessor
  *    (same lsn, same payload).
  *  - reordering: files are written sorted by a hash of the lsn.
  *  - deletes (`deleteFrac`), later stale updates to the same key → the
  *    tombstone-resurrect test.
  *
  * Reference analogue: owid-etl's Snapshot layer — immutable checksummed raw
  * inputs (`etl/snapshot.py:34-131`) — replaced by a seeded generator per the
  * north rule (deterministic synthesis at small scale).
  */
object WalGen {

  final case class Config(
      seed: Long = 42L,
      numEvents: Long = 100000L,
      numConvs: Long = 1000L,
      maxTurns: Int = 40,
      deleteFrac: Double = 0.05,
      dupEvery: Int = 50, // 0 = no duplicate deliveries
      textLen: Int = 64,
      baseTsMillis: Long = 1700000000000L
  )

  private val fillers = Array(
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november")

  /** Logical index of the event actually emitted at WAL position i
    * (duplicate-delivery remap).
    */
  def effectiveIndex(i: Long, cfg: Config): Long =
    if (cfg.dupEvery > 0 && i % cfg.dupEvery == cfg.dupEvery - 1 && i > 0) i - 1 else i

  /** The event at logical index i — pure, deterministic. */
  def eventAt(i0: Long, cfg: Config): ChangeEvent = {
    val i = effectiveIndex(i0, cfg)
    val s = cfg.seed
    // Zipf-ish conversation pick: k = floor(exp(u * ln C)) has P(k) ~ 1/k.
    val u = uniform01(s ^ (i * 0x9E3779B97F4A7C15L + 1))
    val convIdx = math.min(cfg.numConvs - 1,
      math.floor(math.exp(u * math.log(cfg.numConvs.toDouble))).toLong - 1L)
    val convId = f"conv$convIdx%08d"
    val turn = nextLong(s ^ (i * 0xC2B2AE3D27D4EB4FL + 2), cfg.maxTurns.toLong).toInt
    val opU = uniform01(s ^ (i * 0x165667B19E3779F9L + 3))
    val op = if (opU < cfg.deleteFrac) "D" else if (opU < 0.5) "I" else "U"
    val role = turn % 4 match {
      case 0 => "user"
      case 1 => "assistant"
      case 2 => if (turn % 8 == 6) "tool" else "assistant"
      case _ => if (turn == 3) "system" else "user"
    }
    val tool = if (role == "tool") {
      if (nextLong(s ^ (i + 5), 2L) == 0L) "search" else "python"
    } else null
    val ts = new Timestamp(cfg.baseTsMillis + i * 1000L)
    if (op == "D") {
      ChangeEvent(op, i, convId, turn, null, null, null, ts)
    } else {
      val sb = new StringBuilder(cfg.textLen + 32)
      sb.append("c").append(convIdx).append("-t").append(turn).append("-l").append(i).append(' ')
      var w = 0L
      while (sb.length < cfg.textLen) {
        sb.append(fillers((nextLong(s ^ (i * 31L + w), fillers.length.toLong)).toInt)).append(' ')
        w += 1
      }
      ChangeEvent(op, i, convId, turn, role, sb.toString.trim, tool, ts)
    }
  }

  /** Distributed generation of the WAL slice [from, until). */
  def events(spark: SparkSession, cfg: Config, from: Long, until: Long): Dataset[ChangeEvent] = {
    import spark.implicits._
    spark.range(from, until).map(i => eventAt(i, cfg))
  }

  /** Write the WAL as `numChunks` parquet files directly under `dir` (the
    * shape a Structured Streaming file source tails). Each chunk is written
    * reordered (sorted by a hash of the lsn) to exercise out-of-order apply.
    */
  def writeWal(spark: SparkSession, dir: String, cfg: Config, numChunks: Int): Seq[Path] =
    writeWal(spark, dir, cfg, numChunks, from = 0L)

  /** Same, emitting only events [from, cfg.numEvents) — the binlog SUFFIX
    * for bootstrap-then-tail scenarios (BulkLoad).
    */
  def writeWal(spark: SparkSession, dir: String, cfg: Config, numChunks: Int,
               from: Long): Seq[Path] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val out = Paths.get(dir)
    Files.createDirectories(out)
    val per = math.max(1L, (cfg.numEvents - from) / numChunks)
    // chunks are generated as concurrent Spark jobs (scheduler interleaves
    // them); repartition(1) keeps generation parallel with one writer task
    val futures = (0 until numChunks).map { c => Future {
      val lo = from + c * per
      val until = if (c == numChunks - 1) cfg.numEvents else math.min(cfg.numEvents, from + (c + 1) * per)
      val tmp = out.resolve(s".tmp-chunk-$c")
      events(spark, cfg, lo, until)
        .withColumn("_shuffle", org.apache.spark.sql.functions.xxhash64(org.apache.spark.sql.functions.col("lsn")))
        .repartition(1)
        .sortWithinPartitions("_shuffle")
        .drop("_shuffle")
        .write.mode("overwrite").parquet(tmp.toString)
      val part = {
        val s = Files.list(tmp)
        try s.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet written in $tmp"))
        finally s.close()
      }
      val target = out.resolve(f"chunk-$c%05d.parquet")
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
      // clean the tmp dir (crc/_SUCCESS leftovers); close the walk stream —
      // this runs once per generated chunk and each leaks an fd otherwise
      graft.lake.LakeCore.deleteRecursively(tmp)
      target
    }}
    val written = Await.result(Future.sequence(futures), Duration.Inf)
    // deterministic stream order: the file source processes files by
    // modification time; parallel writes randomize it, so re-stamp
    // ascending mtimes chunk by chunk
    val base = System.currentTimeMillis()
    written.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
    }
    written
  }

  /** Driver-side oracle: fold the WAL slice [0, numEvents) in LSN order into
    * the final table state (a HashMap apply of the sorted change log).
    * Deletes tombstone the key; a stale lower-LSN update never resurrects.
    * This is the reference reducer the engine must reconverge to
    * (SURVEY.md §5 "oracle test").
    */
  def oracleState(cfg: Config): Map[(String, Int), ChangeEvent] = {
    val m = scala.collection.mutable.HashMap.empty[(String, Int), ChangeEvent]
    var i = 0L
    while (i < cfg.numEvents) {
      val e = eventAt(i, cfg) // effectiveIndex makes duplicates identical
      val k = (e.conv_id, e.turn_idx)
      val prev = m.get(k)
      if (prev.forall(_.lsn <= e.lsn)) m(k) = e
      i += 1
    }
    m.filter(_._2.op != "D").toMap
  }
}
