package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum, xxhash64}
import graft.gen.WalGen
import graft.lake.{FileEntry, LakeTable}
import graft.model.{ChangeEvent, Schemas}

/** Read-only views of a lake table the harness derives from the committed
  * manifests, plus the driver-side oracle the outputs are checked against.
  */
object Lake {

  /** One commit, classified by the kind of files it added. */
  final case class Commit(version: Long, kind: String, start: Double, end: Double,
                          rowsWritten: Long, bytesAdded: Long, bytesRemoved: Long)

  def commits(t: LakeTable): Seq[Commit] = {
    var prev = t.manifestAt(0L).files.map(f => f.path -> f).toMap
    (1L to t.currentVersion).map { v =>
      val m = t.manifestAt(v)
      val now = m.files.map(f => f.path -> f).toMap
      val added = now.keySet.diff(prev.keySet).toSeq.map(now)
      val removed = prev.keySet.diff(now.keySet).toSeq.map(prev)
      prev = now
      val ci = m.lineage.last
      val kind =
        if (added.exists(_.kind == FileEntry.BASE) || removed.nonEmpty) "compact"
        else if (added.nonEmpty) "merge"
        else "meta"
      Commit(v, kind, (ci.committedAtMs - ci.wallMs).toDouble, ci.committedAtMs.toDouble,
        added.map(_.rows).sum, added.flatMap(_.bytes).sum, removed.flatMap(_.bytes).sum)
    }
  }

  /** Manifest bytes a reader loads: the top document and the segments it names. */
  def manifestBytes(t: LakeTable): Long = {
    val top = t.manifestDir.resolve(f"manifest-${t.currentVersion}%010d.json")
    val text = new String(Files.readAllBytes(top), StandardCharsets.UTF_8)
    val segs = "seg-[0-9]+-[0-9a-f]+\\.json".r.findAllIn(text).toSet
    Files.size(top) + segs.toSeq.map(s => Files.size(t.manifestDir.resolve(s))).sum
  }

  /** Shape of the live file set and the lake's write amplification. */
  def shape(t: LakeTable, liveRows: Long, commits: Seq[Commit]): Map[String, Double] = {
    val m = t.manifest
    val liveBytes = m.files.flatMap(_.bytes).sum.toDouble
    val depth = m.files.filter(_.kind == FileEntry.DELTA).groupBy(_.bucket)
      .values.map(_.map(_.epoch).distinct.size).maxOption.getOrElse(0)
    Map(
      "files_live" -> m.files.size.toDouble,
      "delta_depth_max" -> depth.toDouble,
      "manifest_bytes" -> manifestBytes(t).toDouble,
      "write_amp" -> (if (liveBytes > 0) commits.map(_.bytesAdded).sum / liveBytes else 0.0),
      "bytes_per_live_row" -> (if (liveRows > 0) liveBytes / liveRows else 0.0))
  }

  /** Same arithmetic as `LakeTable.contentChecksum`, over the oracle's rows. */
  def checksumOf(spark: SparkSession, rows: Iterable[ChangeEvent]): Long = {
    val schema = Schemas.transcript
    val data = rows.iterator.map(e => Row(e.conv_id, e.turn_idx, e.role, e.text, e.tool, e.ts)).toSeq
    val df: DataFrame = spark.createDataFrame(spark.sparkContext.parallelize(data, 4), schema)
    val cols = df.columns.sorted.map(col).toSeq
    val r = df.select(sum(xxhash64(cols: _*).cast("decimal(38,0)"))).collect()(0)
    if (r.isNullAt(0)) 0L else r.getDecimal(0).toBigInteger.longValue()
  }

  /** Driver-side oracle folded event by event: the live rows per
    * conversation at the LSN of the last folded event. Events arrive in
    * LSN order, so the latest event for a key wins and a delete drops it.
    */
  final class Oracle(cfg: WalGen.Config) {
    val byConv = mutable.HashMap.empty[String, mutable.HashMap[Int, ChangeEvent]]
    var folded = 0L
    def foldTo(until: Long): Unit = {
      while (folded < until) {
        val e = WalGen.eventAt(folded, cfg)
        if (e.op == "D") byConv.get(e.conv_id).foreach { m =>
          m.remove(e.turn_idx)
          if (m.isEmpty) byConv.remove(e.conv_id)
        }
        else byConv.getOrElseUpdate(e.conv_id, mutable.HashMap.empty)(e.turn_idx) = e
        folded += 1
      }
    }
    def live: Iterator[ChangeEvent] = byConv.valuesIterator.flatMap(_.valuesIterator)
    def liveRows: Long = byConv.valuesIterator.map(_.size.toLong).sum
  }

  def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }
  }
}
