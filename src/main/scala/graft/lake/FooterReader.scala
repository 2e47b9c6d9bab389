package graft.lake

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types.StructType
import graft.model.Schemas

/** Footer reads for staged-file adoption ([[LakeCore.adopt]]), one
  * reader per adoption.
  *
  * The read options are built once, from the session's Hadoop
  * configuration. `ParquetFileReader.open(in)` without options builds a
  * default `Configuration` for every file, which re-parses
  * `core-default.xml` from the classpath: 6–8 ms of CPU a footer, most of
  * a commit's adoption time. Thread-safe: adopters read footers on a pool.
  */
final class FooterReader(conf: Configuration) {
  private val options: ParquetReadOptions = HadoopReadOptions.builder(conf).build()

  def footer(p: java.nio.file.Path): ParquetMetadata = {
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toUri), conf)
    val reader = ParquetFileReader.open(in, options)
    try reader.getFooter finally reader.close()
  }
}

/** What an adopted table file's entry takes from its footer: rows, the
  * `_lsn` max, the `conv_id` range and the [[StatsHarvest]] bounds of the
  * stats schema's columns.
  */
private[graft] final case class FooterStats(
    rows: Long, maxLsn: Long, minKey: Option[String], maxKey: Option[String],
    colStats: Option[Map[String, ColStat]])

private[graft] object FooterStats {
  def apply(footer: ParquetMetadata, statsSchema: StructType): FooterStats = {
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    val maxLsn = blocks.flatMap { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == Schemas.LSN_COL)
        .flatMap(c => Option(c.getStatistics))
        .collect { case s if !s.isEmpty && s.hasNonNullValue =>
          s.genericGetMax.asInstanceOf[java.lang.Long].longValue() }
    }.foldLeft(-1L)(math.max)
    val keyStats = blocks.flatMap { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == "conv_id")
        .flatMap(c => Option(c.getStatistics))
        .collect { case s if !s.isEmpty && s.hasNonNullValue =>
          (s.minAsString, s.maxAsString) }
    }
    val minKey = if (keyStats.isEmpty) None else Some(keyStats.map(_._1).min)
    val maxKey = if (keyStats.isEmpty) None else Some(keyStats.map(_._2).max)
    FooterStats(rows, maxLsn, minKey, maxKey, StatsHarvest.fromBlocks(blocks, statsSchema))
  }
}
