package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Footer reads for staged-file adoption, one reader per adoption.
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
