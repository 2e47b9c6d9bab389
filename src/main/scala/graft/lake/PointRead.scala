package graft.lake

import java.nio.file.Path
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, InterpretedUnsafeProjection, SortOrder}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetOptions, ParquetReadSupport, ParquetWriteSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.model.Schemas

/** The driver-local point read under [[LakeTable.readConversation]]: one
  * key's rows from a handful of pruned Parquet files, with no Spark job and
  * no broadcast.
  *
  *   - Decode: the vectorized Parquet reader of Spark's file scan,
  *     configured from the session as `ParquetFileFormat` configures it
  *     (without its per-scan broadcast), so types decode as in the
  *     distributed read. A `conv_id` equality filter skips row groups that
  *     cannot hold the key.
  *   - Align and resolve: Catalyst expressions evaluated on `InternalRow`s,
  *     [[LakeTable.alignExprs]] and [[LakeTable.resolveOrdering]], the
  *     expression forms of the scan's [[LakeTable.alignTo]] and
  *     [[LakeTable.resolveOrder]]. Interpreted, not generated: a lookup
  *     holds a few dozen rows.
  *
  * Rows held are bounded by one key's versions in the pruned files.
  */
private[lake] object PointRead {

  /** Live rows of `convId` in `files` (all of manifest `m`), in the user
    * columns of `target` (a physical schema), sorted by `turn_idx`.
    */
  def conversation(spark: SparkSession, root: Path, m: Manifest, files: Seq[FileEntry],
                   target: StructType, convId: String): Seq[InternalRow] = {
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    ParquetInputFormat.setFilterPredicate(conf,
      FilterApi.eq(FilterApi.binaryColumn("conv_id"), Binary.fromString(convId)))
    val versions = files.groupBy(_.schemaId).toSeq.flatMap { case (sid, fs) =>
      val fileSchema = Schemas.physical(
        StructType.fromDDL(m.schemas.find(_.id == sid).get.ddl))
      requestSchema(conf, sqlConf, fileSchema)
      val align = InterpretedUnsafeProjection.createProjection(
        LakeTable.alignExprs(fileSchema, target, sqlConf.sessionLocalTimeZone))
      fs.flatMap(f => keyRows(conf, sqlConf, root.resolve(f.path), f.rows, fileSchema, convId))
        .map(r => align(r).copy())
    }
    val winnerFirst = new InterpretedOrdering(LakeTable.resolveOrdering(target))
    val turn = target.fieldIndex("turn_idx")
    val turnRef = BoundReference(turn, target(turn).dataType, nullable = true)
    val byTurn = new InterpretedOrdering(Seq(SortOrder(turnRef, Ascending)))
    val deleted = target.fieldIndex(Schemas.DELETED_COL)
    val userCols = InterpretedUnsafeProjection.createProjection(target.fields.toSeq.zipWithIndex
      .collect { case (f, i) if f.name != Schemas.LSN_COL && f.name != Schemas.DELETED_COL =>
        BoundReference(i, f.dataType, nullable = true) })
    versions.groupBy(r => turnRef.eval(r)).values.toSeq
      .map(_.min(winnerFirst))
      .filterNot(_.getBoolean(deleted))
      .sorted(byTurn)
      .map(r => userCols(r).copy())
  }

  /** The read-side settings `ParquetFileFormat` puts in a scan's Hadoop
    * configuration, for a file read as `fileSchema`.
    */
  private def requestSchema(conf: Configuration, sqlConf: SQLConf, fileSchema: StructType): Unit = {
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, fileSchema.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, fileSchema.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sqlConf.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sqlConf.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sqlConf.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sqlConf.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sqlConf.parquetReaderRespectUnknownTypeAnnotation)
  }

  /** The rows of one `rows`-row file whose `conv_id` is `convId`, decoded as
    * `fileSchema` by the vectorized reader the file scan runs, set up as
    * `ParquetFileFormat` sets it up: the footer's datetime rebase specs,
    * row groups filtered by the predicate in `conf`, one footer read.
    */
  private def keyRows(conf: Configuration, sqlConf: SQLConf, file: Path, rows: Long,
                      fileSchema: StructType, convId: String): Seq[InternalRow] = {
    val path = new org.apache.hadoop.fs.Path(file.toUri)
    val in = HadoopInputFile.fromPath(path, conf)
    val footer = ParquetFooterReader.readFooter(in, ParquetMetadataConverter.NO_FILTER)
    val meta = footer.getFileMetaData
    val kv = meta.getKeyValueMetaData
    val options = new ParquetOptions(Map.empty[String, String], sqlConf)
    val convertTz = Option.when(sqlConf.isParquetINT96TimestampConversion &&
      !meta.getCreatedBy.startsWith("parquet-mr"))(
      DateTimeUtils.getZoneId(sqlConf.sessionLocalTimeZone))
    val datetime = DataSourceUtils.datetimeRebaseSpec(kv.get(_), options.datetimeRebaseModeInRead)
    val int96 = DataSourceUtils.int96RebaseSpec(kv.get(_), options.int96RebaseModeInRead)
    // batches no larger than the file: a lookup's files are mostly small
    val reader = new VectorizedParquetRecordReader(convertTz.orNull,
      datetime.mode.toString, datetime.timeZone, int96.mode.toString, int96.timeZone, false,
      math.max(1L, math.min(rows, sqlConf.parquetVectorizedReaderBatchSize.toLong)).toInt)
    val key = UTF8String.fromString(convId)
    val k = fileSchema.fieldIndex("conv_id")
    try {
      reader.initialize(new FileSplit(path, 0, in.getLength, Array.empty[String]),
        new TaskAttemptContextImpl(conf, new TaskAttemptID()), Some(in), None, Some(footer))
      reader.initBatch(new StructType(), InternalRow.empty)
      // the row-group filter prunes; this test decides
      val out = Vector.newBuilder[InternalRow]
      while (reader.nextBatch()) {
        val it = reader.resultBatch().rowIterator()
        while (it.hasNext) {
          val r = it.next()
          if (r.getUTF8String(k) == key) out += r.copy()
        }
      }
      out.result()
    } finally reader.close()
  }
}
