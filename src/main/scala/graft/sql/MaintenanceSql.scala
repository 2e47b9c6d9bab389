package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}
import graft.lake.LakeTable
import graft.merge.Compactor

/** Maintenance SQL for lake tables — the third leg of the SQL surface
  * (reads: [[GraftSelectRule]]; writes: [[GraftMergeRule]]; maintenance:
  * here). Spark's grammar has no OPTIMIZE/VACUUM statement to reuse, so
  * this is the documented route for custom statements: a DELEGATING
  * parser injected via `injectParser` that recognizes exactly our two
  * statements and hands everything else to Spark's own parser untouched
  * (the same pattern Delta Lake uses for its DDL).
  *
  *   OPTIMIZE <name>
  *     → fold every delta-bearing bucket back into per-key-resolved base
  *       files ([[Compactor.compact]], safe under a live stream); returns
  *       (buckets_compacted, wall_ms), (0, 0) when nothing was due or a
  *       concurrent rewrite superseded the pass.
  *   OPTIMIZE <name> ZORDER BY (c1, ...) [ROWS n]
  *     → the same compaction with a Morton-clustered layout
  *       ([[Compactor.zorder]]); returns (buckets_rewritten, wall_ms).
  *   OPTIMIZE <name> BLOOM
  *     → annotate bloom-less delta files with key bloom filters
  *       ([[graft.lake.LakeTable.buildBlooms]], metadata-only commit);
  *       returns (files_annotated, wall_ms).
  *   VACUUM <name> [RETAIN <n> VERSIONS]
  *     → reclaim data files unreferenced by the last n (default 2)
  *       manifests, honoring consumer pins; then bound the metadata
  *       horizon to the same window; returns (files_removed,
  *       manifests_removed, segments_removed).
  *   OPTIMIZE <name> REBUCKET TO <n> | FACTOR <k>
  *     → grow the bucket space metadata-only ([[LakeTable.rebucket]]);
  *       returns the new bucket count.
  *   DESCRIBE HISTORY <name> [LIMIT <n>]
  *     → the table's commit lineage newest-first (version, commit time,
  *       rows, buckets, max LSN, wall ms) — the Delta-style operational
  *       audit over the manifest's [[graft.lake.CommitInfo]] entries.
  *       Plain `DESCRIBE <table>` still delegates to Spark untouched.
  *   DESCRIBE DETAIL <name>
  *     → one-row operational summary (version, bucket space + write
  *       depths present, file/byte/row counts, delta backlog, schema
  *       count, stream txn watermark); pure manifest read.
  *
  * Statement recognition is on the FIRST KEYWORD ONLY (cheap, no
  * grammar); a malformed tail fails loudly with the expected shape
  * rather than falling through to Spark and producing a confusing
  * parse error against the wrong grammar.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface) extends ParserInterface {

  private val optimizeRe =
    """(?is)\s*OPTIMIZE\s+([A-Za-z_][A-Za-z0-9_.]*)(\s+BLOOM)?\s*;?\s*""".r
  private val zorderRe =
    """(?is)\s*OPTIMIZE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+ZORDER\s+BY\s*\(([^)]+)\)(?:\s+ROWS\s+(\d+))?\s*;?\s*""".r
  private val rebucketRe =
    """(?is)\s*OPTIMIZE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+REBUCKET\s+(?:TO\s+(\d+)|FACTOR\s+(\d+))\s*;?\s*""".r
  private val vacuumRe =
    """(?is)\s*VACUUM\s+([A-Za-z_][A-Za-z0-9_.]*)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*;?\s*""".r
  private val describeDetailRe =
    """(?is)\s*DESC(?:RIBE)?\s+DETAIL\s+([A-Za-z_][A-Za-z0-9_.]*)\s*;?\s*""".r
  private val describeHistoryRe =
    """(?is)\s*DESC(?:RIBE)?\s+HISTORY\s+([A-Za-z_][A-Za-z0-9_.]*)(?:\s+LIMIT\s+(\d+))?\s*;?\s*""".r
  private val restoreRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?([A-Za-z_][A-Za-z0-9_.]*)\s+(?:TO\s+)?(VERSION|TIMESTAMP)\s+AS\s+OF\s+(.+?)\s*;?\s*""".r
  private val alterHeadRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+(.*?)\s*;?\s*""".r
  private val alterAddRe =
    """(?is)ADD\s+COLUMNS?\s*(?:\((.+)\)|(.+))""".r
  private val alterTypeRe =
    """(?is)ALTER\s+COLUMN\s+([A-Za-z_][A-Za-z0-9_]*)\s+TYPE\s+(.+)""".r

  /** First keyword AFTER leading whitespace and comments — a scheduler's
    * "-- nightly\nOPTIMIZE t" must reach the recognizer, not fall through
    * to Spark's grammar and die with a confusing parse error there.
    */
  private def stripLeading(sql: String): String = {
    var s = sql
    var changed = true
    while (changed) {
      val before = s
      s = s.dropWhile(_.isWhitespace)
      if (s.startsWith("--")) s = s.dropWhile(_ != '\n')
      else if (s.startsWith("/*")) {
        val end = s.indexOf("*/")
        s = if (end >= 0) s.substring(end + 2) else ""
      }
      changed = s != before
    }
    s
  }

  override def parsePlan(sqlText: String): LogicalPlan = {
    val body = stripLeading(sqlText)
    def firstWord = body.takeWhile(!_.isWhitespace).toUpperCase
    firstWord match {
      case "OPTIMIZE" => body match {
        case zorderRe(name, colList, rowsPerFile) => LakeCatalog.lookup(session, name) match {
          case Some(dir) =>
            val cols = colList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            require(cols.nonEmpty, "OPTIMIZE ... ZORDER BY needs at least one column")
            GraftZorderCommand(dir, cols,
              Option(rowsPerFile).map(_.toLong).getOrElse(0L))
          case None => throw new IllegalArgumentException(
            s"OPTIMIZE: '$name' is not a registered lake table")
        }
        case rebucketRe(name, to, factor) => LakeCatalog.lookup(session, name) match {
          case Some(dir) =>
            GraftRebucketCommand(dir,
              targetBuckets = Option(to).map(_.toInt),
              factor = Option(factor).map(_.toInt))
          case None => throw new IllegalArgumentException(
            s"OPTIMIZE: '$name' is not a registered lake table")
        }
        case optimizeRe(name, bloom) => LakeCatalog.lookup(session, name) match {
          case Some(dir) =>
            if (bloom == null) GraftOptimizeCommand(dir) else GraftBloomCommand(dir)
          case None => throw new IllegalArgumentException(
            s"OPTIMIZE: '$name' is not a registered lake table")
        }
        case _ =>
          throw new IllegalArgumentException(
            "expected: OPTIMIZE <lake table name> [BLOOM | ZORDER BY (col, ...) [ROWS n] " +
              "| REBUCKET TO <n> | REBUCKET FACTOR <k>]")
      }
      case "VACUUM" => body match {
        case vacuumRe(name, retain) => LakeCatalog.lookup(session, name) match {
          case Some(dir) =>
            GraftVacuumCommand(dir, Option(retain).map(_.toInt).getOrElse(2))
          case None => throw new IllegalArgumentException(
            s"VACUUM: '$name' is not a registered lake table")
        }
        case _ =>
          throw new IllegalArgumentException(
            "expected: VACUUM <lake table name> [RETAIN <n> VERSIONS]")
      }
      case "RESTORE" => body match {
        case restoreRe(name, kind, operand) => LakeCatalog.lookup(session, name) match {
          case Some(dir) =>
            if (kind.equalsIgnoreCase("VERSION")) {
              val v = try operand.trim.toLong catch { case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"RESTORE: VERSION AS OF expects a numeric manifest version (got '$operand')") }
              GraftRestoreCommand(dir, Some(v), None)
            } else GraftRestoreCommand(dir, None, Some(operand.trim))
          case None => throw new IllegalArgumentException(
            s"RESTORE: '$name' is not a registered lake table")
        }
        case _ =>
          throw new IllegalArgumentException(
            "expected: RESTORE [TABLE] <lake table name> [TO] VERSION AS OF <v> | TIMESTAMP AS OF <ts>")
      }
      case "ALTER" => body match {
        // Schema-evolution DDL, but ONLY for registered lake tables —
        // ALTER TABLE is a Spark statement first, so any other target (or
        // an ALTER form we don't own, e.g. RENAME) keeps parsing through
        // Spark untouched.
        case alterHeadRe(name, rest) if LakeCatalog.lookup(session, name).isDefined =>
          val dir = LakeCatalog.lookup(session, name).get
          rest match {
            case alterAddRe(parens, bare) =>
              GraftAlterAddColumnsCommand(dir, if (parens != null) parens else bare)
            case alterTypeRe(colName, typeSql) =>
              GraftAlterColumnTypeCommand(dir, colName, typeSql)
            case _ => throw new IllegalArgumentException(
              s"'$name' is a lake table; supported: ALTER TABLE $name ADD COLUMN[S] (<name> <type>, ...) " +
              s"| ALTER TABLE $name ALTER COLUMN <name> TYPE <type>")
          }
        case _ => delegate.parsePlan(sqlText)
      }
      case "DESCRIBE" | "DESC" => body match {
        // ONLY the exact HISTORY/DETAIL forms are ours. Everything else — plain
        // DESCRIBE <table> (including a table literally named `history`),
        // DESCRIBE FUNCTION/QUERY, column describes — keeps parsing
        // through Spark untouched: DESCRIBE is a Spark statement first,
        // so a non-matching tail must never die on OUR grammar.
        // On a non-registered name these DELEGATE instead of throwing:
        // `DESC detail price` / `DESC history price` are Spark's own
        // column-describe over tables literally named detail/history — our
        // regex cannot tell them from a typo'd lake-table name, and a
        // Spark statement must never die on OUR grammar.
        case describeDetailRe(name) if LakeCatalog.lookup(session, name).isDefined =>
          GraftDescribeDetailCommand(LakeCatalog.lookup(session, name).get)
        case describeHistoryRe(name, limit) if LakeCatalog.lookup(session, name).isDefined =>
          GraftDescribeHistoryCommand(LakeCatalog.lookup(session, name).get,
            Option(limit).map(_.toInt))
        case _ => delegate.parsePlan(sqlText)
      }
      case _ => LakeChangesTvf.rewrite(session, delegate.parsePlan(sqlText))
    }
  }

  // everything else delegates verbatim
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
}

/** OPTIMIZE: compact every delta-bearing bucket. A maintenance statement
  * is exactly the thing run while the streaming writer is live:
  * [[Compactor.compact]]'s optimistic commit rebases over a concurrent
  * micro-batch (or abandons this pass cleanly), never throwing a CAS
  * failure at the user.
  */
case class GraftOptimizeCommand(tableDir: String) extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("buckets_compacted", IntegerType, nullable = false)(),
    AttributeReference("wall_ms", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val table = LakeTable.load(session, tableDir)
    val due = Compactor.dueBuckets(table, deltaThreshold = 1)
    if (due.isEmpty) return Seq(Row(0, 0L))
    Compactor.compact(table, due.toSet) match {
      case Some(r) => Seq(Row(r.compactedBuckets.size, r.wallMs))
      case None => Seq(Row(0, 0L)) // abandoned: a concurrent rewrite superseded this pass
    }
  }
}

/** OPTIMIZE t ZORDER BY (c1, ...) [ROWS n]: rewrite the table's buckets
  * with Morton-interleaved intra-bucket layout so per-file min/max bounds
  * are tight on every listed column — the data-skipping companion to
  * [[graft.lake.DataSkipping]] (Delta's OPTIMIZE ZORDER shape). `ROWS n`
  * caps records per rewritten file (the skip-granularity lever);
  * omitted = ~8 files per bucket. Commits like OPTIMIZE: a concurrent
  * micro-batch rebases or abandons the pass (reported as (0, 0)).
  */
case class GraftZorderCommand(tableDir: String, cols: Seq[String], rowsPerFile: Long)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("buckets_rewritten", IntegerType, nullable = false)(),
    AttributeReference("wall_ms", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val table = LakeTable.load(session, tableDir)
    Compactor.zorder(table, cols, maxRecordsPerFile = rowsPerFile) match {
      case Some(r) => Seq(Row(r.compactedBuckets.size, r.wallMs))
      case None => Seq(Row(0, 0L))
    }
  }
}

/** OPTIMIZE t REBUCKET TO <n> | FACTOR <k>: multiply the table's bucket
  * space ([[LakeTable.rebucket]]) as a metadata-only commit — the growth
  * knob for a table whose creation-time bucket count the corpus has
  * outgrown. `TO n` requires n to be an integer multiple of the current
  * count (the coverage arithmetic needs every historical depth to divide
  * every later one); existing files migrate lazily through ordinary
  * compaction.
  */
case class GraftRebucketCommand(tableDir: String, targetBuckets: Option[Int],
                                factor: Option[Int]) extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("num_buckets", IntegerType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val table = LakeTable.load(session, tableDir)
    val cur = table.manifest.numBuckets
    val f = (targetBuckets, factor) match {
      case (Some(n), _) =>
        require(n > cur && n % cur == 0,
          s"REBUCKET TO $n: target must be a multiple of the current bucket count $cur " +
            s"and larger than it (got $n)")
        n / cur
      case (_, Some(k)) => k
      case _ => throw new IllegalArgumentException(
        "REBUCKET needs TO <n> or FACTOR <k>")
    }
    Seq(Row(table.rebucket(f)))
  }
}

/** OPTIMIZE ... BLOOM: annotate bloom-less delta files with key bloom
  * filters ([[LakeTable.buildBlooms]]) — a metadata-only commit that
  * makes point lookups skip delta files between compactions. Kept
  * separate from plain OPTIMIZE: compaction REMOVES the very delta files
  * blooms index, so the two passes serve different table states.
  */
case class GraftBloomCommand(tableDir: String) extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("files_annotated", IntegerType, nullable = false)(),
    AttributeReference("wall_ms", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val t0 = System.nanoTime()
    val table = LakeTable.load(session, tableDir)
    val n = table.buildBlooms()
    Seq(Row(n, (System.nanoTime() - t0) / 1000000))
  }
}

/** RESTORE [TABLE] t [TO] VERSION AS OF v | TIMESTAMP AS OF ts — roll the
  * live table state back to an earlier version as a NEW commit
  * ([[LakeTable.restoreTo]]: history preserved, no data copied, changelog
  * reads across the restore refuse loudly). The TIMESTAMP form resolves
  * through commit lineage wall-clock exactly like SELECT's TIMESTAMP AS
  * OF. The timestamp operand travels as its SQL TEXT and is parsed +
  * Cast-evaluated at run time — an Expression field on a leaf command
  * would trip CheckAnalysis while unresolved.
  */
case class GraftRestoreCommand(tableDir: String, version: Option[Long],
                               tsSql: Option[String]) extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("restored_to_version", LongType, nullable = false)(),
    AttributeReference("new_version", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val table = LakeTable.load(session, tableDir)
    val target = version.getOrElse {
      // evaluate through the full analyzer (a parse-time Expression may be
      // an unresolved function call like timestamp_millis(...)); the cast
      // runs in the session time zone like SELECT's TIMESTAMP AS OF
      val millis = try {
        val row = session.sql(s"SELECT CAST((${tsSql.get}) AS TIMESTAMP)").collect()(0)
        if (row.isNullAt(0)) throw new IllegalArgumentException(
          s"RESTORE: '${tsSql.get}' is not a timestamp")
        row.getTimestamp(0).getTime
      } catch {
        case ia: IllegalArgumentException => throw ia
        case other: Exception => throw new IllegalArgumentException(
          s"RESTORE: TIMESTAMP AS OF operand '${tsSql.get}' did not evaluate to a timestamp", other)
      }
      table.versionAtTimestamp(millis)
    }
    val newV = table.restoreTo(target)
    Seq(Row(target, newV))
  }
}

/** DESCRIBE HISTORY: the commit lineage newest-first. Reads the CURRENT
  * manifest's lineage window (capped at the manifest's retained entries;
  * older commits live in older manifests until the metadata vacuum
  * horizon — same window TIMESTAMP AS OF resolves against).
  */
case class GraftDescribeHistoryCommand(tableDir: String, limit: Option[Int])
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("committed_at", org.apache.spark.sql.types.TimestampType, nullable = false)(),
    AttributeReference("epoch", LongType, nullable = false)(),
    AttributeReference("batch_rows", LongType, nullable = false)(),
    AttributeReference("upserted_buckets", IntegerType, nullable = false)(),
    AttributeReference("max_lsn", LongType, nullable = false)(),
    AttributeReference("wall_ms", LongType, nullable = false)(),
    AttributeReference("op", org.apache.spark.sql.types.StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val table = LakeTable.load(session, tableDir)
    val entries = table.manifest.lineage.sortBy(-_.version)
    limit.fold(entries)(entries.take(_)).map(c => Row(
      c.version, new java.sql.Timestamp(c.committedAtMs), c.epoch, c.batchRows,
      c.upsertedBuckets.size, c.maxLsn, c.wallMs,
      if (c.op.isEmpty) "write" else c.op))
  }
}

/** DESCRIBE DETAIL t: one-row operational summary of a lake table (the
  * Delta-style surface an operator checks before/after maintenance) —
  * version, bucket space + the write DEPTHS present (a mid-migration
  * table after REBUCKET shows several), file/byte/row counts, delta
  * backlog, schema count, and the stream txn watermark. Pure manifest
  * read: no data file is touched.
  */
case class GraftDescribeDetailCommand(tableDir: String) extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("location", org.apache.spark.sql.types.StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_buckets", IntegerType, nullable = false)(),
    AttributeReference("write_depths", org.apache.spark.sql.types.StringType, nullable = false)(),
    AttributeReference("num_files", IntegerType, nullable = false)(),
    AttributeReference("num_delta_files", IntegerType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("total_rows", LongType, nullable = false)(),
    AttributeReference("max_lsn", LongType, nullable = false)(),
    AttributeReference("num_schemas", IntegerType, nullable = false)(),
    AttributeReference("stream_id", org.apache.spark.sql.types.StringType, nullable = false)(),
    AttributeReference("last_source_epoch", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val table = LakeTable.load(session, tableDir)
    val m = table.manifest
    val depths = m.files.map(m.fileDepth).distinct.sorted.mkString(",")
    // pre-`bytes`-field manifest entries are stat()ed once rather than
    // silently counted as 0 — an operator surface must not understate size
    val sizeBytes = m.files.map(f => f.bytes.getOrElse {
      try java.nio.file.Files.size(table.root.resolve(f.path)) catch { case _: Exception => 0L }
    }).sum
    Seq(Row(
      tableDir, m.version, m.numBuckets,
      if (depths.isEmpty) m.numBuckets.toString else depths,
      m.files.size, m.files.count(_.kind == graft.lake.FileEntry.DELTA),
      sizeBytes, m.totalRows, m.maxLsn,
      m.schemas.size, m.streamId, m.lastSourceEpoch))
  }
}

/** VACUUM ... RETAIN n VERSIONS: data + metadata reclamation in one
  * statement, pin-aware via the LakeTable implementations.
  */
case class GraftVacuumCommand(tableDir: String, retainVersions: Int)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("files_removed", IntegerType, nullable = false)(),
    AttributeReference("manifests_removed", IntegerType, nullable = false)(),
    AttributeReference("segments_removed", IntegerType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    require(retainVersions >= 1, s"RETAIN must be >= 1 (got $retainVersions)")
    val table = LakeTable.load(session, tableDir)
    val files = table.vacuum(keepVersions = retainVersions)
    val (manifests, segs) = table.vacuumMetadata(keepVersions = retainVersions)
    Seq(Row(files, manifests, segs))
  }
}

/** ALTER TABLE t ADD COLUMN[S] (<name> <type>, ...) — explicit
  * schema-evolution DDL over [[LakeTable.evolveSchema]] (the same
  * reconciler the write path evolves through implicitly). Metadata-only:
  * no data file is rewritten; existing files null-fill the new columns at
  * read time. The column list travels as SQL text and parses through
  * Spark's own schema grammar at run time (so DECIMAL(18,4), nested
  * types, and comments all behave exactly like CREATE TABLE).
  */
case class GraftAlterAddColumnsCommand(tableDir: String, colsDdl: String)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("schema_id", IntegerType, nullable = false)(),
    AttributeReference("added", org.apache.spark.sql.types.StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val table = LakeTable.load(session, tableDir)
    val newCols = try session.sessionState.sqlParser.parseTableSchema(colsDdl) catch {
      case e: Exception => throw new IllegalArgumentException(
        s"ADD COLUMNS: cannot parse column list '$colsDdl'", e)
    }
    val current = table.userSchema
    val dup = newCols.fieldNames.filter(current.fieldNames.contains)
    require(dup.isEmpty, s"ADD COLUMNS: column(s) already exist: ${dup.mkString(", ")}")
    val id = table.evolveSchema(newCols)
    Seq(Row(id, newCols.fieldNames.mkString(", ")))
  }
}

/** ALTER TABLE t ALTER COLUMN c TYPE <type> — widen a column under the
  * reconciler's rules (byte→short→int→long, float→double, integral→
  * fractional, decimal precision at fixed scale). Narrowing or an
  * incompatible retype fails with the reconciler's message; a no-op
  * retype (same type) returns the current schema id.
  */
case class GraftAlterColumnTypeCommand(tableDir: String, colName: String, typeSql: String)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("schema_id", IntegerType, nullable = false)(),
    AttributeReference("new_type", org.apache.spark.sql.types.StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val table = LakeTable.load(session, tableDir)
    val dt = try session.sessionState.sqlParser.parseDataType(typeSql) catch {
      case e: Exception => throw new IllegalArgumentException(
        s"ALTER COLUMN: cannot parse type '$typeSql'", e)
    }
    require(table.userSchema.fieldNames.contains(colName),
      s"ALTER COLUMN: no such column '$colName' (evolution cannot rename)")
    // the write-path reconciler silently KEEPS the wider current type when a
    // batch arrives narrower (correct for data), but explicit DDL asking to
    // narrow must be loud, not a silent no-op
    val curDt = table.userSchema(colName).dataType
    graft.lake.SchemaReconciler.widen(curDt, dt) match {
      case None => throw new IllegalArgumentException(
        s"schema evolution rejected: cannot retype $colName: ${curDt.sql} -> ${dt.sql}")
      case Some(w) if w != dt => throw new IllegalArgumentException(
        s"schema evolution rejected: narrowing $colName: ${curDt.sql} -> ${dt.sql}")
      case _ =>
    }
    val id = table.evolveSchema(StructType(Seq(
      org.apache.spark.sql.types.StructField(colName, dt))))
    Seq(Row(id, dt.sql))
  }
}
