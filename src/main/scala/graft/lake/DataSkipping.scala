package graft.lake

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Manifest-level data skipping: decide from per-file [[ColStat]] bounds
  * whether a file can possibly contain a row satisfying a predicate, and
  * prune a table's file list for a filtered scan — the Delta/Iceberg
  * skipping model, evaluated on the driver against O(files) metadata
  * before any scan task launches. At 100 TB this is the difference between
  * "read the partition-pruned buckets" and "read the handful of files
  * whose [min,max] intersect the predicate" — clustering (see
  * `Compactor.zorder`) exists to make these ranges tight.
  *
  * == Soundness under merge-on-read ==
  *
  * Skipping is trivially sound for a plain scan (dropping a file only
  * drops rows the residual filter would drop anyway). It is NOT generally
  * sound under per-key max-LSN resolution: if a key's LATEST row fails the
  * predicate but an OLDER row of the same key passes it, dropping only the
  * latest row's file would crown the stale row the "winner" and leak it
  * through the filter. The file-level rule here restores soundness:
  *
  *  - a bucket whose files are all BASE holds at most one row per key
  *    (compaction wrote it that way) and is read without resolution →
  *    per-file skipping applies;
  *  - a bucket carrying any DELTA file is kept or dropped WHOLE: it is
  *    dropped only when NO file in it can contain a matching row — then no
  *    key's winning row matches, so the bucket contributes nothing to the
  *    filtered output regardless of how resolution would have gone.
  *
  * Compaction keeping most buckets delta-free makes the per-file rule the
  * common case. All decisions are conservative: unknown stats, absent
  * bounds, unsupported predicate shapes, cast-wrapped columns all read
  * "may match".
  *
  * Reference analogue: owid-etl skips whole STEPS by input checksum
  * (`etl/steps/__init__.py:887-936`); this is the same don't-touch-what-
  * can't-matter economics applied inside a table at file granularity.
  */
object DataSkipping {

  /** What pruning saw: kept file list + counters for observability. */
  final case class Pruned(kept: Seq[FileEntry], total: Int,
                          skippedFiles: Int, skippedWholeBuckets: Int)

  /** Per-file KEY-bloom test for scan-level pruning (round-6: VERDICT #3).
    * [[FileEntry.bloom]] is a Spark-sketch bloom over `xxhash64(conv_id)`
    * built by `LakeTable.buildBlooms`; a present bloom that excludes an
    * equality literal's hash PROVES the file cannot contain that key —
    * no false negatives, so pruning on it is sound. This matters exactly
    * where min/max stats are useless: delta files span their bucket's
    * whole key range, and z-ordered bases carry deliberately loose
    * (minKey, maxKey). Deserialized blooms are cached process-wide by
    * file path (a path is annotated with at most one bloom over its
    * immutable contents), at most [[CacheCap]] of them, least recently
    * used evicted first; point lookups ([[LakeTable.filesForConversation]])
    * share the cache.
    */
  object KeyBloom {
    val KEY_COL = "conv_id"
    val CacheCap = 8192
    private val cache =
      new java.util.LinkedHashMap[String, BloomFilter](256, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[String, BloomFilter]): Boolean =
          size() > CacheCap
      }
    /** The file's deserialized bloom, if it has one. */
    def of(f: FileEntry): Option[BloomFilter] = f.bloom.map { b64 =>
      cache.synchronized(Option(cache.get(f.path))).getOrElse {
        val b = BloomFilter.readFrom(java.util.Base64.getDecoder.decode(b64))
        cache.synchronized(cache.put(f.path, b))
        b
      }
    }
    private[lake] def cacheSize: Int = cache.synchronized(cache.size)
    private[lake] def isCached(path: String): Boolean = cache.synchronized(cache.containsKey(path))
    /** false ONLY when a bloom is present and excludes the value. */
    def mightContain(f: FileEntry, value: Any): Boolean = value match {
      case s: String => of(f).forall(_.mightContainLong(LakeTable.keyHash(s)))
      case _ => true
    }
    def testFor(f: FileEntry): Option[(String, Any => Boolean)] =
      if (f.bloom.isEmpty) None else Some((KEY_COL, v => mightContain(f, v)))
  }

  /** Resolve a user-facing filter Column against `schema` into an analyzed
    * boolean Expression (type-coerced comparisons, casts folded on the
    * literal side at eval time). Conditions of every Filter node are
    * AND-ed; a filter the analyzer eliminates resolves to TRUE (no
    * pruning, conservative).
    */
  def resolvePredicate(spark: SparkSession, schema: StructType, filter: Column): Expression = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val analyzed = empty.filter(filter).queryExecution.analyzed
    val conds = analyzed.collect { case f: LFilter => f.condition }
    conds.reduceOption(And).getOrElse(Literal.TrueLiteral)
  }

  /** Prune `m.files` for `pred` under the MOR-sound bucket rule above.
    * `schemaOf` maps a schemaId to that file group's USER schema — a
    * column absent from an old file's schema null-fills at read time, so
    * non-null predicates on it exclude the file outright.
    */
  def pruneFiles(m: Manifest, pred: Expression, schemaOf: Int => StructType): Pruned = {
    var skippedFiles = 0
    var skippedBuckets = 0
    // Delta-bearing region, CLOSED under shared-file coverage: after a
    // REBUCKET a pre-split base file spans several current buckets, so
    // the keep/drop-whole unit is the connected coverage COMPONENT, not
    // the single bucket (with a single depth in history this degenerates
    // to exactly the old per-bucket rule). Files outside the region are
    // all BASE and covered by no delta — per-file skipping is sound.
    val dirtySeed = m.files.iterator.filter(_.kind != FileEntry.BASE)
      .flatMap(m.coveredBuckets).toSet
    val dirtyClosure = m.bucketClosure(dirtySeed)
    val (dirtySide, cleanSide) = m.files.partition(f =>
      m.coveredBuckets(f).exists(dirtyClosure.contains))

    val keptClean = cleanSide.filter { f =>
      val may = mayMatch(schemaOf(f.schemaId), f.colStats, f.rows, pred,
        KeyBloom.testFor(f))
      if (!may) skippedFiles += 1
      may
    }

    // union-find over the closed dirty buckets: buckets sharing a file
    // resolve together, so they keep/drop together
    val parent = scala.collection.mutable.Map.empty[Int, Int]
    dirtyClosure.foreach(b => parent(b) = b)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    def union(a: Int, b: Int): Unit = { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    dirtySide.foreach { f =>
      val bs = m.coveredBuckets(f)
      bs.drop(1).foreach(union(bs.head, _))
    }
    val keptDirty = dirtySide.groupBy(f => find(m.coveredBuckets(f).head)).toSeq
      .sortBy(_._1).flatMap { case (_, fs) =>
        val may = fs.map(f => mayMatch(schemaOf(f.schemaId), f.colStats, f.rows, pred,
          KeyBloom.testFor(f)))
        if (may.exists(identity)) fs
        else {
          skippedBuckets += fs.flatMap(m.coveredBuckets).distinct.size
          skippedFiles += fs.size
          Nil
        }
      }
    Pruned(keptClean ++ keptDirty, m.files.size, skippedFiles, skippedBuckets)
  }

  /** Can any row of a file with these stats satisfy `pred`? Conservative
    * three-valued logic collapsed to "maybe" = true. `keyBloom` optionally
    * names a column with a per-file bloom tester ([[KeyBloom.testFor]]):
    * equality/IN literals on that column additionally consult the bloom —
    * integrated INSIDE the recursive evaluation so And/Or compose
    * correctly (a bloom miss under an OR never drops the file alone).
    */
  def mayMatch(fileSchema: StructType, stats: Option[Map[String, ColStat]],
               rows: Long, pred: Expression,
               keyBloom: Option[(String, Any => Boolean)] = None): Boolean = {

    // ---- per-attribute domain ----
    final case class Dom(dt: DataType, absent: Boolean, st: Option[ColStat])
    def domOf(a: AttributeReference): Dom =
      fileSchema.fields.find(_.name == a.name) match {
        case None => Dom(a.dataType, absent = true, None) // null-filled at read
        case Some(f) => Dom(f.dataType, absent = false, stats.flatMap(_.get(f.name)))
      }
    def mayHaveNull(d: Dom): Boolean =
      d.absent || (d.st match {
        case Some(s) if s.nulls == 0L => false
        case _ => true
      })
    def mayHaveNonNull(d: Dom): Boolean =
      !d.absent && (d.st match {
        case Some(s) if s.nulls >= 0L && s.nulls >= rows => false // all-null file
        case _ => true
      })
    def bounds(d: Dom): (Option[Any], Option[Any]) = d.st match {
      case Some(s) => (s.min.flatMap(StatsHarvest.parse(d.dt, _)),
                       s.max.flatMap(StatsHarvest.parse(d.dt, _)))
      case None => (None, None)
    }

    // ---- comparison primitives (None bound = unbounded = maybe) ----
    def litVal(d: Dom, e: Expression): Option[Any] = {
      val v = try e.eval(EmptyRow) catch { case _: Exception => return None }
      StatsHarvest.literal(d.dt, v)
    }
    def ord(d: Dom): Option[Ordering[Any]] = StatsHarvest.ordering(d.dt)

    def canEq(a: AttributeReference, lit: Expression): Boolean = {
      val d = domOf(a)
      if (!mayHaveNonNull(d)) return false
      (litVal(d, lit), ord(d)) match {
        case (Some(v), Some(o)) =>
          val (lo, hi) = bounds(d)
          lo.forall(l => o.lteq(l, v)) && hi.forall(h => o.gteq(h, v)) &&
            keyBloom.forall { case (name, test) => a.name != name || test(v) }
        case _ => litValIsNull(lit) match {
          case Some(true) => false // col = NULL matches nothing
          case _ => true
        }
      }
    }
    def litValIsNull(e: Expression): Option[Boolean] =
      try Some(e.eval(EmptyRow) == null) catch { case _: Exception => None }

    // may any value v in file satisfy (v CMP lit)?
    def canCmp(a: AttributeReference, lit: Expression,
               test: (Ordering[Any], Any, Option[Any], Option[Any]) => Boolean): Boolean = {
      val d = domOf(a)
      if (!mayHaveNonNull(d)) return false
      (litVal(d, lit), ord(d)) match {
        case (Some(v), Some(o)) => val (lo, hi) = bounds(d); test(o, v, lo, hi)
        case _ => litValIsNull(lit) match {
          case Some(true) => false
          case _ => true
        }
      }
    }
    val ltTest = (o: Ordering[Any], v: Any, lo: Option[Any], _: Option[Any]) =>
      lo.forall(l => o.lt(l, v)) // some value < v iff min < v
    val leTest = (o: Ordering[Any], v: Any, lo: Option[Any], _: Option[Any]) =>
      lo.forall(l => o.lteq(l, v))
    val gtTest = (o: Ordering[Any], v: Any, _: Option[Any], hi: Option[Any]) =>
      hi.forall(h => o.gt(h, v))
    val geTest = (o: Ordering[Any], v: Any, _: Option[Any], hi: Option[Any]) =>
      hi.forall(h => o.gteq(h, v))

    def canStartsWith(a: AttributeReference, lit: Expression): Boolean = {
      val d = domOf(a)
      if (!mayHaveNonNull(d)) return false // NULL startswith p is never true
      if (d.dt != StringType) return true
      litVal(d, lit) match {
        case Some(p: String) =>
          val (lo, hi) = bounds(d)
          // strings with prefix p live in [p, p·∞): max >= p, and min's
          // first |p| BYTES must not already exceed p — all comparisons
          // in UTF-8 unsigned-byte order (parquet/UTF8String semantics;
          // Java String order diverges beyond the BMP)
          def u8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          def cmp(a: Array[Byte], b: Array[Byte]): Int = {
            var i = 0
            while (i < a.length && i < b.length) {
              val d = (a(i) & 0xff) - (b(i) & 0xff)
              if (d != 0) return d
              i += 1
            }
            a.length - b.length
          }
          val pb = u8(p)
          hi.forall(h => cmp(u8(h.asInstanceOf[String]), pb) >= 0) &&
            lo.forall(l => cmp(u8(l.asInstanceOf[String]).take(pb.length), pb) <= 0)
        case _ => true
      }
    }

    // ---- recursive conservative evaluation ----
    def can(e: Expression): Boolean = e match {
      case And(l, r) => can(l) && can(r)
      case Or(l, r) => can(l) || can(r)
      case Literal(v, BooleanType) => v == true // false and null match nothing
      case IsNull(a: AttributeReference) => mayHaveNull(domOf(a))
      case IsNotNull(a: AttributeReference) => mayHaveNonNull(domOf(a))
      case EqualTo(a: AttributeReference, l) if l.foldable => canEq(a, l)
      case EqualTo(l, a: AttributeReference) if l.foldable => canEq(a, l)
      case EqualNullSafe(a: AttributeReference, l) if l.foldable =>
        litValIsNull(l) match {
          case Some(true) => mayHaveNull(domOf(a))
          case _ => canEq(a, l)
        }
      case EqualNullSafe(l, a: AttributeReference) if l.foldable =>
        litValIsNull(l) match {
          case Some(true) => mayHaveNull(domOf(a))
          case _ => canEq(a, l)
        }
      case LessThan(a: AttributeReference, l) if l.foldable => canCmp(a, l, ltTest)
      case LessThan(l, a: AttributeReference) if l.foldable => canCmp(a, l, gtTest)
      case LessThanOrEqual(a: AttributeReference, l) if l.foldable => canCmp(a, l, leTest)
      case LessThanOrEqual(l, a: AttributeReference) if l.foldable => canCmp(a, l, geTest)
      case GreaterThan(a: AttributeReference, l) if l.foldable => canCmp(a, l, gtTest)
      case GreaterThan(l, a: AttributeReference) if l.foldable => canCmp(a, l, ltTest)
      case GreaterThanOrEqual(a: AttributeReference, l) if l.foldable => canCmp(a, l, geTest)
      case GreaterThanOrEqual(l, a: AttributeReference) if l.foldable => canCmp(a, l, leTest)
      case In(a: AttributeReference, list) if list.forall(_.foldable) =>
        list.exists(v => canEq(a, v))
      case InSet(a: AttributeReference, hset) => {
        val d = domOf(a)
        if (!mayHaveNonNull(d)) false
        else (ord(d), Option(hset)) match {
          case (Some(o), Some(vs)) =>
            val (lo, hi) = bounds(d)
            vs.exists { raw =>
              StatsHarvest.literal(d.dt, raw) match {
                case Some(v) => lo.forall(l => o.lteq(l, v)) && hi.forall(h => o.gteq(h, v))
                case None => true
              }
            }
          case _ => true
        }
      }
      case StartsWith(a: AttributeReference, l) if l.foldable => canStartsWith(a, l)
      case Not(EqualTo(a: AttributeReference, l)) if l.foldable => canNotEq(a, l)
      case Not(EqualTo(l, a: AttributeReference)) if l.foldable => canNotEq(a, l)
      case _ => true // unsupported shape: may match
    }
    def canNotEq(a: AttributeReference, lit: Expression): Boolean = {
      val d = domOf(a)
      if (!mayHaveNonNull(d)) return false // every row null → NULL<>v is not true
      (litVal(d, lit), ord(d)) match {
        case (Some(v), Some(o)) =>
          val (lo, hi) = bounds(d)
          // only a constant file (min==max==v, no nulls... nulls don't
          // matter: a null row yields NULL, not true) excludes <>
          !(lo.contains(v) && hi.contains(v) &&
            lo.isDefined && hi.isDefined && o.equiv(lo.get, hi.get))
        case _ => true
      }
    }

    can(pred)
  }

  /** Pruned file set for a filtered SNAPSHOT read of `table` — the MOR
    * bucket rule applied to the current manifest; pair with a residual
    * `.filter` on the scan (stats are file-level, not row-level).
    */
  def pruneForSnapshot(spark: SparkSession, m: Manifest, filter: Column): Pruned = {
    val user = StructType.fromDDL(m.schemas.find(_.id == m.currentSchemaId).get.ddl)
    val pred = resolvePredicate(spark, user, filter)
    val bySid = m.schemas.map(s => s.id -> StructType.fromDDL(s.ddl)).toMap
    pruneFiles(m, pred, bySid)
  }
}
