package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** Relational operator coverage (SURVEY.md §2.1-§2.10), one registered
  * query + DuckDB oracle per operator row.
  *
  * Oracle-parity conventions (floats must hash-match the DuckDB oracle):
  *  - aggregated doubles go through decimal(18,4) on BOTH sides — decimal
  *    summation is exact and order-invariant, then one cast back to double;
  *  - row-level double expressions use the identical expression shape on
  *    both sides (same IEEE ops on same operands → same bits);
  *  - every query ends in a deterministic ORDER BY;
  *  - timestamps leave the plan as formatted strings.
  */
object RelationalQueries {
  import Queries.register

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Scratch dir for queries that build a throwaway lake table, deleted on
    * JVM exit: the returned DataFrame scans it lazily, so it cannot be
    * deleted inside the builder — but a bench/verify JVM runs such a query
    * several times (two passes + a possible isolated remeasure) and must
    * not leave one full table copy behind per invocation.
    */
  private def scratchDir(prefix: String): String = {
    // tmpfs when available: the scratch builds (bootstrap write + zorder
    // rewrite + footer harvest) are bound by this VM's disk-backed
    // kernel/FS path — the documented host bottleneck (BENCH/BASELINE.md).
    // /dev/shm takes both write passes off that path; same place the
    // bench keeps its own WAL/work dirs. Falls back to java.io.tmpdir.
    val shm = java.nio.file.Paths.get("/dev/shm")
    val p = if (java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, prefix)
    else java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.lake.LakeCore.deleteRecursively(p)))
    p.toString
  }

  /** Exact order-invariant double sum: cast→decimal(18,4)→sum→double. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")
  private val DSUM = "CAST(SUM(CAST(%s AS DECIMAL(18,4))) AS DOUBLE)"

  def registerAll(): Unit = {
    scansAndFilters()
    joins()
    aggregations()
    windows()
    sortsAndSets()
    scalars()
    reshape()
    cdc()
    verification()
  }

  // ===== tolerant dataset diff + composed time expansion (SURVEY §3.3) =====
  private def verification(): Unit = {
    // rtol/atol datadiff (owid-etl etl/datadiff.py:536-676): two derived
    // versions of `orders` — keys dropped on each side + a 1e-3 relative
    // perturbation on some prices — diffed at rtol=1e-5.
    register("q_datadiff", Some(
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice, o_orderstatus FROM orders),
        |a AS (SELECT * FROM o WHERE k % 97 != 0),
        |b AS (SELECT k, CASE WHEN k % 13 = 0 THEN o_totalprice * 1.001
        |                     ELSE o_totalprice END AS o_totalprice, o_orderstatus
        |      FROM o WHERE k % 89 != 0),
        |j AS (SELECT a.k IS NOT NULL AS in_a, b.k IS NOT NULL AS in_b,
        |             a.o_totalprice AS ap, b.o_totalprice AS bp,
        |             a.o_orderstatus AS ast, b.o_orderstatus AS bst
        |      FROM a FULL OUTER JOIN b ON a.k = b.k),
        |agg AS (SELECT
        |  count(*) FILTER (WHERE in_a AND in_b) AS cmp,
        |  count(*) FILTER (WHERE in_a AND in_b
        |    AND abs(ap - bp) > 1e-8 + 1e-5 * abs(bp)) AS dif_p,
        |  max(CASE WHEN in_a AND in_b THEN abs(ap - bp) END) AS mad_p,
        |  count(*) FILTER (WHERE in_a AND in_b
        |    AND NOT (ast IS NOT DISTINCT FROM bst)) AS dif_s,
        |  count(*) FILTER (WHERE in_a AND NOT in_b) AS only_a,
        |  count(*) FILTER (WHERE in_b AND NOT in_a) AS only_b
        | FROM j)
        |SELECT 'o_orderstatus' AS "column", cmp AS n_compared, dif_s AS n_differs,
        |       CAST(NULL AS DOUBLE) AS max_abs_diff, only_a AS n_only_a, only_b AS n_only_b FROM agg
        |UNION ALL
        |SELECT 'o_totalprice', cmp, dif_p, mad_p, only_a, only_b FROM agg
        |ORDER BY "column"""".stripMargin)) { (s, dir) =>
      val o = T(s, dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
      val a = o.filter(col("o_orderkey") % 97 =!= 0)
      val b = o.filter(col("o_orderkey") % 89 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") * lit(1.001))
            .otherwise(col("o_totalprice")))
      DiffOps.diff(a, b, Seq("o_orderkey"), rtol = 1e-5, atol = 1e-8)
        .orderBy("column")
    }

    // expand_time_column composed form (misc.py:109-349): per-entity range
    // EXTENDED until 1999, introduced gaps forward-filled — one op.
    register("q_expand_time_fill", Some(
      """WITH obs AS (SELECT o_custkey, CAST(year(o_orderdate) AS INTEGER) AS y, COUNT(*) AS n
        |             FROM orders GROUP BY 1, 2),
        |rng AS (SELECT o_custkey, MIN(y) AS mn, greatest(MAX(y), 1999) AS mx FROM obs GROUP BY 1),
        |spine AS (SELECT o_custkey, CAST(unnest(generate_series(mn, mx)) AS INTEGER) AS y FROM rng),
        |j AS (SELECT s.o_custkey, s.y, obs.n
        |      FROM spine s LEFT JOIN obs ON s.o_custkey = obs.o_custkey AND s.y = obs.y)
        |SELECT o_custkey, y,
        |  last_value(n IGNORE NULLS) OVER (PARTITION BY o_custkey ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
        |FROM j ORDER BY o_custkey, y""".stripMargin)) { (s, dir) =>
      val obs = T(s, dir, "orders")
        .withColumn("y", year(col("o_orderdate")))
        .groupBy("o_custkey", "y").agg(count(lit(1)).as("n"))
      TimeOps.expandTimeColumn(obs, Seq("o_custkey"), "y", "full_range_entity",
        since = None, until = Some(1999L), fill = "ffill", fillCols = Seq("n"))
        .orderBy("o_custkey", "y")
    }

    // per-key grouped JSON export (the reference's R2 per-variable
    // {entities,years,values} doc, data_metadata.py:14-24) — byte-identical
    // doc built by both engines from (time, entity)-sorted aligned arrays.
    register("q_per_key_export", Some(
      """WITH g AS (SELECT o_orderpriority AS key, CAST(year(o_orderdate) AS INTEGER) AS t,
        |                  o_custkey AS e, COUNT(*) AS v
        |           FROM orders GROUP BY 1, 2, 3)
        |SELECT key,
        |  '{"entities":[' || string_agg(e::VARCHAR, ',' ORDER BY t, e) ||
        |  '],"years":['   || string_agg(t::VARCHAR, ',' ORDER BY t, e) ||
        |  '],"values":['  || string_agg(v::VARCHAR, ',' ORDER BY t, e) || ']}' AS doc
        |FROM g GROUP BY key ORDER BY key""".stripMargin)) { (s, dir) =>
      val g = T(s, dir, "orders")
        .withColumn("t", year(col("o_orderdate")))
        .groupBy(col("o_orderpriority").as("key"), col("t"), col("o_custkey").as("e"))
        .agg(count(lit(1)).as("v"))
      ExportOps.perKeyJson(g, "key", "e", "t", "v").orderBy("key")
    }
  }

  // ===== §2.1 scans + §2.2 projections/filters/row ops =====
  private def scansAndFilters(): Unit = {
    // predicate + projection pushdown reach the parquet scan (verified via .explain)
    register("q_scan_filter_project", Some(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1995-06-01' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)) { (s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1995-06-01 00:00:00"))
          && col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    }

    // column subset by regex (tables.py:849) + date formatting
    register("q_filter_columns_regex", Some(
      """SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)) { (s, dir) =>
      TableOps.filterColumns(T(s, dir, "lineitem"), "^l_(orderkey|linenumber|shipdate)$")
        .withColumn("l_shipdate", date_format(col("l_shipdate"), "yyyy-MM-dd"))
        .orderBy("l_orderkey", "l_linenumber")
    }

    register("q_drop_duplicates", Some(
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2""")) { (s, dir) =>
      T(s, dir, "lineitem").select("l_returnflag", "l_linestatus")
        .dropDuplicates().orderBy("l_returnflag", "l_linestatus")
    }

    register("q_dropna", Some(
      s"""SELECT event_type, COUNT(*) AS n, ${DSUM.format("v")} AS sum_v FROM (
         |  SELECT event_type, CASE WHEN value < 10 THEN NULL ELSE value END AS v FROM events
         |) WHERE v IS NOT NULL GROUP BY event_type ORDER BY event_type""".stripMargin)) { (s, dir) =>
      T(s, dir, "events")
        .withColumn("v", when(col("value") < 10, lit(null)).otherwise(col("value")))
        .select("event_type", "v")
        .na.drop(Seq("v"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("v")).as("sum_v"))
        .orderBy("event_type")
    }

    register("q_fillna", Some(
      s"""SELECT event_type, ${DSUM.format("COALESCE(v, -1.0)")} AS sum_filled,
         |       COUNT(*) FILTER (WHERE v IS NULL) AS n_filled
         |FROM (SELECT event_type, CASE WHEN value < 10 THEN NULL ELSE value END AS v FROM events)
         |GROUP BY event_type ORDER BY event_type""".stripMargin)) { (s, dir) =>
      T(s, dir, "events")
        .withColumn("v", when(col("value") < 10, lit(null)).otherwise(col("value")))
        .withColumn("n_was_null", when(col("v").isNull, 1L).otherwise(0L))
        .na.fill(Map("v" -> -1.0))
        .groupBy("event_type")
        .agg(dsum(col("v")).as("sum_filled"), sum(col("n_was_null")).as("n_filled"))
        .orderBy("event_type")
    }

    register("q_cast_types", Some(
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INTEGER) AS qty_int
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)) { (s, dir) =>
      T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("int").as("qty_int"))
        .orderBy("l_orderkey", "l_linenumber")
    }

    // derived column (assign/__setitem__) — identical IEEE expression shape
    register("q_assign_derived", Some(
      """SELECT l_orderkey, l_linenumber,
        |       (l_extendedprice * (1 + l_tax)) * (1 - l_discount) AS charge
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)) { (s, dir) =>
      T(s, dir, "lineitem")
        .withColumn("charge",
          (col("l_extendedprice") * (lit(1) + col("l_tax"))) * (lit(1) - col("l_discount")))
        .select("l_orderkey", "l_linenumber", "charge")
        .orderBy("l_orderkey", "l_linenumber")
    }

    // underscore/snake_case normalization (utils.py:41-50)
    register("q_underscore_rename", Some(
      """SELECT c_custkey AS cust_key, c_name AS customer_name, c_acctbal AS acct_bal
        |FROM customer ORDER BY cust_key""".stripMargin)) { (s, dir) =>
      val camel = T(s, dir, "customer")
        .select(col("c_custkey").as("CustKey"), col("c_name").as("CustomerName"),
          col("c_acctbal").as("AcctBal"))
      TableOps.underscore(camel).orderBy("cust_key")
    }

    // dict-based value mapping (map_series, dataframes.py:400-494)
    register("q_map_values", Some(
      """SELECT CASE n_name WHEN 'JAPAN' THEN 'Japan' WHEN 'CHINA' THEN 'China'
        |            WHEN 'FRANCE' THEN 'France' ELSE n_name END AS n_name,
        |       n_nationkey
        |FROM nation ORDER BY n_nationkey""".stripMargin)) { (s, dir) =>
      TableOps.mapValues(T(s, dir, "nation"), "n_name",
        Map("JAPAN" -> "Japan", "CHINA" -> "China", "FRANCE" -> "France"))
        .select("n_name", "n_nationkey").orderBy("n_nationkey")
    }

    // harmonize-style canonicalization with exclusions (geo.py:459-548)
    register("q_harmonize", Some(
      """SELECT CASE n_name WHEN 'UNITED STATES' THEN 'United States'
        |            WHEN 'UNITED KINGDOM' THEN 'United Kingdom' ELSE n_name END AS n_name,
        |       n_regionkey
        |FROM nation WHERE n_name NOT IN ('KENYA', 'PERU') ORDER BY n_name""".stripMargin)) { (s, dir) =>
      val (h, _) = HarmonizeOps.harmonize(T(s, dir, "nation"), "n_name",
        Map("UNITED STATES" -> "United States", "UNITED KINGDOM" -> "United Kingdom"),
        excluded = Seq("KENYA", "PERU"))
      h.select("n_name", "n_regionkey").orderBy("n_name")
    }

    // table-valued fillna (fillFrom, tables.py:1033-1049)
    register("q_fill_from", Some(
      s"""WITH base AS (
         |  SELECT o_orderkey, o_custkey,
         |         CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS price
         |  FROM orders),
         |per_cust AS (SELECT o_custkey, MAX(o_totalprice) AS price FROM orders GROUP BY 1)
         |SELECT b.o_orderkey, COALESCE(b.price, p.price) AS price
         |FROM base b LEFT JOIN per_cust p ON b.o_custkey = p.o_custkey
         |ORDER BY b.o_orderkey""".stripMargin)) { (s, dir) =>
      val orders = T(s, dir, "orders")
      val base = orders.select(col("o_orderkey"), col("o_custkey"),
        when(col("o_orderstatus") === "P", lit(null)).otherwise(col("o_totalprice")).as("price"))
      val perCust = orders.groupBy("o_custkey").agg(max("o_totalprice").as("price"))
      TableOps.fillFrom(base, perCust, Seq("o_custkey"), Seq("price"))
        .select("o_orderkey", "price").orderBy("o_orderkey")
    }
  }

  // ===== §2.3 joins =====
  private def joins(): Unit = {
    register("q_join_inner_agg", Some(
      s"""SELECT o_orderpriority, ${DSUM.format("l_extendedprice * (1 - l_discount)")} AS revenue,
         |       COUNT(*) AS n
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
      val li = T(s, dir, "lineitem")
      val o = T(s, dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
      TableOps.merge(li, o, Seq("l_orderkey"), "inner")
        .groupBy("o_orderpriority")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }

    register("q_join_left_nulls", Some(
      """SELECT c_mktsegment, COUNT(o.o_orderkey) AS n_big, COUNT(*) AS n_rows
        |FROM customer c LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 150000) o
        |  ON c.c_custkey = o.o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)) { (s, dir) =>
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders").filter(col("o_totalprice") > 150000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(count(col("o_orderkey")).as("n_big"), count(lit(1)).as("n_rows"))
        .orderBy("c_mktsegment")
    }

    register("q_join_semi", Some(
      """SELECT o_orderstatus, COUNT(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)) { (s, dir) =>
      val o = T(s, dir, "orders")
      val li = T(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o_orderkey"))
      o.join(li, Seq("o_orderkey"), "left_semi")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }

    register("q_join_anti", Some(
      """SELECT c_mktsegment, COUNT(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)) { (s, dir) =>
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }

    register("q_multi_merge", Some(
      s"""SELECT r_name, COUNT(*) AS n_customers, ${DSUM.format("c_acctbal")} AS total_bal
         |FROM region JOIN nation ON r_regionkey = n_regionkey
         |            JOIN customer ON n_nationkey = c_nationkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin)) { (s, dir) =>
      val r = T(s, dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
      val n = T(s, dir, "nation")
      val c = T(s, dir, "customer").withColumnRenamed("c_nationkey", "n_nationkey")
      TableOps.multiMerge(Seq(
        TableOps.multiMerge(Seq(r, n), Seq("n_regionkey")), c), Seq("n_nationkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("total_bal"))
        .orderBy("r_name")
    }

    // priority coalesce join (combine_two_overlapping_dataframes, dataframes.py:578-654)
    register("q_combine_overlapping", Some(
      """WITH a AS (SELECT o_orderkey, o_totalprice AS price FROM orders
        |           WHERE o_orderpriority = '1-URGENT'),
        |     b AS (SELECT o_orderkey, -1.0 AS price FROM orders)
        |SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |       COALESCE(a.price, b.price) AS price
        |FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
        |ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      val orders = T(s, dir, "orders")
      val a = orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
      val b = orders.select(col("o_orderkey"), lit(-1.0).as("price"))
      TableOps.combineTwoOverlapping(a, b, Seq("o_orderkey")).orderBy("o_orderkey")
    }

    // lookup join with insert-if-absent dim rows (grapher_helpers.py:320-399)
    register("q_lookup_or_create", Some(
      """WITH fact AS (SELECT c_custkey, n_name FROM customer
        |              JOIN nation ON c_nationkey = n_nationkey),
        |dim0 AS (SELECT n_name, CAST(n_nationkey AS BIGINT) AS entity_id
        |         FROM nation WHERE n_nationkey < 10),
        |missing AS (
        |  SELECT n_name,
        |         (SELECT MAX(entity_id) FROM dim0)
        |           + ROW_NUMBER() OVER (ORDER BY n_name) AS entity_id
        |  FROM (SELECT DISTINCT f.n_name FROM fact f
        |        WHERE f.n_name NOT IN (SELECT n_name FROM dim0))),
        |dim AS (SELECT * FROM dim0 UNION ALL SELECT * FROM missing)
        |SELECT f.n_name, d.entity_id, COUNT(*) AS n
        |FROM fact f JOIN dim d ON f.n_name = d.n_name
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin)) { (s, dir) =>
      val fact = T(s, dir, "customer")
        .join(T(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "n_name")
      val dim0 = T(s, dir, "nation").filter(col("n_nationkey") < 10)
        .select(col("n_name"), col("n_nationkey").cast("long").as("entity_id"))
      val (withIds, _) = TableOps.lookupOrCreate(fact, dim0, "n_name", "entity_id")
      withIds.groupBy("n_name", "entity_id").agg(count(lit(1)).as("n")).orderBy("n_name")
    }
  }

  // ===== §2.4 aggregations =====
  private def aggregations(): Unit = {
    register("q1_agg", Some(
      s"""SELECT l_returnflag, l_linestatus,
         |  ${DSUM.format("l_quantity")} AS sum_qty,
         |  ${DSUM.format("l_extendedprice")} AS sum_base_price,
         |  ${DSUM.format("l_quantity")} / COUNT(l_quantity) AS avg_qty,
         |  COUNT(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin)) { (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          (dsum(col("l_quantity")) / count(col("l_quantity"))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }

    // NaN-aware groupby_agg with gates (dataframes.py:248-353)
    register("q_agg_nan_aware", Some(
      s"""SELECT event_type,
         |  CASE WHEN (COUNT(*) - COUNT(v)) <= COUNT(*) * 0.2 AND COUNT(v) >= 5
         |       THEN ${DSUM.format("v")} END AS v
         |FROM (SELECT event_type, CASE WHEN value < 10 THEN NULL ELSE value END AS v FROM events)
         |GROUP BY event_type ORDER BY event_type""".stripMargin)) { (s, dir) =>
      val df = T(s, dir, "events")
        .withColumn("v", when(col("value") < 10, lit(null)).otherwise(col("value")))
      AggOps.groupbyAggNanAware(df, Seq("event_type"), "v", agg = "dsum",
        fracAllowedNulls = Some(0.2), minNumValues = Some(5))
        .orderBy("event_type")
    }

    // region aggregate with must-have-members gate (geo.py:267-456, set-subset agg :398)
    register("q_region_agg_gate", Some(
      s"""WITH f AS (SELECT n_name AS entity, c_mktsegment, c_acctbal FROM customer
         |           JOIN nation ON c_nationkey = n_nationkey WHERE c_acctbal > 5000),
         |m AS (SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey),
         |need AS (SELECT r_name, COUNT(*) AS cnt FROM m GROUP BY 1),
         |g AS (SELECT m.r_name, f.c_mktsegment,
         |             SUM(CAST(f.c_acctbal AS DECIMAL(18,4))) AS s,
         |             COUNT(DISTINCT f.entity) AS got
         |      FROM f JOIN m ON f.entity = m.n_name GROUP BY 1, 2)
         |SELECT g.r_name AS entity, g.c_mktsegment, CAST(g.s AS DOUBLE) AS c_acctbal
         |FROM g JOIN need ON g.r_name = need.r_name
         |WHERE g.got = need.cnt ORDER BY entity, c_mktsegment""".stripMargin)) { (s, dir) =>
      val nation = T(s, dir, "nation")
      val region = T(s, dir, "region")
      val memberOf = nation.join(region, col("n_regionkey") === col("r_regionkey"))
        .select("n_name", "r_name").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val mustHave = memberOf.groupBy(_._2).map { case (reg, ms) => reg -> ms.keys.toSeq }
      val f = T(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("entity"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,4)").as("c_acctbal"))
      AggOps.regionAggregates(f, "entity", Seq("c_mktsegment"), Seq("c_acctbal"),
        memberOf, mustHave)
        .withColumn("c_acctbal", col("c_acctbal").cast("double"))
        .orderBy("entity", "c_mktsegment")
    }

    // per-group arbitrary function via typed groupByKey.flatMapGroups (tables.py:1148-1182)
    register("q_groupby_apply", Some(
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(ROUND(MAX(o_totalprice) * 100) AS BIGINT)
        |    - CAST(ROUND(MIN(o_totalprice) * 100) AS BIGINT) AS spread_cents
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val ds = T(s, dir, "orders").select("o_custkey", "o_totalprice").as[(Long, Double)]
      HarmonizeOps.groupApply(ds, (r: (Long, Double)) => r._1) { (k, it) =>
        var n = 0L; var mn = Double.MaxValue; var mx = Double.MinValue
        it.foreach { case (_, p) => n += 1; if (p < mn) mn = p; if (p > mx) mx = p }
        Iterator.single((k, n, math.round(mx * 100) - math.round(mn * 100)))
      }.toDF("o_custkey", "n_orders", "spread_cents").orderBy("o_custkey")
    }

    register("q_count_missing", Some(
      """SELECT event_type, COUNT(*) FILTER (WHERE v IS NULL) AS n_missing, COUNT(*) AS n_total
        |FROM (SELECT event_type, CASE WHEN value < 10 THEN NULL ELSE value END AS v FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)) { (s, dir) =>
      val df = T(s, dir, "events")
        .withColumn("v", when(col("value") < 10, lit(null)).otherwise(col("value")))
      AggOps.countMissingInGroups(df, Seq("event_type"), "v").orderBy("event_type")
    }

    register("q_distinct_count", Some(
      """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
        |       COUNT(DISTINCT l_partkey) AS n_part
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      T(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"))
        .orderBy("l_returnflag")
    }

    // grouping sets (SURVEY §2.4 notes cube/rollup come free with Spark)
    register("q_cube_rollup", Some(
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |       ${DSUM.format("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)) { (s, dir) =>
      T(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }

    // approximate distinct (HLL) — algorithms differ across engines, so no
    // SQL oracle; AggSpec bounds the relative error against exact counts
    // HLL sketch values are engine-specific (no oracle) — the result
    // carries its own verification bit: approx within 5% of the exact
    // count computed in the same job (HLL++ rsd default 0.05).
    register("q_approx_distinct", None) { (s, dir) =>
      T(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .withColumn("within_bounds",
          abs(col("approx_parts") - col("exact_parts")).cast("double") <=
            lit(0.05) * col("exact_parts"))
        .orderBy("l_returnflag")
    }

    register("q_timespan", Some(
      """SELECT o_orderpriority, CAST(MIN(year(o_orderdate)) AS INTEGER) AS min_t,
        |       CAST(MAX(year(o_orderdate)) AS INTEGER) AS max_t
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
      AggOps.timespan(
        T(s, dir, "orders").withColumn("y", year(col("o_orderdate"))),
        Seq("o_orderpriority"), "y")
        .orderBy("o_orderpriority")
    }

    // order-invariant content checksum (grapher_import.py:419-421), now
    // FULLY DuckDB-oracled via the portable row hash (md5-low-60, see
    // TextOps.md5Hash60): sum of per-row hashes in decimal(38,0) — the
    // exact algebra the engine's xxhash64 contentChecksum uses, verified
    // value-for-value cross-engine. The xxhash64 fast path keeps its
    // in-result verification bit: the checksum recomputed under a
    // DIFFERENT physical plan (repartitioned → different row
    // order/partitioning) must be equal, demonstrating order-invariance.
    register("q_checksum_agg", Some(
      """SELECT CAST(CAST(SUM(CAST(('0x' || substr(md5(concat_ws(chr(1),
        |    CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
        |    l_returnflag)), 1, 15)) AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR)
        |    AS checksum_portable,
        |  COUNT(*) AS n, CAST(1 AS BOOLEAN) AS invariant_ok
        |FROM lineitem""".stripMargin)) { (s, dir) =>
      val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag")
      val base = T(s, dir, "lineitem")
      val rowStr = concat_ws("\u0001", cols.map(c => col(c).cast("string")): _*)
      val c1 = base.agg(
        sum(graft.ops.TextOps.md5Hash60(rowStr).cast("decimal(38,0)"))
          .cast("string").as("checksum_portable"),
        AggOps.contentChecksum(base, cols).cast("string").as("checksum"),
        count(lit(1)).as("n"))
      val c2 = base.repartition(17, col("l_partkey"))
        .agg(AggOps.contentChecksum(base, cols).cast("string").as("checksum_replan"))
      c1.crossJoin(c2)
        .select(col("checksum_portable"), col("n"),
          (col("checksum") === col("checksum_replan")).as("invariant_ok"))
    }
  }

  // ===== §2.5 windows =====
  private def windows(): Unit = {
    register("q_rolling_avg", Some(
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  AVG(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS l_quantity_rolling
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // integer-valued doubles → exact mean regardless of accumulation order.
      // l_quantity joins the ORDER BY: the synthetic lineitem has duplicate
      // (orderkey, linenumber) pairs, so the shorter key can TIE and engines
      // would frame different rows (surfaced at sf0.1); with the value in
      // the ordering, remaining ties are exact-duplicate rows → same avg.
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .rowsBetween(-2, 0)
      T(s, dir, "lineitem")
        .withColumn("l_quantity_rolling", avg(col("l_quantity")).over(w))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity_rolling")
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }

    register("q_pct_change", Some(
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  l_quantity / lag(l_quantity, 1) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity) - 1 AS l_quantity_pct_change
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // l_quantity tiebreak: see q_rolling_avg — (orderkey, linenumber) is
      // NOT unique in the synthetic lineitem
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      T(s, dir, "lineitem")
        .withColumn("l_quantity_pct_change", col("l_quantity") / lag(col("l_quantity"), 1).over(w) - 1)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity_pct_change")
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }

    register("q_ffill", Some(
      """SELECT user_id, event_id,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
        |FROM (SELECT user_id, event_id,
        |        CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v FROM events)
        |ORDER BY user_id, event_id""".stripMargin)) { (s, dir) =>
      val df = T(s, dir, "events")
        .withColumn("v", when(col("event_id") % 3 === 0, lit(null)).otherwise(col("value")))
        .select("user_id", "event_id", "v")
      TimeOps.ffill(df, Seq("user_id"), "event_id", "v").orderBy("user_id", "event_id")
    }

    register("q_interpolate", Some(
      """WITH g AS (SELECT user_id, event_id,
        |             CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v FROM events),
        |w AS (SELECT user_id, event_id, v,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        |  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM g)
        |SELECT user_id, event_id,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NULL THEN nv
        |       WHEN nv IS NULL THEN pv
        |       WHEN nt = pt THEN pv
        |       ELSE pv + (nv - pv) * (CAST(event_id - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
        |  END AS v
        |FROM w ORDER BY user_id, event_id""".stripMargin)) { (s, dir) =>
      val df = T(s, dir, "events")
        .withColumn("v", when(col("event_id") % 3 === 0, lit(null)).otherwise(col("value")))
        .select("user_id", "event_id", "v")
      TimeOps.interpolate(df, Seq("user_id"), "event_id", "v").orderBy("user_id", "event_id")
    }

    register("q_window_topk_per_group", Some(
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, l_quantity) AS rn
        |  FROM lineitem) WHERE rn <= 3
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      T(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }
  }

  // ===== §2.6 sorts/limits + §2.7 set ops =====
  private def sortsAndSets(): Unit = {
    register("q_sort_limit_topk", Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)) { (s, dir) =>
      T(s, dir, "orders").select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)
    }

    register("q_union_by_name", Some(
      """SELECT * FROM (
        |  SELECT l_returnflag AS flag, COUNT(*) AS n, NULL AS extra FROM lineitem GROUP BY 1
        |  UNION ALL BY NAME
        |  SELECT o_orderstatus AS flag, COUNT(*) AS n, 'orders' AS extra FROM orders GROUP BY 1, 3
        |) ORDER BY flag, n, extra NULLS FIRST""".stripMargin)) { (s, dir) =>
      val a = T(s, dir, "lineitem").groupBy(col("l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n"))
      val b = T(s, dir, "orders").groupBy(col("o_orderstatus").as("flag"))
        .agg(count(lit(1)).as("n")).withColumn("extra", lit("orders"))
      TableOps.concat(Seq(a, b))
        .orderBy(col("flag"), col("n"), col("extra").asc_nulls_first)
    }

    register("q_intersect", Some(
      """SELECT o_custkey AS k FROM orders
        |INTERSECT
        |SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0
        |ORDER BY k""".stripMargin)) { (s, dir) =>
      T(s, dir, "orders").select(col("o_custkey").as("k"))
        .intersect(T(s, dir, "customer").filter(col("c_acctbal") < 0)
          .select(col("c_custkey").as("k")))
        .orderBy("k")
    }

    register("q_except", Some(
      """SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0
        |EXCEPT
        |SELECT o_custkey AS k FROM orders
        |ORDER BY k""".stripMargin)) { (s, dir) =>
      T(s, dir, "customer").filter(col("c_acctbal") < 0).select(col("c_custkey").as("k"))
        .except(T(s, dir, "orders").select(col("o_custkey").as("k")))
        .orderBy("k")
    }

    register("q_concat_columns", Some(
      """WITH a AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1),
        |b AS (SELECT o_custkey, MAX(o_totalprice) AS max_price FROM orders GROUP BY 1)
        |SELECT a.o_custkey, a.n_orders, b.max_price
        |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
        |ORDER BY a.o_custkey""".stripMargin)) { (s, dir) =>
      val orders = T(s, dir, "orders")
      val a = orders.groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
      val b = orders.groupBy("o_custkey").agg(max("o_totalprice").as("max_price"))
      TableOps.concatColumns(a, b, Seq("o_custkey")).orderBy("o_custkey")
    }
  }

  // ===== §2.8 scalar functions =====
  private def scalars(): Unit = {
    register("q_string_funcs", Some(
      """SELECT p_partkey, lower(p_name) AS name_lower,
        |  replace(p_type, ' ', '_') AS type_u,
        |  length(p_name) AS name_len,
        |  substr(p_name, 1, 5) AS name_pfx,
        |  concat_ws('|', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin)) { (s, dir) =>
      T(s, dir, "part").select(
        col("p_partkey"),
        lower(col("p_name")).as("name_lower"),
        regexp_replace(col("p_type"), " ", "_").as("type_u"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 5).as("name_pfx"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy("p_partkey")
    }

    register("q_date_funcs", Some(
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS d,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since,
        |  strftime(o_orderdate, '%Y-%m-%d') AS d_str
        |FROM orders ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
      T(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01"))).as("days_since"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d_str"))
        .orderBy("o_orderkey")
    }

    register("q_math_funcs", Some(
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice / 7, 2) AS price_div,
        |  sqrt(l_quantity) AS qty_sqrt,
        |  abs(l_discount - 0.05) AS disc_abs,
        |  l_orderkey % 7 AS key_mod
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)) { (s, dir) =>
      T(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") / 7, 2).as("price_div"),
        sqrt(col("l_quantity")).as("qty_sqrt"),
        abs(col("l_discount") - 0.05).as("disc_abs"),
        (col("l_orderkey") % 7).as("key_mod"))
        .orderBy("l_orderkey", "l_linenumber")
    }

    register("q_json_extract", Some(
      """SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) % 10 AS k_mod,
        |       COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      T(s, dir, "events")
        .select((regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("int") % 10).as("k_mod"))
        .groupBy("k_mod").agg(count(lit(1)).as("n"))
        .orderBy("k_mod")
    }

    register("q_hash_md5", Some(
      """SELECT c_custkey, md5(c_name) AS name_md5 FROM customer ORDER BY c_custkey""")) { (s, dir) =>
      T(s, dir, "customer").select(col("c_custkey"), md5(col("c_name")).as("name_md5"))
        .orderBy("c_custkey")
    }

    register("q_numeric_parse", Some(
      """SELECT event_type,
        |  COUNT(CASE WHEN lower(trim(sv)) = 'nan' THEN NULL ELSE CAST(sv AS DOUBLE) END) AS n_parsed,
        |  COUNT(*) AS n
        |FROM (SELECT event_type, CASE WHEN event_type = 'error' THEN 'nan' ELSE '42.5' END AS sv
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)) { (s, dir) =>
      T(s, dir, "events")
        .withColumn("sv", when(col("event_type") === "error", "nan").otherwise("42.5"))
        .withColumn("parsed", ArithOps.parseNumeric(col("sv")))
        .groupBy("event_type")
        .agg(count(col("parsed")).as("n_parsed"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }

    register("q_arith_combine", Some(
      """SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS net
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)) { (s, dir) =>
      val df = T(s, dir, "lineitem")
        .withColumn("disc_factor", lit(1) - col("l_discount"))
      ArithOps.mul(df, "l_extendedprice", "disc_factor", "net")
        .select("l_orderkey", "l_linenumber", "net")
        .orderBy("l_orderkey", "l_linenumber")
    }
  }

  // ===== §2.9 reshape =====
  private def reshape(): Unit = {
    register("q_melt", Some(
      """SELECT l_orderkey, l_linenumber, 'l_discount' AS variable, l_discount AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_quantity', l_quantity FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, variable""".stripMargin)) { (s, dir) =>
      ReshapeOps.melt(T(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber"), Seq("l_discount", "l_quantity", "l_tax"))
        .orderBy("l_orderkey", "l_linenumber", "variable")
    }

    register("q_pivot", Some(
      s"""SELECT n_name,
         |  ${DSUM.format("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS F,
         |  ${DSUM.format("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS O,
         |  ${DSUM.format("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS P
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |            JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin)) { (s, dir) =>
      val df = T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(T(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .select("n_name", "o_orderstatus", "o_totalprice")
      df.groupBy("n_name").pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice")))
        .orderBy("n_name")
    }

    register("q_expand_time", Some(
      """WITH spine AS (
        |  SELECT o_custkey, CAST(unnest(generate_series(mn, mx)) AS INTEGER) AS y
        |  FROM (SELECT o_custkey, CAST(MIN(year(o_orderdate)) AS INTEGER) AS mn,
        |               CAST(MAX(year(o_orderdate)) AS INTEGER) AS mx
        |        FROM orders GROUP BY 1)),
        |obs AS (SELECT o_custkey, CAST(year(o_orderdate) AS INTEGER) AS y, COUNT(*) AS n
        |        FROM orders GROUP BY 1, 2)
        |SELECT s.o_custkey, s.y, obs.n
        |FROM spine s LEFT JOIN obs ON s.o_custkey = obs.o_custkey AND s.y = obs.y
        |ORDER BY s.o_custkey, s.y""".stripMargin)) { (s, dir) =>
      val obs = T(s, dir, "orders")
        .withColumn("y", year(col("o_orderdate")))
        .groupBy("o_custkey", "y").agg(count(lit(1)).as("n"))
      TimeOps.expandTimeColumn(obs, Seq("o_custkey"), "y", "full_range_entity")
        .orderBy("o_custkey", "y")
    }

    register("q_explode_range", Some(
      """SELECT y, COUNT(*) AS n FROM (
        |  SELECT CAST(unnest(generate_series(y0, y0 + 2)) AS INTEGER) AS y
        |  FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS y0 FROM orders))
        |GROUP BY y ORDER BY y""".stripMargin)) { (s, dir) =>
      val df = T(s, dir, "orders")
        .withColumn("y0", year(col("o_orderdate")))
        .withColumn("y1", col("y0") + 2)
      TimeOps.explodeTimeRange(df, "y0", "y1", "y")
        .groupBy("y").agg(count(lit(1)).as("n")).orderBy("y")
    }

    register("q_fill_date_gaps", Some(
      """WITH r AS (SELECT CAST(MIN(year(o_orderdate)) AS INTEGER) AS mn,
        |                  CAST(MAX(year(o_orderdate)) AS INTEGER) AS mx FROM orders),
        |spine AS (SELECT c_mktsegment, CAST(unnest(generate_series(mn, mx)) AS INTEGER) AS y
        |          FROM (SELECT DISTINCT c_mktsegment FROM customer), r),
        |obs AS (SELECT c_mktsegment, CAST(year(o_orderdate) AS INTEGER) AS y, COUNT(*) AS n
        |        FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2)
        |SELECT s.c_mktsegment, s.y, obs.n
        |FROM spine s LEFT JOIN obs ON s.c_mktsegment = obs.c_mktsegment AND s.y = obs.y
        |ORDER BY s.c_mktsegment, s.y""".stripMargin)) { (s, dir) =>
      val obs = T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .withColumn("y", year(col("o_orderdate")))
        .groupBy("c_mktsegment", "y").agg(count(lit(1)).as("n"))
      TimeOps.fillTimeGaps(obs, Seq("c_mktsegment"), "y")
        .orderBy("c_mktsegment", "y")
    }

    // dimension fan-out to wide columns (_yield_wide_table) — column-name
    // mangling is engine-specific → rows-only check; semantics asserted in
    // ScalaTest against a hand-built golden.
    // fan-out column names are deterministic (`n__o_orderstatus_<v>` for
    // TPC-H statuses F/O/P), so the oracle reproduces them with FILTERed
    // aggregates; nullif(…, 0) matches the pivot's null for absent combos.
    register("q_wide_fanout", Some(
      """SELECT o_orderpriority, CAST(year(o_orderdate) AS INTEGER) AS y,
        |  nullif(CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE), 0.0) AS "n__o_orderstatus_F",
        |  nullif(CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE), 0.0) AS "n__o_orderstatus_O",
        |  nullif(CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE), 0.0) AS "n__o_orderstatus_P"
        |FROM orders GROUP BY 1, 2 ORDER BY o_orderpriority, y""".stripMargin)) { (s, dir) =>
      val df = T(s, dir, "orders")
        .withColumn("y", year(col("o_orderdate")))
        .groupBy("o_orderpriority", "y", "o_orderstatus")
        .agg(count(lit(1)).cast("double").as("n"))
      ReshapeOps.wideTableFanOut(df, Seq("o_orderpriority", "y"),
        Seq("o_orderstatus"), "n")
        .orderBy("o_orderpriority", "y")
    }
  }

  // ===== §2.10 CDC semantics as batch SQL (engine itself: entry + tests) =====
  private def cdc(): Unit = {
    // max-LSN dedup window: latest event per key (the per-microbatch dedup)
    register("q_cdc_latest", Some(
      """SELECT user_id, event_id, event_type, value,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
      T(s, dir, "events")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
        .orderBy("user_id")
    }

    // MERGE-as-a-transform: base snapshot + deduped changes → upserted state
    register("q_cdc_merge_batch", Some(
      """WITH base AS (
        |  SELECT user_id, event_id, value FROM (
        |    SELECT user_id, event_id, value,
        |           row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_id < 500) WHERE rn = 1),
        |chg AS (
        |  SELECT user_id, event_id, value FROM (
        |    SELECT user_id, event_id, value,
        |           row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_id >= 500) WHERE rn = 1)
        |SELECT COALESCE(b.user_id, c.user_id) AS user_id,
        |       CASE WHEN c.event_id IS NOT NULL THEN c.event_id ELSE b.event_id END AS event_id,
        |       CASE WHEN c.event_id IS NOT NULL THEN c.value ELSE b.value END AS value
        |FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
        |ORDER BY user_id""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
      def latest(df: DataFrame): DataFrame =
        df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select("user_id", "event_id", "value")
      val ev = T(s, dir, "events")
      val base = latest(ev.filter(col("event_id") < 500))
      val chg = latest(ev.filter(col("event_id") >= 500))
        .select(col("user_id"), col("event_id").as("c_event_id"), col("value").as("c_value"))
      base.join(chg, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          when(col("c_event_id").isNotNull, col("c_event_id")).otherwise(col("event_id")).as("event_id"),
          when(col("c_event_id").isNotNull, col("c_value")).otherwise(col("value")).as("value"))
        .orderBy("user_id")
    }

    // ---- standard CDC envelope ingestion (stream/CdcEnvelope.scala) ----
    // The events table is deterministically wrapped in Debezium envelopes
    // (op from event_id % 4, lsn = event_id, delete image in `before`),
    // with three malformed classes injected by coprime moduli; the decoder
    // must recover every clean row bit-exactly (timestamps at µs fidelity,
    // JSON-escaped strings) and route each malformed class to the DLQ with
    // its reason. The oracle computes both sides directly from events.
    def eventPayload = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")

    def debeziumEnvelopes(ev0: DataFrame): DataFrame = {
      // the envelope corpus build (to_json w/ µs timestamp formatting) and
      // the downstream from_json decode are per-row-heavy; the events scan
      // is one split at bench scale → fan out first (identity at scale)
      val ev = TableOps.fanOut(ev0)
      val image = struct(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      val imageNoKey = struct(col("event_id"), col("ts"),
        lit(null).cast("bigint").as("user_id"), col("event_type"), col("value"), col("props"))
      val m = col("event_id") % 4
      val opRaw = when(m === 1, "u").when(m === 2, "d").when(m === 3, "r").otherwise("c")
      val opFinal = when(col("event_id") % 103 === 0, "t").otherwise(opRaw)
      val img = when(col("event_id") % 107 === 0, imageNoKey).otherwise(image)
      val env = to_json(
        struct(when(opFinal === "d", img).as("before"),
          when(opFinal =!= "d", img).as("after"),
          struct(col("event_id").as("lsn")).as("source"),
          opFinal.as("op"), lit(1700000000000L).as("ts_ms")),
        // the testdata parquet carries isAdjustedToUTC=false → Spark reads
        // TIMESTAMP_NTZ, whose to_json format is the NTZ option; both are
        // pinned to µs so the decode round-trip is fraction-exact
        Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
            "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
      ev.select(when(col("event_id") % 101 === 0,
        concat(lit("corrupt!"), substring(env, 1, 8))).otherwise(env).as("j"))
    }

    register("q_cdc_envelope_decode", Some(
      """SELECT CASE WHEN event_id % 4 = 1 THEN 'U'
        |            WHEN event_id % 4 = 2 THEN 'D' ELSE 'I' END AS op,
        |       event_id AS lsn, user_id, event_type, value, props,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        |FROM events
        |WHERE event_id % 101 <> 0 AND event_id % 103 <> 0 AND event_id % 107 <> 0
        |ORDER BY lsn""".stripMargin)) { (s, dir) =>
      // PERSIST the annotated frame: the `_error` filter in good() would
      // otherwise be pushed below the fan-out exchange — the whole
      // to_json+from_json chain then re-evaluates inside a single-split
      // scan-stage Filter AND again in the output Project (guide §4.4
      // expression duplication, Catalyst form). The cache materializes the
      // parse exactly once, 32-way parallel; filter + projection read
      // cached columns. Shared with q_cdc_envelope_dlq (same plan).
      val annotated = graft.stream.CdcEnvelope.decodeDebezium(
        debeziumEnvelopes(T(s, dir, "events")), "j", eventPayload, Seq("user_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.stream.CdcEnvelope.good(annotated, "j")
        .select(col("op"), col("lsn"), col("user_id"), col("event_type"),
          col("value"), col("props"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))
        .orderBy("lsn")
    }

    // Maxwell dialect over the same events: type from event_id % 4 (incl.
    // a bootstrap-insert), lsn = xid*2^20 + xoffset (intra-transaction
    // order), unsupported DDL type + missing-xid malformed classes.
    def maxwellEnvelopes(ev0: DataFrame): DataFrame = {
      val ev = TableOps.fanOut(ev0) // same single-split fan-out as debezium
      val m = col("event_id") % 4
      val typRaw = when(m === 1, "update").when(m === 2, "delete")
        .when(m === 3, "bootstrap-insert").otherwise("insert")
      val typ = when(col("event_id") % 103 === 0, "table-create").otherwise(typRaw)
      val xid = when(col("event_id") % 107 =!= 0, col("event_id"))
      val data = struct(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      val env = to_json(
        struct(lit("shop").as("database"), lit("events").as("table"),
          typ.as("type"), lit(1700000000L).as("ts"), xid.as("xid"),
          (col("event_id") % 7).as("xoffset"), data.as("data")),
        Map("timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
      ev.select(when(col("event_id") % 101 === 0,
        concat(lit("{nope"), substring(env, 1, 8))).otherwise(env).as("j"))
    }

    register("q_cdc_envelope_maxwell", Some(
      """SELECT CASE WHEN event_id % 4 = 1 THEN 'U'
        |            WHEN event_id % 4 = 2 THEN 'D' ELSE 'I' END AS op,
        |       event_id * 1048576 + event_id % 7 AS lsn,
        |       user_id, event_type, value,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        |FROM events
        |WHERE event_id % 101 <> 0 AND event_id % 103 <> 0 AND event_id % 107 <> 0
        |ORDER BY lsn""".stripMargin)) { (s, dir) =>
      // persisted for the same filter-pushdown-duplication reason as
      // q_cdc_envelope_decode
      val annotated = graft.stream.CdcEnvelope.decodeMaxwell(
        maxwellEnvelopes(T(s, dir, "events")), "j", eventPayload, Seq("user_id"),
        xoffsetAware = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.stream.CdcEnvelope.good(annotated, "j")
        .select(col("op"), col("lsn"), col("user_id"), col("event_type"), col("value"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))
        .orderBy("lsn")
    }

    // ---- manifest-level data skipping + z-order clustering ----
    // The events stream is keyed into the transcript lake shape, bulk
    // loaded, OPTIMIZE ZORDER BY (ts) rewritten, and read back through
    // snapshotWhere — the oracle computes the same filter directly, so a
    // single unsound skip (dropped file that still held a matching row)
    // fails the hash compare. Skip EFFECTIVENESS is asserted in
    // DataSkippingSpec; this gate pins CORRECTNESS of the whole
    // stats-harvest → prune → residual-filter pipeline.
    register("q_zorder_skip", Some(
      """SELECT concat('u', user_id) AS conv_id,
        |       CAST(event_id AS INT) AS turn_idx,
        |       event_type AS role,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-25 00:00:00' AND event_type = 'click'
        |ORDER BY turn_idx""".stripMargin)) { (s, dir) =>
      import graft.lake.{LakeTable, ZOrder}
      import graft.merge.{Bootstrap, Compactor}
      val ev = T(s, dir, "events")
      val rows = ev.select(
        concat(lit("u"), col("user_id")).as("conv_id"),
        col("event_id").cast("int").as("turn_idx"),
        col("event_type").as("role"),
        col("props").as("text"),
        lit(null).cast("string").as("tool"),
        col("ts").cast("timestamp").as("ts"))
      val tmp = scratchDir("q_zorder")
      val table = LakeTable.create(s, s"$tmp/t", graft.model.Schemas.transcript, 8)
      Bootstrap.load(table, rows, snapshotLsn = 1L << 40)
      // file-size scales with the table (~32 files at any sf): a fixed
      // small ROWS cap makes the rewrite + footer harvest O(files) with
      // hundreds of tiny files at sf0.01+, swamping the query's cost
      val mrf = math.max(4096L, table.manifest.totalRows / 32)
      Compactor.zorder(table, Seq("ts"), maxRecordsPerFile = mrf)
      table.snapshotWhere(
          col("ts") >= lit("2024-01-25 00:00:00").cast("timestamp") &&
          col("role") === "click")
        .select(col("conv_id"), col("turn_idx"), col("role"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))
        .orderBy("turn_idx")
    }

    // REBUCKET end-to-end: half the events land as base files at 4
    // buckets, the space is doubled metadata-only, the other half applies
    // as new-depth deltas on top, and a PARTIAL compaction leaves the
    // table mixed-depth (old-depth bases + new-depth bases + deltas) —
    // the read must still resolve latest-per-key exactly (DuckDB window
    // oracle over all events).
    register("q_rebucket_growth", Some(
      """SELECT conv_id, turn_idx, text FROM (
        |  SELECT concat('u', user_id) AS conv_id,
        |         CAST(event_id % 50 AS INT) AS turn_idx,
        |         props AS text,
        |         row_number() OVER (PARTITION BY user_id, event_id % 50
        |                            ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY conv_id, turn_idx""".stripMargin)) { (s, dir) =>
      import graft.lake.LakeTable
      import graft.merge.{CdcMerge, Compactor}
      val ev = T(s, dir, "events")
      def asBatch(df: DataFrame): DataFrame = df.select(
        lit("I").as("op"), col("event_id").as("lsn"),
        concat(lit("u"), col("user_id")).as("conv_id"),
        (col("event_id") % 50).cast("int").as("turn_idx"),
        col("event_type").as("role"), col("props").as("text"),
        lit(null).cast("string").as("tool"), col("ts").cast("timestamp").as("ts"))
      val tmp = scratchDir("q_rebucket")
      val table = LakeTable.create(s, s"$tmp/t", graft.model.Schemas.transcript, 4)
      CdcMerge.apply(table, asBatch(ev.filter(col("event_id") % 2 === 0)), 0L)
      Compactor.compactIfNeeded(table, deltaThreshold = 1) // all-base at depth 4
      table.rebucket(2)                                    // -> 8, metadata-only
      CdcMerge.apply(table, asBatch(ev.filter(col("event_id") % 2 === 1)), 1L)
      Compactor.compact(table, Set(0))                     // partial lazy migration
      table.snapshot()
        .select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx")
    }

    register("q_cdc_envelope_dlq", Some(
      """SELECT CASE WHEN event_id % 101 = 0 THEN 'unparseable_json'
        |            WHEN event_id % 103 = 0 THEN 'unsupported_op:t'
        |            ELSE 'missing_key:user_id' END AS error,
        |       count(*) AS n
        |FROM events
        |WHERE event_id % 101 = 0 OR event_id % 103 = 0 OR event_id % 107 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      // persisted — identical annotated plan to q_cdc_envelope_decode (the
      // cache manager shares the materialization when both run in one
      // session); see that query for the pushdown-duplication rationale
      val annotated = graft.stream.CdcEnvelope.decodeDebezium(
        debeziumEnvelopes(T(s, dir, "events")), "j", eventPayload, Seq("user_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.stream.CdcEnvelope.deadLetters(annotated, "j")
        .groupBy("error").agg(count(lit(1)).as("n")).orderBy("error")
    }

    // ---- corpus profiling (data-quality stats a training pipeline runs
    // before anything else). All aggregated doubles go through decimal
    // sums (order-invariant, cross-engine exact — NOTES parity rules).
    register("q_profile_stats", Some(
      """SELECT l_returnflag,
        |  count(*) AS n,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  min(l_quantity) AS min_qty,
        |  max(l_quantity) AS max_qty,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS mean_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      T(s, dir, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        countDistinct(col("l_partkey")).as("n_parts"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        (sum(col("l_quantity").cast("decimal(18,4)")).cast("double") / count(lit(1))).as("mean_qty"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("sum_price"))
        .orderBy("l_returnflag")
    }

    register("q_histogram", Some(
      """SELECT CAST(floor(l_quantity / 5) AS INTEGER) AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
      T(s, dir, "lineitem")
        .groupBy(floor(col("l_quantity") / 5).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("sum_price"))
        .orderBy("bucket")
    }

    // Pearson correlation from EXACT decimal component sums — native
    // corr() streams doubles and is partial-order-dependent (not
    // reproducible across engines or even runs); this form is
    // order-invariant and bit-identical given the parity rules. The final
    // arithmetic is double with the SAME parenthesization both sides.
    // Inputs enter as EXACT scaled integers (value·100 — both columns have
    // <= 2 decimals), so component sums are integer-exact in DECIMAL(38,0)
    // on both engines (a decimal×decimal product overflows DuckDB's
    // multiply width). Correlation is scale-invariant, so the scaling
    // needs no undo — both engines compute the identical doubles from the
    // identical integer sums.
    register("q_corr_profile", Some(
      """WITH comp AS (
        |  SELECT l_returnflag,
        |    count(*) AS n,
        |    CAST(sum(CAST(CAST(round(l_quantity * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_quantity * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(CAST(round(l_quantity * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  ((n * sxy) - (sx * sy)) / (sqrt((n * sxx) - (sx * sx)) * sqrt((n * syy) - (sy * sy))) AS corr_qty_price
        |FROM comp ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      val xi = round(col("l_quantity") * 100).cast("long")
      val yi = round(col("l_extendedprice") * 100).cast("long")
      def isum(c: Column) = sum(c.cast("decimal(38,0)")).cast("double")
      val comp = T(s, dir, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        isum(xi).as("sx"),
        isum(yi).as("sy"),
        isum(xi * xi).as("sxx"),
        isum(yi * yi).as("syy"),
        isum(xi * yi).as("sxy"))
      comp.select(col("l_returnflag"), col("n"),
        (((col("n") * col("sxy")) - (col("sx") * col("sy"))) /
          (sqrt((col("n") * col("sxx")) - (col("sx") * col("sx"))) *
           sqrt((col("n") * col("syy")) - (col("sy") * col("sy"))))).as("corr_qty_price"))
        .orderBy("l_returnflag")
    }
  }
}
