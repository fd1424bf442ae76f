package graft.queries

import graft.{Q, Qdsl, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Qdsl._

/** Core relational capability set over the driver star schema.
  *
  * Re-expresses, Spark-first, everything the reference's MySQL/Superset
  * layer exists to serve (join + group-by + count "category distribution",
  * /root/reference/README.md:23; schema ETL/tasks/categorizer.py:39-68)
  * plus the standard relational surface SURVEY.md §2.3-§2.7 commits to:
  * filters, inner/left/semi/anti/cross joins, hash aggregates (incl.
  * distinct, rollup, cube, conditional), windows (ranking + running
  * frames), sort/limit top-k, set ops, string/date/array/regexp/JSON
  * scalars, and time-window aggregation over `events` as the batch
  * stand-in for streaming windows (SURVEY.md §2.9).
  *
  * Scale notes (100 TB design intent, verified on local[32]):
  *  - dimension tables (region/nation/part at these cardinalities) are
  *    broadcast by the planner from their file sizes — no shuffle of the
  *    fact side for those joins; no join carries a hint;
  *  - every aggregate is a hash aggregate with map-side partial
  *    aggregation (Catalyst does this for all exprs used here);
  *  - filters/projections are plain column expressions on parquet scans,
  *    so pushdown + pruning reach the file reader;
  *  - no collect(), no driver-side loops anywhere (the reference's main
  *    scaling bug, categorizer.py:150-188).
  */
object Relational {

  val q01PricingSummary = Q(
    "q01_pricing_summary",
    (s, dir) => {
      val li = T.lineitem(s, dir)
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg6(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""".stripMargin),
    "TPC-H-Q1-style full-scan hash aggregate (map-side partial agg)")

  /** Flagship: the reference's "category distribution" analysis
    * (README.md:23) transplanted to the star schema — fact ⋈ broadcast dim
    * → groupBy → count → top order.
    */
  val q02CategoryDistribution = Q(
    "q02_category_distribution",
    (s, dir) => {
      val li = T.lineitem(s, dir)
      // `part` grows linearly with SF (multi-GB at 100 TB scale), so the
      // size threshold, not a hint, decides whether it broadcasts.
      val p  = T.part(s, dir)
      li.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("total_qty"))
        .orderBy(col("n_items").desc, col("p_type"))
    },
    Some("""
      SELECT p_type, COUNT(*) AS n_items,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_type
      ORDER BY n_items DESC, p_type""".stripMargin),
    "category distribution: fact joins broadcast dimension, group, rank")

  val q03FilterRange = Q(
    "q03_filter_range",
    (s, dir) =>
      T.lineitem(s, dir)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(
          sum(d2(col("l_extendedprice")) * d2(col("l_discount")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_rows")),
    Some("""
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_rows
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),
    "TPC-H-Q6-style selective scan; all predicates push to parquet")

  val q04SegmentOrders = Q(
    "q04_segment_orders",
    (s, dir) => {
      val o = T.orders(s, dir)
      val c = T.customer(s, dir)
      o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue"),
          countDistinct(col("c_custkey")).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""
      SELECT c_mktsegment, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             COUNT(DISTINCT c_custkey) AS n_customers
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""".stripMargin),
    "fact-to-dim equi-join + multi-aggregate incl. count distinct")

  val q05RegionRevenue = Q(
    "q05_region_revenue",
    (s, dir) => {
      val li = T.lineitem(s, dir)
      val o  = T.orders(s, dir).filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
      val c = T.customer(s, dir)
      val n = T.nation(s, dir)
      val r = T.region(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          sum(d2(col("l_extendedprice")) * (lit(1) - d2(col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"))
    },
    Some("""
      SELECT r_name,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_items
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY r_name
      ORDER BY r_name""".stripMargin),
    "TPC-H-Q5-style multiway join; tiny dims broadcast, date filter pushed")

  val q06OrdersPerCustomer = Q(
    "q06_orders_per_customer",
    (s, dir) => {
      val c = T.customer(s, dir)
      val o = T.orders(s, dir)
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_orders"))
    },
    Some("""
      SELECT n_orders, COUNT(*) AS n_customers FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey)
      GROUP BY n_orders
      ORDER BY n_orders""".stripMargin),
    "left outer join preserving zero-order customers; two-level aggregate")

  val q07SemiJoin = Q(
    "q07_semi_join",
    (s, dir) => {
      val c = T.customer(s, dir)
      val o = T.orders(s, dir).filter(col("o_orderstatus") === "F")
      val n = T.nation(s, dir)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_name"))
    },
    Some("""
      SELECT n_name, COUNT(*) AS n_customers
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      GROUP BY n_name
      ORDER BY n_name""".stripMargin),
    "EXISTS as left-semi join (the reference's insert-if-present probe, categorizer.py:160-163)")

  val q08AntiJoin = Q(
    "q08_anti_join",
    (s, dir) => {
      val c = T.customer(s, dir)
      val o = T.orders(s, dir).filter(col("o_orderpriority").startsWith("1"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""
      SELECT c_mktsegment, COUNT(*) AS n_customers
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderpriority LIKE '1%')
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""".stripMargin),
    "NOT EXISTS as left-anti join (the reference's insert-if-absent, categorizer.py:160-174; Redis seen-set, redis_api.py:18-28)")

  val q09CrossJoin = Q(
    "q09_cross_join",
    (s, dir) => {
      val r = T.region(s, dir)
      r.select(col("r_name").as("name_a"))
        .crossJoin(r.select(col("r_name").as("name_b")))
        .orderBy(col("name_a"), col("name_b"))
    },
    Some("""
      SELECT a.r_name AS name_a, b.r_name AS name_b
      FROM region a CROSS JOIN region b
      ORDER BY name_a, name_b""".stripMargin),
    "cartesian product of tiny dims (broadcast nested loop)")

  val q10Distinct = Q(
    "q10_distinct",
    (s, dir) =>
      T.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""
      SELECT DISTINCT l_returnflag, l_linestatus
      FROM lineitem
      ORDER BY l_returnflag, l_linestatus""".stripMargin),
    "distinct = group-by-all-columns hash aggregate")

  val q11Union = Q(
    "q11_union",
    (s, dir) => {
      val a = T.customer(s, dir).filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("custkey"))
      val b = T.orders(s, dir).filter(col("o_totalprice") > 200000)
        .select(col("o_custkey").as("custkey"))
      a.union(b).distinct().orderBy(col("custkey"))
    },
    Some("""
      SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
      UNION
      SELECT o_custkey FROM orders WHERE o_totalprice > 200000
      ORDER BY custkey""".stripMargin),
    "set UNION (dedup) of two key sets")

  val q12Intersect = Q(
    "q12_intersect",
    (s, dir) => {
      val a = T.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      val b = T.orders(s, dir).filter(col("o_orderpriority").startsWith("1"))
        .select(col("o_custkey").as("custkey"))
      a.intersect(b).orderBy(col("custkey"))
    },
    Some("""
      SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1%'
      ORDER BY custkey""".stripMargin),
    "set INTERSECT")

  val q13Except = Q(
    "q13_except",
    (s, dir) => {
      val a = T.customer(s, dir).filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("custkey"))
      val b = T.orders(s, dir).filter(col("o_totalprice") > 200000)
        .select(col("o_custkey").as("custkey"))
      a.except(b).orderBy(col("custkey"))
    },
    Some("""
      SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_totalprice > 200000
      ORDER BY custkey""".stripMargin),
    "set EXCEPT — the crawler's frontier-minus-seen semantics (SURVEY.md §2.7)")

  val q14TopK = Q(
    "q14_topk_orders",
    (s, dir) =>
      T.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
    Some("""
      SELECT o_orderkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 10""".stripMargin),
    "top-k: Spark plans TakeOrderedAndProject (per-partition heap, no full sort)")

  val q15WindowRank = Q(
    "q15_window_rank",
    (s, dir) => {
      val c = T.customer(s, dir)
      val n = T.nation(s, dir)
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      c.join(n, col("c_nationkey") === col("n_nationkey"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("n_name"), col("c_name"), col("c_acctbal"), col("rn"))
        .orderBy(col("n_name"), col("rn"))
    },
    Some("""
      SELECT n_name, c_name, c_acctbal, rn FROM (
        SELECT n_name, c_name, c_acctbal, c_custkey,
               CAST(ROW_NUMBER() OVER (PARTITION BY n_name
                    ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rn
        FROM customer JOIN nation ON c_nationkey = n_nationkey)
      WHERE rn <= 3
      ORDER BY n_name, rn""".stripMargin),
    "ranking window: top-3 customers per nation")

  val q16WindowRunning = Q(
    "q16_window_running",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T.orders(s, dir)
        .select(
          col("o_custkey"),
          col("o_orderdate").cast("date").as("order_date"),
          col("o_orderkey"),
          sum(col("o_totalprice").cast(D2)).over(w).cast("double").as("running_spend"))
        .orderBy(col("o_custkey"), col("order_date"), col("o_orderkey"))
    },
    Some("""
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_date, o_orderkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      FROM orders
      ORDER BY o_custkey, order_date, o_orderkey""".stripMargin),
    "running-total frame window; decimal accumulator keeps engines bit-identical")

  val q17Rollup = Q(
    "q17_rollup",
    (s, dir) =>
      T.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy(col("returnflag"), col("linestatus")),
    Some("""
      SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
             COALESCE(l_linestatus, '(all)') AS linestatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus""".stripMargin),
    "ROLLUP grouping sets; NULL grouping markers coalesced for a total order")

  val q18Cube = Q(
    "q18_cube",
    (s, dir) =>
      T.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"))
        .orderBy(col("status"), col("priority")),
    Some("""
      SELECT COALESCE(o_orderstatus, '(all)') AS status,
             COALESCE(o_orderpriority, '(all)') AS priority,
             COUNT(*) AS n
      FROM orders
      GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY status, priority""".stripMargin),
    "CUBE grouping sets")

  val q19CountDistinct = Q(
    "q19_count_distinct",
    (s, dir) =>
      T.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
             COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""".stripMargin),
    "multi count-distinct (expand + two-phase hash agg)")

  val q20ConditionalAgg = Q(
    "q20_conditional_agg",
    (s, dir) =>
      T.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(when(col("o_orderpriority").startsWith("1"), lit(1))).as("n_urgent"),
          count(when(col("o_orderpriority").startsWith("5"), lit(1))).as("n_low"),
          sum(when(col("o_totalprice") > 100000, col("o_totalprice").cast(D2))
            .otherwise(lit(0).cast(D2))).cast("double").as("big_rev"))
        .orderBy(col("o_orderstatus")),
    Some("""
      SELECT o_orderstatus,
             COUNT(CASE WHEN o_orderpriority LIKE '1%' THEN 1 END) AS n_urgent,
             COUNT(CASE WHEN o_orderpriority LIKE '5%' THEN 1 END) AS n_low,
             CAST(SUM(CASE WHEN o_totalprice > 100000
                           THEN CAST(o_totalprice AS DECIMAL(18,2))
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS big_rev
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus""".stripMargin),
    "conditional aggregation (pivot-style CASE inside aggregates)")

  val q21StringFuncs = Q(
    "q21_string_funcs",
    (s, dir) =>
      T.part(s, dir)
        .filter(col("p_name").like("%e%"))
        .select(
          col("p_partkey"),
          upper(substring(col("p_name"), 1, 10)).as("name10"),
          concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
          length(col("p_name")).as("name_len"))
        .orderBy(col("p_partkey")),
    Some("""
      SELECT p_partkey, UPPER(SUBSTRING(p_name, 1, 10)) AS name10,
             p_brand || '#' || p_type AS brand_type,
             CAST(LENGTH(p_name) AS INTEGER) AS name_len
      FROM part
      WHERE p_name LIKE '%e%'
      ORDER BY p_partkey""".stripMargin),
    "string scalar surface: LIKE, SUBSTRING, UPPER, CONCAT, LENGTH")

  val q22DateParts = Q(
    "q22_date_parts",
    (s, dir) =>
      T.orders(s, dir)
        .groupBy(
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("y"), col("m")),
    Some("""
      SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS y,
             CAST(MONTH(o_orderdate) AS INTEGER) AS m,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders
      GROUP BY 1, 2
      ORDER BY y, m""".stripMargin),
    "date-part extraction + aggregate (RFC-1123/strptime family, SURVEY O-12)")

  val q23Json = Q(
    "q23_json_extract",
    (s, dir) =>
      T.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type,
             CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
             COUNT(*) AS n
      FROM events
      GROUP BY event_type
      ORDER BY event_type""".stripMargin),
    "JSON path extraction over events.props (SURVEY §2.2 JSON coverage)")

  val q24HourlyWindow = Q(
    "q24_hourly_window",
    (s, dir) =>
      T.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum6(col("value")).as("sum_value"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("hour_start"), col("event_type")),
    Some("""
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY hour_start, event_type""".stripMargin),
    "tumbling time-window aggregate — batch stand-in for the streaming path (SURVEY §2.9); string-typed window start avoids tz-attr mismatches")

  val q25ArrayFuncs = Q(
    "q25_array_funcs",
    (s, dir) =>
      T.part(s, dir)
        .select(col("p_partkey"), split(col("p_name"), " ").as("words"))
        .select(
          col("p_partkey"),
          size(col("words")).as("n_words"),
          element_at(col("words"), 1).as("first_word"),
          element_at(col("words"), -1).as("last_word"))
        .orderBy(col("p_partkey")),
    Some("""
      SELECT p_partkey,
             CAST(LEN(STRING_SPLIT(p_name, ' ')) AS INTEGER) AS n_words,
             STRING_SPLIT(p_name, ' ')[1] AS first_word,
             STRING_SPLIT(p_name, ' ')[-1] AS last_word
      FROM part
      ORDER BY p_partkey""".stripMargin),
    "array scalar surface: split, size, element_at (positive + negative index)")

  val q26Regexp = Q(
    "q26_regexp",
    (s, dir) =>
      T.documents(s, dir)
        // try_cast, not cast: a non-matching `source` row yields '' and a
        // hard ANSI cast error would abort the whole verify run; try_cast
        // degrades to NULL on both engines.
        .groupBy(expr("try_cast(regexp_extract(source, 'src([0-9]+)', 1) AS int)").as("src_num"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("src_num")),
    Some("""
      SELECT TRY_CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INTEGER) AS src_num,
             COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM documents
      GROUP BY 1
      ORDER BY src_num""".stripMargin),
    "regexp capture-group extraction as a grouping key")

  val q27UnionAll = Q(
    "q27_union_all",
    (s, dir) => {
      val o = T.orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("y"))
        .agg(count(lit(1)).as("n"))
        .select(lit("orders").as("src"), col("y"), col("n"))
      val li = T.lineitem(s, dir)
        .groupBy(year(col("l_shipdate")).as("y"))
        .agg(count(lit(1)).as("n"))
        .select(lit("lineitem").as("src"), col("y"), col("n"))
      o.union(li).orderBy(col("src"), col("y"))
    },
    Some("""
      SELECT 'orders' AS src, CAST(YEAR(o_orderdate) AS INTEGER) AS y, COUNT(*) AS n
      FROM orders GROUP BY 2
      UNION ALL
      SELECT 'lineitem' AS src, CAST(YEAR(l_shipdate) AS INTEGER) AS y, COUNT(*) AS n
      FROM lineitem GROUP BY 2
      ORDER BY src, y""".stripMargin),
    "UNION ALL of two aggregates with a literal tag column")

  val q28Having = Q(
    "q28_having",
    (s, dir) =>
      T.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
        .filter(col("n") >= 40)
        .orderBy(col("l_partkey")),
    Some("""
      SELECT l_partkey, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem
      GROUP BY l_partkey
      HAVING COUNT(*) >= 40
      ORDER BY l_partkey""".stripMargin),
    "post-aggregate filter (HAVING)")

  /** Explicit GROUPING SETS (the form q17's ROLLUP and q18's CUBE are
    * sugar for) with `grouping_id()` as the set discriminator — the
    * marker that disambiguates a data NULL from a superaggregate NULL
    * (coalesce alone can't on nullable group columns). Spark and DuckDB
    * assign grouping_id bits identically (left column = MSB). One
    * Expand + single hash-agg pass, same as rollup/cube.
    */
  val q64GroupingSets = Q(
    "q64_grouping_sets",
    (s, dir) => {
      T.orders(s, dir).createOrReplaceTempView("orders_gs")
      s.sql("""
        SELECT COALESCE(o_orderstatus, '(all)') AS status,
               COALESCE(o_orderpriority, '(all)') AS priority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS gid,
               COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        ORDER BY gid, status, priority""")
    },
    Some("""
      SELECT COALESCE(o_orderstatus, '(all)') AS status,
             COALESCE(o_orderpriority, '(all)') AS priority,
             CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS gid,
             COUNT(*) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                              (o_orderstatus, o_orderpriority))
      ORDER BY gid, status, priority""".stripMargin),
    "explicit GROUPING SETS + grouping_id discriminator (supersets q17/q18's rollup/cube sugar); one Expand + hash agg")

  val all: Seq[Q] = Seq(
    q01PricingSummary, q02CategoryDistribution, q03FilterRange,
    q04SegmentOrders, q05RegionRevenue, q06OrdersPerCustomer,
    q07SemiJoin, q08AntiJoin, q09CrossJoin, q10Distinct,
    q11Union, q12Intersect, q13Except, q14TopK,
    q15WindowRank, q16WindowRunning, q17Rollup, q18Cube,
    q19CountDistinct, q20ConditionalAgg, q21StringFuncs, q22DateParts,
    q23Json, q24HourlyWindow, q25ArrayFuncs, q26Regexp,
    q27UnionAll, q28Having, q64GroupingSets)
}
