package graft.queries

import graft.{Q, Tables => T}
import graft.ops.Stored
import graft.functions.{Scored, TopKAggregator}
import org.apache.spark.sql.functions._

/** Third capability wave: sessionization, pivot, typed-Aggregator
  * top-k, and exact percentiles — analytics surface a corpus/behavior
  * engine needs beyond the reference's join+groupBy (its Superset layer
  * would grow exactly these dashboards next).
  */
object AnalyticsOps {

  /** Gap-based sessionization of the event stream: Spark's
    * `session_window` (event-time windows that merge while consecutive
    * events are < gap apart), the batch form of the streaming session
    * operator. The DuckDB oracle derives identical sessions from first
    * principles — the classic gaps-and-islands (lag → new-session flag
    * → running sum → group) — so the check is two INDEPENDENT
    * formulations of the same semantics, not a shared code path.
    * Boundary semantics: a gap of exactly 30 minutes starts a NEW
    * session (session_window merges strictly-overlapping [ts, ts+gap)
    * intervals); the oracle's flag uses `>=` to match. Window starts
    * are string-formatted like q24 to avoid tz-attribute mismatches.
    *
    * Scale: one shuffle keyed on user_id; per-key work is a sort-merge
    * of that user's events — the same shape Structured Streaming's
    * session_window state operator uses.
    */
  val q49Sessionize = Q(
    "q49_sessionize",
    // the (small) session frame is stored before the global sort, so
    // the range partitioner's sampling pass reads it instead of running
    // the session-merge aggregation a second time: the agg-above-sort
    // analogue of the q41 narrow-sort lesson, for plans where the
    // expensive subtree can't move above the sort
    (s, dir) =>
      Stored.checkpoint(T.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"))).df
        .orderBy(col("user_id"), col("session_start")),
    Some("""
      WITH m AS (
        SELECT user_id, ts, event_id,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
               THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      g AS (
        SELECT user_id, ts,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
        FROM m)
      SELECT user_id,
        strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        COUNT(*) AS n_events
      FROM g GROUP BY user_id, sid
      ORDER BY user_id, session_start""".stripMargin),
    "gap-based sessionization: session_window vs an independent gaps-and-islands oracle; one keyed shuffle, streaming-compatible operator")

  /** Pivot: order counts per priority × status. The value list is
    * EXPLICIT (Seq(\"F\",\"O\",\"P\")) — at scale an implicit pivot runs a
    * distinct-values job first and can explode the schema; pinning the
    * columns keeps the plan static and the agg a single pass. Oracle:
    * the relational unpivot-equivalent (FILTER counts).
    */
  val q50Pivot = Q(
    "q50_pivot",
    (s, dir) =>
      T.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("o_orderpriority")),
    Some("""
      SELECT o_orderpriority,
        COUNT(*) FILTER (o_orderstatus = 'F') AS "F",
        COUNT(*) FILTER (o_orderstatus = 'O') AS "O",
        COUNT(*) FILTER (o_orderstatus = 'P') AS "P"
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    "pivot with pinned value columns (no distinct-values pre-job); single hash-agg pass, FILTER-count oracle")

  /** Top-3 orders by price per priority class via the typed
    * [[TopKAggregator]] — the bounded-memory top-k-per-group path: each
    * map task pre-reduces to ≤ k rows per group before the shuffle
    * (partial aggregation), vs the window form that shuffles and sorts
    * EVERY row. The oracle IS the window form, proving the two agree.
    */
  val q51TopkPerGroup = Q(
    "q51_topk_per_group",
    (s, dir) => {
      import s.implicits._
      val topK = new TopKAggregator(3).toColumn
      T.orders(s, dir)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .as[(String, Long, Double)]
        .groupByKey(_._1)
        .mapValues(t => Scored(t._2, t._3))
        .agg(topK.name("tops"))
        .flatMap { case (grp, tops) =>
          tops.zipWithIndex.map { case (sc, i) => (grp, i + 1, sc.key, sc.score) }
        }
        .toDF("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
        .orderBy(col("o_orderpriority"), col("rank"))
    },
    Some("""
      SELECT o_orderpriority, CAST(rank AS INTEGER) AS rank, o_orderkey, o_totalprice
      FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice DESC, o_orderkey) AS rank
        FROM orders)
      WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin),
    "bounded-memory top-k per group: typed Aggregator with map-side partial reduce (k rows/group/partition shuffle) vs the full-shuffle window oracle")

  /** Exact interpolated percentiles (median + p90) of quantity per
    * return flag. Spark `percentile` and DuckDB `quantile_cont` use the
    * same definition — value at rank p·(n−1), linear interpolation
    * lower + (upper−lower)·frac — and the inputs are exact small
    * integers stored as doubles, so the interpolated doubles are
    * bit-identical. (percentile_approx would NOT be cross-engine
    * comparable; this is the exact sort-based aggregate.)
    */
  val q52Percentiles = Q(
    "q52_percentiles",
    (s, dir) =>
      T.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
        quantile_cont(l_quantity, 0.5) AS p50_qty,
        quantile_cont(l_quantity, 0.9) AS p90_qty,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "exact interpolated percentiles: sort-based percentile ≡ quantile_cont (same rank/interpolation definition), bit-identical on exact inputs")

  /** Full outer join of two aggregates with partially-disjoint key
    * coverage (filtered customer counts ⟗ filtered supplier counts per
    * nation) — the join type the set still lacked. Keys coalesced;
    * missing sides stay NULL in both engines (hash-compared as such).
    */
  val q53FullOuter = Q(
    "q53_full_outer",
    (s, dir) => {
      val c = T.customer(s, dir)
        .filter(col("c_mktsegment") === "AUTOMOBILE")
        .groupBy(col("c_nationkey").as("ck")).agg(count(lit(1)).as("n_cust"))
      val p = T.supplier(s, dir)
        .filter(col("s_acctbal") >= 5000)
        .groupBy(col("s_nationkey").as("sk")).agg(count(lit(1)).as("n_supp"))
      c.join(p, col("ck") === col("sk"), "full")
        .select(coalesce(col("ck"), col("sk")).as("nationkey"),
          col("n_cust"), col("n_supp"))
        .orderBy(col("nationkey"))
    },
    Some("""
      WITH c AS (
        SELECT c_nationkey AS ck, COUNT(*) AS n_cust FROM customer
        WHERE c_mktsegment = 'AUTOMOBILE' GROUP BY 1),
      p AS (
        SELECT s_nationkey AS sk, COUNT(*) AS n_supp FROM supplier
        WHERE s_acctbal >= 5000 GROUP BY 1)
      SELECT COALESCE(ck, sk) AS nationkey, n_cust, n_supp
      FROM c FULL OUTER JOIN p ON ck = sk
      ORDER BY nationkey""".stripMargin),
    "full outer join of two partial aggregates; coalesced key, NULL-preserving sides")

  /** Range (band) join: classify event values into literal value bands
    * via a non-equi join. The band side is 5 rows → Spark broadcasts and
    * the nested-loop is 5 comparisons/row, which is the right plan for a
    * small band table; for LARGE band tables the scale path is binning
    * the probe side to a band id (width_bucket-style equi key) — noted
    * here, demonstrated by the oracle's identical BETWEEN semantics.
    */
  val q54RangeJoin = Q(
    "q54_range_join",
    (s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("micro", 0.0, 50.0), ("small", 50.0, 100.0), ("mid", 100.0, 200.0),
        ("large", 200.0, 350.0), ("jumbo", 350.0, 1000.0))
        .toDF("band", "lo", "hi")
      T.events(s, dir)
        .join(bands, col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          graft.Qdsl.dsum(col("value")).as("sum_value"))
        .orderBy(col("band"))
    },
    Some("""
      WITH bands(band, lo, hi) AS (VALUES
        ('micro', 0.0, 50.0), ('small', 50.0, 100.0), ('mid', 100.0, 200.0),
        ('large', 200.0, 350.0), ('jumbo', 350.0, 1000.0))
      SELECT band, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events JOIN bands ON value >= lo AND value < hi
      GROUP BY band ORDER BY band""".stripMargin),
    "range/band join: non-equi broadcast join against a literal band table; scale path for big band tables = bin-to-equi-key")

  /** AS-OF join — for every purchase, the user's most recent click at
    * or before it. Spark has no asof operator; the scale-correct
    * composition is union-tag + one windowed `last(_, ignoreNulls)`
    * over (user, time) — ONE shuffle on user_id and a per-user sort,
    * vs the naive inequality-join + argmax that materializes O(pairs).
    * Tie semantics: a click at exactly the purchase timestamp counts
    * (window orders ties click-first, matching the oracle's `>=`).
    *
    * The oracle is DuckDB's NATIVE `ASOF JOIN` — a fully independent
    * implementation of the same semantics, not a transliteration of the
    * window trick — making this one of the strongest cross-checks in
    * the set. Timestamps are compared at full microsecond precision.
    */
  val q55AsofJoin = Q(
    "q55_asof_join",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tagged = T.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("is_p", (col("event_type") === "purchase").cast("int"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("is_p"))
        .rowsBetween(Window.unboundedPreceding, 0)
      tagged
        .withColumn("click_ts",
          last(when(col("is_p") === 0, col("ts")), ignoreNulls = true).over(w))
        .filter(col("is_p") === 1 && col("click_ts").isNotNull)
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT p.event_id, p.user_id,
        strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
        strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts
      ORDER BY p.event_id""".stripMargin),
    "as-of join: union-tag + windowed last(ignoreNulls) — one keyed shuffle — checked against DuckDB's native ASOF JOIN (independent implementation)")

  /** Bag (multiset) set operations — exceptAll / intersectAll, the ALL
    * variants q12/q13's set forms don't cover: duplicates carry
    * multiplicity (|a|−|b| clamped at 0 for EXCEPT ALL, min(|a|,|b|)
    * for INTERSECT ALL). Result multiplicities are re-aggregated so the
    * output is deterministic without relying on row order.
    */
  val q56BagSetOps = Q(
    "q56_bag_set_ops",
    (s, dir) => {
      val f = T.orders(s, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_orderpriority"))
      val o = T.orders(s, dir).filter(col("o_orderstatus") === "O")
        .select(col("o_orderpriority"))
      val ex = f.exceptAll(o).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      val in = f.intersectAll(o).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      ex.unionByName(in)
        .select(col("op"), col("o_orderpriority"), col("n"))
        .orderBy(col("op"), col("o_orderpriority"))
    },
    Some("""
      WITH f AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'),
      o AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'),
      ex AS (
        SELECT 'except_all' AS op, o_orderpriority, COUNT(*) AS n
        FROM (SELECT * FROM f EXCEPT ALL SELECT * FROM o)
        GROUP BY 2),
      i AS (
        SELECT 'intersect_all' AS op, o_orderpriority, COUNT(*) AS n
        FROM (SELECT * FROM f INTERSECT ALL SELECT * FROM o)
        GROUP BY 2)
      SELECT op, o_orderpriority, n FROM ex
      UNION ALL SELECT op, o_orderpriority, n FROM i
      ORDER BY op, o_orderpriority""".stripMargin),
    "multiset EXCEPT ALL / INTERSECT ALL with multiplicity semantics, re-aggregated for order-free determinism")

  /** MapType surface: events.props parsed `from_json` into
    * map<string,int>, then native map ops (element_at, map_keys, size).
    * The DuckDB oracle goes through its JSON functions instead of a map
    * type — an independent route to the same values. Map columns never
    * reach the output (cross-engine map comparison is representation-
    * sensitive); only scalars derived from them do.
    */
  val q57MapFuncs = Q(
    "q57_map_funcs",
    (s, dir) =>
      T.events(s, dir)
        .filter(col("event_id") < 200)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.DataType
            .fromDDL("map<string,int>")).as("m"))
        .select(col("event_id"),
          element_at(col("m"), "k").as("k_value"),
          size(col("m")).as("n_props"),
          array_join(sort_array(map_keys(col("m"))), ",").as("keys"))
        .orderBy(col("event_id")),
    Some("""
      SELECT event_id,
        CAST(json_extract(props, '$.k') AS INTEGER) AS k_value,
        CAST(len(json_keys(props)) AS INTEGER) AS n_props,
        array_to_string(list_sort(json_keys(props)), ',') AS keys
      FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin),
    "MapType ops (from_json map, element_at, map_keys, size) vs an independent JSON-function oracle")

  /** RANGE window frame (value-distance peers, vs q16's ROWS frame):
    * for each order, count and exact-sum of same-customer orders priced
    * within 1000.00 below it. Peers are defined by VALUE distance, so
    * ties behave differently from a rows frame — the capability this
    * query pins. Decimal accumulator per Qdsl for order-insensitive
    * sums.
    */
  val q58RangeFrame = Q(
    "q58_range_frame",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"))
        .rangeBetween(-1000L, Window.currentRow)
      T.orders(s, dir)
        .filter(col("o_custkey") < 200)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          count(lit(1)).over(w).as("n_near"),
          sum(col("o_totalprice").cast(graft.Qdsl.D2)).over(w)
            .cast("double").as("sum_near"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice,
        COUNT(*) OVER w AS n_near,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_near
      FROM orders WHERE o_custkey < 200
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
                   RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
      ORDER BY o_orderkey""".stripMargin),
    "RANGE window frame — value-distance peers (vs ROWS in q16); decimal accumulator for order-insensitive sums")

  /** The SQL-text entry path: every other query drives the DataFrame
    * API; this one registers temp views and runs ANSI SQL through
    * spark.sql — with an EXISTS predicate and a correlated scalar
    * subquery, the decorrelation surface Catalyst rewrites into joins.
    * The DuckDB oracle is near-verbatim the same SQL: same text, two
    * engines.
    */
  val q59SqlEntry = Q(
    "q59_sql_entry",
    (s, dir) => {
      T.customer(s, dir).createOrReplaceTempView("customer")
      T.orders(s, dir).createOrReplaceTempView("orders")
      s.sql("""
        SELECT c.c_custkey, c.c_name,
          (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F') AS n_f
        FROM customer c
        WHERE c.c_custkey < 300
          AND EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 100000)
        ORDER BY c.c_custkey""")
    },
    Some("""
      SELECT c.c_custkey, c.c_name,
        (SELECT COUNT(*) FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F') AS n_f
      FROM customer c
      WHERE c.c_custkey < 300
        AND EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_totalprice > 100000)
      ORDER BY c.c_custkey""".stripMargin),
    "SQL-text entry: spark.sql over temp views with EXISTS + correlated scalar subquery (Catalyst decorrelation); near-verbatim shared SQL across engines")

  /** Malformed-record tolerance — the ingest property every web-scale
    * ETL needs (a crawler's payloads are never all well-formed; the
    * reference simply crashes on surprises). A deterministically
    * corrupted copy of `events.props` flows through PERMISSIVE
    * `from_json`: bad rows parse to NULL and are COUNTED, not thrown —
    * the engine-side contract behind `badRecordsPath`-style quarantine.
    * The DuckDB oracle derives validity independently via json_valid().
    * Dirty-data rule at scale: never let one bad record kill a
    * 1000-executor job; route it to a quarantine count/sink instead.
    */
  val q65CorruptJson = Q(
    "q65_corrupt_json",
    (s, dir) =>
      T.events(s, dir)
        .select(col("event_type"),
          // every 7th event gets a LEADING brace — deterministic damage.
          // (A trailing brace wouldn't do: Jackson stops at the first
          // complete JSON value and ignores trailing bytes, so
          // '{"k":1}}' still parses; '}{"k":1}' cannot.)
          when(col("event_id") % 7 === 0, concat(lit("}"), col("props")))
            .otherwise(col("props")).as("raw"))
        .select(col("event_type"),
          from_json(col("raw"), org.apache.spark.sql.types.DataType
            .fromDDL("map<string,int>")).as("m"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("m")).as("n_valid"),
          sum(when(col("m").isNull, 1).otherwise(0)).as("n_corrupt"))
        .orderBy(col("event_type")),
    Some("""
      WITH r AS (
        SELECT event_type,
          CASE WHEN event_id % 7 = 0 THEN '}' || props ELSE props END AS raw
        FROM events)
      SELECT event_type, COUNT(*) AS n_rows,
        COUNT(*) FILTER (json_valid(raw)) AS n_valid,
        CAST(COUNT(*) FILTER (NOT json_valid(raw)) AS BIGINT) AS n_corrupt
      FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),
    "malformed-record tolerance: PERMISSIVE from_json nulls (never throws) + quarantine counts, vs an independent json_valid() oracle")

  /** ANALYZE-style column profiling — the first query an ops team runs
    * on a new 100 TB table: per-column row/null/distinct counts and
    * min/max, the stats that drive CBO estimates, partition design, and
    * data-quality alerting. The Spark side is one WIDE scan — a single
    * agg computes every column's stats (Catalyst plans the multi-column
    * count-distinct via Expand — one logical pass, no per-column jobs)
    * — plus one column-pruned pass for the string min/max (see the
    * round-22 note in the builder), then `stack` unpivots to a row per
    * column. The DuckDB oracle is
    * the opposite formulation — one SELECT per column UNION ALL'd — so
    * the check crosses both engines AND both shapes. min/max are
    * emitted as strings for type-uniformity; doubles go through
    * DECIMAL(18,2) first (raw-column decimal cast, exact at this data's
    * scale) because double→string shortest-repr formatting is not
    * cross-engine-stable.
    *
    * At scale: per-column exact count-distinct is the expensive part
    * (Expand multiplies rows by #distinct-aggs before the shuffle);
    * the sketch path is REGISTERED as [[q97SketchProfile]] — q63's KMV
    * per column, no Expand (PlanAuditSpec pins both plans) — when
    * estimates suffice.
    */
  val q75ColumnProfile = Q(
    "q75_column_profile",
    (s, dir) => {
      val dec = (c: String) => col(c).cast(graft.Qdsl.D2)
      // Round 22: the STRING min/max (o_orderstatus) is split into its
      // own 1-column pass. A string agg BUFFER is not UnsafeRow-mutable,
      // so its presence in this agg forced the ENTIRE multi-distinct
      // Expand pipeline into SortAggregate — three chained interpreted
      // SortAggregate levels over the ×5-expanded corpus, measured
      // 54 s task time (72 µs/row) at sf0.1 where the HashAggregate
      // form is ~3 s. The split pass reads ONE pruned ~1-byte column
      // (guide §6: column pruning makes the second scan byte-trivial
      // at any scale) and joins back as a 1-row broadcast; every level
      // of both aggs now plans HashAggregate. Same aggregates, same
      // values — the oracle is unchanged.
      val statusMm = T.orders(s, dir).agg(
        min(col("o_orderstatus")).as("mn_status"),
        max(col("o_orderstatus")).as("mx_status"))
      val profiled = T.ordersSpread(s, dir).agg(
        count(lit(1)).as("n_rows"),
        // o_orderkey
        count(col("o_orderkey")).as("nn_key"),
        countDistinct(col("o_orderkey")).as("nd_key"),
        min(col("o_orderkey")).cast("string").as("mn_key"),
        max(col("o_orderkey")).cast("string").as("mx_key"),
        // o_totalprice
        count(col("o_totalprice")).as("nn_price"),
        countDistinct(col("o_totalprice")).as("nd_price"),
        min(dec("o_totalprice")).cast("string").as("mn_price"),
        max(dec("o_totalprice")).cast("string").as("mx_price"),
        // o_orderstatus (min/max ride the split pass above)
        count(col("o_orderstatus")).as("nn_status"),
        countDistinct(col("o_orderstatus")).as("nd_status"),
        // o_orderdate
        count(col("o_orderdate")).as("nn_date"),
        countDistinct(col("o_orderdate")).as("nd_date"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("mn_date"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("mx_date"))
        .crossJoin(statusMm)
      profiled.select(expr(
        """stack(4,
          |  'o_orderkey',   n_rows, n_rows - nn_key,    nd_key,    mn_key,    mx_key,
          |  'o_totalprice', n_rows, n_rows - nn_price,  nd_price,  mn_price,  mx_price,
          |  'o_orderstatus',n_rows, n_rows - nn_status, nd_status, mn_status, mx_status,
          |  'o_orderdate',  n_rows, n_rows - nn_date,   nd_date,   mn_date,   mx_date)
          |  AS (col_name, n_rows, n_null, n_distinct, min_s, max_s)""".stripMargin))
        .orderBy(col("col_name"))
    },
    Some("""
      SELECT 'o_orderdate' AS col_name, COUNT(*) AS n_rows,
        COUNT(*) - COUNT(o_orderdate) AS n_null,
        COUNT(DISTINCT o_orderdate) AS n_distinct,
        strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_s,
        strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_s
      FROM orders
      UNION ALL
      SELECT 'o_orderkey', COUNT(*), COUNT(*) - COUNT(o_orderkey),
        COUNT(DISTINCT o_orderkey),
        CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
        COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus), MAX(o_orderstatus)
      FROM orders
      UNION ALL
      SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
        COUNT(DISTINCT o_totalprice),
        CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR),
        CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
      FROM orders
      ORDER BY col_name""".stripMargin),
    "ANALYZE-style column profile: one-scan multi-column stats (Expand-planned count-distincts) unpivoted via stack, vs a per-column UNION ALL oracle — different engines AND different shapes; decimal-routed min/max strings for cross-engine stability")

  // ---------------------------------------------------------------------
  // q97 — sketched column profile (the q75 scale path, registered)
  // ---------------------------------------------------------------------

  /** q75's profile with the cardinalities SKETCHED: the Expand that
    * multiplies every row ×(#distinct-aggs) before q75's shuffle — its
    * one non-100×-scale plan property — is gone. Shape: format each
    * column to an ORDER-FAITHFUL string (zero-padded ints/decimals,
    * ISO timestamps) so one string min/max per column is the typed
    * min/max; `stack` to a (col_name, v) frame; then a single
    * col_name-keyed pass computes counts + min/max, and q63's KMV
    * aggregator ([[graft.functions.KMinDistinctAggregator]], k=64
    * minima of md5-derived 60-bit hashes) estimates n_distinct with
    * bounded memory — each map partition carries ≤ k hashes per column
    * through the shuffle, vs Expand's row-multiplication.
    *
    * Status (3 distinct values < k) exercises the degenerate-exact
    * branch; key/price/date (15k distincts at sf0.01) exercise the
    * estimator. Engine-exact like q63: the k-th minimum hash is an
    * integer both engines agree on, so the DuckDB oracle reproduces
    * the ESTIMATE bit-for-bit — the gate pins the sketch, not a
    * tolerance.
    */
  /** q97's unpivot derivation WITHOUT the store, factored so
    * PlanAuditSpec can assert the no-Expand property on the derivation
    * itself — storing it below hides this subtree behind a LogicalRDD,
    * so a final-plan audit alone could not see an Expand regression
    * here. */
  private[graft] def q97Unpivot(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    T.ordersSpread(s, dir)
      .select(
        lpad(col("o_orderkey").cast("string"), 12, "0").as("v_key"),
        lpad(col("o_totalprice").cast(graft.Qdsl.D2).cast("string"), 21, "0")
          .as("v_price"),
        col("o_orderstatus").as("v_status"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("v_date"))
      .select(expr(
        """stack(4,
          |  'o_orderkey',    v_key,
          |  'o_totalprice',  v_price,
          |  'o_orderstatus', v_status,
          |  'o_orderdate',   v_date) AS (col_name, v)""".stripMargin))

  val q97SketchProfile = Q(
    "q97_sketch_profile",
    (s, dir) => {
      import graft.functions.KMinDistinctAggregator
      val k = 64
      // stored: the unpivoted frame feeds BOTH the min/max stats agg
      // and the KMV hash stream below, and Catalyst plans each
      // occurrence independently — unstored, the string formatting +
      // 4x stack ran twice (the two dominant stages in its profile).
      // The frame is 4·|orders| short strings.
      val unp = Stored.checkpoint(q97Unpivot(s, dir)).df
      // REJECTED EXPERIMENT (r22, paired sf1 A/B 2.67 -> 2.92 s):
      // splitting the counts into their own HashAggregate pass (q75's
      // string-min/max fix) LOSES here — unlike q75 there is no Expand
      // pipeline being poisoned; the SortAggregate IS the string
      // min/max over this already-checkpointed 2-column frame, and the
      // split just pays a second pass + a join. Single agg kept.
      val stats = unp.groupBy(col("col_name"))
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col("v"))).as("n_null"),
          min(col("v")).as("min_s"), max(col("v")).as("max_s"))
      // no pre-distinct: the KMV aggregator dedups inside its k-window
      // (reduce rejects duplicates and anything above the k-th minimum),
      // so feeding it the raw hash stream drops the corpus-sized dedup
      // exchange entirely — the only shuffle the sketch pays is the
      // ≤ k-per-column partial buffers (the oracle still distincts its
      // hash stream; same k minima either way).
      val hashed = unp.filter(col("v").isNotNull)
        .select(col("col_name"),
          expr("cast(conv(substring(md5(v), 1, 15), 16, 10) as bigint)").as("h"))
      val sketch = {
        import s.implicits._
        hashed.as[(String, Long)]
          .groupByKey(_._1)
          .mapValues(_._2)
          .agg(new KMinDistinctAggregator(k).toColumn.name("mins"))
          .toDF("col_name", "mins")
      }
      // LEFT join: an all-null column yields no sketch row at all (zero
      // non-null hashes) — an inner join would silently DROP the column
      // from the profile instead of reporting it with nd_est = 0 the
      // way q75 does.
      stats.join(sketch, Seq("col_name"), "left")
        .select(col("col_name"), col("n_rows"), col("n_null"),
          when(col("mins").isNull, lit(0.0))
            .when(size(col("mins")) < k, size(col("mins")).cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976.0)
              / element_at(col("mins"), k))
            .as("nd_est"),
          col("min_s"), col("max_s"))
        .orderBy(col("col_name"))
    },
    Some("""
      WITH base AS (
        SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS v_key,
          lpad(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 21, '0')
            AS v_price,
          o_orderstatus AS v_status,
          strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS v_date
        FROM orders),
      unp AS (
        SELECT 'o_orderkey' AS col_name, v_key AS v FROM base
        UNION ALL SELECT 'o_totalprice', v_price FROM base
        UNION ALL SELECT 'o_orderstatus', v_status FROM base
        UNION ALL SELECT 'o_orderdate', v_date FROM base),
      stats AS (
        SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_null,
          MIN(v) AS min_s, MAX(v) AS max_s
        FROM unp GROUP BY col_name),
      hashed AS (
        SELECT DISTINCT col_name, ('0x' || substr(md5(v), 1, 15))::BIGINT AS h
        FROM unp WHERE v IS NOT NULL),
      kth AS (
        SELECT col_name, h AS hk FROM (
          SELECT col_name, h,
            ROW_NUMBER() OVER (PARTITION BY col_name ORDER BY h) AS rn
          FROM hashed) WHERE rn = 64),
      nh AS (SELECT col_name, COUNT(*) AS n_hashes FROM hashed GROUP BY col_name)
      SELECT s.col_name, s.n_rows, s.n_null,
        CASE WHEN nh.n_hashes IS NULL THEN 0.0
             WHEN nh.n_hashes < 64 THEN CAST(nh.n_hashes AS DOUBLE)
             ELSE 63.0 * 1152921504606846976.0 / kth.hk END AS nd_est,
        s.min_s, s.max_s
      FROM stats s
      LEFT JOIN nh ON nh.col_name = s.col_name
      LEFT JOIN kth ON kth.col_name = s.col_name
      ORDER BY s.col_name""".stripMargin),
    "sketched column profile: q75 with KMV (k=64) cardinality estimates over an order-faithful string unpivot — no Expand row multiplication, bounded-memory per-column sketches, engine-exact estimate pinned by the oracle")

  // ---------------------------------------------------------------------
  // q113 — mergeable KMV-sample quantiles (the sketch family's quantile op)
  // ---------------------------------------------------------------------

  /** Quantile estimation from a DETERMINISTIC k-minimum-values sample:
    * keep the k=256 rows whose md5-derived 60-bit key hash is smallest —
    * a uniform corpus sample both engines derive identically (no
    * rand(), the q67 reproducibility argument) — and read quantiles
    * off the sample's order statistics. The classic mergeable shape:
    * the k-min of a union is the k-min of per-shard k-mins, so shard
    * samples combine into the corpus sample without re-reading data
    * (SketchSpec pins this merge law for value samples, the q79 gate
    * shape, plus a 5σ sampling-error envelope vs exact quantiles).
    *
    * Scale: `orderBy(h).limit(k)` plans as TakeOrderedAndProject —
    * per-partition k-mins, one k·P-row merge, the corpus never
    * globally sorts (the exact alternative at 100 TB is a full sort;
    * approx_percentile's GK sketch is engine-private like q99's HLL —
    * the KMV sample is the cross-engine-checkable middle). The
    * quantile-extraction window orders the k-row sample only —
    * bounded, never corpus-sized.
    *
    * Determinism: values ride as DECIMAL(18,2) (exact at 2 decimals,
    * Qdsl discipline); the k-cut orders by (h, v) and the sample rank
    * by (v, h), so both selections are total orders shared by the
    * engines (h collisions: ~n²/2⁶¹, the family's documented bound).
    * Sample ranks ceil(q·k) are inlined as integer literals so no
    * float rounding of q·k can diverge.
    */
  val q113KmvQuantiles = Q(
    "q113_kmv_quantiles",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val k = 256
      val sample = T.lineitem(s, dir)
        .select(
          col("l_extendedprice").cast(graft.Qdsl.D2).as("v"),
          expr("cast(conv(substring(md5(concat(cast(l_orderkey as string), '_', " +
            "cast(l_linenumber as string))), 1, 15), 16, 10) as bigint)").as("h"))
        .orderBy(col("h"), col("v"))
        .limit(k)
      val ranked = sample.withColumn("rn",
        row_number().over(Window.orderBy(col("v"), col("h"))))
      val qdf = Seq(0.25, 0.5, 0.75, 0.9)
        .map(q => (q, math.ceil(q * k).toInt)).toDF("q", "sample_rank")
      ranked.join(qdf, col("rn") === col("sample_rank"))
        .select(col("q"), lit(k).cast("bigint").as("k"),
          col("sample_rank").cast("bigint").as("sample_rank"),
          col("v").as("v_at_q"))
        .orderBy(col("q"))
    },
    Some("""
      WITH s AS (
        SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
          ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_' ||
            CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM lineitem ORDER BY h, v LIMIT 256),
      r AS (SELECT v, h, ROW_NUMBER() OVER (ORDER BY v, h) AS rn FROM s),
      qr(q, sample_rank) AS (VALUES (0.25, 64), (0.5, 128), (0.75, 192), (0.9, 231))
      SELECT CAST(qr.q AS DOUBLE) AS q, CAST(256 AS BIGINT) AS k,
        CAST(qr.sample_rank AS BIGINT) AS sample_rank, r.v AS v_at_q
      FROM qr JOIN r ON r.rn = qr.sample_rank
      ORDER BY q""".stripMargin),
    "mergeable quantile sketch: deterministic k-min-values sample (k=256, md5 hash order) + order statistics at inlined ranks — TakeOrderedAndProject, no corpus sort; merge law + error envelope pinned in SketchSpec")

  /** Offset + distribution window functions — the slice of the window
    * surface q15/q16/q58 (ranking, ROWS, RANGE frames) don't touch:
    * `lag`/`lead` (previous/next order price along each customer's
    * order history) and `ntile`/`percent_rank`/`cume_dist` (position of
    * each order in its customer's price distribution). Every window
    * orders by a TOTAL key (date/price + orderkey tiebreak) so offsets
    * and peer groups are deterministic; percent_rank = (rank−1)/(n−1)
    * and cume_dist = rank/n are exact-int divisions — bit-identical.
    * One shuffle on o_custkey serves all five functions (same
    * partition key, two sort orders within it).
    */
  val q76WindowOffsets = Q(
    "q76_window_offsets",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hist = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val dist = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      T.orders(s, dir)
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          lag(col("o_totalprice"), 1).over(hist).as("prev_price"),
          lead(col("o_totalprice"), 1).over(hist).as("next_price"),
          ntile(4).over(dist).as("price_quartile"),
          percent_rank().over(dist).as("pr"),
          cume_dist().over(dist).as("cd"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice,
        lag(o_totalprice, 1) OVER h AS prev_price,
        lead(o_totalprice, 1) OVER h AS next_price,
        CAST(ntile(4) OVER d AS INTEGER) AS price_quartile,
        percent_rank() OVER d AS pr,
        cume_dist() OVER d AS cd
      FROM orders WHERE o_custkey < 100
      WINDOW h AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             d AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
      ORDER BY o_custkey, o_orderkey""".stripMargin),
    "offset + distribution windows (lag/lead, ntile/percent_rank/cume_dist): total-ordered windows for deterministic offsets, exact-int rank divisions; one o_custkey shuffle serves all five functions")

  // ---------------------------------------------------------------------
  // q91/q92 — binned range joins (the scale path q54 only documents)
  // ---------------------------------------------------------------------

  /** Point-in-interval range join against a LARGE interval table (500
    * data-derived intervals — too big to call "a literal band table"),
    * executed as [[graft.ops.RangeJoin.binnedPointJoin]]: quantize the
    * value axis into width-8 bins, explode each interval to the <= 2
    * bins it touches, hash-equi-join on the bin id, re-check the exact
    * range. Same answer as the naive non-equi join (the oracle IS the
    * naive join — DuckDB plans it as an IEJoin), but the Spark plan is
    * a shuffle-partitionable hash join instead of a
    * broadcast-nested-loop O(n*m) scan — the difference between a band
    * lookup and a dead executor at 100 TB.
    */
  val q91RangeBinned = Q(
    "q91_range_binned",
    (s, dir) => {
      val ev = T.events(s, dir)
      val ivl = ev.filter(col("event_id") < 500)
        .select(col("event_id").as("ivl_id"), col("value").as("lo"),
          (col("value") + (col("user_id") % 5) + 1).as("hi"))
      graft.ops.RangeJoin
        .binnedPointJoin(ev.select(col("value")), "value", ivl, "lo", "hi", 8.0)
        .groupBy(col("ivl_id"))
        .agg(count(lit(1)).as("n"), graft.Qdsl.dsum(col("value")).as("sum_value"))
        .orderBy(col("ivl_id"))
    },
    Some("""
      WITH ivl AS (
        SELECT event_id AS ivl_id, value AS lo,
          value + (user_id % 5) + 1 AS hi
        FROM events WHERE event_id < 500)
      SELECT ivl_id, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events e JOIN ivl ON e.value >= ivl.lo AND e.value < ivl.hi
      GROUP BY ivl_id ORDER BY ivl_id""".stripMargin),
    "binned range join: 500 data-derived intervals explode to width-8 bins -> hash equi-join on bin id + exact re-check; identical semantics to the oracle's naive non-equi join, but shuffle-partitionable (q54's documented scale path, demonstrated)")

  /** Interval-overlap self-join through the same binning: two
    * data-derived interval sets, pairs overlapping half-open — the
    * genomics/session-overlap shape. Each pair may share up to 2 bins,
    * so the binned join dedups candidate pairs before the per-a
    * overlap count. The oracle is again the direct inequality join.
    */
  val q92OverlapBinned = Q(
    "q92_overlap_binned",
    (s, dir) => {
      val ev = T.events(s, dir)
      def ivls(pred: org.apache.spark.sql.Column, prefix: String) =
        ev.filter(pred)
          .select(col("event_id").as(s"${prefix}_id"), col("value").as(s"${prefix}_lo"),
            (col("value") + (col("user_id") % 5) + 1).as(s"${prefix}_hi"))
      val a = ivls(col("event_id") < 300, "a")
      val b = ivls(col("event_id") >= 300 && col("event_id") < 600, "b")
      graft.ops.RangeJoin
        .binnedOverlapJoin(a, "a_lo", "a_hi", b, "b_lo", "b_hi",
          Seq("a_id", "b_id"), 8.0)
        .groupBy(col("a_id"))
        .agg(count(lit(1)).as("n_overlaps"))
        .orderBy(col("a_id"))
    },
    Some("""
      WITH a AS (
        SELECT event_id AS a_id, value AS a_lo,
          value + (user_id % 5) + 1 AS a_hi
        FROM events WHERE event_id < 300),
      b AS (
        SELECT event_id AS b_id, value AS b_lo,
          value + (user_id % 5) + 1 AS b_hi
        FROM events WHERE event_id >= 300 AND event_id < 600)
      SELECT a_id, CAST(COUNT(*) AS BIGINT) AS n_overlaps
      FROM a JOIN b ON a_lo < b_hi AND b_lo < a_hi
      GROUP BY a_id ORDER BY a_id""".stripMargin),
    "binned interval-overlap join: both interval sets explode to bins, hash join on bin id, candidate-pair dedup, exact overlap predicate — the session/region overlap shape, shuffle-partitionable where the naive plan is O(n*m)")

  // ---------------------------------------------------------------------
  // q107 — link-graph centrality (integer PageRank, fixed iterations)
  // ---------------------------------------------------------------------

  /** PageRank over the customer↔supplier bipartite graph (distinct
    * trade edges from orders ⋈ lineitem, both directions so every
    * node has in- and out-degree ≥ 1) — the link-graph centrality the
    * reference's crawl output feeds in a wiki deployment (page ↔ link
    * graph; the wiki modules build exactly that edge list, this query
    * registers the algorithm on the oracle-checkable tables).
    *
    * Cross-engine exactness: ranks are INTEGER micro-units (total
    * mass 10¹², damping 0.85 as `(85·s) div 100`), every division is
    * integral `div` — no float sum-order hazard, bit-identical to
    * DuckDB's five unrolled recursive CTE steps. Deterministic
    * truncation loss stays in the units digit and is identical in
    * both engines.
    *
    * Scale shape: iterations are FIXED (5), each one edge-keyed hash
    * join + dst-keyed partial-agg sum — shuffle linear in |E| per
    * iteration, O(iters·|E|) total, no driver-side graph state (the
    * loop only composes the lazy plan; contrast q72's CONVERGENCE
    * loop, which must act per round). The edge/degree frames are
    * eagerly checkpointed — they feed six joins in one action, the
    * q72/q89 cache-race shape the sf1 audit flagged.
    */
  val q107GraphPagerank = Q(
    "q107_graph_pagerank",
    (s, dir) => {
      val mass = 1000000000000L
      // the corpus-scale edge derivation is stored: `raw` fans out
      // FOUR ways below (both union branches of edges0, and edges0
      // again inside deg) and Catalyst does not share identical
      // subplans across union branches — unstored, the
      // orders⋈lineitem join + distinct ran 4× inside the edges build
      // (a stage profile: 35 s of the query's 50 s task time sat in
      // those duplicate scans). One materialization, four block reads.
      val raw = Stored.checkpoint(T.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
        .join(T.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + 2000000L).as("supp"))
        .distinct()).df
      val edges0 = raw.select(col("cust").as("src"), col("supp").as("dst"))
        .union(raw.select(col("supp").as("src"), col("cust").as("dst")))
      val deg = edges0.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .withColumnRenamed("src", "dv")
      // degree rides ON the edge frame (joined once, checkpointed once):
      // the first cut re-broadcast the degree table inside every round's
      // plan — a separate broadcast-exchange job per round for a frame
      // that never changes. Likewise |V| is folded to a LITERAL by one
      // upfront count (the q122 dial convention): the per-round
      // crossJoin(broadcast(nAgg)) was a third exchange job per round
      // for one scalar. The three-exchanges-per-round shape ran 3.4 s
      // wall on 0.3 s of parallel CPU — the loop was all job latency,
      // not work.
      // HASH-PARTITION BY dst and store BEFORE the loop (guide §2.4
      // "two operations keyed the same way can share one exchange"):
      // the per-round plan is broadcast(r)-join (streamed side = edges,
      // partitioning kept) → groupBy(dst), and the stored frame keeps
      // its final plan's hashpartitioning(dst), so it satisfies the
      // aggregation's ClusteredDistribution in EVERY round — five
      // per-round contribution exchanges collapse into this ONE setup
      // exchange (PlanAuditSpec pins the shape). deg is hinted
      // broadcast (node-sized, the same degradation note as the
      // in-loop broadcast(r) below) so the stored frame's own plan
      // stays single-exchange. The byte ledger at sf0.1: the total
      // RISES (~17.9 → ~30 MB), because map-side partial aggregation
      // squeezed each round's exchange to ~|V| rows per map partition
      // while the setup shuffle is |E| rows. That compression is an
      // sf0.1 artifact — at corpus scale per-partition distinct-dst
      // approaches rows-per-partition, partial agg stops compressing,
      // and the per-round shape degenerates to FIVE ~|E|-row exchanges
      // against this one. Integer sums are partitioning-indifferent,
      // so ranks are bit-identical.
      // explicit count (the q44/q131 convention): a bare
      // repartition(col) is REPARTITION_BY_COL, which AQE may coalesce
      // to ONE partition at small byte sizes — serializing all five
      // rounds' aggregation through a single task, and a coalesced
      // frame is stored with no partitioning. The session's
      // shuffle-partition setting keeps it scale-adaptive.
      val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
      val edges = Stored.checkpoint(
        // broadcast: unhinted, q107 ran 19 → 20 jobs and shuffled 21.3 → 31.2 MB at sf0.1
        edges0.join(broadcast(deg), col("src") === col("dv"))
          .select(col("src"), col("dst"), col("d"))
          .repartition(nPart, col("dst"))).df
      val nodes = edges.select(col("src").as("v")).distinct()
      val n = nodes.count()
      val rInit = if (n > 0) mass / n else 0L
      val teleport = (15L * rInit) / 100L
      var r = nodes.select(col("v"), lit(rInit).as("r"))
      for (_ <- 1 to 5) {
        // the rank state is NODE-sized (always |V| << |E|): ONE
        // broadcast per round keeps the edge list — the only big
        // frame — unshuffled across all five iterations (checkpoint
        // stats are unknown to the optimizer, which would otherwise
        // plan five full sort-merge shuffles of the edges). On a graph
        // whose node table outgrows the broadcast threshold, drop the
        // hint: the same plan degrades to src-keyed shuffle joins,
        // semantics unchanged.
        val contrib = edges
          // broadcast: lazy round state has no statistics; unhinted, q107 ran 19 → 34 jobs at sf0.1
          .join(broadcast(r), col("src") === col("v"))
          .select(col("dst"), expr("r div d").as("c"))
        // node-sized state checkpoint per round (the KMeans.run rule):
        // without it round t's broadcast exchange carries rounds 1..t−1
        // as a nested subplan — planning cost grows quadratically in
        // rounds and each broadcast job replans the whole prefix.
        // LAZY: the plan is truncated at declaration either
        // way; round t+1's broadcast exchange is the first action and
        // folds the materialization into its own job, saving the eager
        // form's five separate round-boundary jobs. Uses are strictly
        // sequential (each round's broadcast gates the next), so the
        // lazy-checkpoint race window never opens.
        r = contrib.groupBy(col("dst")).agg(sum(col("c")).as("cs"))
          .select(col("dst").as("v"),
            (lit(teleport) + expr("(85 * cs) div 100")).as("r"))
          .localCheckpoint(eager = false)
      }
      r.orderBy(col("r").desc, col("v")).limit(20)
        .select(col("v").as("node"), col("r").as("rank"))
    },
    Some {
      val mass = "1000000000000"
      def step(i: Int): String =
        s"""r$i AS (
        SELECT e.dst AS v,
          CAST((15 * ($mass // nn.n)) // 100
            + (85 * SUM(r${i - 1}.r // deg.d)) // 100 AS BIGINT) AS r
        FROM e
        JOIN r${i - 1} ON r${i - 1}.v = e.src
        JOIN deg ON deg.src = e.src, nn
        GROUP BY e.dst, nn.n)"""
      s"""
      WITH e0 AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey + 2000000 AS supp
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      e AS (
        SELECT cust AS src, supp AS dst FROM e0
        UNION ALL SELECT supp, cust FROM e0),
      deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src),
      nn AS (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n FROM e),
      r0 AS (
        SELECT DISTINCT src AS v, CAST($mass // nn.n AS BIGINT) AS r
        FROM e, nn),
      ${(1 to 5).map(step).mkString(",\n      ")}
      SELECT v AS node, r AS rank FROM r5
      ORDER BY rank DESC, node LIMIT 20""".stripMargin
    },
    "fixed-iteration integer PageRank over the trade graph: micro-unit ranks, integral div damping (bit-identical both engines), edge-keyed join + dst-keyed partial agg per iteration — O(iters*|E|) shuffle, plan-composed loop with zero per-round driver actions")

  val all: Seq[Q] = Seq(
    q49Sessionize, q50Pivot, q51TopkPerGroup, q52Percentiles,
    q53FullOuter, q54RangeJoin, q55AsofJoin, q56BagSetOps, q57MapFuncs,
    q58RangeFrame, q59SqlEntry, q65CorruptJson, q75ColumnProfile,
    q76WindowOffsets, q91RangeBinned, q92OverlapBinned, q97SketchProfile,
    q107GraphPagerank, q113KmvQuantiles)
}
