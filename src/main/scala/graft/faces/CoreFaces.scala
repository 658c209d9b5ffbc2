package graft
package faces

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{dec, avgExact, sumd, tsDate}
import graft.operators._

import Fixtures._

/** SURVEY §2.1–2.8: the dashboard's scans, filters, joins, aggregations,
  * windows, sorts, set ops and scalar functions; the TPC-H shapes; and the
  * analytic operators built on them (percentiles, the quantile sketches
  * and their stored and streaming forms, histograms, profiling,
  * expectations, funnels, cohorts, sessions).
  */
private[graft] object CoreFaces extends Family("core") {

  /** Oracle for the decimal-DDSketch quantile family: recomputes the
    * ENTIRE sketch in DuckDB from the same integer/string arithmetic —
    * VARCHAR-hop micros → (s,e,d) buckets → RPAD powers of ten → window
    * cumsum pick → one exact-integer midpoint division. A genuinely
    * cross-checked approximate quantile, which an engine-private
    * `approx_percentile` buffer can never be.
    * `q_quantile_sketch_merged` shares the orders text VERBATIM: the
    * three-batch merged sketch must reproduce the one-shot sketch
    * EXACTLY (bucket counts sum by key) — the equality IS the check.
    */
  private def quantileSketchOracle(table: String, valueCol: String,
      groupCol: String, fractions: Seq[Double]): String = {
    val fs = fractions.map(f => s"($f)").mkString(", ")
    // TRY_CAST + the m-IS-NULL branches mirror the engine's overflow
    // routing (QuantileSketch.withBuckets): a finite value past the
    // DECIMAL(18,6) domain lands in the ±overflow sentinel bucket
    // (e=19, lo=10^18, w=0) in BOTH engines instead of throwing in one
    s"""WITH vals AS (SELECT $groupCol AS g,
               CAST(TRY_CAST(CAST(CAST($valueCol AS DOUBLE) AS VARCHAR) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m,
               CASE WHEN CAST($valueCol AS DOUBLE) < 0 THEN -1 ELSE 1 END AS vsgn
             FROM $table
             WHERE $valueCol IS NOT NULL AND isfinite(CAST($valueCol AS DOUBLE))),
       b AS (SELECT g,
               CASE WHEN m IS NULL THEN vsgn WHEN m > 0 THEN 1 WHEN m < 0 THEN -1 ELSE 0 END AS s,
               CASE WHEN m IS NULL THEN 19 WHEN m = 0 THEN 0 ELSE LENGTH(CAST(ABS(m) AS VARCHAR)) - 1 END AS e,
               CASE WHEN m IS NULL THEN 0 WHEN m = 0 THEN 0 ELSE CAST(SUBSTRING(CAST(ABS(m) AS VARCHAR), 1, 2) AS INT) END AS d
             FROM vals),
       sk AS (SELECT g, s, e, d,
               CASE WHEN e = 19 THEN CAST(1000000000000000000 AS BIGINT) WHEN s = 0 THEN CAST(0 AS BIGINT) ELSE CAST(RPAD(CAST(d AS VARCHAR), CAST(e + 1 AS INT), '0') AS BIGINT) END AS lo,
               CASE WHEN e = 19 THEN CAST(0 AS BIGINT) WHEN s = 0 THEN CAST(0 AS BIGINT) ELSE CAST(RPAD('1', CAST(GREATEST(e, 1) AS INT), '0') AS BIGINT) END AS w,
               COUNT(*) AS cnt
             FROM b GROUP BY 1, 2, 3, 4, 5, 6),
       fr AS (SELECT CAST(f AS DOUBLE) AS q FROM (VALUES $fs) t(f)),
       c AS (SELECT g, q, s, lo, w,
               CAST(SUM(cnt) OVER (PARTITION BY g, q ORDER BY s * lo
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER (PARTITION BY g, q) AS BIGINT) AS n_rows
             FROM sk CROSS JOIN fr),
       p AS (SELECT g, q, s, lo, w, n_rows,
               ROW_NUMBER() OVER (PARTITION BY g, q ORDER BY s * lo) AS rn
             FROM c WHERE cum >= CEIL(q * CAST(n_rows AS DOUBLE)))
       SELECT g AS $groupCol, q,
              CAST(s * (2 * lo + w) AS DOUBLE) / 2000000.0 AS est,
              n_rows
       FROM p WHERE rn = 1
       ORDER BY $groupCol, q"""
  }

  /** Shared by `q_timeseries_fill` (batch) and `q_stream_timeseries_fill`
    * (drained streaming dual) — one oracle text, two execution models.
    */
  private val TimeseriesFillOracle =
    """WITH d AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
                         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS v
                  FROM orders
                  WHERE o_custkey <= 40
                    AND YEAR(CAST(o_orderdate AS DATE)) = 1997
                  GROUP BY 1, 2),
            b AS (SELECT o_custkey, MIN(d) AS lo, MAX(d) AS hi FROM d GROUP BY 1),
            spine AS (SELECT o_custkey,
                             CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
                      FROM b),
            j AS (SELECT s.o_custkey, s.d, dd.v
                  FROM spine s LEFT JOIN d dd
                    ON dd.o_custkey = s.o_custkey AND dd.d = s.d)
       SELECT o_custkey, d,
              last_value(v IGNORE NULLS) OVER (PARTITION BY o_custkey ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
              CASE WHEN v IS NULL THEN 1 ELSE 0 END AS is_gap
       FROM j ORDER BY o_custkey, d"""

  private val CubeSql =
    """SELECT COALESCE(r_name, 'ALL') AS region_name,
              COALESCE(c_mktsegment, 'ALL') AS segment,
              COUNT(*) AS n_customers,
              CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_acctbal
       FROM customer
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY CUBE(r_name, c_mktsegment)
       ORDER BY region_name, segment"""

  private val RollupSql =
    """SELECT COALESCE(r_name, 'ALL') AS region_name, COALESCE(n_name, 'ALL') AS nation_name,
              COUNT(*) AS n_customers,
              CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_acctbal
       FROM customer
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY ROLLUP(r_name, n_name)
       ORDER BY region_name, nation_name"""

  val faces: Seq[Face] = Seq(

    // W1 — latest row per (user_id, event_type) by ts (dashboard.py:104-119).
    // Ordering/output use microsecond granularity (ts div 1000) because the
    // DuckDB oracle truncates parquet TIMESTAMP(NANOS) to us — both engines
    // must break ties with the same key values.
    Face("q_w1_latest_per_key", (s, dir) => {
      Analytics.latestPerKey(
          t(s, dir, "events").withColumn("ts_us", expr("ts div 1000")),
          Seq("user_id", "event_type"),
          Seq(col("ts_us").desc, col("event_id").desc))
        .select("user_id", "event_type", "event_id", "ts_us", "value")
        .orderBy("user_id", "event_type")
    },
      """SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
         FROM (SELECT user_id, event_type, event_id, ts, value,
                      ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                         ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
               FROM events) t
         WHERE rn = 1 ORDER BY user_id, event_type"""),

    // A1-A5 spine: TPC-H Q1-style pricing summary (scan→agg→sort)
    Face("q1_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .transform(Stage.spread) // single-row-group source; decimal agg work below is per-row heavy
        .filter(to_date(col("l_shipdate")) <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sumd(col("l_quantity")).as("sum_qty"),
          sumd(col("l_extendedprice")).as("sum_base_price"),
          sumd(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          sumd(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
          avgExact(col("l_quantity")).as("avg_qty"),
          avgExact(col("l_extendedprice")).as("avg_price"),
          avgExact(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      // The decimal→double exports go through a VARCHAR hop: DuckDB's
      // native DECIMAL(38,6)→DOUBLE double-rounds (int128→double, then
      // ÷10^6 — two IEEE roundings) once the scaled sum exceeds 2^53,
      // which sf1's ~2.8e10 charge sums do; Spark/BigDecimal round ONCE.
      // decimal→VARCHAR→DOUBLE is exact-then-correctly-rounded in both
      // engines (found by the sf1 gate, round 11 — invisible at sf0.01
      // where every scaled sum fits in 2^53).
      """SELECT l_returnflag, l_linestatus,
                CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
                CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
                CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
                CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
                CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
                CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_price,
                CAST(CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
                COUNT(*) AS count_order
         FROM lineitem
         WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    // A3/O6 — group-sum then top-k (dashboard.py:249 nlargest(10))
    Face("q_a3_topk_customers", (s, dir) => {
      Analytics.topKByAgg(
        t(s, dir, "orders"),
        groupCols = Seq(col("o_custkey")),
        aggs = Seq(sumd(col("o_totalprice")).as("total_spent"),
                   count(lit(1)).as("n_orders")),
        ord = Seq(col("total_spent").desc, col("o_custkey").asc),
        k = 10)
    },
      """SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_spent,
                COUNT(*) AS n_orders
         FROM orders GROUP BY o_custkey
         ORDER BY total_spent DESC, o_custkey LIMIT 10"""),

    // A4 — top-3 days by total value (dashboard.py:256 nlargest(3))
    Face("q_a4_top_days", (s, dir) => {
      Analytics.topKByAgg(
        t(s, dir, "events").withColumn("d", tsDate("ts")),
        groupCols = Seq(col("d")),
        aggs = Seq(sumd(col("value")).as("total_value")),
        ord = Seq(col("total_value").desc, col("d").asc),
        k = 3)
    },
      """SELECT CAST(ts AS DATE) AS d, CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1
         ORDER BY total_value DESC, d LIMIT 3"""),

    // A6 — countDistinct + deterministic ordered string-agg (dashboard.py:291-294)
    Face("q_a6_genre_rollup", (s, dir) => {
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation")
      Analytics.distinctAndSortedList(
          cust.join(Hints.bcast(nat), col("c_nationkey") === col("n_nationkey")),
          groupCol = "n_name", countCol = "c_custkey", listCol = "c_name")
        .withColumnRenamed("cnt_distinct", "n_customers")
        .withColumnRenamed("sorted_list", "customer_list")
        .orderBy("n_name")
    },
      """SELECT n_name, COUNT(DISTINCT c_custkey) AS n_customers,
                array_to_string(list_sort(list_distinct(list(c_name))), ', ') AS customer_list
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name"""),

    // J1 — fact ⟕ broadcast dims, rollup (dashboard.py:287)
    Face("q_j1_dim_rollup", (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(Hints.bcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(Hints.bcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_customers"),
             sumd(col("c_acctbal")).as("total_acctbal"),
             avgExact(col("c_acctbal")).as("avg_acctbal"))
        .orderBy("r_name", "n_name")
    },
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_acctbal,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name"""),

    // J2/J3 — anti join: customers with no large orders (kobis_pipeline.py:77-81)
    Face("q_j2_customers_no_orders", (s, dir) => {
      Joins.anti(
          t(s, dir, "customer"),
          t(s, dir, "orders").filter(col("o_totalprice") > 400000)
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"))
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
         ORDER BY c_custkey"""),

    // full outer join — nation-level supplier vs customer account totals;
    // either side may be missing (beyond ref: SURVEY §2.3 "not present")
    Face("q_j_full_outer", (s, dir) => {
      val sup = t(s, dir, "supplier").filter(col("s_acctbal") > 4000)
        .groupBy(col("s_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_suppliers"))
      val cust = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_customers"))
      sup.join(cust, Seq("nk"), "full_outer")
        .select(col("nk"), coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
                coalesce(col("n_customers"), lit(0L)).as("n_customers"))
        .orderBy("nk")
    },
      """WITH sup AS (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers
                      FROM supplier WHERE s_acctbal > 4000 GROUP BY 1),
              cust AS (SELECT c_nationkey AS nk, COUNT(*) AS n_customers
                       FROM customer WHERE c_acctbal > 9000 GROUP BY 1)
         SELECT COALESCE(sup.nk, cust.nk) AS nk,
                COALESCE(n_suppliers, 0) AS n_suppliers,
                COALESCE(n_customers, 0) AS n_customers
         FROM sup FULL OUTER JOIN cust ON sup.nk = cust.nk
         ORDER BY nk"""),

    // CUBE grouping — all subtotal combinations (beyond ref; rollup's dual)
    Face("q_cube_region_segment", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(CubeSql)
    }, CubeSql),

    // semi join — customers having at least one filtered order
    Face("q_j2b_customers_with_orders", (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_totalprice") > 100000)
        .select(col("o_custkey").as("c_custkey"))
      Joins.semi(t(s, dir, "customer"), o, Seq("c_custkey"))
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
         ORDER BY c_custkey"""),

    // F15 — threshold bucketing (movie_events_scraper.py:493-501)
    Face("q_f15_stock_status", (s, dir) => {
      t(s, dir, "lineitem")
        .withColumn("status", Analytics.stockStatus(col("l_quantity")))
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
             sumd(col("l_quantity")).as("total_qty"))
        .orderBy("status")
    },
      """SELECT CASE WHEN l_quantity > 40 THEN '보유'
                     WHEN l_quantity > 10 THEN '소진중'
                     WHEN l_quantity > 0 THEN '소량보유'
                     ELSE '소진' END AS status,
                COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
         FROM lineitem GROUP BY 1 ORDER BY status"""),

    // T1 — UNION-dedup of two name sets (movie_events_scraper.py:68-81)
    Face("q_t1_union_names", (s, dir) => {
      t(s, dir, "customer").select(col("c_name").as("name"))
        .union(t(s, dir, "supplier").select(col("s_name").as("name")))
        .distinct()
        .orderBy("name")
    },
      """SELECT c_name AS name FROM customer
         UNION SELECT s_name AS name FROM supplier
         ORDER BY name"""),

    // ST1 — watermark + gap-fill date spine (kobis_pipeline.py:14-49)
    Face("q_st1_date_spine", (s, dir) => {
      Ingest.missingDates(t(s, dir, "orders"), "o_orderdate", "2001-12-31")
        .orderBy("d")
    },
      """SELECT CAST(x AS DATE) AS d
         FROM (SELECT UNNEST(generate_series(
                 (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders) + 1,
                 DATE '2001-12-31', INTERVAL 1 DAY)) AS x)
         ORDER BY d"""),

    // F5/F6 — datediff analytics (kobisdata_extractor.py:149 elapsed_dt)
    Face("q_f5_ship_delay", (s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          avgExact(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))))
            .as("avg_ship_delay_days"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority,
                CAST(SUM(CAST(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS DECIMAL(38,6))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) AS avg_ship_delay_days,
                COUNT(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // W2 — re-derived daily rank (reference ingests rank; we compute it)
    Face("q_w2_daily_rank", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("user_id"), tsDate("ts").as("d"))
        .agg(sumd(col("value")).as("day_value"))
      val w = Window.partitionBy(col("d"))
        .orderBy(col("day_value").desc, col("user_id").asc)
      daily.withColumn("rnk", rank().over(w))
        .filter(col("rnk") <= 5)
        .orderBy("d", "rnk", "user_id")
    },
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d,
                               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS day_value
                        FROM events GROUP BY 1, 2)
         SELECT user_id, d, day_value, CAST(rnk AS INTEGER) AS rnk
         FROM (SELECT *, RANK() OVER (PARTITION BY d
                                      ORDER BY day_value DESC, user_id) AS rnk
               FROM daily) t
         WHERE rnk <= 5 ORDER BY d, rnk, user_id"""),

    // W2 — lag delta + cumulative sum per user (audi_inten / *_acc analogs)
    Face("q_w2_lag_cumsum", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("delta", col("value") - col("prev_value"))
        .withColumn("cum_value",
          sum(dec(col("value")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .select("user_id", "ts_us", "event_id", "value", "prev_value", "delta", "cum_value")
        .orderBy("user_id", "ts_us", "event_id")
    },
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
                LAG(value, 1) OVER w AS prev_value,
                value - (LAG(value, 1) OVER w) AS delta,
                CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (PARTITION BY user_id
                  ORDER BY epoch_us(ts), event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_value
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
         ORDER BY user_id, ts_us, event_id"""),

    // W-breadth: the rest of the ranking/distribution/value window
    // family (§2.11 SQL surface) in one oracle — ntile, percent_rank,
    // cume_dist, first/last/nth value over a running frame. One shuffle
    // on the partition key; unique ORDER BY keys pin tie semantics
    Face("q_w3_window_suite", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .filter(pmod(col("o_custkey"), lit(10)) === 0)
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          first(col("o_orderkey")).over(run).as("first_key"),
          last(col("o_orderkey")).over(run).as("last_key"),
          nth_value(col("o_orderkey"), 2).over(run).as("second_key"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
                CAST(ntile(4) OVER w AS INTEGER) AS quartile,
                round(percent_rank() OVER w, 6) AS pct_rank,
                round(cume_dist() OVER w, 6) AS cume,
                first_value(o_orderkey) OVER wrun AS first_key,
                last_value(o_orderkey) OVER wrun AS last_key,
                nth_value(o_orderkey, 2) OVER wrun AS second_key
         FROM orders WHERE o_custkey % 10 = 0
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                wrun AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY o_custkey, o_orderkey"""),

    // P1/P9/P10/O1 — pruned scan, range+IN filters, multi-key sort
    Face("q_p_scan_filter_sort", (s, dir) => {
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
                "l_returnflag", "l_shipdate")
        .filter(col("l_shipdate").between(lit("1996-01-01 00:00:00").cast("timestamp"),
                                          lit("1996-12-31 00:00:00").cast("timestamp"))
                && col("l_returnflag").isin("R", "A"))
        .orderBy(col("l_shipdate").desc, col("l_orderkey").asc, col("l_linenumber").asc)
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                l_returnflag, l_shipdate
         FROM lineitem
         WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1996-12-31 00:00:00'
           AND l_returnflag IN ('R', 'A')
         ORDER BY l_shipdate DESC, l_orderkey, l_linenumber"""),

    // J4 — enrichment with fallback lookup + coalesce (movie_events_scraper.py:307-367)
    Face("q_j4_enrich_fallback", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey").as("p_partkey"), col("l_returnflag"), col("l_quantity"))
      val part = t(s, dir, "part")
      val primary = part.filter(col("p_size") > 30)
        .withColumn("eff_price", col("p_retailprice") * 0.9)
      val fallback = part.withColumn("eff_price", col("p_retailprice"))
      Joins.enrichWithFallback(li, primary, fallback, Seq("p_partkey"), Seq("eff_price"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
             sumd(col("eff_price") * col("l_quantity")).as("total_eff"))
        .orderBy("l_returnflag")
    },
      """WITH f AS (SELECT l_partkey, l_returnflag, l_quantity FROM lineitem),
              p AS (SELECT p_partkey, p_retailprice * 0.9 AS eff FROM part WHERE p_size > 30),
              a AS (SELECT p_partkey, p_retailprice AS eff FROM part)
         SELECT l_returnflag, COUNT(*) AS n_items,
                CAST(SUM(CAST(COALESCE(p.eff, a.eff) * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_eff
         FROM f LEFT JOIN p ON f.l_partkey = p.p_partkey
                LEFT JOIN a ON f.l_partkey = a.p_partkey
         GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // J6 — fuzzy containment title match (movie_events_scraper.py:56-128)
    Face("q_j6_fuzzy_title", (s, dir) => {
      val titles = s.sql(
        """SELECT * FROM VALUES ('red widget premiere [2024]'),
           ('the blue bolt: limited run'), ('hot gear <fan event>'),
           ('totally unknown title') AS t(title)""")
      FuzzyMatch.bestMatch(titles, "title", t(s, dir, "part"), "p_name")
        .select("title", "matched")
        .orderBy("title")
    },
      """WITH q(title) AS (VALUES ('red widget premiere [2024]'),
                                  ('the blue bolt: limited run'),
                                  ('hot gear <fan event>'),
                                  ('totally unknown title')),
              n AS (SELECT title,
                           trim(regexp_replace(regexp_replace(regexp_replace(title,
                                '[<\[].*?[>\]]', ' ', 'g'),
                                '[^가-힣a-zA-Z0-9\s]', '', 'g'),
                                '\s+', ' ', 'g')) AS nt
                    FROM q),
              nq AS (SELECT title, replace(replace(replace(nt, ' ', ''), ':', ''), '_', '') AS qc FROM n),
              c AS (SELECT p_name, replace(replace(replace(p_name, ' ', ''), ':', ''), '_', '') AS cc
                    FROM (SELECT DISTINCT p_name FROM part)
                    WHERE length(replace(replace(replace(p_name, ' ', ''), ':', ''), '_', '')) > 0),
              j AS (SELECT nq.title, nq.qc, c.p_name, c.cc
                    FROM nq LEFT JOIN c ON contains(nq.qc, c.cc)),
              r AS (SELECT title, p_name,
                           ROW_NUMBER() OVER (PARTITION BY title
                             ORDER BY abs(length(cc) - length(qc)), length(p_name), p_name) AS rn
                    FROM j)
         SELECT title, COALESCE(p_name, title) AS matched
         FROM r WHERE rn = 1 ORDER BY title"""),

    // J6d — edit-distance rung of the fuzzy ladder: containment can't
    // catch typos; min-Levenshtein pick with a damage bound, garbage
    // probes fall back to themselves
    Face("q_j6_fuzzy_levenshtein", (s, dir) => {
      import s.implicits._
      val probes = Seq("GERMANY", "FRANC", "UNTED STATES", "ROMANIA X",
        "QQQQQQQQQQ").toDF("probe")
      FuzzyMatch.bestMatchByEditDistance(probes, "probe",
          t(s, dir, "nation"), "n_name", maxDistance = 6)
        .orderBy("probe")
    },
      """WITH probes(probe) AS (VALUES ('GERMANY'), ('FRANC'), ('UNTED STATES'),
                                       ('ROMANIA X'), ('QQQQQQQQQQ')),
              scored AS (SELECT probe, n_name, levenshtein(probe, n_name) AS d
                         FROM probes CROSS JOIN nation WHERE LENGTH(n_name) > 0),
              best AS (SELECT probe, n_name, d,
                              ROW_NUMBER() OVER (PARTITION BY probe
                                ORDER BY d, LENGTH(n_name), n_name) AS rn
                       FROM scored)
         SELECT probe,
                CASE WHEN d <= 6 THEN n_name ELSE probe END AS matched,
                CASE WHEN d <= 6 THEN CAST(d AS INTEGER) END AS distance
         FROM best WHERE rn = 1 ORDER BY probe"""),

    // F12 — the Lotte feed's field-parse rule ladder as columns
    // (movie_events_scraper.py:581-593): angle-bracket title extract +
    // the three-rule goods-name derivation
    Face("q_f12_lotte_goods", (s, dir) => {
      val ev = s.sql(
        """SELECT * FROM VALUES
           (CAST(1 AS BIGINT), '<엔드게임> 시그니처 아트카드 증정', '오리지널 티켓 (1주차, 포스터)'),
           (CAST(2 AS BIGINT), '<위젯> SPECIAL ART CARD EVENT', 'any goods name'),
           (CAST(3 AS BIGINT), '<기타> 주간 굿즈', '<한정> 오리지널 티켓 (4주차, A3 포스터)'),
           (CAST(4 AS BIGINT), '브래킷 없는 이벤트', '<한정판> 포토카드 세트'),
           (CAST(5 AS BIGINT), '행사', '티켓 (,)')
           AS t(event_id, event_name, goods_full_name)""")
      ev.select(col("event_id"),
          graft.sources.EventParse.titleInAngleBrackets(col("event_name")).as("movie_title_raw"),
          graft.sources.EventParse.lotteGoodsName(col("event_name"),
            col("goods_full_name")).as("goods_name"))
        .orderBy("event_id")
    },
      """WITH ev(event_id, event_name, goods_full_name) AS (
              VALUES (CAST(1 AS BIGINT), '<엔드게임> 시그니처 아트카드 증정', '오리지널 티켓 (1주차, 포스터)'),
                     (CAST(2 AS BIGINT), '<위젯> SPECIAL ART CARD EVENT', 'any goods name'),
                     (CAST(3 AS BIGINT), '<기타> 주간 굿즈', '<한정> 오리지널 티켓 (4주차, A3 포스터)'),
                     (CAST(4 AS BIGINT), '브래킷 없는 이벤트', '<한정판> 포토카드 세트'),
                     (CAST(5 AS BIGINT), '행사', '티켓 (,)')),
              c AS (SELECT event_id, event_name,
                           trim(regexp_replace(goods_full_name, '<[^<>]+>', '', 'g')) AS cleaned
                    FROM ev)
         SELECT event_id,
                CASE WHEN length(regexp_extract(event_name, '<([^<>]+)>', 1)) > 0
                     THEN trim(regexp_extract(event_name, '<([^<>]+)>', 1)) END AS movie_title_raw,
                CASE WHEN contains(event_name, '시그니처 아트카드') THEN '시그니처 아트카드'
                     WHEN contains(event_name, 'SPECIAL ART CARD') THEN '스페셜 아트카드'
                     WHEN regexp_matches(cleaned, ',\s*.*?\s*\)')
                     THEN regexp_extract(cleaned, ',\s*(.*?)\s*\)', 1)
                     ELSE cleaned END AS goods_name
         FROM c ORDER BY event_id"""),

    // F13 — the Megabox feed's parse rules (movie_events_scraper.py:
    // 736-758): either-delimiter bracket title with event-title
    // fallback, bracket-strip goods name with its own fallback chain,
    // and the '~'-split period → (start_date, end_date)
    Face("q_f13_megabox_dates", (s, dir) => {
      val ev = s.sql(
        """SELECT * FROM VALUES
           (CAST(1 AS BIGINT), '[퀴어] 오리지널 포토카드', '이벤트 안내', '2025.01.01 ~ 2025.01.31'),
           (CAST(2 AS BIGINT), '스페셜 배지', '<판타스틱4> 개봉 기념', '2025.07.01~2025.07.15'),
           (CAST(3 AS BIGINT), '<엔드게임>', '<엔드게임> 아트카드 증정', '2025.03.01 ~ 2025.03.31'),
           (CAST(4 AS BIGINT), '포토카드 세트', '주간 이벤트', '2025.05.01'),
           (CAST(5 AS BIGINT), '<> 굿즈', '[하얼빈] 이벤트', CAST(NULL AS STRING)),
           (CAST(6 AS BIGINT), '[A] 카드', 'ev', '1 ~ 2 ~ 3')
           AS t(event_id, goods_name, event_title, period)""")
      val title = graft.sources.EventParse.megaboxMovieTitle(
        col("goods_name"), col("event_title"))
      ev.withColumn("__d",
          graft.sources.EventParse.megaboxPeriodDates(col("period")))
        .select(col("event_id"), title.as("movie_title_raw"),
          graft.sources.EventParse.megaboxGoodsName(title,
            col("goods_name"), col("event_title")).as("goods_name_out"),
          col("__d.start_date").as("start_date"),
          col("__d.end_date").as("end_date"))
        .orderBy("event_id")
    },
      """WITH src(event_id, goods_name, event_title, period) AS (
              VALUES (CAST(1 AS BIGINT), '[퀴어] 오리지널 포토카드', '이벤트 안내', '2025.01.01 ~ 2025.01.31'),
                     (CAST(2 AS BIGINT), '스페셜 배지', '<판타스틱4> 개봉 기념', '2025.07.01~2025.07.15'),
                     (CAST(3 AS BIGINT), '<엔드게임>', '<엔드게임> 아트카드 증정', '2025.03.01 ~ 2025.03.31'),
                     (CAST(4 AS BIGINT), '포토카드 세트', '주간 이벤트', '2025.05.01'),
                     (CAST(5 AS BIGINT), '<> 굿즈', '[하얼빈] 이벤트', CAST(NULL AS VARCHAR)),
                     (CAST(6 AS BIGINT), '[A] 카드', 'ev', '1 ~ 2 ~ 3')),
              ext AS (SELECT *,
                             NULLIF(trim(regexp_extract(goods_name, '[<\[](.*?)[>\]]', 1)), '') AS tg,
                             NULLIF(trim(regexp_extract(event_title, '[<\[](.*?)[>\]]', 1)), '') AS te,
                             trim(regexp_replace(goods_name, '\s*[<\[].*?[>\]]\s*', '', 'g')) AS sg,
                             trim(regexp_replace(event_title, '\s*[<\[].*?[>\]]\s*', '', 'g')) AS se,
                             string_split(period, '~') AS parts
                      FROM src)
         SELECT event_id, COALESCE(tg, te) AS movie_title_raw,
                CASE WHEN COALESCE(tg, te) IS NULL THEN goods_name
                     WHEN length(sg) > 0 THEN sg ELSE se END AS goods_name_out,
                trim(parts[1]) AS start_date,
                CASE WHEN len(parts) >= 2 THEN trim(parts[2]) END AS end_date
         FROM ext ORDER BY event_id"""),

    // Composed goods-event enrichment pipeline (movie_events_scraper.py
    // get_events :307-367): F11 alias join → J6 phased title match → J4
    // gated two-key fallback enrichment, end-to-end in one call. Event 3
    // exercises the reference's `updated` gate: its goods-key match has
    // a null url, and the date-key match that DOES have one must be
    // ignored.
    Face("q_pipeline_goods_enrich", (s, dir) => {
      val goods = s.sql(
        """SELECT * FROM VALUES
           (CAST(1 AS BIGINT), 'widget <collector event>', 'sx poster',
            '2024-01-01', '2024-01-31', CAST(NULL AS STRING), CAST(NULL AS STRING)),
           (CAST(2 AS BIGINT), 'gizmo <limited>', 'poster b',
            '2024-02-01', '2024-02-28', CAST(NULL AS STRING), 'own_img2'),
           (CAST(3 AS BIGINT), CAST(NULL AS STRING), 'u4dx label',
            '2024-03-01', '2024-03-31', 'own_url3', CAST(NULL AS STRING)),
           (CAST(4 AS BIGINT), 'totally unknown title', 'poster x',
            CAST(NULL AS STRING), '2024-04-30', CAST(NULL AS STRING), CAST(NULL AS STRING))
           AS t(event_id, movie_title, goods_name, start_date, end_date,
                event_url, image_url)""")
      val aliases = s.sql(
        """SELECT * FROM VALUES ('sx poster', 'screenx poster'),
           ('u4dx label', 'ultra 4dx label') AS t(raw, canonical)""")
      val recent = s.sql(
        """SELECT * FROM VALUES ('large widget'), ('old rod') AS r(movie_nm)""")
      val movieEvents = s.sql(
        """SELECT * FROM VALUES
           ('large widget', 'screenx poster', '2024-01-05', '2024-01-25', 'http://m1', 'img1'),
           ('hot gizmo', 'different goods', '2024-02-01', '2024-02-28', 'http://m2', 'img2'),
           (CAST(NULL AS STRING), 'ultra 4dx label', '2024-03-05', '2024-03-20',
            CAST(NULL AS STRING), 'img3'),
           ('ultra 4dx label', 'other goods', '2024-03-01', '2024-03-31', 'http://m4', 'img4')
           AS t(movie_title, goods_name, start_date, end_date, event_url, image_url)""")
      graft.pipelines.BoxOfficePipeline.enrichGoodsEvents(goods, aliases, recent,
          t(s, dir, "part").select(col("p_name").as("movie_nm")), movieEvents)
        .select("event_id", "movie_title", "goods_name", "event_url", "image_url")
        .orderBy("event_id")
    },
      """WITH goods(event_id, movie_title, goods_name, start_date, end_date, event_url, image_url) AS (
              VALUES (CAST(1 AS BIGINT), 'widget <collector event>', 'sx poster',
                      '2024-01-01', '2024-01-31', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
                     (CAST(2 AS BIGINT), 'gizmo <limited>', 'poster b',
                      '2024-02-01', '2024-02-28', NULL, 'own_img2'),
                     (CAST(3 AS BIGINT), CAST(NULL AS VARCHAR), 'u4dx label',
                      '2024-03-01', '2024-03-31', 'own_url3', NULL),
                     (CAST(4 AS BIGINT), 'totally unknown title', 'poster x',
                      CAST(NULL AS VARCHAR), '2024-04-30', NULL, NULL)),
              al(raw, canonical) AS (VALUES ('sx poster', 'screenx poster'),
                                            ('u4dx label', 'ultra 4dx label')),
              rec(movie_nm) AS (VALUES ('large widget'), ('old rod')),
              me(movie_title, goods_name, start_date, end_date, event_url, image_url) AS (
              VALUES ('large widget', 'screenx poster', '2024-01-05', '2024-01-25', 'http://m1', 'img1'),
                     ('hot gizmo', 'different goods', '2024-02-01', '2024-02-28', 'http://m2', 'img2'),
                     (CAST(NULL AS VARCHAR), 'ultra 4dx label', '2024-03-05', '2024-03-20',
                      CAST(NULL AS VARCHAR), 'img3'),
                     ('ultra 4dx label', 'other goods', '2024-03-01', '2024-03-31', 'http://m4', 'img4')),
              g1 AS (SELECT event_id, movie_title, COALESCE(canonical, goods_name) AS goods_name,
                            start_date, end_date, event_url, image_url
                     FROM goods LEFT JOIN al ON goods_name = raw),
              n AS (SELECT DISTINCT movie_title AS title FROM g1 WHERE movie_title IS NOT NULL),
              nn AS (SELECT title,
                            trim(regexp_replace(regexp_replace(regexp_replace(title,
                                 '[<\[].*?[>\]]', ' ', 'g'),
                                 '[^가-힣a-zA-Z0-9\s]', '', 'g'),
                                 '\s+', ' ', 'g')) AS qn
                     FROM n),
              nq AS (SELECT title, qn,
                            replace(replace(replace(qn, ' ', ''), ':', ''), '_', '') AS qc
                     FROM nn),
              cat AS (SELECT DISTINCT p_name AS cand FROM part),
              tagged AS (SELECT cand, 1 AS phase FROM (SELECT DISTINCT movie_nm AS cand FROM rec)
                         UNION ALL SELECT cand, 2 FROM cat
                         UNION ALL SELECT cand, 3 FROM cat),
              c AS (SELECT cand, phase,
                           replace(replace(replace(cand, ' ', ''), ':', ''), '_', '') AS cc
                    FROM tagged
                    WHERE length(replace(replace(replace(cand, ' ', ''), ':', ''), '_', '')) > 0),
              mj AS (SELECT nq.title, nq.qn, nq.qc, c.cand, c.phase, c.cc
                     FROM nq LEFT JOIN c
                       ON (c.phase <= 2 AND length(nq.qc) > 0 AND contains(c.cc, nq.qc))
                       OR (c.phase = 3 AND length(nq.qn) > 0 AND contains(c.cand, nq.qn))),
              mr AS (SELECT title, qn, cand,
                            ROW_NUMBER() OVER (PARTITION BY title ORDER BY phase,
                              CASE WHEN phase <= 2 THEN length(cc) - length(qc)
                                   ELSE length(cand) END,
                              length(cand), cand) AS rn
                     FROM mj),
              mt AS (SELECT title, CASE WHEN length(qn) = 0 THEN ''
                                        ELSE COALESCE(cand, qn) END AS matched
                     FROM mr WHERE rn = 1),
              g2 AS (SELECT event_id, mt.matched AS movie_title, goods_name,
                            start_date, end_date, event_url, image_url
                     FROM g1 LEFT JOIN mt ON g1.movie_title = mt.title),
              idg AS (SELECT *, CASE WHEN movie_title IS NOT NULL AND length(movie_title) > 0
                                     THEN movie_title ELSE goods_name END AS ident FROM g2),
              mei AS (SELECT *, CASE WHEN movie_title IS NOT NULL AND length(movie_title) > 0
                                     THEN movie_title ELSE goods_name END AS ident FROM me),
              bg AS (SELECT ident, goods_name, event_url AS ev1, image_url AS img1,
                            ROW_NUMBER() OVER (PARTITION BY ident, goods_name
                              ORDER BY event_url DESC NULLS LAST, image_url DESC NULLS LAST) AS rn
                     FROM mei WHERE ident IS NOT NULL AND goods_name IS NOT NULL),
              bd AS (SELECT ident, start_date, end_date, event_url AS ev2, image_url AS img2,
                            ROW_NUMBER() OVER (PARTITION BY ident, start_date, end_date
                              ORDER BY event_url DESC NULLS LAST, image_url DESC NULLS LAST) AS rn
                     FROM mei WHERE ident IS NOT NULL AND start_date IS NOT NULL
                                AND end_date IS NOT NULL),
              j AS (SELECT g.event_id, g.movie_title, g.goods_name,
                           g.event_url AS own_url, g.image_url AS own_img,
                           bg.ev1, bg.img1, (bg.ident IS NOT NULL) AS hit1, bd.ev2, bd.img2
                    FROM idg g
                    LEFT JOIN (SELECT * FROM bg WHERE rn = 1) bg
                      ON g.ident = bg.ident AND g.goods_name = bg.goods_name
                    LEFT JOIN (SELECT * FROM bd WHERE rn = 1) bd
                      ON g.ident = bd.ident AND g.start_date = bd.start_date
                         AND g.end_date = bd.end_date)
         SELECT event_id, movie_title, goods_name,
                CASE WHEN hit1 THEN COALESCE(ev1, own_url) ELSE COALESCE(ev2, own_url) END AS event_url,
                CASE WHEN hit1 THEN COALESCE(own_img, img1) ELSE COALESCE(own_img, img2) END AS image_url
         FROM j ORDER BY event_id"""),

    // F1 at the oracle tier (round-8 verdict #8 — the last §2 id whose
    // evidence was spec-only): the camelCase→snake_case rename asserted
    // RELATIONALLY by emitting the renamed schema as data. Covers the
    // rule's boundary cases — no-op lowercase, two-step acronym runs
    // (rankOldAndNew), short trailing groups (movieCd), and the
    // digit→Upper boundary (seat2Cnt) — against a literal VALUES oracle
    // of the names utils.py:4-9 would produce.
    Face("q_f1_snake_schema", (s, dir) => {
      import s.implicits._
      val camel = s.range(1).select(
        lit(1L).as("rnum"), lit(0L).as("rankInten"),
        lit("OLD").as("rankOldAndNew"), lit("20240001").as("movieCd"),
        lit(1L).as("salesAmt"), lit(45.5).as("salesShare"),
        lit(1L).as("audiAcc"), lit(1L).as("showCnt"), lit(1L).as("seat2Cnt"))
      graft.sources.KobisSource.snakeCased(camel)
        .columns.zipWithIndex
        .map { case (c, i) => (i, c) }.toSeq
        .toDF("ord", "column_name")
        .orderBy("ord")
    },
      """SELECT * FROM (VALUES
           (CAST(0 AS INTEGER), 'rnum'), (1, 'rank_inten'),
           (2, 'rank_old_and_new'), (3, 'movie_cd'), (4, 'sales_amt'),
           (5, 'sales_share'), (6, 'audi_acc'), (7, 'show_cnt'),
           (8, 'seat2_cnt'))
         AS t(ord, column_name)
         ORDER BY ord"""),

    // J6 phased — the reference's full candidate ladder
    // (movie_events_scraper.py:64-125): recent ∪ opening-soon first, full
    // catalog second, raw containment third, normalized-self fallback.
    // 'widget …' and 'rod …' prove the ORDER is semantic: their phase-1
    // winners (large widget / old rod) differ from the catalog-best
    // matches (hot widget / hot rod) a single-phase matcher would pick.
    Face("q_j6_fuzzy_title_phased", (s, dir) => {
      val titles = s.sql(
        """SELECT * FROM VALUES ('widget <collector event>'),
           ('rod [premiere]'), ('gizmo <limited>'),
           ('totally unknown title'), ('[2024] <fan event> !!') AS t(title)""")
      val recent = s.sql(
        """SELECT * FROM VALUES ('large widget'), ('old rod'),
           ('blue anvil') AS r(movie_nm)""")
      FuzzyMatch.phasedBestMatch(titles, "title", recent, "movie_nm",
          t(s, dir, "part"), "p_name")
        .select("title", "matched")
        .orderBy("title")
    },
      """WITH q(title) AS (VALUES ('widget <collector event>'),
                                  ('rod [premiere]'), ('gizmo <limited>'),
                                  ('totally unknown title'), ('[2024] <fan event> !!')),
              rec(movie_nm) AS (VALUES ('large widget'), ('old rod'), ('blue anvil')),
              n AS (SELECT title,
                           trim(regexp_replace(regexp_replace(regexp_replace(title,
                                '[<\[].*?[>\]]', ' ', 'g'),
                                '[^가-힣a-zA-Z0-9\s]', '', 'g'),
                                '\s+', ' ', 'g')) AS qn
                    FROM q),
              nq AS (SELECT title, qn,
                            replace(replace(replace(qn, ' ', ''), ':', ''), '_', '') AS qc
                     FROM n),
              cat AS (SELECT DISTINCT p_name AS cand FROM part),
              tagged AS (SELECT cand, 1 AS phase FROM (SELECT DISTINCT movie_nm AS cand FROM rec)
                         UNION ALL SELECT cand, 2 FROM cat
                         UNION ALL SELECT cand, 3 FROM cat),
              c AS (SELECT cand, phase,
                           replace(replace(replace(cand, ' ', ''), ':', ''), '_', '') AS cc
                    FROM tagged
                    WHERE length(replace(replace(replace(cand, ' ', ''), ':', ''), '_', '')) > 0),
              j AS (SELECT nq.title, nq.qn, nq.qc, c.cand, c.phase, c.cc
                    FROM nq LEFT JOIN c
                      ON (c.phase <= 2 AND length(nq.qc) > 0 AND contains(c.cc, nq.qc))
                      OR (c.phase = 3 AND length(nq.qn) > 0 AND contains(c.cand, nq.qn))),
              r AS (SELECT title, qn, cand,
                           ROW_NUMBER() OVER (PARTITION BY title ORDER BY phase,
                             CASE WHEN phase <= 2 THEN length(cc) - length(qc)
                                  ELSE length(cand) END,
                             length(cand), cand) AS rn
                    FROM j)
         SELECT title, CASE WHEN length(qn) = 0 THEN ''
                            ELSE COALESCE(cand, qn) END AS matched
         FROM r WHERE rn = 1 ORDER BY title"""),

    // TPC-H Q3 shape — segment filter, 3-way join, group, top-k by revenue
    Face("q3_shipping_priority", (s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders").filter(to_date(col("o_orderdate")) < lit("1998-01-01"))
      val li = t(s, dir, "lineitem").filter(to_date(col("l_shipdate")) > lit("1998-01-01"))
      cust.join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_date"),
                 col("o_orderpriority"))
        .agg(sumd(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_date, o_orderpriority,
                CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
           AND CAST(l_shipdate AS DATE) > DATE '1998-01-01'
         GROUP BY l_orderkey, o_date, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 10"""),

    // TPC-H Q5 shape — 6-way star join, same-nation customer/supplier
    Face("q5_local_supplier_volume", (s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
        .filter(to_date(col("o_orderdate")) >= lit("1996-01-01")
             && to_date(col("o_orderdate")) < lit("1998-01-01"))
      val li = t(s, dir, "lineitem")
      val supp = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
      cust.join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(Hints.bcast(supp), col("l_suppkey") === col("s_suppkey")
                            && col("c_nationkey") === col("s_nationkey"))
        .join(Hints.bcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(Hints.bcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sumd(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      """SELECT n_name,
                CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
           AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name"""),

    // TPC-H q9 shape (round-8 verdict #2 — multi-way join evidence): a
    // 5-table plan with a REAL fact-fact join (lineitem ⋈ orders, both
    // fact-sized, AQE-planned sort-merge) surrounded by broadcast dims
    // (part/supplier/nation), grouping ON the join result (nation ×
    // order-year), and a selective dim predicate (p_name LIKE) that
    // semi-join-reduces the fact side through the broadcast. The
    // reference itself caps at 2-way joins (dashboard.py:287), so this
    // is engine-surface evidence beyond parity: join reordering,
    // broadcast selection, and the shuffle placement Catalyst picks on
    // a plan the fuzz grammar (one LEFT JOIN) never generates. No
    // partsupp table in the testdata star — the cost leg re-derives
    // from p_retailprice × quantity instead of ps_supplycost.
    Face("q9_product_type_profit", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val prt = t(s, dir, "part").filter(col("p_name").contains("bolt"))
      val supp = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val ord = t(s, dir, "orders")
      li.join(Hints.bcast(prt), col("l_partkey") === col("p_partkey"))
        .join(Hints.bcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(Hints.bcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sumd(col("l_extendedprice") * (lit(1) - col("l_discount"))
               - lit(0.1) * col("p_retailprice") * col("l_quantity")).as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
                CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                              - 0.1 * p_retailprice * l_quantity
                         AS DECIMAL(38,6))) AS DOUBLE) AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE p_name LIKE '%bolt%'
         GROUP BY 1, 2 ORDER BY nation, o_year DESC"""),

    // TPC-H q18 shape: semi-join reduction — the HAVING subquery (orders
    // whose total lineitem quantity exceeds the threshold) reduces the
    // orders fact via LEFT SEMI before the 3-table join + re-aggregation.
    // The aggregate that feeds the semi join and the final sum_qty both
    // ride the same lineitem key (l_orderkey), and the top-100 is a
    // TakeOrderedAndProject, not a global sort.
    Face("q18_large_volume", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val bigOrders = li.groupBy("l_orderkey")
        .agg(sum(dec(col("l_quantity"))).as("__sq"))
        .filter(col("__sq") > 150)
        .select(col("l_orderkey").as("o_orderkey"))
      val ord = t(s, dir, "orders").join(bigOrders, Seq("o_orderkey"), "left_semi")
      val cust = t(s, dir, "customer")
      cust.join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"))
        .agg(sumd(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
      """SELECT c_name, c_custkey, o_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice,
                CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey
                              HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 150)
         GROUP BY 1, 2, 3, 4, 5
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 100"""),

    // TPC-H q21 shape — the hallmark correlated EXISTS + NOT EXISTS SELF
    // correlation on the big fact: per lineitem, (a) ANOTHER supplier
    // contributed to the same order (left-semi, fact-fact, inequality in
    // the join condition) and (b) NO other supplier shipped later
    // (left-anti with a theta leg on the date). Both correlations ride
    // the l_orderkey equi key, so each is one hash join keyed by the
    // fact's natural key — no per-row subquery re-execution; the
    // supplier dim broadcasts; the count is map-side-combinable.
    Face("q21_waiting_supplier", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val l1 = li.select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val others = li.select(col("l_orderkey").as("__ok"),
        col("l_suppkey").as("__os"), col("l_shipdate").as("__osd"))
      val wait = l1
        .join(others, col("l_orderkey") === col("__ok")
          && col("__os") =!= col("l_suppkey"), "left_semi")
        .join(others, col("l_orderkey") === col("__ok")
          && col("__os") =!= col("l_suppkey")
          && col("__osd") > col("l_shipdate"), "left_anti")
      wait
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Hints.bcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
      """SELECT s_name, COUNT(*) AS numwait
         FROM lineitem l1
         JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
         JOIN supplier ON s_suppkey = l1.l_suppkey
         WHERE EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > l1.l_shipdate)
         GROUP BY s_name
         ORDER BY numwait DESC, s_name
         LIMIT 20"""),

    // F2 — JSON-string column extraction (kobisdata_extractor.py:93-113 /
    // ai_agent.py:137-139 boundary): events.props is a JSON object
    Face("q_f2_json_props", (s, dir) => {
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
             sum(col("k")).as("sum_k"),
             max(col("k")).as("max_k"),
             min(col("k")).as("min_k"))
        .orderBy("event_type")
    },
      """SELECT event_type, COUNT(*) AS n,
                CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
                MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
                MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // A2 — scalar freshness aggregate (dashboard.py:124-129 MAX(scraped_at))
    Face("q_a2_freshness", (s, dir) => {
      t(s, dir, "events")
        .agg(max(expr("ts div 1000")).as("max_ts_us"),
             min(expr("ts div 1000")).as("min_ts_us"),
             count(lit(1)).as("n_events"))
    },
      """SELECT MAX(epoch_us(ts)) AS max_ts_us, MIN(epoch_us(ts)) AS min_ts_us,
                COUNT(*) AS n_events FROM events"""),

    // F4/F7/F10 — scalar suite: date_format, year, regexp_extract
    Face("q_f_scalar_suite", (s, dir) => {
      t(s, dir, "orders")
        .transform(Stage.spread) // regexp extraction per row dominates the single-task scan
        .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
        .withColumn("yr", year(col("o_orderdate")).cast("long"))
        .withColumn("pri_num", regexp_extract(col("o_orderpriority"), "^(\\d)-", 1).cast("int"))
        .withColumn("pri_label", lower(trim(regexp_extract(col("o_orderpriority"), "^\\d-(.+)$", 1))))
        .groupBy("month", "yr", "pri_num", "pri_label")
        .agg(count(lit(1)).as("n"),
             sumd(col("o_totalprice")).as("total_price"))
        .orderBy("month", "pri_num")
    },
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
                year(o_orderdate) AS yr,
                CAST(regexp_extract(o_orderpriority, '^(\d)-', 1) AS INTEGER) AS pri_num,
                lower(trim(regexp_extract(o_orderpriority, '^\d-(.+)$', 1))) AS pri_label,
                COUNT(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
         FROM orders
         GROUP BY month, yr, pri_num, pri_label
         ORDER BY month, pri_num"""),

    // skew-safe two-stage aggregation: salted partial→final decimal sums
    // are bit-identical to a direct GROUP BY (order-independent), which
    // is exactly what the oracle proves on the 3-hot-value return flag
    Face("q_skew_salted_sum", (s, dir) => {
      Skew.saltedGroupSum(t(s, dir, "lineitem"), "l_returnflag", "l_quantity",
          saltBuckets = 16)
        .select(col("l_returnflag"), col("total").cast("double").as("total"),
          col("n"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
                CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),

    // P6/P7/P12 — conjunctive filters incl. not-null/not-empty + contains
    Face("q_p6_multi_filter", (s, dir) => {
      t(s, dir, "documents")
        .filter(col("lang").isNotNull && col("lang") =!= ""
             && col("n_chars") > 200 && col("text").contains("spark"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE lang IS NOT NULL AND lang <> '' AND n_chars > 200
           AND contains(text, 'spark')
         ORDER BY doc_id"""),

    // the AQE skew lever's demonstration join (round-9 verdict #6): the
    // fact side shuffles on event_type — FIVE distinct keys, each ~20 %
    // of the table, the canonical few-hot-keys skew a uniform hash
    // fan-out cannot spread. Under Verify's defaults this is an
    // ordinary hash-green join; PlanShapeSpec re-executes it with
    // broadcast disabled + skew thresholds lowered and pins that AQE's
    // OptimizeSkewedJoin actually SPLITS the hot partitions
    // (AQEShuffleRead ... skewed in the final plan) with identical
    // results — runtime skew-split evidence, complementing the manual
    // Skew.saltedGroupSum lever
    Face("q_skew_join_aqe", (s, dir) => {
      import s.implicits._
      val dim = Seq(
        ("click", "engagement"), ("view", "engagement"),
        ("purchase", "revenue"), ("signup", "growth"), ("error", "ops"))
        .toDF("event_type", "tier")
      t(s, dir, "events")
        // multi-mapper fact side: a skewed reduce partition splits by
        // MAPPER ranges, so a single-row-group toy scan (one mapper)
        // would leave AQE nothing to split — at scale this is a no-op
        .transform(Stage.spread)
        .join(dim, "event_type")
        .groupBy("tier")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(38,6)")).cast("double").as("total_value"))
        .orderBy("tier")
    },
      """WITH dim(event_type, tier) AS (VALUES
              ('click', 'engagement'), ('view', 'engagement'),
              ('purchase', 'revenue'), ('signup', 'growth'),
              ('error', 'ops'))
         SELECT tier, COUNT(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
         FROM events JOIN dim USING (event_type)
         GROUP BY tier ORDER BY tier"""),

    // F2 — nested-array ↔ JSON-string boundary (kobisdata_extractor.py:93-113
    // encode; ai_agent.py:137-139 decode; P15 '[]' convention)
    Face("q_f2_json_roundtrip", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("arr", slice(TextAnalysis.tokens(col("text")), 1, 3))
        .withColumn("arr_json", to_json(col("arr")))
        .withColumn("back", from_json(col("arr_json"), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)))
      d.select(col("doc_id"), col("arr_json"),
          size(col("back")).as("n_items"),
          (col("arr_json") === "[]").as("is_empty"),
          array_contains(col("back"), "data").as("has_data"))
        .orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id,
                           list_filter(string_split(text, ' '), x -> x <> '')[1:3] AS arr
                    FROM documents)
         SELECT doc_id, to_json(arr) AS arr_json,
                CAST(len(arr) AS INTEGER) AS n_items,
                (to_json(arr) = '[]') AS is_empty,
                list_contains(arr, 'data') AS has_data
         FROM t ORDER BY doc_id"""),

    // F11 — data-driven alias normalization (movie_events_scraper.py:151-188):
    // broadcast alias map + left join + coalesce(canonical, raw)
    Face("q_f11_alias_normalize", (s, dir) => {
      val aliases = s.sql(
        """SELECT * FROM VALUES ('red widget', 'crimson widget'),
           ('blue bolt', 'cobalt bolt') AS t(raw, canonical)""")
      t(s, dir, "part")
        .join(Hints.bcast(aliases), col("p_name") === col("raw"), "left")
        .withColumn("norm_name", coalesce(col("canonical"), col("p_name")))
        .groupBy("norm_name")
        .agg(count(lit(1)).as("n"),
             sumd(col("p_retailprice")).as("total_price"))
        .orderBy("norm_name")
    },
      """WITH aliases(raw, canonical) AS (VALUES ('red widget', 'crimson widget'),
                                                 ('blue bolt', 'cobalt bolt'))
         SELECT COALESCE(canonical, p_name) AS norm_name, COUNT(*) AS n,
                CAST(SUM(CAST(p_retailprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
         FROM part LEFT JOIN aliases ON p_name = raw
         GROUP BY 1 ORDER BY norm_name"""),

    // O7 — shortest-string pick per group (movie_events_scraper.py:123-125
    // sort(key=len)[0]), deterministic via window
    Face("q_o7_shortest_name", (s, dir) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(length(col("p_name")).asc, col("p_name").asc)
      t(s, dir, "part")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("p_brand"), col("p_name").as("shortest_name"))
        .orderBy("p_brand")
    },
      """SELECT p_brand, p_name AS shortest_name
         FROM (SELECT p_brand, p_name,
                      ROW_NUMBER() OVER (PARTITION BY p_brand
                        ORDER BY length(p_name), p_name) AS rn
               FROM part) t
         WHERE rn = 1 ORDER BY p_brand"""),

    // J7 — as-of join: latest event value per user at each week start
    // (temporal join over the union-window shape; see Joins.asOf)
    Face("q_asof_latest_value", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("ed", tsDate("ts"))
      val weeks = ev.agg(trunc(min(col("ed")), "week").as("lo"),
                         trunc(max(col("ed")), "week").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("interval 1 week"))).as("d"))
      val probes = ev.select("user_id").distinct()
        .crossJoin(weeks)
        .withColumn("pt_us", expr("unix_date(d) * 86400000000"))
      Joins.asOf(probes, ev.select("user_id", "ts_us", "event_id", "value"),
          keys = Seq("user_id"), probeTimeCol = "pt_us", eventTimeCol = "ts_us",
          carryCols = Seq("event_id", "value"), tieBreak = Seq("event_id"))
        .select(col("user_id"), col("d"),
                col("event_id").as("last_event_id"), col("value").as("last_value"))
        .orderBy("user_id", "d")
    },
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events),
              b AS (SELECT date_trunc('week', MIN(CAST(ts AS DATE))) AS lo,
                           date_trunc('week', MAX(CAST(ts AS DATE))) AS hi FROM events),
              weeks AS (SELECT CAST(unnest(generate_series(
                          (SELECT lo FROM b), (SELECT hi FROM b), INTERVAL 1 WEEK)) AS DATE) AS d),
              probes AS (SELECT user_id, d
                         FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN weeks)
         SELECT p.user_id, p.d, l.event_id AS last_event_id, l.value AS last_value
         FROM probes p LEFT JOIN LATERAL (
           SELECT event_id, value FROM ev e
           WHERE e.user_id = p.user_id AND e.ts_us <= epoch_us(CAST(p.d AS TIMESTAMP))
           ORDER BY e.ts_us DESC, e.event_id DESC LIMIT 1) l ON TRUE
         ORDER BY user_id, d"""),

    // J7b — forward as-of: for each (user, week-start) probe, the FIRST
    // event at-or-after it (the backward query's mirror, same merge-
    // sorted single-window shape)
    Face("q_asof_next_value", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("ed", tsDate("ts"))
      val weeks = ev.agg(trunc(min(col("ed")), "week").as("lo"),
                         trunc(max(col("ed")), "week").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("interval 1 week"))).as("d"))
      val probes = ev.select("user_id").distinct()
        .crossJoin(weeks)
        .withColumn("pt_us", expr("unix_date(d) * 86400000000"))
      Joins.asOfForward(probes, ev.select("user_id", "ts_us", "event_id", "value"),
          keys = Seq("user_id"), probeTimeCol = "pt_us", eventTimeCol = "ts_us",
          carryCols = Seq("event_id", "value"), tieBreak = Seq("event_id"))
        .select(col("user_id"), col("d"),
                col("event_id").as("next_event_id"), col("value").as("next_value"))
        .orderBy("user_id", "d")
    },
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events),
              b AS (SELECT date_trunc('week', MIN(CAST(ts AS DATE))) AS lo,
                           date_trunc('week', MAX(CAST(ts AS DATE))) AS hi FROM events),
              weeks AS (SELECT CAST(unnest(generate_series(
                          (SELECT lo FROM b), (SELECT hi FROM b), INTERVAL 1 WEEK)) AS DATE) AS d),
              probes AS (SELECT user_id, d
                         FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN weeks)
         SELECT p.user_id, p.d, l.event_id AS next_event_id, l.value AS next_value
         FROM probes p LEFT JOIN LATERAL (
           SELECT event_id, value FROM ev e
           WHERE e.user_id = p.user_id AND e.ts_us >= epoch_us(CAST(p.d AS TIMESTAMP))
           ORDER BY e.ts_us ASC, e.event_id ASC LIMIT 1) l ON TRUE
         ORDER BY user_id, d"""),

    // J8 — range (interval) join via bucket decomposition: lineitems
    // shipped within each high-value order's first week
    Face("q_range_join_week", (s, dir) => {
      val iv = t(s, dir, "orders").filter(col("o_totalprice") > 495000)
        .select(col("o_orderkey"),
          expr("unix_date(CAST(o_orderdate AS DATE))").cast("long").as("lo"))
        .withColumn("hi", col("lo") + 6)
      val pt = t(s, dir, "lineitem")
        .select(expr("unix_date(CAST(l_shipdate AS DATE))").cast("long").as("pd"),
                col("l_extendedprice"))
      Joins.rangeJoin(pt, iv, "pd", "lo", "hi", bucketWidth = 7)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_items"),
             sumd(col("l_extendedprice")).as("total_shipped"))
        .orderBy("o_orderkey")
    },
      """WITH iv AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS lo,
                            CAST(o_orderdate AS DATE) + 6 AS hi
                     FROM orders WHERE o_totalprice > 495000),
              pt AS (SELECT CAST(l_shipdate AS DATE) AS d, l_extendedprice FROM lineitem)
         SELECT o_orderkey, COUNT(*) AS n_items,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS total_shipped
         FROM iv JOIN pt ON pt.d BETWEEN iv.lo AND iv.hi
         GROUP BY o_orderkey ORDER BY o_orderkey"""),

    // A11 — ROLLUP with subtotals + grand total: ONE SQL text executed
    // verbatim by both engines (same convention as the agent queries)
    Face("q_rollup_region", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(RollupSql)
    }, RollupSql),

    // A12 — pivot: month × order-priority matrix of total price
    Face("q_pivot_priority", (s, dir) => {
      t(s, dir, "orders")
        .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
        .groupBy("month")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(sumd(col("o_totalprice")))
        .withColumnRenamed("1-URGENT", "p1_urgent")
        .withColumnRenamed("2-HIGH", "p2_high")
        .withColumnRenamed("3-MEDIUM", "p3_medium")
        .withColumnRenamed("4-NOT SPECIFIED", "p4_not_specified")
        .withColumnRenamed("5-LOW", "p5_low")
        .orderBy("month")
    },
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
                CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                  THEN CAST(o_totalprice AS DECIMAL(38,6)) END) AS DOUBLE) AS p1_urgent,
                CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
                  THEN CAST(o_totalprice AS DECIMAL(38,6)) END) AS DOUBLE) AS p2_high,
                CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM'
                  THEN CAST(o_totalprice AS DECIMAL(38,6)) END) AS DOUBLE) AS p3_medium,
                CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
                  THEN CAST(o_totalprice AS DECIMAL(38,6)) END) AS DOUBLE) AS p4_not_specified,
                CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                  THEN CAST(o_totalprice AS DECIMAL(38,6)) END) AS DOUBLE) AS p5_low
         FROM orders GROUP BY month ORDER BY month"""),

    // A12b — unpivot/melt: the pivot's inverse (wide measure columns to
    // long (id, metric, value) rows; single map-side Expand, no shuffle)
    Face("q_unpivot_metrics", (s, dir) => {
      Analytics.meltLong(
        t(s, dir, "lineitem")
          .filter(col("l_orderkey") <= 1000)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("double").as("quantity"),
            col("l_extendedprice").cast("double").as("extendedprice"),
            col("l_discount").cast("double").as("discount")),
        Seq("l_orderkey", "l_linenumber"),
        Seq("quantity", "extendedprice", "discount"))
        .orderBy("l_orderkey", "l_linenumber", "metric")
    },
      """WITH src AS (SELECT l_orderkey, l_linenumber,
                             CAST(l_quantity AS DOUBLE) AS quantity,
                             CAST(l_extendedprice AS DOUBLE) AS extendedprice,
                             CAST(l_discount AS DOUBLE) AS discount
                      FROM lineitem WHERE l_orderkey <= 1000)
         SELECT l_orderkey, l_linenumber, metric, value FROM (
           SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
                  quantity AS value FROM src
           UNION ALL SELECT l_orderkey, l_linenumber, 'extendedprice',
                  extendedprice FROM src
           UNION ALL SELECT l_orderkey, l_linenumber, 'discount',
                  discount FROM src) u
         ORDER BY l_orderkey, l_linenumber, metric"""),

    // time-series regularization: per-customer daily totals gap-filled
    // onto a dense date spine with LOCF + fill attribution
    Face("q_timeseries_fill", (s, dir) => {
      val daily = t(s, dir, "orders")
        .filter(col("o_custkey") <= 40)
        .withColumn("d", col("o_orderdate").cast("date"))
        .filter(year(col("d")) === 1997)
        .groupBy("o_custkey", "d")
        .agg(sumd(col("o_totalprice")).as("v"))
      Analytics.gapFillLocf(daily, Seq("o_custkey"), "d", "v")
        .orderBy("o_custkey", "d")
    }, TimeseriesFillOracle),

    // A13 — exact percentiles (linear interpolation) per group
    Face("q_percentiles", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 6).as("median_price"),
             round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90_price"),
             count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority,
                round(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
                round(quantile_cont(o_totalprice, 0.9), 6) AS p90_price,
                COUNT(*) AS n
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // A14 — KMV distinct-count sketch (deterministic, oracle-reproducible)
    Face("q_sketch_distinct", (s, dir) => {
      Analytics.kmvDistinctEstimate(t(s, dir, "lineitem"), "l_partkey", k = 64)
    },
      """WITH v AS (SELECT DISTINCT
                      CAST(CAST('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 13) AS BIGINT) AS DOUBLE)
                        / 4503599627370496.0 AS v
                    FROM lineitem),
              mins AS (SELECT v FROM v ORDER BY v LIMIT 64),
              e AS (SELECT COUNT(*) AS k, MAX(v) AS vk FROM mins)
         SELECT k, round(CAST(k - 1 AS DOUBLE) / vk, 6) AS est_distinct,
                (SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS true_distinct
         FROM e"""),

    // A15 — mergeable relative-error quantile sketch (the decimal
    // DDSketch; see QuantileSketch scaladoc): the 100 TB swap for exact
    // per-group percentiles — one partial-aggregable bucket-count pass,
    // answers within 5 % relative error, state mergeable by key-sum.
    // Unlike approx_percentile the whole sketch is engine-portable
    // arithmetic, so the oracle recomputes it and must hash-match.
    Face("q_quantile_sketch", (s, dir) => {
      QuantileSketch.groupQuantiles(t(s, dir, "orders"), "o_totalprice",
          Seq("o_orderpriority"), Seq(0.5, 0.9, 0.99))
        .orderBy("o_orderpriority", "q")
    },
      // the decimal-DDSketch quantile family — the merged face shares the
      // one-shot text VERBATIM (exact mergeability IS the check)
      quantileSketchOracle("orders", "o_totalprice", "o_orderpriority",
        Seq(0.5, 0.9, 0.99))),

    // the stored/mergeable face: three ingestion batches sketched
    // independently, folded by bucket-count sum, quantiles read off the
    // merged state — must equal the one-shot sketch over full history
    // (oracle text shared VERBATIM with q_quantile_sketch, so the
    // equality IS the check — the IncrementalAgg discipline)
    Face("q_quantile_sketch_merged", (s, dir) => {
      val o = t(s, dir, "orders")
      val parts = (0 to 2).map { i =>
        QuantileSketch.build(o.filter(pmod(col("o_orderkey"), lit(3)) === i),
          "o_totalprice", Seq("o_orderpriority"))
      }
      val merged = parts.reduce(
        QuantileSketch.merge(_, _, Seq("o_orderpriority")))
      QuantileSketch.quantiles(merged, Seq("o_orderpriority"),
          Seq(0.5, 0.9, 0.99))
        .orderBy("o_orderpriority", "q")
    },
      quantileSketchOracle("orders", "o_totalprice", "o_orderpriority",
        Seq(0.5, 0.9, 0.99))),

    // the nightly-state lifecycle: three ingestion batches folded into
    // a DURABLE sketch store (a one-bucket BucketedFoldStore),
    // quantiles read off the final stored table — must equal the
    // one-shot sketch over full history (oracle text shared VERBATIM
    // with q_quantile_sketch, the store-lifecycle analogue of the
    // in-memory merged face)
    Face("q_quantile_sketch_stored", (s, dir) => {
      val root = s"$scratchRoot/graft_qsketch_store_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val hp = new org.apache.hadoop.fs.Path(root)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      val o = t(s, dir, "orders")
      (0 to 2).foreach { i =>
        // fold batch 1 TWICE: the re-delivery must be a ledger no-op
        // for this to keep matching the one-shot oracle (round-13
        // verdict #3 — the exactly-once claim rides the shared oracle)
        val reps = if (i == 1) 2 else 1
        (1 to reps).foreach { _ =>
          QuantileSketch.foldIntoStore(s,
            o.filter(pmod(col("o_orderkey"), lit(3)) === i),
            "o_totalprice", Seq("o_orderpriority"), root, s"batch_$i")
        }
      }
      QuantileSketch.quantiles(QuantileSketch.readStore(s, root),
          Seq("o_orderpriority"), Seq(0.5, 0.9, 0.99))
        .orderBy("o_orderpriority", "q")
    },
      quantileSketchOracle("orders", "o_totalprice", "o_orderpriority",
        Seq(0.5, 0.9, 0.99))),

    // overflow face: a derived value column where one key in a thousand
    // is scaled past the DECIMAL(18,6) domain (~4.6e15 ≫ 1e12) — the
    // routing into the ±overflow sentinel bucket happens on REAL gate
    // data in both engines (try_cast in Spark, TRY_CAST in the oracle),
    // and because overflow rows still count toward n_rows, the oracle
    // checks the degraded-not-dead contract end to end
    Face("q_quantile_sketch_overflow", (s, dir) => {
      val o = t(s, dir, "orders").withColumn("v",
        col("o_totalprice") * when(pmod(col("o_orderkey"), lit(1000)) === 0,
          lit(1.0e10)).otherwise(lit(1.0)))
      QuantileSketch.groupQuantiles(o, "v",
          Seq("o_orderpriority"), Seq(0.5, 0.9, 0.999))
        .orderBy("o_orderpriority", "q")
    },
      // the overflow face reuses the SAME oracle text generator — the
      // TRY_CAST routing lives in the shared template, so the sentinel
      // bucket arithmetic is what the hash checks
      quantileSketchOracle(
        """(SELECT o_orderpriority,
              o_totalprice * CASE WHEN o_orderkey % 1000 = 0
                                  THEN 1.0e10 ELSE 1.0 END AS v
            FROM orders) ov""",
        "v", "o_orderpriority", Seq(0.5, 0.9, 0.999))),

    // the ONLINE dual of the stored face: three feed files drained one
    // per micro-batch, each folded into the durable sketch store via
    // foreachBatch with the MICRO-BATCH ID as the ledger key — restarts
    // re-deliver the same id, so the fold is exactly-once with no
    // external ledger. Oracle text shared VERBATIM with
    // q_quantile_sketch: the drained store must reproduce the one-shot
    // sketch over full history.
    Face("q_stream_quantile_sketch", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val san = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = new org.apache.hadoop.fs.Path(
        s"$scratchRoot/graft_stream_qsketch_$san")
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      // store + checkpoint reset per run (the exactly-once drain must
      // start from scratch); the FEED is a deterministic function of the
      // orders table and is materialized ONCE per sf dir, outside the
      // timed region — the bench then times the drain + folds, not a
      // corpus-sized fixture write (round-14 verdict: the face's decade
      // α=0.66 was the feed write's, not the operator's)
      fs.delete(root, true)
      // 8 files per ingestion slice + maxFilesPerTrigger=8: each
      // micro-batch scans its slice with file-level parallelism instead
      // of one near-single-task file (fold merges are exactly
      // batching-independent, so the drained store — and the oracle —
      // don't care how the slice is filed)
      val feed = cachedFeed(s, s"graft_feed_qsketch8_$san",
          srcToken(s, dir, "orders")) { feedDir =>
        (0 to 2).foreach { i =>
          o.filter(pmod(col("o_orderkey"), lit(3)) === i)
            .repartition(8).write.mode("append").parquet(feedDir)
        }
      }
      val store = s"$root/store"
      val q = graft.streaming.StreamingQuantileSketch.start(s,
        s.readStream.schema(o.schema).option("maxFilesPerTrigger", "8")
          .parquet(feed),
        store, "o_totalprice", Seq("o_orderpriority"),
        checkpoint = s"$root/ckpt")
      try {
        if (!q.awaitTermination(600000L))
          throw new IllegalStateException(
            "stream quantile-sketch drain did not terminate within 600s")
      } finally if (q.isActive) q.stop()
      QuantileSketch.quantiles(QuantileSketch.readStore(s, store),
          Seq("o_orderpriority"), Seq(0.5, 0.9, 0.99))
        .orderBy("o_orderpriority", "q")
    },
      // streaming fold of the SAME store (micro-batch ids as the ledger
      // keys): oracle text shared VERBATIM with q_quantile_sketch — the
      // drained stream must reproduce the one-shot sketch exactly
      quantileSketchOracle("orders", "o_totalprice", "o_orderpriority",
        Seq(0.5, 0.9, 0.99))),

    // sign path in the gate, not just the spec: c_acctbal spans
    // negatives, so the s·lo bucket ordering across the sign change and
    // the negative-midpoint arithmetic are oracle-checked on real data
    Face("q_quantile_sketch_signed", (s, dir) => {
      QuantileSketch.groupQuantiles(t(s, dir, "customer"), "c_acctbal",
          Seq("c_mktsegment"), Seq(0.1, 0.5, 0.9))
        .orderBy("c_mktsegment", "q")
    },
      quantileSketchOracle("customer", "c_acctbal", "c_mktsegment",
        Seq(0.1, 0.5, 0.9))),

    // T3/T4 — EXCEPT / INTERSECT (distinct set semantics)
    Face("q_t3_set_ops", (s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_mktsegment").as("seg"),
                                              col("c_nationkey").as("nk"))
      val big = cust.filter(col("nk") < 10)
      val small = cust.filter(col("nk") >= 5)
      big.intersect(small).withColumn("op", lit("both"))
        .union(big.except(small).withColumn("op", lit("only_low")))
        .orderBy("op", "seg", "nk")
    },
      """WITH cust AS (SELECT c_mktsegment AS seg, c_nationkey AS nk FROM customer),
              big AS (SELECT * FROM cust WHERE nk < 10),
              small AS (SELECT * FROM cust WHERE nk >= 5)
         SELECT seg, nk, op FROM (
           SELECT seg, nk, 'both' AS op FROM (SELECT * FROM big INTERSECT SELECT * FROM small)
           UNION ALL
           SELECT seg, nk, 'only_low' AS op FROM (SELECT * FROM big EXCEPT SELECT * FROM small))
         ORDER BY op, seg, nk"""),

    // Z-order (Morton) clustering key: bit-interleave of two bucketed
    // dims — the multi-dimensional data-skipping sort key; zorderWrite
    // sorts storage by it (file-skip win measured in ZOrderSpec)
    Face("q_zorder_key", (s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          ZOrder.zorderKey(Seq(pmod(col("p_partkey"), lit(64)),
            pmod(col("p_size"), lit(64))), bits = 6).as("zkey"))
        .orderBy("zkey", "p_partkey")
    }, {
      // same bit-interleave as ZOrder.zorderKey: bit b of dim i lands at
      // position b*2+i (dims: 0 = p_partkey%64, 1 = p_size%64)
      val terms = (0 until 6).flatMap(b => Seq(
        s"((((p_partkey % 64) >> $b) & 1) * ${1L << (2 * b)})",
        s"((((p_size % 64) >> $b) & 1) * ${1L << (2 * b + 1)})"))
      s"""SELECT p_partkey, CAST(${terms.mkString(" + ")} AS BIGINT) AS zkey
          FROM part ORDER BY zkey, p_partkey"""
    }),

    // one-pass column profiling over lineitem: counts, nulls, exact
    // distincts, min/max per column
    Face("q_profile_columns", (s, dir) => {
      Analytics.profile(
          t(s, dir, "lineitem").withColumn("l_shipdate",
            col("l_shipdate").cast("date")),
          Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
            "l_shipdate"))
        .orderBy("column_name")
    },
      """WITH src AS (SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
                             CAST(l_shipdate AS DATE) AS l_shipdate FROM lineitem)
         SELECT 'l_orderkey' AS column_name, COUNT(*) AS n_rows,
                COUNT(*) - COUNT(l_orderkey) AS n_null,
                COUNT(DISTINCT l_orderkey) AS n_distinct,
                CAST(MIN(l_orderkey) AS VARCHAR) AS min_val,
                CAST(MAX(l_orderkey) AS VARCHAR) AS max_val FROM src
         UNION ALL
         SELECT 'l_linenumber', COUNT(*), COUNT(*) - COUNT(l_linenumber),
                COUNT(DISTINCT l_linenumber),
                CAST(MIN(l_linenumber) AS VARCHAR), CAST(MAX(l_linenumber) AS VARCHAR) FROM src
         UNION ALL
         SELECT 'l_returnflag', COUNT(*), COUNT(*) - COUNT(l_returnflag),
                COUNT(DISTINCT l_returnflag),
                CAST(MIN(l_returnflag) AS VARCHAR), CAST(MAX(l_returnflag) AS VARCHAR) FROM src
         UNION ALL
         SELECT 'l_linestatus', COUNT(*), COUNT(*) - COUNT(l_linestatus),
                COUNT(DISTINCT l_linestatus),
                CAST(MIN(l_linestatus) AS VARCHAR), CAST(MAX(l_linestatus) AS VARCHAR) FROM src
         UNION ALL
         SELECT 'l_shipdate', COUNT(*), COUNT(*) - COUNT(l_shipdate),
                COUNT(DISTINCT l_shipdate),
                CAST(MIN(l_shipdate) AS VARCHAR), CAST(MAX(l_shipdate) AS VARCHAR) FROM src
         ORDER BY column_name"""),

    // declarative data-quality admission control (the engine-side form
    // of the reference's per-source coerce/drop guards): ALL row rules
    // in one scan, uniqueness/referential rules as single aggregates —
    // a mix of passing and violated rules so both outcomes are oracled
    Face("q_quality_expectations", (s, dir) => {
      val orders = t(s, dir, "orders")
      val lineitem = t(s, dir, "lineitem")
      Expectations.report(orders, Seq(
          Expectations.notNull("o_orderdate"),
          Expectations.inRange("o_totalprice", 0d, 400000d),
          Expectations.inSet("o_orderstatus", Seq("O", "F")),
          Expectations.matches("o_orderpriority", "^[1-5]-"),
          Expectations.Unique("unique_o_orderkey", Seq("o_orderkey")),
          Expectations.RefIntegrity("orders_custkey_in_customer",
            "o_custkey", t(s, dir, "customer"), "c_custkey")))
        .unionByName(Expectations.report(lineitem, Seq(
          Expectations.Unique("unique_l_order_line",
            Seq("l_orderkey", "l_linenumber")),
          Expectations.Unique("unique_l_orderkey", Seq("l_orderkey")),
          Expectations.RefIntegrity("lineitem_partkey_in_part",
            "l_partkey", t(s, dir, "part"), "p_partkey"))))
        .orderBy("rule")
    },
      // violation = predicate not TRUE (NULL predicate counts as violation)
      """SELECT * FROM (
           SELECT 'not_null_o_orderdate' AS rule,
                  (SELECT COUNT(*) FROM orders) AS n_checked,
                  (SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL) AS n_violations
           UNION ALL
           SELECT 'in_range_o_totalprice', (SELECT COUNT(*) FROM orders),
                  (SELECT COUNT(*) FROM orders
                   WHERE o_totalprice IS NULL OR o_totalprice < 0 OR o_totalprice > 400000)
           UNION ALL
           SELECT 'in_set_o_orderstatus', (SELECT COUNT(*) FROM orders),
                  (SELECT COUNT(*) FROM orders
                   WHERE o_orderstatus IS NULL OR o_orderstatus NOT IN ('O', 'F'))
           UNION ALL
           SELECT 'matches_o_orderpriority', (SELECT COUNT(*) FROM orders),
                  (SELECT COUNT(*) FROM orders
                   WHERE o_orderpriority IS NULL OR NOT regexp_matches(o_orderpriority, '^[1-5]-'))
           UNION ALL
           SELECT 'unique_o_orderkey', (SELECT COUNT(*) FROM orders),
                  (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
           UNION ALL
           SELECT 'orders_custkey_in_customer', (SELECT COUNT(*) FROM orders),
                  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
                     (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
           UNION ALL
           SELECT 'unique_l_order_line', (SELECT COUNT(*) FROM lineitem),
                  (SELECT COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem)
           UNION ALL
           SELECT 'unique_l_orderkey', (SELECT COUNT(*) FROM lineitem),
                  (SELECT COUNT(*) - COUNT(DISTINCT l_orderkey) FROM lineitem)
           UNION ALL
           SELECT 'lineitem_partkey_in_part', (SELECT COUNT(*) FROM lineitem),
                  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
                     (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
         ) ORDER BY rule"""),

    // quarantine-with-attribution dual: offending rows + every rule they
    // failed, comma-joined — map-side filter+project only
    Face("q_quality_quarantine", (s, dir) => {
      Expectations.quarantine(t(s, dir, "orders"), Seq(
          Expectations.inRange("o_totalprice", 0d, 400000d),
          Expectations.inSet("o_orderstatus", Seq("O", "F")),
          Expectations.matches("o_orderpriority", "^[1-3]-")),
          keepCols = Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, failed_rules FROM (
           SELECT o_orderkey, concat_ws(',',
             CASE WHEN o_totalprice IS NULL OR o_totalprice < 0 OR o_totalprice > 400000
                  THEN 'in_range_o_totalprice' END,
             CASE WHEN o_orderstatus IS NULL OR o_orderstatus NOT IN ('O', 'F')
                  THEN 'in_set_o_orderstatus' END,
             CASE WHEN o_orderpriority IS NULL OR NOT regexp_matches(o_orderpriority, '^[1-3]-')
                  THEN 'matches_o_orderpriority' END) AS failed_rules
           FROM orders)
         WHERE failed_rules <> '' ORDER BY o_orderkey"""),

    // exact equi-width histogram of a fact column (distribution profile
    // for banding decisions): broadcast bounds, map-side bucketing
    Face("q_histogram", (s, dir) => {
      Analytics.histogram(t(s, dir, "lineitem"), "l_extendedprice", nBins = 16)
        .orderBy("bin")
    },
      """WITH src AS (SELECT CAST(l_extendedprice AS DOUBLE) AS l_extendedprice
                      FROM lineitem
                      WHERE l_extendedprice IS NOT NULL
                        AND isfinite(CAST(l_extendedprice AS DOUBLE))),
              b AS (SELECT MIN(l_extendedprice) AS lo,
                           MAX(l_extendedprice) AS hi FROM src),
              x AS (SELECT CASE WHEN hi = lo THEN 0
                                ELSE least(15, CAST(floor((l_extendedprice - lo)
                                                          / ((hi - lo) / 16)) AS INTEGER)) END AS bin,
                           lo, hi
                    FROM src, b)
         SELECT bin, COUNT(*) AS n,
                lo + bin * ((hi - lo) / 16) AS bin_lo,
                lo + (bin + 1) * ((hi - lo) / 16) AS bin_hi
         FROM x GROUP BY bin, lo, hi ORDER BY bin"""),

    // equi-DEPTH histogram — quantile bin edges (skew-proof binning;
    // the CBO's equi-height column-histogram statistic)
    Face("q_histogram_equidepth", (s, dir) => {
      Analytics.equiDepthHistogram(t(s, dir, "orders"), "o_totalprice", nBins = 4)
        .orderBy("bucket")
    },
      """WITH v AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
                    WHERE o_totalprice IS NOT NULL
                      AND isfinite(CAST(o_totalprice AS DOUBLE))),
              b AS (SELECT round(quantile_cont(v, 0.25), 6) AS b1,
                           round(quantile_cont(v, 0.50), 6) AS b2,
                           round(quantile_cont(v, 0.75), 6) AS b3 FROM v),
              x AS (SELECT v,
                           (CASE WHEN v > b1 THEN 1 ELSE 0 END
                          + CASE WHEN v > b2 THEN 1 ELSE 0 END
                          + CASE WHEN v > b3 THEN 1 ELSE 0 END) AS bucket
                    FROM v, b)
         SELECT bucket, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi
         FROM x GROUP BY bucket ORDER BY bucket"""),

    // per-group z-score normalization (feature preprocessing): group
    // stats via one decimal-exact agg, broadcast back, map-side z
    Face("q_zscore_group", (s, dir) => {
      val li = t(s, dir, "lineitem").filter(pmod(col("l_orderkey"), lit(20)) === 0)
      Analytics.zscorePerGroup(li, Seq("l_returnflag"), "l_quantity")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "zscore")
        .orderBy("l_orderkey", "l_linenumber")
    },
      """WITH sub AS (SELECT * FROM lineitem WHERE l_orderkey % 20 = 0),
              st AS (SELECT l_returnflag,
                            CAST(COUNT(CASE WHEN isfinite(CAST(l_quantity AS DOUBLE)) THEN 1 END) AS DOUBLE) AS n,
                            CAST(SUM(CASE WHEN isfinite(CAST(l_quantity AS DOUBLE)) THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS DOUBLE) AS s,
                            CAST(SUM(CASE WHEN isfinite(CAST(l_quantity AS DOUBLE)) THEN CAST(l_quantity * l_quantity AS DECIMAL(38,6)) END) AS DOUBLE) AS s2
                     FROM sub GROUP BY 1)
         SELECT l_orderkey, l_linenumber, l.l_returnflag, l_quantity,
                CASE WHEN l_quantity IS NULL OR NOT isfinite(CAST(l_quantity AS DOUBLE)) THEN NULL
                     WHEN sqrt(greatest(0.0, s2/n - (s/n)*(s/n))) > 0
                     THEN round((l_quantity - s/n) / sqrt(greatest(0.0, s2/n - (s/n)*(s/n))), 6)
                     ELSE 0.0 END AS zscore
         FROM sub l JOIN st ON l.l_returnflag IS NOT DISTINCT FROM st.l_returnflag
         ORDER BY l_orderkey, l_linenumber"""),

    // exact Pearson correlation matrix over lineitem's numeric columns
    // (feature-selection profile; one pass, decimal-exact sums)
    Face("q_correlation", (s, dir) => {
      Analytics.correlationMatrix(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b")
    }, {
      // mirrors Analytics.correlationMatrix exactly: per-row fixed-point
      // p = floor(v·10⁶) decomposed into three base-2²⁰ long limbs (all
      // IEEE-identical double/long arithmetic), limb sums reassembled as
      // exact HUGEINT integers (Spark side: DECIMAL(38,0)), then the
      // scale-free identity r = A/√(Bx·By) with the same double casts,
      // division order and 6-dp round
      val corrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def limbs(e: String, tag: String, both: String) = {
        val p = s"(($e) * 1000000.0)"
        val q1 = s"CAST(floor($p / 1048576.0) AS BIGINT)"
        val h = s"CAST(floor($p / 1099511627776.0) AS BIGINT)"
        s"""SUM(CASE WHEN $both THEN $h END) AS h_$tag,
            SUM(CASE WHEN $both THEN $q1 - $h * 1048576 END) AS m_$tag,
            SUM(CASE WHEN $both THEN CAST(floor($p) AS BIGINT) - $q1 * 1048576 END) AS l_$tag"""
      }
      def s(tag: String) =
        s"(CAST(CAST(h_$tag AS HUGEINT) * 1099511627776 + CAST(m_$tag AS HUGEINT) * 1048576 + l_$tag AS DOUBLE) / 1000000.0)"
      val pairSql = (for {
        i <- corrCols.indices; j <- (i + 1) until corrCols.size
      } yield {
        val (a, b) = (corrCols(i), corrCols(j))
        val both = s"$a IS NOT NULL AND $b IS NOT NULL " +
          s"AND isfinite(CAST($a AS DOUBLE)) AND isfinite(CAST($b AS DOUBLE))"
        val (x, y) = (s"CAST($a AS DOUBLE)", s"CAST($b AS DOUBLE)")
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
              CASE WHEN (nd * sx2 - sx * sx) * (nd * sy2 - sy * sy) > 0
                   THEN round((nd * sxy - sx * sy)
                              / sqrt((nd * sx2 - sx * sx) * (nd * sy2 - sy * sy)), 6)
              END AS corr
            FROM (SELECT n, CAST(n AS DOUBLE) AS nd,
                         ${s("x")} AS sx, ${s("y")} AS sy, ${s("xy")} AS sxy,
                         ${s("x2")} AS sx2, ${s("y2")} AS sy2
                  FROM (SELECT CAST(COUNT(CASE WHEN $both THEN 1 END) AS BIGINT) AS n,
                               ${limbs(x, "x", both)}, ${limbs(y, "y", both)},
                               ${limbs(s"$x * $y", "xy", both)},
                               ${limbs(s"$x * $x", "x2", both)},
                               ${limbs(s"$y * $y", "y2", both)}
                        FROM lineitem))"""
      }).mkString(" UNION ALL ")
      s"SELECT * FROM ($pairSql) ORDER BY col_a, col_b"
    }),

    // per-group robust scaling (median/IQR) — the outlier-resistant
    // normalization for heavy-tailed features
    Face("q_robust_scale", (s, dir) => {
      val o = t(s, dir, "orders").filter(pmod(col("o_orderkey"), lit(10)) === 0)
      Analytics.robustScalePerGroup(o, Seq("o_orderpriority"), "o_totalprice")
        .select("o_orderkey", "o_orderpriority", "o_totalprice", "robust_z")
        .orderBy("o_orderkey")
    },
      """WITH sub AS (SELECT *,
                             CASE WHEN isfinite(CAST(o_totalprice AS DOUBLE))
                                  THEN o_totalprice END AS fin_v
                      FROM orders WHERE o_orderkey % 10 = 0),
              st AS (SELECT o_orderpriority,
                            round(quantile_cont(fin_v, 0.5), 6) AS med,
                            round(quantile_cont(fin_v, 0.75), 6)
                              - round(quantile_cont(fin_v, 0.25), 6) AS iqr
                     FROM sub GROUP BY 1)
         SELECT o_orderkey, o.o_orderpriority, o_totalprice,
                CASE WHEN fin_v IS NULL THEN NULL
                     WHEN iqr > 0 THEN round((o_totalprice - med) / iqr, 6)
                     ELSE 0.0 END AS robust_z
         FROM sub o JOIN st ON o.o_orderpriority IS NOT DISTINCT FROM st.o_orderpriority
         ORDER BY o_orderkey"""),

    // ordered funnel view → click → purchase: first time each stage is
    // reached strictly after the previous one, per user (micros upfront
    // so both engines compare identical integers)
    Face("q_funnel_stages", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      Analytics.funnel(ev, "user_id", "event_type", "ts_us",
          Seq("view", "click", "purchase"))
        .select(col("user_id"), col("t_1").as("t_view_us"),
          col("t_2").as("t_click_us"), col("t_3").as("t_purchase_us"))
        .orderBy("user_id")
    },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
              s1 AS (SELECT user_id, MIN(tu) AS t1 FROM e
                     WHERE event_type = 'view' GROUP BY 1),
              s2 AS (SELECT e.user_id, MIN(tu) AS t2 FROM e JOIN s1 USING (user_id)
                     WHERE event_type = 'click' AND tu > t1 GROUP BY 1),
              s3 AS (SELECT e.user_id, MIN(tu) AS t3 FROM e JOIN s2 USING (user_id)
                     WHERE event_type = 'purchase' AND tu > t2 GROUP BY 1)
         SELECT s1.user_id, t1 AS t_view_us, t2 AS t_click_us, t3 AS t_purchase_us
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
         ORDER BY user_id"""),

    // cohort retention triangle: cohort = user's first active day,
    // distinct users per (cohort day, day offset)
    Face("q_retention_cohorts", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      Analytics.retentionCohorts(ev, "user_id", "ts_us",
          bucket = 86400L * 1000000L)
        .orderBy("cohort", "bucket_offset")
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d FROM events),
              f AS (SELECT user_id, d, MIN(d) OVER (PARTITION BY user_id) AS first_d FROM e)
         SELECT first_d AS cohort, d - first_d AS bucket_offset,
                COUNT(DISTINCT user_id) AS n_users
         FROM f GROUP BY 1, 2 ORDER BY cohort, bucket_offset"""),

    // W3 — gap-based sessionization (4h gap): lag-break + running-sum
    // windows, then per-session rollup
    Face("q_sessionize", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      Analytics.sessionize(ev, Seq("user_id"), "ts_us", Seq("event_id"),
          gap = 4L * 3600 * 1000000)
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
             min(col("ts_us")).as("start_us"),
             max(col("ts_us")).as("end_us"),
             sumd(col("value")).as("total_value"))
        .orderBy("user_id", "session_id")
    },
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events),
              l AS (SELECT *, LAG(ts_us) OVER (PARTITION BY user_id
                      ORDER BY ts_us, event_id) AS prev FROM ev),
              b AS (SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > 14400000000
                                   THEN 1 ELSE 0 END AS brk FROM l),
              sid AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id
                        ORDER BY ts_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                        AS session_id FROM b)
         SELECT user_id, session_id, COUNT(*) AS n_events,
                MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
                CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
         FROM sid GROUP BY user_id, session_id ORDER BY user_id, session_id"""),

    // streaming dual of q_timeseries_fill: per-key LOCF gap filling as
    // observations arrive, drained over THREE date-ordered micro-batches
    // (append emissions are final, so cross-batch state carry is part of
    // the oracle-verified surface) — same oracle SQL text as the batch
    Face("q_stream_timeseries_fill", (s, dir) => {
      import s.implicits._
      val daily = t(s, dir, "orders")
        .filter(col("o_custkey") <= 40)
        .withColumn("d", col("o_orderdate").cast("date"))
        .filter(year(col("d")) === 1997)
        .groupBy("o_custkey", "d")
        .agg(sumd(col("o_totalprice")).as("v"))
        .select(col("o_custkey").as("key"),
          datediff(col("d"), to_date(lit("1970-01-01"))).as("day"),
          col("v"))
      // FEED (and the O(1) bounds scalars that only shape its tercile
      // split) cached per sf dir — a deterministic function of the
      // orders table; the drain + stateful gap fill is the timed body
      // (guide §1.4, the q_stream_quantile_sketch pattern)
      val streamDir = cachedFeed(s,
          s"graft_feed_gapfill_${dir.replaceAll("[^A-Za-z0-9]", "_")}",
          srcToken(s, dir, "orders")) { fd =>
        val bounds = daily.agg(min("day"), max("day")).head() // O(1) scalars
        val (lo, hi) = (bounds.getInt(0), bounds.getInt(1))
        val c1 = lo + (hi - lo) / 3
        val c2 = lo + 2 * (hi - lo) / 3
        emitFeedFile(daily.filter(col("day") <= c1), fd, "b1", 1000000L)
        emitFeedFile(daily.filter(col("day") > c1 && col("day") <= c2),
          fd, "b2", 2000000L)
        emitFeedFile(daily.filter(col("day") > c2), fd, "b3", 3000000L)
      }
      graft.streaming.StreamDrain.drain(s, streamDir,
          daily.schema, "stream_timeseries_fill", "append",
          sourceOptions = Map("maxFilesPerTrigger" -> "1")) { src =>
        graft.streaming.StreamingGapFill.filled(s,
          src.as[graft.streaming.StreamingGapFill.Obs]).toDF()
      }
        .select(col("key").as("o_custkey"),
          date_add(to_date(lit("1970-01-01")), col("day")).as("d"),
          col("v"), col("is_gap"))
        .orderBy("o_custkey", "d")
    }, TimeseriesFillOracle),

    // SCD-2 validity intervals over the event log (users 0-49)
    Face("q_scd2_versions", (s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
        .filter(col("user_id") < 50)
      Analytics.scd2Intervals(ev, Seq("user_id"), "ts_us", Seq("event_id"))
        .select(col("user_id"), col("version"), col("valid_from"),
                col("valid_to"), col("is_current"))
        .orderBy("user_id", "version")
    },
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
                     WHERE user_id < 50)
         SELECT user_id,
                CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
                ts_us AS valid_from,
                LEAD(ts_us) OVER w AS valid_to,
                LEAD(ts_us) OVER w IS NULL AS is_current
         FROM ev
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
         ORDER BY user_id, version""")
  )
}
