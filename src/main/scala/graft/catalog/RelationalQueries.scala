package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators._
import graft.SparkEntry.scoped

/** Relational queries: TPC-H plan shapes, join strategies, grouping sets,
  * pivots, window ranking, scalar-function families, data-quality audits and
  * storage-layout reports over the star schema. */
object RelationalQueries {
  def specs: Seq[QuerySpec] = Seq(
    // O24/O27-family: hash aggregate with partial (map-side) combine.
    QuerySpec("q01_pricing_summary", (s, d) => {
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          Fns.roundU(sum($"l_quantity"), 2).as("sum_qty"),
          Fns.roundU(sum($"l_extendedprice"), 2).as("sum_base_price"),
          Fns.roundU(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2)
            .as("sum_disc_price"),
          Fns.roundU(avg($"l_quantity"), 2).as("avg_qty"),
          Fns.roundU(avg($"l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        |  floor((sum(l_quantity)) * 100 + 0.5) / 100.0 AS sum_qty,
        |  floor((sum(l_extendedprice)) * 100 + 0.5) / 100.0 AS sum_base_price,
        |  floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100.0 AS sum_disc_price,
        |  floor((avg(l_quantity)) * 100 + 0.5) / 100.0 AS avg_qty,
        |  floor((avg(l_discount)) * 10000 + 0.5) / 10000.0 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Predicate + projection pushed to the parquet scan (PushedFilters).
    QuerySpec("q02_filter_pushdown", (s, d) => {
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-01-01").cast("timestamp") &&
          $"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
          $"l_quantity" < 24)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity",
          Fns.roundU($"l_extendedprice" * $"l_discount", 4).as("revenue"))
        .orderBy($"l_orderkey", $"l_linenumber")
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  floor((l_extendedprice * l_discount) * 10000 + 0.5) / 10000.0 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // 3-way join: broadcast customer/orders dims into the lineitem fact.
    QuerySpec("q03_join_agg", (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy($"c_mktsegment")
        .agg(
          Fns.roundU(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2)
            .as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy($"c_mktsegment")
    }, Some(
      """SELECT c_mktsegment,
        |  floor((sum(l_extendedprice * (1 - l_discount))) * 100 + 0.5) / 100.0 AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // O20: broadcast LEFT SEMI join (EXISTS).
    QuerySpec("q04_semi_join", (s, d) => {
      val o = Tables.orders(s, d)
      val bigDisc = Tables.lineitem(s, d).filter($"l_discount" > lit(0.08))
      Joins.semiFilter(o, "o_orderkey", bigDisc, "l_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          Fns.roundU(sum($"o_totalprice"), 2).as("sum_price"))
        .orderBy($"o_orderpriority")
    }, Some(
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  floor((sum(o_totalprice)) * 100 + 0.5) / 100.0 AS sum_price
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_discount > 0.08)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // LEFT ANTI join (NOT EXISTS).
    QuerySpec("q05_anti_join", (s, d) => {
      val c = Tables.customer(s, d)
      val jumbo = Tables.orders(s, d).filter($"o_totalprice" > 450000)
      Joins.antiFilter(c, "c_custkey", jumbo, "o_custkey")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    }, Some(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin)),

    // Window ranking: top-3 orders by totalprice per priority class.
    QuerySpec("q07_topk_per_group", (s, d) => {
      val w = Window.partitionBy($"o_orderpriority")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      Tables.orders(s, d)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 3)
        .select($"o_orderpriority", $"rk", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_orderpriority", $"rk")
    }, Some(
      """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice, row_number()
        |    OVER (PARTITION BY o_orderpriority
        |          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) WHERE rk <= 3
        |ORDER BY o_orderpriority, rk""".stripMargin)),

    // Distinct aggregation (exact). Approx variant is a separate
    // rows-only query (HLL implementations differ across engines).
    QuerySpec("q09_distinct_agg", (s, d) => {
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("n_parts"),
          countDistinct($"l_suppkey").as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag")
    }, Some(
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Grouping sets / ROLLUP with explicit null-first ordering.
    QuerySpec("q10_rollup", (s, d) => {
      Tables.lineitem(s, d)
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(Fns.roundU(sum($"l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        |  floor((sum(l_quantity)) * 100 + 0.5) / 100.0 AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST""".stripMargin)),

    // Global sort + limit (top-k). TakeOrderedAndProject, not a full sort.
    QuerySpec("q11_sort_limit", (s, d) => {
      Tables.lineitem(s, d)
        .orderBy($"l_extendedprice".desc, $"l_orderkey".asc,
          $"l_linenumber".asc)
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
        .limit(10)
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 10""".stripMargin)),

    // Set operations: INTERSECT / EXCEPT on user sets.
    QuerySpec("q12_setops", (s, d) => {
      val e = Tables.events(s, d)
      def users(t: String, minV: Double) =
        e.filter($"event_type" === t && $"value" > minV)
          .select($"user_id").distinct()
      users("click", 90).intersect(users("purchase", 90))
        .except(users("error", 97))
        .orderBy($"user_id")
    }, Some(
      """(SELECT DISTINCT user_id FROM events
        |   WHERE event_type = 'click' AND value > 90
        | INTERSECT
        | SELECT DISTINCT user_id FROM events
        |   WHERE event_type = 'purchase' AND value > 90)
        |EXCEPT
        |SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'error' AND value > 97
        |ORDER BY user_id""".stripMargin)),

    // String scalar functions (O16/O18/O26/O33 family): regex extract,
    // split-count, substring, concat, case transforms.
    QuerySpec("q14_strings", (s, d) => {
      Tables.documents(s, d)
        .select($"doc_id",
          regexp_extract($"text", "^(\\w+)", 1).as("first_word"),
          size(split($"text", " ")).as("n_words"),
          upper(substring($"source", 1, 3)).as("src3"),
          concat($"lang", lit(":"), $"source").as("lang_src"),
          (instr($"text", "spark") > 0).as("mentions_spark"),
          length($"text").as("len"))
        .orderBy($"doc_id")
    }, Some(
      """SELECT doc_id,
        |  regexp_extract(text, '^(\w+)', 1) AS first_word,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        |  upper(substr(source, 1, 3)) AS src3,
        |  concat(lang, ':', source) AS lang_src,
        |  (strpos(text, 'spark') > 0) AS mentions_spark,
        |  CAST(length(text) AS INT) AS len
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Date/time scalar functions (O28/O34 family).
    QuerySpec("q15_dates", (s, d) => {
      Tables.orders(s, d)
        .groupBy(year($"o_orderdate").as("yr"),
          month($"o_orderdate").as("mo"),
          date_format($"o_orderdate", "yyyy-MM").as("month_str"))
        .agg(count(lit(1)).as("n_orders"),
          Fns.roundU(sum($"o_totalprice"), 2).as("sum_price"))
        .orderBy($"yr", $"mo")
    }, Some(
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  strftime(o_orderdate, '%Y-%m') AS month_str,
        |  count(*) AS n_orders, floor((sum(o_totalprice)) * 100 + 0.5) / 100.0 AS sum_price
        |FROM orders GROUP BY 1, 2, 3 ORDER BY yr, mo""".stripMargin)),

    // JSON extraction (§2.2 collapsed): props is a JSON string column.
    QuerySpec("q16_json", (s, d) => {
      Tables.events(s, d)
        .withColumn("k_val", get_json_object($"props", "$.k").cast("int"))
        .groupBy($"k_val")
        .agg(count(lit(1)).as("n"), Fns.roundU(avg($"value"), 2).as("avg_value"))
        .orderBy($"k_val")
    }, Some(
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
        |  count(*) AS n, floor((avg(value)) * 100 + 0.5) / 100.0 AS avg_value
        |FROM events GROUP BY 1 ORDER BY k_val""".stripMargin)),

    // Range join with an equi-key prefilter: lineitems shipped within 30
    // days of their order's date (hash join + residual range predicate).
    QuerySpec("q19_range_join", (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      Joins.rangeJoin(li, o, li("l_orderkey") === o("o_orderkey"),
          li("l_shipdate"), o("o_orderdate"),
          o("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy(year($"o_orderdate").as("yr"))
        .agg(count(lit(1)).as("n_fast_lines"),
          Fns.roundU(sum($"l_extendedprice"), 2).as("sum_price"))
        .orderBy($"yr")
    }, Some(
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |  count(*) AS n_fast_lines,
        |  floor((sum(l_extendedprice)) * 100 + 0.5) / 100.0 AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        |GROUP BY 1 ORDER BY yr""".stripMargin)),

    // Skew-safe salted join (result identical to the plain equi-join):
    // events (5-key skew) against a per-type dim derived from itself.
    QuerySpec("q20_salted_join", (s, d) => {
      val e = Tables.events(s, d)
      val dim = e.groupBy($"event_type")
        .agg(Fns.roundU(avg($"value"), 2).as("price"))
      Joins.saltedJoin(e, "event_type", $"event_id", dim, "event_type", 8)
        .groupBy($"event_type", $"price")
        .agg(count(lit(1)).as("n"))
        .orderBy($"event_type")
    }, Some(
      """WITH dim AS (SELECT event_type, floor((avg(value)) * 100 + 0.5) / 100.0 AS price
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, d.price, count(*) AS n
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY 1, 2 ORDER BY e.event_type""".stripMargin)),

    // O37/O38: guarded derived scalars (div-by-zero defaulting, casts).
    QuerySpec("q21_scalars", (s, d) => {
      Tables.lineitem(s, d)
        .filter($"l_orderkey" % 997 === 0)
        .select($"l_orderkey", $"l_linenumber",
          Fns.roundU($"l_extendedprice" * (lit(1) - $"l_discount") *
            (lit(1) + $"l_tax"), 2).as("charge"),
          when($"l_discount" > 0, Fns.roundU($"l_tax" / $"l_discount", 4))
            .otherwise(0.0).as("tax_ratio"),
          $"l_quantity".cast("int").as("qty_int"))
        .orderBy($"l_orderkey", $"l_linenumber")
    }, Some(
      """SELECT l_orderkey, l_linenumber,
        |  floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100 + 0.5) / 100.0
        |    AS charge,
        |  CASE WHEN l_discount > 0 THEN floor((l_tax / l_discount) * 10000 + 0.5) / 10000.0
        |       ELSE 0.0 END AS tax_ratio,
        |  CAST(l_quantity AS INT) AS qty_int
        |FROM lineitem WHERE l_orderkey % 997 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // CUBE grouping sets (all 4 combinations).
    QuerySpec("q32_cube", (s, d) => {
      Tables.orders(s, d)
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Fns.roundU(sum($"o_totalprice"), 2).as("sum_price"))
        .orderBy($"o_orderstatus".asc_nulls_first,
          $"o_orderpriority".asc_nulls_first)
    }, Some(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  floor((sum(o_totalprice)) * 100 + 0.5) / 100.0 AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // Map-typed processing: per-user map<event_type, count>, then lookup.
    QuerySpec("q34_map_funcs", (s, d) => {
      Tables.events(s, d)
        .filter($"user_id" < 30)
        .groupBy($"user_id", $"event_type")
        .agg(count(lit(1)).as("n"))
        .groupBy($"user_id")
        .agg(map_from_entries(sort_array(collect_list(
          struct($"event_type", $"n")))).as("m"))
        // try_element_at: ANSI-mode element_at throws on a missing key;
        // the oracle's CASE yields NULL — match that
        .select($"user_id",
          try_element_at($"m", lit("click")).as("n_click"),
          try_element_at($"m", lit("purchase")).as("n_purchase"),
          size($"m").as("n_types"))
        .orderBy($"user_id")
    }, Some(
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS n FROM events
        |  WHERE user_id < 30 GROUP BY 1, 2)
        |SELECT user_id,
        |  max(CASE WHEN event_type = 'click' THEN n END) AS n_click,
        |  max(CASE WHEN event_type = 'purchase' THEN n END) AS n_purchase,
        |  CAST(count(*) AS INT) AS n_types
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Ranking-function suite: rank/dense_rank/percent_rank/ntile/
    // cume_dist over one window (the analytic functions §2.4 lists as
    // absent from the reference).
    QuerySpec("q41_rank_suite", (s, d) => {
      val w = Window.partitionBy($"o_orderpriority")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      Tables.orders(s, d)
        .filter($"o_orderkey" % 100 === 0)
        .select($"o_orderpriority", $"o_orderkey", $"o_totalprice",
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          Fns.roundU(percent_rank().over(w), 6).as("prnk"),
          ntile(4).over(w).as("quartile"),
          Fns.roundU(cume_dist().over(w), 6).as("cdist"))
        .orderBy($"o_orderpriority", $"rnk")
    }, Some(
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  floor((percent_rank() OVER w) * 1000000 + 0.5) / 1000000.0
        |    AS prnk,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  floor((cume_dist() OVER w) * 1000000 + 0.5) / 1000000.0
        |    AS cdist
        |FROM orders WHERE o_orderkey % 100 = 0
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderpriority, rnk""".stripMargin)),

    // Native PIVOT: per-user-bucket event counts pivoted by type.
    QuerySpec("q43_pivot", (s, d) => {
      Tables.events(s, d)
        .withColumn("bucket", ($"user_id" % 10).cast("int"))
        .groupBy($"bucket")
        .pivot("event_type",
          Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy($"bucket")
    }, Some(
      """SELECT CAST(user_id % 10 AS INT) AS bucket,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'view') AS view,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'error') AS error
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Explicit GROUPING SETS (neither rollup nor cube): totals by status
    // and, separately, by priority — one pass.
    QuerySpec("q45_grouping_sets", (s, d) => {
      val o = Tables.orders(s, d)
      o.groupingSets(
          Seq(Seq($"o_orderstatus"), Seq($"o_orderpriority")),
          $"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Fns.roundU(sum($"o_totalprice"), 2).as("sum_price"))
        .orderBy($"o_orderstatus".asc_nulls_first,
          $"o_orderpriority".asc_nulls_first)
    }, Some(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  floor((sum(o_totalprice)) * 100 + 0.5) / 100.0 AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // UNPIVOT (melt): wide per-flag aggregates back to long form.
    QuerySpec("q46_unpivot", (s, d) => {
      val wide = Tables.lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(Fns.roundU(sum($"l_quantity"), 2).as("qty"),
          Fns.roundU(sum($"l_extendedprice"), 2).as("price"),
          Fns.roundU(sum($"l_tax"), 2).as("tax"))
      wide.unpivot(Array($"l_returnflag"),
          Array($"qty", $"price", $"tax"), "metric", "val")
        .orderBy($"l_returnflag", $"metric")
    }, Some(
      """WITH wide AS (
        |  SELECT l_returnflag,
        |    floor((sum(l_quantity)) * 100 + 0.5) / 100.0 AS qty,
        |    floor((sum(l_extendedprice)) * 100 + 0.5) / 100.0 AS price,
        |    floor((sum(l_tax)) * 100 + 0.5) / 100.0 AS tax
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, val FROM (
        |  SELECT l_returnflag, 'qty' AS metric, qty AS val FROM wide
        |  UNION ALL
        |  SELECT l_returnflag, 'price', price FROM wide
        |  UNION ALL
        |  SELECT l_returnflag, 'tax', tax FROM wide)
        |ORDER BY l_returnflag, metric""".stripMargin)),

    // SQL-parser surface: the same engine driven through spark.sql with
    // a correlated scalar subquery (orders whose priciest line exceeds
    // 90% of the order total).
    QuerySpec("q47_sql_subquery", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
      // 0.5D/100.0D: Spark SQL parses bare decimal literals as DECIMAL
      // (the DataFrame API uses double lits), which would widen the
      // output type away from the oracle's DOUBLE
      s.sql(
        """SELECT o_orderkey, o_totalprice,
          |  (SELECT floor(max(l_extendedprice) * 100 + 0.5D) / 100.0D
          |   FROM v_lineitem WHERE l_orderkey = o_orderkey) AS max_line
          |FROM v_orders
          |WHERE (SELECT max(l_extendedprice) FROM v_lineitem
          |       WHERE l_orderkey = o_orderkey) > o_totalprice * 0.9D
          |ORDER BY o_orderkey""".stripMargin)
    }, Some(
      """SELECT o_orderkey, o_totalprice,
        |  (SELECT floor(max(l_extendedprice) * 100 + 0.5) / 100.0
        |   FROM lineitem WHERE l_orderkey = o_orderkey) AS max_line
        |FROM orders
        |WHERE (SELECT max(l_extendedprice) FROM lineitem
        |       WHERE l_orderkey = o_orderkey) > o_totalprice * 0.9
        |ORDER BY o_orderkey""".stripMargin)),

    // DECIMAL(38,18) exact arithmetic (SURVEY §7.4d): synthetic amounts
    // with 18 fractional digits summed per group. The group sums carry
    // ~24 significant digits — a double pipeline would corrupt the low
    // digits, so a hash-match here PROVES the decimal path is lossless
    // end-to-end (string → decimal cast → sum → parquet).
    QuerySpec("q48_decimal_sums", (s, d) => {
      val amount = concat(
        $"l_quantity".cast("int").cast("string"), lit("."),
        lpad((($"l_orderkey" * 1000000007L + $"l_partkey") %
          1000000000000000000L).cast("string"), 18, "0"))
        .cast(Fns.AmountType)
      // The sum is emitted as its canonical STRING form (scale-18 plain
      // decimal): the driver's DuckDB build may widen sum(DECIMAL) to
      // DOUBLE, so a decimal-typed result can hash-mismatch on value
      // canonicalization even when numerically identical. Strings are
      // byte-exact on both sides (the oracle assembles the same form
      // from exact HUGEINT integer arithmetic).
      Tables.lineitem(s, d)
        .select($"l_returnflag", amount.as("amount"))
        .groupBy($"l_returnflag")
        .agg(sum($"amount").cast("string").as("sum_amount"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
    }, Some(
      // Exact-integer mirror: sums the integer and 18-digit fractional
      // parts as HUGEINTs (never a DECIMAL sum, which some DuckDB builds
      // widen to DOUBLE and lose the low digits of a 24-significant-digit
      // total), then assembles the canonical scale-18 string Spark's
      // cast(sum AS string) produces.
      """WITH amt AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_quantity AS INT) AS HUGEINT) AS ip,
        |    CAST((l_orderkey * 1000000007 + l_partkey)
        |      % 1000000000000000000 AS HUGEINT) AS fp
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  concat(CAST(sum(ip) + sum(fp) // 1000000000000000000 AS VARCHAR),
        |    '.', lpad(CAST(sum(fp) % 1000000000000000000 AS VARCHAR),
        |      18, '0')) AS sum_amount,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM amt GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Per-key top-k through the CUSTOM PLAN (plans.TopKPerKey: logical
    // node → TopKStrategy → partial/final bounded-heap SparkPlans): only
    // k rows per key per partition reach the shuffle and nothing sorts —
    // q07 is the same semantics through the window composition.
    QuerySpec("q59_topk_native", (s, d) => {
      graft.plans.TopKPerKey(
          Tables.lineitem(s, d).select($"l_returnflag", $"l_extendedprice",
            $"l_orderkey", $"l_linenumber"),
          Seq("l_returnflag"),
          Seq($"l_extendedprice".desc, $"l_orderkey".asc,
            $"l_linenumber".asc), k = 5)
        .orderBy($"l_returnflag", $"l_extendedprice".desc, $"l_orderkey",
          $"l_linenumber")
    }, Some(
      """SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber
        |FROM (
        |  SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
        |      AS rn
        |  FROM lineitem)
        |WHERE rn <= 5
        |ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey,
        |  l_linenumber""".stripMargin)),

    // ANONYMIZATION pass over a structured user table: md5 pseudonyms
    // for the direct identifier, banded balances, and k-anonymity
    // suppression (k=5) of the (nation, segment) quasi-identifier —
    // groups smaller than k collapse to '*'. The group-count table is
    // domain-bounded, so it broadcasts and the fact never shuffles.
    QuerySpec("q73_anonymize", (s, d) => {
      Anonymize.suppressSmallGroups(Tables.customer(s, d),
          Seq("c_nationkey", "c_mktsegment"), k = 5)
        .filter($"c_custkey" < 200)
        .select($"c_custkey",
          Anonymize.pseudonym($"c_name").as("pseudonym"),
          floor($"c_acctbal" / 1000).cast("long").as("bal_band"),
          $"c_nationkey".as("nation_q"),
          $"c_mktsegment".as("segment_q"),
          $"k_ok")
        .orderBy($"c_custkey")
    }, Some(
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS qn
        |  FROM customer GROUP BY 1, 2)
        |SELECT c_custkey, md5(c_name) AS pseudonym,
        |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |  CASE WHEN qn >= 5 THEN CAST(c.c_nationkey AS VARCHAR)
        |       ELSE '*' END AS nation_q,
        |  CASE WHEN qn >= 5 THEN c.c_mktsegment ELSE '*' END AS segment_q,
        |  qn >= 5 AS k_ok
        |FROM customer c JOIN g USING (c_nationkey, c_mktsegment)
        |WHERE c_custkey < 200 ORDER BY c_custkey""".stripMargin)),

    // ANALYZE-style COLUMN PROFILE — the stats-collection pass an
    // engine runs for its optimizer and a pipeline runs as its data
    // contract check: per column, null count, exact distinct count,
    // min/max (canonical strings). One PRUNED SCAN PER COLUMN, not one
    // multi-distinct aggregate: on columnar storage the per-column
    // scans read the same total bytes as a single 4-column scan, while
    // Spark's multi-distinct form EXPANDs every row ×(k+1) and
    // shuffles the multiplied rows — measured 5.5 s vs 0.8 s at sf0.1.
    // Each column's distinct count shuffles only its distinct values
    // (partial agg collapses), so the per-column form is also the one
    // whose shuffle is bounded by cardinality, not row count.
    QuerySpec("q81_table_profile", (s, d) => {
      val cols = Seq("l_orderkey", "l_quantity", "l_returnflag",
        "l_shipdate")
      val li = Tables.lineitem(s, d)
      cols.map { c =>
        li.select(col(c)).agg(count(lit(1)).as("n_rows"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col(c)).as("n_distinct"),
            min(col(c)).cast("string").as("min_val"),
            max(col(c)).cast("string").as("max_val"))
          .select(lit(c).as("col_name"), $"n_rows", $"n_null",
            $"n_distinct", $"min_val", $"max_val")
      }.reduce(_.unionByName(_)).orderBy($"col_name")
    }, Some(
      """SELECT 'l_orderkey' AS col_name,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
        |  CAST(min(l_orderkey) AS VARCHAR) AS min_val,
        |  CAST(max(l_orderkey) AS VARCHAR) AS max_val
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(DISTINCT l_quantity) AS BIGINT),
        |  CAST(min(l_quantity) AS VARCHAR),
        |  CAST(max(l_quantity) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(DISTINCT l_returnflag) AS BIGINT),
        |  CAST(min(l_returnflag) AS VARCHAR),
        |  CAST(max(l_returnflag) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_shipdate', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(DISTINCT l_shipdate) AS BIGINT),
        |  CAST(min(l_shipdate) AS VARCHAR),
        |  CAST(max(l_shipdate) AS VARCHAR)
        |FROM lineitem
        |ORDER BY col_name""".stripMargin)),

    // REFERENTIAL-INTEGRITY audit — orphan counts across every FK edge
    // of the star schema (the data-contract check a warehouse runs
    // after each load): per edge, child rows whose key has no parent,
    // via LEFT ANTI joins aggregated to one report row each. The
    // parent side ships only its distinct key column; small parents
    // broadcast, big ones hash-join on the key.
    QuerySpec("q94_fk_audit", (s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      // ONE scan per edge: a left join against the parent's distinct
      // keys yields total and orphan counts in the same aggregate (a
      // separate anti-join branch would scan the child twice)
      def edge(name: String, child: DataFrame, ck: String,
               parent: DataFrame, pk: String) = {
        child.select(col(ck))
          .join(parent.select(col(pk).as(ck), lit(true).as("__hit"))
            .distinct(), Seq(ck), "left_outer")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("__hit").isNull, 1L).otherwise(0L))
              .as("n_orphans"))
          .select(lit(name).as("fk_edge"), $"n_rows", $"n_orphans",
            Fns.roundU($"n_orphans".cast("double") / $"n_rows", 6)
              .as("orphan_rate"))
      }
      Seq(
        edge("lineitem.orderkey->orders", li, "l_orderkey",
          ord, "o_orderkey"),
        edge("lineitem.partkey->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey"),
        edge("lineitem.suppkey->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"),
        edge("orders.custkey->customer", ord, "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .reduce(_.unionByName(_)).orderBy($"fk_edge")
    }, Some(
      """SELECT 'lineitem.orderkey->orders' AS fk_edge,
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_rows,
        |  CAST((SELECT count(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM orders o
        |      WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        |    AS n_orphans,
        |  floor((CAST((SELECT count(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM orders o
        |      WHERE o.o_orderkey = l.l_orderkey)) AS DOUBLE)
        |    / (SELECT count(*) FROM lineitem)) * 1000000 + 0.5)
        |    / 1000000.0 AS orphan_rate
        |UNION ALL
        |SELECT 'lineitem.partkey->part',
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT),
        |  CAST((SELECT count(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM part p
        |      WHERE p.p_partkey = l.l_partkey)) AS BIGINT),
        |  floor((CAST((SELECT count(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM part p
        |      WHERE p.p_partkey = l.l_partkey)) AS DOUBLE)
        |    / (SELECT count(*) FROM lineitem)) * 1000000 + 0.5)
        |    / 1000000.0
        |UNION ALL
        |SELECT 'lineitem.suppkey->supplier',
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT),
        |  CAST((SELECT count(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |      WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT),
        |  floor((CAST((SELECT count(*) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |      WHERE s.s_suppkey = l.l_suppkey)) AS DOUBLE)
        |    / (SELECT count(*) FROM lineitem)) * 1000000 + 0.5)
        |    / 1000000.0
        |UNION ALL
        |SELECT 'orders.custkey->customer',
        |  CAST((SELECT count(*) FROM orders) AS BIGINT),
        |  CAST((SELECT count(*) FROM orders o
        |    WHERE NOT EXISTS (SELECT 1 FROM customer c
        |      WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
        |  floor((CAST((SELECT count(*) FROM orders o
        |    WHERE NOT EXISTS (SELECT 1 FROM customer c
        |      WHERE c.c_custkey = o.o_custkey)) AS DOUBLE)
        |    / (SELECT count(*) FROM orders)) * 1000000 + 0.5)
        |    / 1000000.0
        |ORDER BY fk_edge""".stripMargin)),

    // Z-ORDER LAYOUT audit — multi-dimensional clustering (the lakehouse
    // OPTIMIZE ZORDER technique): bucket rows by Morton z-value prefix
    // of (partkey, suppkey) and report BOTH dimensions' min/max per
    // bucket — the per-file stats a z-ordered write exposes, bounded in
    // both columns so predicates on either side prune. The z-value is a
    // flat OR chain of masked shifts (whole-stage codegen, no UDF);
    // DuckDB recomputes it bit-for-bit, so an interleaving error breaks
    // the hash.
    QuerySpec("q100_zorder_layout", (s, d) => {
      Layout.zOrderBuckets(Tables.lineitem(s, d), "l_partkey",
          "l_suppkey", bits = 16, shift = 16)
        .orderBy($"bucket_id")
    }, Some(
      // q100: the Morton interleave recomputed bit-for-bit in SQL (sum of
      // disjoint bit terms == the OR chain)
      """WITH z AS (
        |  SELECT l_partkey AS x, l_suppkey AS y,
        |    (SELECT sum(((((l_partkey & 65535) >> u.i) & 1) << (2*u.i))
        |              + ((((l_suppkey & 65535) >> u.i) & 1) << (2*u.i+1)))
        |     FROM range(0, 16) u(i)) AS zv
        |  FROM lineitem)
        |SELECT CAST(zv >> 16 AS BIGINT) AS bucket_id,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
        |  CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y
        |FROM z GROUP BY bucket_id ORDER BY bucket_id""".stripMargin)),

    // DATA-QUALITY EXPECTATIONS report — declarative contracts
    // (Deequ-style) evaluated as ONE shared-scan aggregate for every
    // row-level rule plus one bounded branch per uniqueness/FK rule:
    // the post-load assertion suite of a warehouse, next to q94's FK
    // audit. metric = violation fraction; ok = metric <= threshold.
    QuerySpec("q102_quality_report", (s, d) => {
      val li = Tables.lineitem(s, d)
      Quality.report(li, Seq(
        Quality.NotNull("ship_date_not_null", "l_shipdate"),
        Quality.InRange("quantity_1_50", "l_quantity", 1, 50),
        Quality.InRange("tax_0_08", "l_tax", 0.0, 0.08, maxFrac = 0.5),
        Quality.Matches("returnflag_domain", "l_returnflag", "^[ARN]$"),
        Quality.Predicate("price_positive", $"l_extendedprice" <= 0),
        Quality.Unique("orderkey_linenumber_key",
          Seq("l_orderkey", "l_linenumber")),
        Quality.ForeignKey("orderkey_fk", "l_orderkey",
          Tables.orders(s, d), "o_orderkey")))
    }, Some(
      // q102: each rule's violation fraction recomputed as plain SQL
      // aggregates; rounding mirrors Fns.roundU at 6 decimals. ok is
      // decided on the RAW fraction (rounding is display-only), matching
      // Quality.report
      """WITH rows_m AS (
        |  SELECT
        |    sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |      AS ship_null,
        |    sum(CASE WHEN l_quantity IS NOT NULL
        |      AND (l_quantity < 1 OR l_quantity > 50) THEN 1 ELSE 0 END)
        |      AS qty_out,
        |    sum(CASE WHEN l_tax IS NOT NULL
        |      AND (l_tax < 0.0 OR l_tax > 0.08) THEN 1 ELSE 0 END)
        |      AS tax_out,
        |    sum(CASE WHEN l_returnflag IS NOT NULL AND NOT
        |      regexp_matches(l_returnflag, '^[ARN]$') THEN 1 ELSE 0 END)
        |      AS rf_bad,
        |    sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
        |      AS price_bad,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM lineitem),
        |uq AS (
        |  SELECT coalesce(sum(CASE WHEN c > 1 THEN c ELSE 0 END), 0)
        |      AS dups,
        |    CAST(coalesce(sum(c), 0) AS DOUBLE) AS n
        |  FROM (SELECT count(*) AS c FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber)),
        |fk AS (
        |  SELECT sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS orphans,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM lineitem l LEFT JOIN
        |    (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey)
        |SELECT rule, metric, CAST(threshold AS DOUBLE) AS threshold,
        |  raw <= threshold AS ok FROM (
        |  SELECT 'ship_date_not_null' AS rule,
        |    floor(ship_null / n * 1000000 + 0.5) / 1000000.0 AS metric,
        |    0.0 AS threshold, ship_null / n AS raw FROM rows_m
        |  UNION ALL SELECT 'quantity_1_50',
        |    floor(qty_out / n * 1000000 + 0.5) / 1000000.0, 0.0,
        |    qty_out / n FROM rows_m
        |  UNION ALL SELECT 'tax_0_08',
        |    floor(tax_out / n * 1000000 + 0.5) / 1000000.0, 0.5,
        |    tax_out / n FROM rows_m
        |  UNION ALL SELECT 'returnflag_domain',
        |    floor(rf_bad / n * 1000000 + 0.5) / 1000000.0, 0.0,
        |    rf_bad / n FROM rows_m
        |  UNION ALL SELECT 'price_positive',
        |    floor(price_bad / n * 1000000 + 0.5) / 1000000.0, 0.0,
        |    price_bad / n FROM rows_m
        |  UNION ALL SELECT 'orderkey_linenumber_key',
        |    floor(dups / greatest(n, 1) * 1000000 + 0.5) / 1000000.0,
        |    0.0, dups / greatest(n, 1) FROM uq
        |  UNION ALL SELECT 'orderkey_fk',
        |    floor(orphans / n * 1000000 + 0.5) / 1000000.0, 0.0,
        |    orphans / n FROM fk)
        |ORDER BY rule""".stripMargin)),

    // JOIN-SKEW diagnostICS — the pre-flight report that decides
    // whether a join key needs salting (q20) or AQE's skew split
    // before a 100 TB run finds out the hard way: per-key counts
    // collapse in one hash aggregate (the shuffle carries distinct
    // keys, not rows), one bounded aggregate derives the straggler
    // factor and the leveling salt count.
    QuerySpec("q110_skew_report", (s, d) => {
      Layout.skewReport(Tables.events(s, d), "user_id")
        .select($"n_rows", $"n_keys", $"max_count", $"top_key",
          $"avg_count", $"skew_ratio", $"suggested_salts")
    }, Some(
      // q110: per-key counts then shape stats; the top key resolves by
      // (count desc, key desc) — the Spark side's max_by struct order
      """WITH c AS (
        |  SELECT user_id AS key, count(*) AS c FROM events GROUP BY 1),
        |t AS (SELECT CAST(key AS VARCHAR) AS top_key FROM c
        |  ORDER BY c DESC, key DESC LIMIT 1),
        |s AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(max(c) AS BIGINT) AS max_count FROM c)
        |SELECT n_rows, n_keys, max_count, top_key,
        |  floor((n_rows / CAST(n_keys AS DOUBLE)) * 100 + 0.5) / 100.0
        |    AS avg_count,
        |  floor((max_count * CAST(n_keys AS DOUBLE) / n_rows) * 100
        |    + 0.5) / 100.0 AS skew_ratio,
        |  CAST(ceil(max_count * CAST(n_keys AS DOUBLE) / n_rows) AS INT)
        |    AS suggested_salts
        |FROM s, t""".stripMargin)),

    // SKYLINE (Pareto frontier) — parts where no other part is both
    // cheaper-or-equal and larger-or-equal (strict in one): the
    // multi-objective shortlist query. The naive form is an all-pairs
    // NOT EXISTS (the oracle — quadratic, fine for DuckDB at sf0.01);
    // the engine's plan is the bucket-pruned scan: collapse to
    // distinct prices (hash agg, max size each), bucket prices into
    // ≤1024 fixed-width bins, take each bin's best size, cum-max over
    // the BIN table (≤1024 rows — the only single-task window, sized
    // by the bin count, not the data), then a per-bin window finds
    // prices beating both the in-bin prefix best and the
    // strictly-lower-bins best. Frontier ⇔ msize(p) > best size at
    // any cheaper price — the 2-D dominance test in O(n) after the
    // per-price collapse.
    QuerySpec("q129_skyline", (s, d) => {
      val pts = Tables.part(s, d)
        .select($"p_retailprice".as("price"), $"p_size".as("size"))
      val dp = pts.groupBy($"price", $"size")
        .agg(count(lit(1)).as("n_parts"))
      // n_parts is unique per (price,size), so max(struct) picks the
      // max size and carries its count
      val perPrice = dp.groupBy($"price")
        .agg(max(struct($"size", $"n_parts")).as("__m"))
        .select($"price", $"__m.size".as("__msize"),
          $"__m.n_parts".as("__nat"))
      val Array(bounds) = pts.agg(min($"price").as("lo"),
        max($"price").as("hi")).collect()
      val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
      val width = math.max((hi - lo) / 1024.0, 1e-9)
      val bucketed = perPrice.withColumn("__b",
        least(floor(($"price" - lit(lo)) / lit(width)), lit(1023.0)))
      val binBest = bucketed.groupBy($"__b")
        .agg(max($"__msize").as("__bb"))
      val wBins = Window.orderBy($"__b")
        .rowsBetween(Window.unboundedPreceding, -1)
      val below = binBest.withColumn("__below", max($"__bb").over(wBins))
        .select($"__b", $"__below")
      val wIn = Window.partitionBy($"__b").orderBy($"price")
        .rowsBetween(Window.unboundedPreceding, -1)
      bucketed.join(below, Seq("__b"))
        .withColumn("__prev", max($"__msize").over(wIn))
        .filter($"__msize" > coalesce(
          greatest(coalesce($"__prev", lit(Int.MinValue)),
            coalesce($"__below", lit(Int.MinValue))),
          lit(Int.MinValue)))
        .select($"price", $"__msize".as("size"),
          $"__nat".as("n_parts"))
        .orderBy($"price")
    }, Some(
      // q129: the declarative dominance form — NOT EXISTS a point
      // cheaper-or-equal AND larger-or-equal, strict in one coordinate;
      // quadratic over distinct (price, size) pairs, which is exactly
      // why the engine runs the bucket-pruned linear plan instead
      """WITH pt AS (
        |  SELECT p_retailprice AS price, p_size AS size FROM part),
        |dp AS (SELECT price, size, CAST(count(*) AS BIGINT) AS n_parts
        |  FROM pt GROUP BY 1, 2)
        |SELECT price, size, n_parts FROM dp d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM dp q
        |  WHERE q.price <= d.price AND q.size >= d.size
        |    AND (q.price < d.price OR q.size > d.size))
        |ORDER BY price""".stripMargin)),

    // STAR-SCHEMA 5-WAY JOIN (TPC-H Q5's shape) — local supplier
    // volume: revenue where customer and supplier sit in the same
    // nation, per nation in one region-year. THE canonical join-order
    // test: the fact table (lineitem) must join dimensions smallest-
    // outward with every dimension BROADCAST (region→nation prunes
    // before touching the fact; customer and supplier hash maps ride
    // the fact scan), so the only shuffle in the whole plan is the
    // final per-nation aggregate. The c_nationkey = s_nationkey
    // equality lands as a broadcast-side filter, never a
    // fact-vs-fact shuffle. Guarded by PlanShapeSpec.
    QuerySpec("q140_star_join", (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
        .filter(year($"o_orderdate") === 1995)
      val c = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d).filter($"r_name" === "ASIA")
      val asiaNations = n.join(broadcast(r),
          $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey", $"n_name")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(sup.withColumnRenamed("s_nationkey", "__sn")),
          $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"__sn")
        .join(broadcast(asiaNations), $"__sn" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(Fns.roundU(sum($"l_extendedprice" * (lit(1) - $"l_discount")),
          2).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy($"revenue".desc, $"n_name")
    }, Some(
      // q140: Q5's declarative form
      """SELECT n_name,
        |  floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5)
        |    / 100.0 AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND year(o_orderdate) = 1995
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)),

    // MARKET SHARE (TPC-H Q8's shape) — a ratio of conditional
    // aggregates per group: one nation's share of a region's revenue
    // per year. The share is sum(CASE)/sum(*) inside ONE aggregate —
    // never two scans joined back — and the join tree reuses q140's
    // broadcast-chain discipline.
    QuerySpec("q141_market_share", (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d).filter($"r_name" === "AMERICA")
      val amNations = n.join(broadcast(r),
          $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey", $"n_name")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(amNations), $"c_nationkey" === $"n_nationkey")
        .select(year($"o_orderdate").cast("long").as("yr"),
          ($"l_extendedprice" * (lit(1) - $"l_discount")).as("__v"),
          ($"n_name" === "BRAZIL").as("__tgt"))
        .groupBy($"yr")
        .agg(Fns.roundU(sum(when($"__tgt", $"__v").otherwise(0.0)), 2)
          .as("brazil_rev"),
          Fns.roundU(sum($"__v"), 2).as("region_rev"),
          Fns.roundU(sum(when($"__tgt", $"__v").otherwise(0.0))
            / sum($"__v"), 6).as("mkt_share"))
        .orderBy($"yr")
    }, Some(
      // q141: Q8's conditional-aggregate ratio in one pass
      """SELECT year(o_orderdate) AS yr,
        |  floor(sum(CASE WHEN n_name = 'BRAZIL'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |    * 100 + 0.5) / 100.0 AS brazil_rev,
        |  floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5)
        |    / 100.0 AS region_rev,
        |  floor(sum(CASE WHEN n_name = 'BRAZIL'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |    / sum(l_extendedprice * (1 - l_discount)) * 1e6 + 0.5)
        |    / 1e6 AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'AMERICA'
        |GROUP BY 1 ORDER BY yr""".stripMargin)),

    // FUNCTIONAL-DEPENDENCY PROFILE — does A determine B? For each
    // candidate (determinant → dependent) pair: group count, how many
    // groups see >1 dependent value, the worst fan-out, and the
    // verdict. The distinct runs on (A, B) PAIRS then regroups on A —
    // the two-stage exact-distinct plan (map-side combine on both
    // stages, no count(DISTINCT) expand, skew on a hot A key stays in
    // the second, already-compacted stage). One true FD (o_orderkey →
    // o_custkey) pins the holds=true path.
    QuerySpec("q151_fd_profile", (s, d) => {
      def audit(df: DataFrame, det: String, dep: String) =
        df.select(col(det).as("__k"), col(dep).as("__v")).distinct()
          .groupBy($"__k").agg(count(lit(1)).as("__nd"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when($"__nd" > 1, 1L).otherwise(0L)).as("n_violating"),
            max($"__nd").as("max_distinct"))
          .select(lit(det).as("determinant"), lit(dep).as("dependent"),
            $"n_groups", $"n_violating", $"max_distinct",
            ($"n_violating" === 0).as("fd_holds"))
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      audit(li, "l_orderkey", "l_returnflag")
        .unionAll(audit(li, "l_orderkey", "l_suppkey"))
        .unionAll(audit(li, "l_partkey", "l_linestatus"))
        .unionAll(audit(ord, "o_orderkey", "o_custkey"))
        .unionAll(audit(ord, "o_custkey", "o_orderpriority"))
        .orderBy($"determinant", $"dependent")
    }, Some(
      // q151: same two-stage distinct as the engine (DISTINCT pairs then
      // regroup) — not count(DISTINCT), so NULL semantics can never skew
      """WITH
        |a1 AS (SELECT l_orderkey AS k, count(*) AS nd FROM
        |  (SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem)
        |  GROUP BY 1),
        |a2 AS (SELECT l_orderkey AS k, count(*) AS nd FROM
        |  (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
        |  GROUP BY 1),
        |a3 AS (SELECT l_partkey AS k, count(*) AS nd FROM
        |  (SELECT DISTINCT l_partkey, l_linestatus FROM lineitem)
        |  GROUP BY 1),
        |a4 AS (SELECT o_orderkey AS k, count(*) AS nd FROM
        |  (SELECT DISTINCT o_orderkey, o_custkey FROM orders)
        |  GROUP BY 1),
        |a5 AS (SELECT o_custkey AS k, count(*) AS nd FROM
        |  (SELECT DISTINCT o_custkey, o_orderpriority FROM orders)
        |  GROUP BY 1),
        |u AS (
        |  SELECT 'l_orderkey' AS determinant, 'l_returnflag' AS dependent,
        |    count(*) AS n_groups,
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating,
        |    CAST(max(nd) AS BIGINT) AS max_distinct FROM a1
        |  UNION ALL
        |  SELECT 'l_orderkey', 'l_suppkey', count(*),
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(nd) AS BIGINT) FROM a2
        |  UNION ALL
        |  SELECT 'l_partkey', 'l_linestatus', count(*),
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(nd) AS BIGINT) FROM a3
        |  UNION ALL
        |  SELECT 'o_orderkey', 'o_custkey', count(*),
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(nd) AS BIGINT) FROM a4
        |  UNION ALL
        |  SELECT 'o_custkey', 'o_orderpriority', count(*),
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(nd) AS BIGINT) FROM a5)
        |SELECT determinant, dependent, n_groups, n_violating,
        |  max_distinct, n_violating = 0 AS fd_holds
        |FROM u ORDER BY determinant, dependent""".stripMargin)),

    // K-ANONYMITY AUDIT — the release-safety readout for the
    // anonymize family (q73): bucket every customer into its
    // quasi-identifier equivalence class (nation, segment, coarse
    // balance band) and report the class-size histogram with the
    // at-risk flag (size < k = 5). Two hash aggregates, nothing else.
    QuerySpec("q152_k_anonymity", (s, d) => {
      Tables.customer(s, d)
        .groupBy($"c_nationkey", $"c_mktsegment",
          floor($"c_acctbal" / 1000).as("__b"))
        .agg(count(lit(1)).as("cls_size"))
        .groupBy($"cls_size")
        .agg(count(lit(1)).as("n_classes"))
        .select($"cls_size", $"n_classes",
          ($"cls_size" * $"n_classes").as("n_rows"),
          ($"cls_size" < 5).as("at_risk"))
        .orderBy($"cls_size")
    }, Some(
      """WITH cls AS (
        |  SELECT count(*) AS cls_size
        |  FROM customer
        |  GROUP BY c_nationkey, c_mktsegment, floor(c_acctbal / 1000))
        |SELECT cls_size, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(cls_size * count(*) AS BIGINT) AS n_rows,
        |  cls_size < 5 AS at_risk
        |FROM cls GROUP BY cls_size ORDER BY cls_size""".stripMargin)),

    // TPC-H Q22 SHAPE — "cold customers worth a call": above-average
    // positive balances in a fixed nation set, no order in the
    // dataset's final year (this generator gives EVERY customer
    // historical orders, so Q22's "never ordered" is vacuous —
    // recency keeps the identical plan and a real answer), grouped
    // by nation. The classic three-part plan survives any scale: a
    // 1-row average broadcast (never a correlated re-scan), a LEFT
    // ANTI join whose probe side is date-pruned AT THE SCAN before
    // anything shuffles, and a k-row group readout. No c_phone in
    // this star schema, so nationkey plays Q22's country-code role.
    QuerySpec("q177_cold_customers", (s, d) => {
      val cust = Tables.customer(s, d)
        .filter($"c_nationkey".isin(1, 3, 7, 11, 13, 17, 19))
        .select($"c_custkey", $"c_nationkey", $"c_acctbal")
      val avgBal = cust.filter($"c_acctbal" > 0)
        .agg(avg($"c_acctbal").as("__ab"))
      cust.crossJoin(broadcast(avgBal))
        .filter($"c_acctbal" > $"__ab")
        .join(Tables.orders(s, d)
            .filter($"o_orderdate" >= "2001-01-01")
            .select($"o_custkey"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_nationkey".as("nation"))
        .agg(count(lit(1)).as("numcust"),
          Fns.roundU(sum($"c_acctbal"), 2).as("totacctbal"))
        .orderBy($"nation")
    }, Some(
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |  WHERE c_nationkey IN (1, 3, 7, 11, 13, 17, 19)),
        |ab AS (SELECT avg(c_acctbal) AS a FROM cust WHERE c_acctbal > 0)
        |SELECT c_nationkey AS nation, CAST(count(*) AS BIGINT) AS numcust,
        |  floor(sum(c_acctbal) * 100 + 0.5) / 100.0 AS totacctbal
        |FROM cust, ab
        |WHERE c_acctbal > a
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // PRICE-VOLUME-MIX BRIDGE — the FP&A waterfall: per brand, how
    // much of the 1999→2000 revenue change is volume (base price ×
    // quantity shift) vs price ((new−base price) × new quantity, the
    // cross term folded into price per convention; brands absent from
    // a period contribute their whole revenue as volume). ONE
    // conditional-projection scan of the two-year slice (the q172
    // shape: never a scan per period) into one per-brand aggregate;
    // part rides the scan as a broadcast. The identity delta = price
    // + volume holds per row by construction — an oracle-checked
    // waterfall that can't leak.
    QuerySpec("q184_pvm_bridge", (s, d) => {
      val li = Tables.lineitem(s, d)
        .filter($"l_shipdate" >= "1999-01-01"
          && $"l_shipdate" < "2001-01-01")
        .join(broadcast(Tables.part(s, d)
          .select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
      val base = $"l_shipdate" < "2000-01-01"
      val rv = $"l_extendedprice" * (lit(1) - $"l_discount")
      li.groupBy($"p_brand")
        .agg(sum(when(base, rv)).as("__r0"),
          sum(when(base, $"l_quantity")).as("__q0"),
          sum(when(!base, rv)).as("__r1"),
          sum(when(!base, $"l_quantity")).as("__q1"))
        .na.fill(0.0, Seq("__r0", "__q0", "__r1", "__q1"))
        .select($"p_brand".as("brand"),
          Fns.roundU($"__r0", 2).as("rev_base"),
          Fns.roundU($"__r1", 2).as("rev_cur"),
          Fns.roundU($"__r1" - $"__r0", 2).as("delta"),
          Fns.roundU(when($"__q0" > 0 && $"__q1" > 0,
            ($"__r1" / $"__q1" - $"__r0" / $"__q0") * $"__q1")
            .otherwise(0.0), 2).as("price_effect"),
          Fns.roundU(when($"__q0" > 0,
            ($"__r0" / $"__q0") * ($"__q1" - $"__q0"))
            .otherwise($"__r1"), 2).as("volume_effect"))
        .orderBy($"brand")
    }, Some(
      """WITH li AS (
        |  SELECT p_brand, l_shipdate,
        |    l_extendedprice * (1 - l_discount) AS rv, l_quantity AS q
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        |    AND l_shipdate < TIMESTAMP '2001-01-01'),
        |g AS (
        |  SELECT p_brand,
        |    coalesce(sum(CASE WHEN l_shipdate < TIMESTAMP '2000-01-01'
        |      THEN rv END), 0) AS r0,
        |    coalesce(sum(CASE WHEN l_shipdate < TIMESTAMP '2000-01-01'
        |      THEN q END), 0) AS q0,
        |    coalesce(sum(CASE WHEN l_shipdate >= TIMESTAMP '2000-01-01'
        |      THEN rv END), 0) AS r1,
        |    coalesce(sum(CASE WHEN l_shipdate >= TIMESTAMP '2000-01-01'
        |      THEN q END), 0) AS q1
        |  FROM li GROUP BY 1)
        |SELECT p_brand AS brand,
        |  floor(r0 * 100 + 0.5) / 100.0 AS rev_base,
        |  floor(r1 * 100 + 0.5) / 100.0 AS rev_cur,
        |  floor((r1 - r0) * 100 + 0.5) / 100.0 AS delta,
        |  floor((CASE WHEN q0 > 0 AND q1 > 0
        |      THEN (r1 / q1 - r0 / q0) * q1 ELSE 0 END)
        |    * 100 + 0.5) / 100.0 AS price_effect,
        |  floor((CASE WHEN q0 > 0 THEN (r0 / q0) * (q1 - q0)
        |      ELSE r1 END) * 100 + 0.5) / 100.0 AS volume_effect
        |FROM g ORDER BY brand""".stripMargin)),

    // GEO RADIUS JOIN — "suppliers within 60 km of each customer" per
    // nation, through Geo.radiusJoin's grid-cell equi-join (shuffle
    // |C| + 9·|S| keyed rows; NEVER the cartesian product Spark would
    // plan for the raw inequality join — the oracle runs exactly that
    // cross-join-filter and must agree row-for-row, which is the
    // correctness proof of the 3×3 neighborhood). Coordinates are the
    // engine-portable Knuth-hash fixtures; the planar metric is pure
    // IEEE arithmetic so the d ≤ r predicate decides identically on
    // both engines, and per-customer nearest distances integerize to
    // metres before the nation-level average (exact long sums — no
    // summation-order boundary).
    QuerySpec("q190_geo_radius_join", (s, d) => {
      val (clat, clon) = Geo.syntheticPoint($"c_custkey")
      val cust = Tables.customer(s, d)
        .select($"c_custkey", $"c_nationkey",
          clat.as("c_lat"), clon.as("c_lon"))
      val (slat, slon) = Geo.syntheticPoint($"s_suppkey" + lit(500000L))
      val sup = Tables.supplier(s, d)
        .select($"s_suppkey", slat.as("s_lat"), slon.as("s_lon"))
      val pairs = Geo.radiusJoin(cust, "c_lat", "c_lon",
        sup, "s_lat", "s_lon", radiusKm = 60.0)
      val per = pairs.groupBy($"c_custkey", $"c_nationkey")
        .agg(count(lit(1)).as("__k"),
          floor(min($"dist_km") * 1000 + 0.5).as("__nm"))
      val base = cust.groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_cust"))
      val nat = per.groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_matched"), sum($"__k").as("n_pairs"),
          Fns.roundU(sum($"__nm").cast("double") / count(lit(1))
            / 1000.0, 4).as("avg_nearest_km"),
          max($"__k").as("max_within"))
      base.join(nat, Seq("c_nationkey"), "left")
        .na.fill(0L, Seq("n_matched", "n_pairs", "max_within"))
        .select($"c_nationkey", $"n_cust", $"n_matched", $"n_pairs",
          $"avg_nearest_km", $"max_within")
        .orderBy($"c_nationkey")
    }, Some(
      // q190: the oracle IS the cartesian product + distance filter the
      // grid join replaces — row-for-row agreement proves the 3×3 cell
      // neighborhood loses no within-radius pair. Same Knuth-hash
      // coordinates, same IEEE-exact planar metric, same operation order.
      s"""WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |    $custCoordsSql
        |  FROM customer),
        |$supplierCoordsCte,
        |w AS (
        |  SELECT c.c_custkey, c.c_nationkey,
        |    sqrt(((c.lat - s.lat) * 111.0) * ((c.lat - s.lat) * 111.0)
        |       + ((c.lon - s.lon) * 85.0) * ((c.lon - s.lon) * 85.0))
        |      AS d
        |  FROM c, s
        |  WHERE sqrt(((c.lat - s.lat) * 111.0)
        |        * ((c.lat - s.lat) * 111.0)
        |       + ((c.lon - s.lon) * 85.0) * ((c.lon - s.lon) * 85.0))
        |      <= 60.0),
        |per AS (
        |  SELECT c_custkey, c_nationkey, CAST(count(*) AS BIGINT) AS k,
        |    CAST(floor(min(d) * 1000 + 0.5) AS BIGINT) AS nm
        |  FROM w GROUP BY 1, 2),
        |base AS (
        |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust
        |  FROM c GROUP BY 1),
        |agg AS (
        |  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_matched,
        |    CAST(sum(k) AS BIGINT) AS n_pairs,
        |    floor(CAST(sum(nm) AS DOUBLE) / count(*) / 1000.0 * 10000
        |      + 0.5) / 10000.0 AS avg_nearest_km,
        |    CAST(max(k) AS BIGINT) AS max_within
        |  FROM per GROUP BY 1)
        |SELECT b.c_nationkey, b.n_cust,
        |  coalesce(n_matched, 0) AS n_matched,
        |  coalesce(n_pairs, 0) AS n_pairs, avg_nearest_km,
        |  coalesce(max_within, 0) AS max_within
        |FROM base b LEFT JOIN agg USING (c_nationkey)
        |ORDER BY c_nationkey""".stripMargin)),

    // WAITING SUPPLIERS (TPC-H Q21's plan shape): the sole-blame
    // pattern — a supplier was LATE on a finished multi-supplier order
    // while every OTHER supplier was on time. Two correlated
    // subqueries against the same derived table become one LEFT SEMI
    // (another supplier exists) and one LEFT ANTI (no other late
    // supplier) hash join, both keyed on the order with the
    // same-supplier inequality as residual condition — never a
    // cartesian, never a per-order loop. "Late" = shipped > 90 days
    // after order date (this schema carries no commit/receipt dates).
    QuerySpec("q191_waiting_suppliers", (s, d) => {
      val li = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).filter($"o_orderstatus" === "F")
          .select($"o_orderkey", $"o_orderdate"),
          $"l_orderkey" === $"o_orderkey")
        .select($"o_orderkey".as("__o"), $"l_suppkey".as("__s"),
          (to_date($"l_shipdate") >
            date_add(to_date($"o_orderdate"), 90)).as("__late"))
      // distinct (order, supplier) sets: blame is per supplier, not
      // per line — persisted, both feed two joins each
      val sups = li.select($"__o", $"__s").distinct().transform(scoped)
      val lateS = li.filter($"__late").select($"__o", $"__s")
        .distinct().transform(scoped)
      val waiting = lateS.as("a")
        .join(sups.as("o2"), col("a.__o") === col("o2.__o")
          && col("a.__s") =!= col("o2.__s"), "left_semi")
        .join(lateS.as("l2"), col("a.__o") === col("l2.__o")
          && col("a.__s") =!= col("l2.__s"), "left_anti")
      waiting.groupBy($"__s")
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(Tables.supplier(s, d)
          .select($"s_suppkey", $"s_name")),
          $"__s" === $"s_suppkey")
        .select($"s_name", $"numwait")
        .orderBy($"numwait".desc, $"s_name")
        .limit(20)
    }, Some(
      // q191: the EXISTS/NOT EXISTS pair verbatim — DuckDB plans the
      // correlated subqueries its own way; the Spark side must reach the
      // same rows through its semi/anti joins
      """WITH l AS (
        |  SELECT o_orderkey AS o, l_suppkey AS sk,
        |    CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 90
        |      AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |sups AS (SELECT DISTINCT o, sk FROM l),
        |lates AS (SELECT DISTINCT o, sk FROM l WHERE late),
        |w AS (
        |  SELECT * FROM lates a
        |  WHERE EXISTS (SELECT 1 FROM sups o2
        |                WHERE o2.o = a.o AND o2.sk <> a.sk)
        |    AND NOT EXISTS (SELECT 1 FROM lates l2
        |                    WHERE l2.o = a.o AND l2.sk <> a.sk))
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM w JOIN supplier ON sk = s_suppkey
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),

    // MIN-COST SUPPLIER (TPC-H Q2's plan shape): for each qualifying
    // part, the cheapest regional supplier — the groupwise-argmin-
    // against-a-correlated-aggregate pattern. Supply costs derive from
    // observed lineitem unit prices (this schema has no partsupp);
    // the argmin is ONE min(struct(cost, suppkey)) hash aggregate —
    // total order, engine-exact tie-break, no window sort — and every
    // dimension join is a broadcast.
    QuerySpec("q192_min_cost_supplier", (s, d) => {
      val eur = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)
            .filter($"r_name" === "EUROPE")),
            $"n_regionkey" === $"r_regionkey")
          .select($"n_nationkey", $"n_name")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
      val costs = Tables.lineitem(s, d)
        .join(broadcast(eur.select($"s_suppkey".as("__sk"))),
          $"l_suppkey" === $"__sk", "left_semi")
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(min($"l_extendedprice" / $"l_quantity").as("__c"))
      val best = costs
        .groupBy($"l_partkey")
        .agg(min(struct($"__c", $"l_suppkey")).as("__b"))
        .select($"l_partkey", $"__b.__c".as("__c"),
          $"__b.l_suppkey".as("__sk"))
      best
        .join(broadcast(Tables.part(s, d)
          .filter($"p_type" === "PROMO" && $"p_size" % 5 === 0)
          .select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
        .join(broadcast(eur), $"__sk" === $"s_suppkey")
        .select($"s_acctbal", $"s_name", $"n_name", $"p_partkey",
          $"p_brand", Fns.roundU($"__c", 4).as("supply_cost"))
        .orderBy($"s_acctbal".desc, $"s_name", $"p_partkey")
        .limit(50)
    }, Some(
      // q192: argmin via row_number over (cost, suppkey) — the same
      // total order as Spark's min(struct(...))
      """WITH eur AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |costs AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(l_extendedprice / l_quantity) AS c
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM eur)
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT l_partkey, c, l_suppkey FROM (
        |    SELECT *, row_number() OVER (PARTITION BY l_partkey
        |      ORDER BY c, l_suppkey) AS rn FROM costs)
        |  WHERE rn = 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
        |  floor(c * 10000 + 0.5) / 10000.0 AS supply_cost
        |FROM best
        |JOIN part ON l_partkey = p_partkey
        |JOIN eur ON l_suppkey = s_suppkey
        |WHERE p_type = 'PROMO' AND p_size % 5 = 0
        |ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT 50"""
        .stripMargin)),

    // IMPORTANT PARTS (TPC-H Q11's plan shape): parts holding an
    // outsized share of one nation's supplied value — the group-
    // aggregate-vs-global-aggregate correlated HAVING. INTEGER-EXACT:
    // line values become cents (floor(x·100+0.5), identical doubles
    // both engines), per-part and national totals are long sums, and
    // the share gate is the cross-multiplied integer test
    // 1000·part_cents > total_cents — no floating threshold anywhere.
    QuerySpec("q193_important_parts", (s, d) => {
      val natSup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .filter($"n_name" === "NATION_7")),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey".as("__sk"))
      val cents = Tables.lineitem(s, d)
        .join(broadcast(natSup), $"l_suppkey" === $"__sk", "left_semi")
        .select($"l_partkey",
          floor($"l_extendedprice" * 100 + 0.5).as("__cents"))
      val perPart = cents.groupBy($"l_partkey")
        .agg(sum($"__cents").as("__pc"))
      val tot = perPart.agg(sum($"__pc").as("__tc"))
      perPart.crossJoin(broadcast(tot))
        .filter($"__pc" * 1000 > $"__tc")
        .select($"l_partkey".as("p_partkey"),
          ($"__pc".cast("double") / 100.0).as("value"))
        .orderBy($"value".desc, $"p_partkey")
    }, Some(
      // q193: integer-cents share gate, cross-multiplied — no floating
      // threshold on either engine
      """WITH cents AS (
        |  SELECT l_partkey,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name = 'NATION_7')),
        |pp AS (SELECT l_partkey, CAST(sum(c) AS BIGINT) AS pc
        |       FROM cents GROUP BY 1),
        |t AS (SELECT CAST(sum(pc) AS BIGINT) AS tc FROM pp)
        |SELECT l_partkey AS p_partkey,
        |  CAST(pc AS DOUBLE) / 100.0 AS value
        |FROM pp, t WHERE pc * 1000 > tc
        |ORDER BY value DESC, p_partkey""".stripMargin)),

    // CLAMPED RUNNING BALANCE — the inventory ledger recurrence
    // b_t = max(0, b_{t-1} + delta_t), which is NOT a linear window
    // aggregate, computed distributed anyway via the prefix-sum
    // identity  b_t = S_t - min(0, min_{k<=t} S_k): one running sum
    // and one running min over the same (partkey, event-order) window
    // — same shuffle, same sort, no iteration. Returns ('R') restock,
    // everything else issues; lost (unserved) units fall out of the
    // same identity as -min(0, global min prefix). All-integer:
    // quantities are exact BIGINTs, so no float boundary anywhere.
    // Scales as one hash-partition by partkey + per-key sort — the
    // 100 TB shape of every per-entity ledger replay.
    QuerySpec("q196_clamped_balance", (s, d) => {
      val w = Window.partitionBy($"l_partkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
      Tables.lineitem(s, d)
        .select($"l_partkey", $"l_shipdate", $"l_orderkey",
          $"l_linenumber",
          when($"l_returnflag" === "R", $"l_quantity".cast("long"))
            .otherwise(-$"l_quantity".cast("long")).as("__d"))
        .withColumn("__s", sum($"__d").over(w))
        .withColumn("__m", min($"__s").over(w))
        .withColumn("__bal", $"__s" - least($"__m", lit(0L)))
        .groupBy($"l_partkey")
        // every aggregate below is ORDER-FREE (sum/min/max/count over
        // the window-derived columns) — end balance comes from the
        // same identity (total sum minus clamped global min prefix),
        // never from a row-order-dependent last()
        .agg(count(lit(1)).as("n_events"),
          (sum($"__d") - least(min($"__s"), lit(0L)))
            .as("end_balance"),
          max($"__bal").as("max_balance"),
          sum(when($"__bal" === 0 && $"__d" < 0, 1L).otherwise(0L))
            .as("n_stockout_events"),
          greatest(-min($"__s"), lit(0L)).as("lost_units"))
        .select($"l_partkey".as("p_partkey"), $"n_events",
          $"end_balance", $"max_balance", $"n_stockout_events",
          $"lost_units")
        .orderBy($"p_partkey")
    }, Some(
      // q196: same prefix-sum identity, same windows — all-integer so
      // the balances are exact on both engines
      """WITH e AS (
        |  SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
        |    CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)
        |         ELSE -CAST(l_quantity AS BIGINT) END AS d
        |  FROM lineitem),
        |w AS (
        |  SELECT l_partkey, d, l_shipdate, l_orderkey, l_linenumber,
        |    sum(d) OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS s
        |  FROM e),
        |w2 AS (
        |  SELECT l_partkey, d, s,
        |    min(s) OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS m
        |  FROM w),
        |b AS (SELECT *, s - LEAST(m, 0) AS bal FROM w2)
        |SELECT l_partkey AS p_partkey,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(d) - LEAST(min(s), 0) AS BIGINT) AS end_balance,
        |  CAST(max(bal) AS BIGINT) AS max_balance,
        |  CAST(sum(CASE WHEN bal = 0 AND d < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_stockout_events,
        |  CAST(GREATEST(-min(s), 0) AS BIGINT) AS lost_units
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // LARGEST-REMAINDER (Hamilton) APPORTIONMENT — allocate a fixed
    // integer budget (1000 promo slots) across nations proportional
    // to revenue. ALL-INTEGER: revenue in cents (exact long), floor
    // share = (SEATS*cents) // total, remainder = the exact modulo,
    // leftover seats go to the largest remainders (tie: nation name).
    // No floating quota anywhere, so no boundary class. The final
    // rank runs over 25 one-row-per-nation aggregates — global-window
    //-on-aggregate, not on data (the q192 pattern).
    QuerySpec("q197_apportionment", (s, d) => {
      val seats = 1000L
      val cents = Tables.orders(s, d)
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, d)),
          $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("__c"))
      // `div` is LONG integer division (Spark's `/` is always double —
      // a quotient one ulp above an integer would floor wrong)
      val withTot = cents.crossJoin(broadcast(
        cents.agg(sum($"__c").as("__t"))))
        .withColumn("__floor", expr(s"($seats * __c) div __t"))
        .withColumn("__rem", lit(seats) * $"__c" % $"__t")
      val leftover = withTot.agg(
        (lit(seats) - sum($"__floor")).as("__l"))
      withTot.crossJoin(broadcast(leftover))
        .withColumn("__rk", row_number().over(
          Window.orderBy($"__rem".desc, $"n_name")))
        .select($"n_name",
          ($"__c".cast("double") / 100.0).as("revenue"),
          $"__floor".as("floor_seats"),
          when($"__rk" <= $"__l", 1L).otherwise(0L).as("bonus_seat"),
          ($"__floor" + when($"__rk" <= $"__l", 1L).otherwise(0L))
            .as("seats"))
        .orderBy($"n_name")
    }, Some(
      // q197: identical integer quota arithmetic — // is DuckDB's
      // integer division, matching Spark's `div`
      """WITH c AS (
        |  SELECT n_name,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS c
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM c),
        |f AS (
        |  SELECT n_name, c, CAST((1000 * c) // t AS BIGINT) AS fl,
        |    (1000 * c) % t AS rem
        |  FROM c, t),
        |l AS (SELECT CAST(1000 - sum(fl) AS BIGINT) AS lf FROM f),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, n_name)
        |        AS rk FROM f)
        |SELECT n_name, CAST(c AS DOUBLE) / 100.0 AS revenue,
        |  fl AS floor_seats,
        |  CAST(CASE WHEN rk <= lf THEN 1 ELSE 0 END AS BIGINT)
        |    AS bonus_seat,
        |  CAST(fl + CASE WHEN rk <= lf THEN 1 ELSE 0 END AS BIGINT)
        |    AS seats
        |FROM r, l ORDER BY n_name""".stripMargin)),

    // SMALL-QUANTITY PARTS (TPC-H Q17's plan shape): revenue lost to
    // below-one-fifth-of-average orders of one brand's parts — the
    // correlated SCALAR-AVG subquery, decorrelated into a per-part
    // aggregate joined back onto the same scan. The 0.2·avg gate is
    // the cross-multiplied INTEGER test 5·qty·cnt < sum_qty (q193's
    // discipline — no floating threshold), so the row set is exact;
    // only the final /7.0 yearly average is a double, and it divides
    // an exact cent sum once. Brand-filtered parts broadcast; the
    // per-part stats come from the UNfiltered lineitem (the Q17
    // semantics) but only survive the join for the brand's parts.
    QuerySpec("q202_small_qty_revenue", (s, d) => {
      val li = Tables.lineitem(s, d)
      val stats = li.groupBy($"l_partkey".as("__pk"))
        .agg(count(lit(1)).as("__cnt"),
          sum($"l_quantity".cast("long")).as("__sq"))
      val brand = Tables.part(s, d).filter($"p_brand" === "Brand#23")
        .select($"p_partkey")
      li.join(broadcast(brand), $"l_partkey" === $"p_partkey")
        .join(stats, $"l_partkey" === $"__pk")
        .filter($"l_quantity".cast("long") * 5 * $"__cnt" < $"__sq")
        .agg(count(lit(1)).as("n_lines"),
          (sum(floor($"l_extendedprice" * 100 + 0.5).cast("long"))
            .cast("double") / 700.0).as("__a"))
        .select($"n_lines", Fns.roundU($"__a", 4).as("avg_yearly"))
    }, Some(
      // q202: the same cross-multiplied integer gate — 5·qty·cnt <
      // sum_qty — so the row set is exact; one double division at the end
      """WITH st AS (
        |  SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
        |  FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / 700.0 AS a
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#23'
        |  JOIN st ON l_partkey = pk
        |  WHERE CAST(l_quantity AS BIGINT) * 5 * cnt < sq)
        |SELECT n_lines,
        |  floor(a * 10000 + 0.5) / 10000.0 AS avg_yearly
        |FROM r""".stripMargin)),

    // FD-BASED DATA REPAIR -- the cleaning step after q151's FD
    // profiling: rows with a corrupted attribute are imputed from the
    // MODE of their functional-dependency group (nationkey ->
    // mktsegment here), with the deterministic (count desc, value
    // asc) tie-break. Corruption is synthetic (custkey % 7) so ground
    // truth is KNOWN, and the report scores the repair: per nation,
    // the imputed mode, how many rows were repaired, and how many
    // matched the true value. The mode ranks over the (nation,
    // segment) AGGREGATE (bounded cells), never over rows.
    QuerySpec("q207_fd_repair", (s, d) => {
      val cust = Tables.customer(s, d)
        .select($"c_custkey", $"c_nationkey", $"c_mktsegment",
          ($"c_custkey" % 7 === 0).as("__corrupt"))
      val mode = cust.filter(!$"__corrupt")
        .groupBy($"c_nationkey", $"c_mktsegment")
        .agg(count(lit(1)).as("__n"))
        .withColumn("__rk", row_number().over(
          Window.partitionBy($"c_nationkey")
            .orderBy($"__n".desc, $"c_mktsegment")))
        .filter($"__rk" === 1)
        .select($"c_nationkey", $"c_mktsegment".as("__mode"),
          $"__n".as("__mode_n"))
      cust.filter($"__corrupt")
        .join(broadcast(mode), Seq("c_nationkey"))
        .groupBy($"c_nationkey")
        .agg(min($"__mode").as("mode_segment"),
          count(lit(1)).as("n_repaired"),
          sum(when($"c_mktsegment" === $"__mode", 1L).otherwise(0L))
            .as("n_correct"))
        .orderBy($"c_nationkey")
    }, Some(
      // q207: same mode with the same (count desc, segment asc)
      // tie-break, scored against the known truth
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey, c_mktsegment,
        |    c_custkey % 7 = 0 AS corrupt
        |  FROM customer),
        |m AS (
        |  SELECT c_nationkey, c_mktsegment AS md, n FROM (
        |    SELECT c_nationkey, c_mktsegment,
        |      CAST(count(*) AS BIGINT) AS n,
        |      row_number() OVER (PARTITION BY c_nationkey
        |        ORDER BY count(*) DESC, c_mktsegment) AS rk
        |    FROM c WHERE NOT corrupt GROUP BY 1, 2)
        |  WHERE rk = 1)
        |SELECT c_nationkey, min(md) AS mode_segment,
        |  CAST(count(*) AS BIGINT) AS n_repaired,
        |  CAST(sum(CASE WHEN c_mktsegment = md THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct
        |FROM c JOIN m USING (c_nationkey)
        |WHERE corrupt GROUP BY 1 ORDER BY 1""".stripMargin)),

    // LINEAR-INTERPOLATION GAP FILL -- q120's forward-fill sibling
    // for quantities where a step function is wrong (prices, rates):
    // missing days get the straight line between the LAST previous
    // and FIRST next observed value (edges clamp to the nearest
    // observation). Two ignore-nulls window passes over the calendar
    // spine -- same partition, opposite frames, one sort. The
    // interpolant is exact ints into ONE double expression written
    // identically on both engines.
    QuerySpec("q208_interpolate", (s, d) => {
      val ord = Tables.orders(s, d)
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .filter($"c_nationkey" < 10)
      // persisted: the nation spine AND the left join both read it,
      // and it is the ~24k-row aggregate — without this the
      // orders⋈customer join underneath runs twice (measured 3.4 s →
      // the join, not the windows, dominated)
      val daily = ord.groupBy($"c_nationkey", to_date($"o_orderdate")
          .as("day"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("__v"))
        .transform(scoped)
      val cal = Tables.orders(s, d)
        .agg(min(to_date($"o_orderdate")).as("__lo"),
          max(to_date($"o_orderdate")).as("__hi"))
        .select(explode(sequence($"__lo", $"__hi")).as("day"))
      // any nation with >=1 order has a daily row, so the spine's
      // nation set from `daily` equals the one from `ord`
      val spine = daily.select($"c_nationkey").distinct()
        .crossJoin(broadcast(cal))
      val wB = Window.partitionBy($"c_nationkey").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // The forward fill is expressed as a RUNNING frame over the
      // DESCENDING day order — `last(x) over (desc, unboundedPreceding..
      // current)` ≡ `first(x) over (asc, current..unboundedFollowing)`
      // exactly (day is unique per nation, so the row sets match 1:1).
      // NOT the textbook (currentRow, unboundedFollowing) frame:
      // Spark's UnboundedFollowingWindowFunctionFrame re-aggregates
      // from each row to the partition end — O(rows²) per partition,
      // measured 2×~1 s single-task stages on 48k spine rows (SQL-tab
      // metrics, round 14) where the two running frames are O(rows)
      // incremental; at 100 TB a quadratic per-partition frame is the
      // difference between a streaming pass and a dead executor.
      val wF = Window.partitionBy($"c_nationkey").orderBy($"day".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("c_nationkey", "day"), "left")
        // all four window expressions in ONE projection: same-frame
        // pairs fuse into a single WindowExec each (chained
        // withColumns interleave projects and planned a third window
        // pass — PlanShapeSpec guards the fused shape)
        .select($"c_nationkey", $"day", $"__v",
          last($"__v", ignoreNulls = true).over(wB).as("__pv"),
          last(when($"__v".isNotNull, $"day"), ignoreNulls = true)
            .over(wB).as("__pd"),
          last($"__v", ignoreNulls = true).over(wF).as("__nv"),
          last(when($"__v".isNotNull, $"day"), ignoreNulls = true)
            .over(wF).as("__nd"))
        .select($"c_nationkey", $"day", $"__v".isNull.as("interpolated"),
          Fns.roundU(when($"__v".isNotNull, $"__v".cast("double"))
            .when($"__pv".isNull, $"__nv".cast("double"))
            .when($"__nv".isNull, $"__pv".cast("double"))
            .otherwise($"__pv" + ($"__nv" - $"__pv").cast("double")
              * datediff($"day", $"__pd")
              / datediff($"__nd", $"__pd")) / 100.0, 4).as("cents"))
        .orderBy($"c_nationkey", $"day")
    }, Some(
      // q208: identical spine, identical ignore-nulls frames, identical
      // interpolant expression
      """WITH o AS (
        |  SELECT c_nationkey, CAST(o_orderdate AS DATE) AS day,
        |    o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_nationkey < 10),
        |daily AS (
        |  SELECT c_nationkey, day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM o GROUP BY 1, 2),
        |cal AS (
        |  SELECT unnest(generate_series(
        |    (SELECT min(CAST(o_orderdate AS DATE)) FROM orders),
        |    (SELECT max(CAST(o_orderdate AS DATE)) FROM orders),
        |    INTERVAL 1 DAY))::DATE AS day),
        |spine AS (
        |  SELECT n.c_nationkey, cal.day
        |  FROM (SELECT DISTINCT c_nationkey FROM o) n, cal),
        |j AS (
        |  SELECT s.c_nationkey, s.day, d.v,
        |    last_value(d.v IGNORE NULLS) OVER (
        |      PARTITION BY s.c_nationkey ORDER BY s.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN d.v IS NOT NULL THEN s.day END
        |      IGNORE NULLS) OVER (
        |      PARTITION BY s.c_nationkey ORDER BY s.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |    first_value(d.v IGNORE NULLS) OVER (
        |      PARTITION BY s.c_nationkey ORDER BY s.day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN d.v IS NOT NULL THEN s.day END
        |      IGNORE NULLS) OVER (
        |      PARTITION BY s.c_nationkey ORDER BY s.day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |  FROM spine s LEFT JOIN daily d
        |    ON s.c_nationkey = d.c_nationkey AND s.day = d.day)
        |SELECT c_nationkey, day, v IS NULL AS interpolated,
        |  floor((CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
        |    WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
        |    WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
        |    ELSE pv + CAST(nv - pv AS DOUBLE)
        |      * date_diff('day', pd, day) / date_diff('day', pd, nd)
        |    END) / 100.0 * 10000 + 0.5) / 10000.0 AS cents
        |FROM j ORDER BY c_nationkey, day""".stripMargin)),

    // INTERVAL JOIN WITHOUT AN EQUI-KEY — every order matched to every
    // OVERLAPPING promo window (IP-range/tax-bracket shape): the naive
    // plan is a cartesian with a BETWEEN residual; the scalable plan
    // is Joins.bucketedRangeJoin — day → bucket, each interval
    // replicated across the buckets it overlaps, pair generation as an
    // EQUI-join on bucket id (the 1-D sibling of q190's geo grid).
    // Promos derive deterministically from the nation table (spans
    // 10–69 days, bucket 32 → ≤3 copies each); the oracle runs the
    // plain BETWEEN join, and JoinsSpec pins bucketed == brute-force
    // on a fixture.
    QuerySpec("q227_interval_join", (s, d) => {
      val promos = Tables.nation(s, d)
        .select($"n_nationkey".cast("long").as("promo_id"))
        .select($"promo_id", (($"promo_id" * 137) % 2400).as("lo"))
        .select($"promo_id", $"lo",
          ($"lo" + 10 + ($"promo_id" * 37) % 60).as("hi"))
      val ord = Tables.orders(s, d).select(
        datediff($"o_orderdate", to_date(lit("1992-01-01")))
          .cast("long").as("day"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
      Joins.bucketedRangeJoin(ord, $"day", promos, $"lo", $"hi", 32L)
        .groupBy($"promo_id", $"lo", $"hi")
        .agg(count(lit(1)).as("n_orders"), sum($"cents").as("rev_cents"))
        .orderBy($"promo_id")
    }, Some(
      """WITH promos AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS promo_id,
        |    CAST((n_nationkey * 137) % 2400 AS BIGINT) AS lo,
        |    CAST((n_nationkey * 137) % 2400
        |      + 10 + (n_nationkey * 37) % 60 AS BIGINT) AS hi
        |  FROM nation),
        |ord AS (
        |  SELECT date_diff('day', TIMESTAMP '1992-01-01', o_orderdate)
        |      AS day,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT promo_id, lo, hi,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS rev_cents
        |FROM ord JOIN promos ON day >= lo AND day <= hi
        |GROUP BY 1, 2, 3 ORDER BY promo_id""".stripMargin)),

    // TPC-H Q22 SHAPE — rich-but-dormant customers: above their
    // nation's average POSITIVE balance yet orderless. The schema has
    // no phone, so the country-code group is the nation; the plan
    // shape is Q22's: a bounded per-nation aggregate broadcast back,
    // the threshold as CROSS-MULTIPLIED integer cents (cents·n >
    // sum_cents — no double avg at the gate), and a LEFT ANTI against
    // RECENT orders (dormant = nothing since 2000 — the date-pruned
    // anti probe side). Readout per nation in exact cents divided
    // once.
    QuerySpec("q230_dormant_rich", (s, d) => {
      val cust = Tables.customer(s, d).select($"c_custkey",
        $"c_nationkey".cast("long").as("nation"),
        floor($"c_acctbal" * 100 + 0.5).cast("long").as("__cents"))
      val pos = cust.filter($"__cents" > 0).groupBy($"nation")
        .agg(sum($"__cents").as("__s"), count(lit(1)).as("__n"))
      cust.join(broadcast(pos), Seq("nation"))
        .filter($"__cents" * $"__n" > $"__s")
        .join(Tables.orders(s, d)
          .filter($"o_orderdate" >= "2000-01-01")
          .select($"o_custkey"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"nation")
        .agg(count(lit(1)).as("n_cust"),
          Fns.roundU(sum($"__cents").cast("double") / 100, 2)
            .as("total_bal"))
        .orderBy($"nation")
    }, Some(
      """WITH cust AS (
        |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
        |  FROM customer),
        |pos AS (
        |  SELECT nation, CAST(sum(cents) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM cust WHERE cents > 0 GROUP BY 1),
        |rich AS (
        |  SELECT c.c_custkey, c.nation, c.cents
        |  FROM cust c JOIN pos p ON c.nation = p.nation
        |  WHERE c.cents * p.n > p.s),
        |dormant AS (
        |  SELECT * FROM rich r WHERE NOT EXISTS (
        |    SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '2000-01-01'))
        |SELECT nation, CAST(count(*) AS BIGINT) AS n_cust,
        |  floor(CAST(sum(cents) AS DOUBLE) / 100 * 100 + 0.5) / 100.0
        |    AS total_bal
        |FROM dormant GROUP BY 1 ORDER BY nation""".stripMargin)),

    // TPC-H Q20 SHAPE — dominant suppliers of SMALL-type parts: a
    // supplier qualifies when its 1995 shipped share of some small
    // part exceeds 30% (cross-multiplied integers: 10·q > 3·total —
    // quantities are exact small ints). Nested-semi-join plan:
    // per-(part,supp) aggregate → per-part total joined back → the
    // qualifying supplier set LEFT SEMI-joins the supplier dim; the
    // part-type filter broadcasts onto the fact scan.
    QuerySpec("q231_dominant_suppliers", (s, d) => {
      val small = Tables.part(s, d).filter($"p_type" === "SMALL")
        .select($"p_partkey")
      val qty = Tables.lineitem(s, d)
        .filter($"l_shipdate" >= "1995-01-01" &&
          $"l_shipdate" < "1996-01-01")
        .join(broadcast(small), $"l_partkey" === $"p_partkey")
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(sum($"l_quantity".cast("long")).as("__q"))
      val tot = qty.groupBy($"l_partkey").agg(sum($"__q").as("__tq"))
      val dom = qty.join(tot, Seq("l_partkey"))
        .filter($"__q" * 10 > $"__tq" * 3)
        .select($"l_suppkey").distinct()
      Tables.supplier(s, d)
        .join(dom, $"s_suppkey" === $"l_suppkey", "left_semi")
        .select($"s_suppkey", $"s_name", $"s_nationkey".cast("long")
          .as("nation"))
        .orderBy($"s_suppkey")
    }, Some(
      """WITH qty AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'SMALL'
        |    AND l_shipdate >= TIMESTAMP '1995-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-01-01'
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT l_partkey, CAST(sum(q) AS BIGINT) AS tq
        |  FROM qty GROUP BY 1),
        |dom AS (
        |  SELECT DISTINCT l_suppkey
        |  FROM qty JOIN tot USING (l_partkey)
        |  WHERE q * 10 > tq * 3)
        |SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS nation
        |FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM dom)
        |ORDER BY s_suppkey""".stripMargin)),

    // LOG-LINE FIELD EXTRACTION — the grok/log-analytics shape: an
    // Apache-combined-style access line per event (synthesized with
    // concat, the codec-fixture pattern) parsed BACK into typed
    // fields with one codegen'd regexp_extract pass, then the
    // standard status/bytes rollup. The regex sticks to ASCII classes
    // ([0-9], [^ ], [^\]]) that Java regex and RE2 agree on — \d/\s
    // class divergence is the documented cross-engine trap (q205).
    QuerySpec("q232_log_parse", (s, d) => {
      val line = concat(
        lit("10."), ($"user_id" % 256).cast("string"),
        lit(".0.1 - - ["), date_format($"ts", "dd/MMM/yyyy:HH:mm:ss"),
        lit(" +0000] \"GET /p/"), $"event_id".cast("string"),
        lit(" HTTP/1.1\" "),
        when($"event_type" === "error", 500)
          .when($"event_type" === "purchase", 201).otherwise(200)
          .cast("string"),
        lit(" "), floor($"value" * 10).cast("long").cast("string"))
      val pat = "^([0-9.]+) - - \\[([^\\]]+)\\] \"([A-Z]+) ([^ ]+)" +
        " [^\"]+\" ([0-9]+) ([0-9]+)$"
      Tables.events(s, d).select(line.as("__line"))
        .select(
          regexp_extract($"__line", pat, 1).as("ip"),
          regexp_extract($"__line", pat, 3).as("method"),
          regexp_extract($"__line", pat, 5).cast("long").as("status"),
          regexp_extract($"__line", pat, 6).cast("long").as("bytes"))
        .groupBy($"status")
        .agg(count(lit(1)).as("n_requests"),
          countDistinct($"ip").as("n_ips"),
          sum($"bytes").as("total_bytes"))
        .orderBy($"status")
    }, Some(
      """WITH l AS (
        |  SELECT concat('10.', CAST(user_id % 256 AS VARCHAR),
        |    '.0.1 - - [', strftime(ts, '%d/%b/%Y:%H:%M:%S'),
        |    ' +0000] "GET /p/', CAST(event_id AS VARCHAR),
        |    ' HTTP/1.1" ',
        |    CASE WHEN event_type = 'error' THEN '500'
        |      WHEN event_type = 'purchase' THEN '201'
        |      ELSE '200' END,
        |    ' ', CAST(CAST(floor(value * 10) AS BIGINT) AS VARCHAR))
        |    AS line
        |  FROM events),
        |p AS (
        |  SELECT
        |    regexp_extract(line, '^([0-9.]+) - - \[([^\]]+)\] ' ||
        |      '"([A-Z]+) ([^ ]+) [^"]+" ([0-9]+) ([0-9]+)$', 1) AS ip,
        |    CAST(regexp_extract(line, '^([0-9.]+) - - \[([^\]]+)\] '
        |      || '"([A-Z]+) ([^ ]+) [^"]+" ([0-9]+) ([0-9]+)$', 5)
        |      AS BIGINT) AS status,
        |    CAST(regexp_extract(line, '^([0-9.]+) - - \[([^\]]+)\] '
        |      || '"([A-Z]+) ([^ ]+) [^"]+" ([0-9]+) ([0-9]+)$', 6)
        |      AS BIGINT) AS bytes
        |  FROM l)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_requests,
        |  CAST(count(DISTINCT ip) AS BIGINT) AS n_ips,
        |  CAST(sum(bytes) AS BIGINT) AS total_bytes
        |FROM p GROUP BY 1 ORDER BY status""".stripMargin)),

    // SEMI-STRUCTURED PROPS — the JSON-column path every event table
    // grows: `props` holds a JSON object; extract $.k typed and roll
    // up per event type. One get_json_object (codegen'd) — no
    // from_json schema needed for a single path — and the readout is
    // exact ints plus one rounded mean.
    QuerySpec("q233_props_json", (s, d) => {
      Tables.events(s, d)
        .select($"event_type",
          get_json_object($"props", "$.k").cast("long").as("__k"))
        .groupBy($"event_type")
        .agg(count($"__k").as("n_with_k"),
          min($"__k").as("k_min"), max($"__k").as("k_max"),
          sum($"__k").as("k_sum"),
          Fns.roundU(avg($"__k"), 4).as("k_avg"))
        .orderBy($"event_type")
    }, Some(
      """WITH k AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, CAST(count(k) AS BIGINT) AS n_with_k,
        |  CAST(min(k) AS BIGINT) AS k_min,
        |  CAST(max(k) AS BIGINT) AS k_max,
        |  CAST(sum(k) AS BIGINT) AS k_sum,
        |  floor(avg(k) * 10000 + 0.5) / 10000.0 AS k_avg
        |FROM k GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // FIFO INVENTORY MATCHING — which receipt satisfied which issue,
    // first-in-first-out: the classic "hard in SQL" allocation that
    // naive solutions loop over. The scalable identity: order each
    // part's receipts and issues by time and give every line its
    // CUMULATIVE-quantity interval [cum−q, cum); FIFO matched
    // quantity between a receipt and an issue is EXACTLY the overlap
    // of their intervals (FifoProps proves the identity against a
    // queue simulation). Pair generation is the q227 grid trick on
    // the CUMULATIVE axis: each interval explodes to the ≤2 64-unit
    // buckets it spans (line qty ≤ 50 < 64), the join is equi-keyed
    // on (part, bucket), and the canonical-bucket gate (overlap
    // start's bucket) emits each pair once — a hot part with 100k
    // lines pairs per-bucket neighbors, never R×I. A join on part
    // alone would enumerate R·I pairs per part before the residual;
    // this shape is what survives the hot key. Every quantity is an
    // exact integer.
    QuerySpec("q236_fifo_match", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"l_partkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
      val li = Tables.lineitem(s, d).select($"l_partkey",
        $"l_shipdate", $"l_orderkey", $"l_linenumber",
        $"l_quantity".cast("long").as("__q"),
        ($"l_returnflag" === "R").as("__isR"))
      def side(isR: Boolean, tag: String) = li.filter($"__isR" === isR)
        .withColumn("__hi", sum($"__q").over(w))
        .select($"l_partkey".as(s"${tag}_part"),
          ($"__hi" - $"__q").as(s"${tag}_lo"), $"__hi".as(s"${tag}_hi"))
        .withColumn(s"${tag}_b", explode(expr(
          s"sequence(${tag}_lo div 64, (${tag}_hi - 1) div 64)")))
      val r = side(isR = true, "r")
      val i = side(isR = false, "i")
      val matched = r.join(i, $"r_part" === $"i_part" &&
          $"r_b" === $"i_b" &&
          $"r_lo" < $"i_hi" && $"i_lo" < $"r_hi" &&
          $"r_b" === expr("greatest(r_lo, i_lo) div 64"))
        .select($"r_part".as("l_partkey"),
          (least($"r_hi", $"i_hi") - greatest($"r_lo", $"i_lo"))
            .as("__m"))
        .groupBy($"l_partkey")
        .agg(count(lit(1)).as("n_matches"), sum($"__m").as("matched_qty"))
      val totals = li.groupBy($"l_partkey").agg(
        sum(when($"__isR", $"__q").otherwise(0L)).as("received_qty"),
        sum(when(!$"__isR", $"__q").otherwise(0L)).as("issued_qty"))
      totals.join(matched, Seq("l_partkey"), "left")
        .select($"l_partkey", $"received_qty", $"issued_qty",
          coalesce($"n_matches", lit(0L)).as("n_matches"),
          coalesce($"matched_qty", lit(0L)).as("matched_qty"),
          ($"issued_qty" - coalesce($"matched_qty", lit(0L)))
            .as("unfilled_qty"))
        .orderBy($"matched_qty".desc, $"l_partkey")
        .limit(100)
    }, Some(
      """WITH li AS (
        |  SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
        |    CAST(l_quantity AS BIGINT) AS q,
        |    l_returnflag = 'R' AS isr
        |  FROM lineitem),
        |r AS (
        |  SELECT l_partkey AS part,
        |    CAST(sum(q) OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) - q
        |      AS BIGINT) AS lo,
        |    CAST(sum(q) OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |      AS BIGINT) AS hi
        |  FROM li WHERE isr),
        |i AS (
        |  SELECT l_partkey AS part,
        |    CAST(sum(q) OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) - q
        |      AS BIGINT) AS lo,
        |    CAST(sum(q) OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |      AS BIGINT) AS hi
        |  FROM li WHERE NOT isr),
        |m AS (
        |  SELECT r.part,
        |    least(r.hi, i.hi) - greatest(r.lo, i.lo) AS mq
        |  FROM r JOIN i ON r.part = i.part
        |    AND r.lo < i.hi AND i.lo < r.hi),
        |mm AS (
        |  SELECT part, CAST(count(*) AS BIGINT) AS n_matches,
        |    CAST(sum(mq) AS BIGINT) AS matched_qty
        |  FROM m GROUP BY 1),
        |t AS (
        |  SELECT l_partkey,
        |    CAST(sum(CASE WHEN isr THEN q ELSE 0 END) AS BIGINT)
        |      AS received_qty,
        |    CAST(sum(CASE WHEN NOT isr THEN q ELSE 0 END) AS BIGINT)
        |      AS issued_qty
        |  FROM li GROUP BY 1)
        |SELECT t.l_partkey, t.received_qty, t.issued_qty,
        |  coalesce(mm.n_matches, 0) AS n_matches,
        |  coalesce(mm.matched_qty, 0) AS matched_qty,
        |  t.issued_qty - coalesce(mm.matched_qty, 0) AS unfilled_qty
        |FROM t LEFT JOIN mm ON t.l_partkey = mm.part
        |ORDER BY matched_qty DESC, l_partkey LIMIT 100""".stripMargin)),

    // SKYLINE / PARETO FRONTIER — parts where nothing is both cheaper
    // AND bigger (minimize price, maximize size): the dominance query
    // whose naive form is an all-pairs NOT EXISTS. The scalable sweep
    // rides the NEW distributed exclusive prefix-max
    // (Packing.prefixMaxExclusive — prefixSum's two-phase scan for
    // the max monoid): a part is on the frontier iff its size equals
    // its PRICE LEVEL's max and strictly exceeds the max size over
    // all strictly-cheaper levels. Equal (price, size) twins both
    // stay (neither strictly dominates) — matching the oracle's
    // NOT EXISTS semantics exactly; all comparisons exact integers.
    QuerySpec("q237_skyline", (s, d) => {
      val p = Tables.part(s, d).select($"p_partkey",
        floor($"p_retailprice" * 100 + 0.5).cast("long").as("__pc"),
        $"p_size".cast("long").as("__sz"))
      val levels = p.groupBy($"__pc").agg(max($"__sz").as("__lmax"))
        .withColumn("__g", lit(1))
      val pm = Packing.prefixMaxExclusive(levels, Seq("__g"),
        Seq("__pc"), "__lmax", "__before")
      p.join(pm.select($"__pc", $"__lmax", $"__before"), Seq("__pc"))
        .filter($"__sz" === $"__lmax" && $"__sz" > $"__before")
        .select($"p_partkey",
          Fns.roundU($"__pc".cast("double") / 100, 2).as("price"),
          $"__sz".as("psize"))
        .orderBy($"p_partkey")
    }, Some(
      """WITH p AS (
        |  SELECT p_partkey,
        |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS pc,
        |    CAST(p_size AS BIGINT) AS sz
        |  FROM part)
        |SELECT p_partkey,
        |  floor(CAST(pc AS DOUBLE) / 100 * 100 + 0.5) / 100.0
        |    AS price,
        |  sz AS psize
        |FROM p a WHERE NOT EXISTS (
        |  SELECT 1 FROM p b WHERE b.pc <= a.pc AND b.sz >= a.sz
        |    AND (b.pc < a.pc OR b.sz > a.sz))
        |ORDER BY p_partkey""".stripMargin)),

    // TPC-H Q4 shape — ORDER PRIORITY CHECKING: orders in a one-year
    // window that had at least one returned line, counted by priority.
    // The EXISTS is a LEFT-SEMI join on the order key: the lineitem
    // side is pre-filtered to returnflag='R' (scan-level pushdown)
    // and deduplicates inside the semi-join build — never a join-then-
    // distinct. Both sides shuffle once on l_orderkey; the aggregate
    // is 5 groups with map-side combine.
    QuerySpec("q238_priority_semi", (s, d) => {
      val o = Tables.orders(s, d)
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
      val ret = Tables.lineitem(s, d)
        .filter($"l_returnflag" === "R").select($"l_orderkey")
      o.join(ret, $"o_orderkey" === $"l_orderkey", "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy($"o_orderpriority")
    }, Some(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    // TPC-H Q7 shape — VOLUME SHIPPING between a nation pair, by ship
    // year, in both directions. Supplier/nation broadcast (bounded
    // dims at this schema's scale); orders and customer are scaling
    // dims, so the fact reaches them through shuffle hash joins on
    // their own keys — never broadcast-by-hope. Revenue rides the
    // EXACT integer path: cents(extprice) × (100 − pct(discount)) is
    // a lossless long in 1e-4 currency units, so the per-group sum is
    // summation-order-independent and the final double division is
    // bit-identical on both engines (no rounding boundary to sit on).
    QuerySpec("q239_volume_shipping", (s, d) => {
      val n = Tables.nation(s, d)
      val li = Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey",
        year($"l_shipdate").as("l_year"),
        (floor($"l_extendedprice" * 100 + 0.5).cast("long") *
          (lit(100L) - floor($"l_discount" * 100 + 0.5).cast("long")))
          .as("__rev4"))
      val sn = Tables.supplier(s, d)
        .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name".as("supp_nation"))
      val cn = Tables.customer(s, d)
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"n_name".as("cust_nation"))
      val oc = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
        .join(cn, $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", $"cust_nation")
      li.join(broadcast(sn), $"l_suppkey" === $"s_suppkey")
        .join(oc, $"l_orderkey" === $"o_orderkey")
        .filter(($"supp_nation" === "NATION_1" &&
            $"cust_nation" === "NATION_2") ||
          ($"supp_nation" === "NATION_2" &&
            $"cust_nation" === "NATION_1"))
        .groupBy($"supp_nation", $"cust_nation", $"l_year")
        .agg(sum($"__rev4").as("__r"))
        .select($"supp_nation", $"cust_nation", $"l_year",
          ($"__r".cast("double") / 10000.0).as("revenue"))
        .orderBy($"supp_nation", $"cust_nation", $"l_year")
    }, Some(
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey,
        |    CAST(year(l_shipdate) AS INT) AS l_year,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
        |      AS rev4
        |  FROM lineitem)
        |SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  l_year, CAST(CAST(sum(rev4) AS BIGINT) AS DOUBLE) / 10000.0
        |    AS revenue
        |FROM li
        |JOIN supplier s ON li.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |JOIN orders o ON li.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        |   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // TPC-H Q9 shape — PRODUCT TYPE PROFIT by supplier nation and
    // order year. No partsupp/supplycost in this schema, so cost is
    // the deterministic proxy 50% of retail per unit — kept EXACT:
    // profit4 = cents(extprice)·(100−pct) − cents(retail)·qty·50,
    // all integer. The part filter (name contains 'widget') prunes at
    // the scan before the partkey shuffle join; supplier+nation
    // broadcast; the order-date lookup is a second fact shuffle on
    // the order key.
    QuerySpec("q240_product_profit", (s, d) => {
      val p = Tables.part(s, d)
        .filter($"p_name".contains("widget"))
        .select($"p_partkey",
          floor($"p_retailprice" * 100 + 0.5).cast("long").as("__rc"))
      val sn = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_name")
      val o = Tables.orders(s, d)
        .select($"o_orderkey", year($"o_orderdate").as("o_year"))
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_partkey", $"l_suppkey",
          $"l_quantity".cast("long").as("__q"),
          (floor($"l_extendedprice" * 100 + 0.5).cast("long") *
            (lit(100L) - floor($"l_discount" * 100 + 0.5).cast("long")))
            .as("__rev4"))
        .join(p, $"l_partkey" === $"p_partkey")
        .join(broadcast(sn), $"l_suppkey" === $"s_suppkey")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"n_name", $"o_year")
        .agg(sum($"__rev4" - $"__rc" * $"__q" * 50L).as("__p"))
        .select($"n_name", $"o_year",
          ($"__p".cast("double") / 10000.0).as("profit"))
        .orderBy($"n_name", $"o_year".desc)
    }, Some(
      """WITH li AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey,
        |    CAST(l_quantity AS BIGINT) AS q,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
        |      AS rev4
        |  FROM lineitem)
        |SELECT n.n_name, CAST(year(o.o_orderdate) AS INT) AS o_year,
        |  CAST(CAST(sum(li.rev4 -
        |    CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT)
        |    * li.q * 50) AS BIGINT) AS DOUBLE) / 10000.0 AS profit
        |FROM li
        |JOIN part p ON li.l_partkey = p.p_partkey
        |JOIN supplier s ON li.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN orders o ON li.l_orderkey = o.o_orderkey
        |WHERE p.p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin)),

    // TPC-H Q10 shape — RETURNED ITEM REPORTING: top 20 customers by
    // revenue lost to returns in a quarter. Ranking and the reported
    // value both ride the exact 1e-4-unit long sum, so the top-20 cut
    // can never flip on a summation-order ulp; custkey breaks exact
    // ties. TakeOrdered(20) — a bounded per-partition heap, no global
    // sort at any scale.
    QuerySpec("q241_returned_items", (s, d) => {
      val o = Tables.orders(s, d)
        .filter($"o_orderdate" >= lit("1996-10-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_custkey")
      val li = Tables.lineitem(s, d)
        .filter($"l_returnflag" === "R")
        .select($"l_orderkey",
          (floor($"l_extendedprice" * 100 + 0.5).cast("long") *
            (lit(100L) - floor($"l_discount" * 100 + 0.5).cast("long")))
            .as("__rev4"))
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_custkey").agg(sum($"__rev4").as("__r"))
        .join(Tables.customer(s, d),
          $"o_custkey" === $"c_custkey")
        .select($"c_custkey", $"c_name", $"c_mktsegment",
          ($"__r".cast("double") / 10000.0).as("revenue"), $"__r")
        .orderBy($"__r".desc, $"c_custkey")
        .limit(20)
        .drop("__r")
    }, Some(
      """WITH r AS (
        |  SELECT o_custkey, CAST(sum(
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |    (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
        |    AS BIGINT) AS r4
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1996-10-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1)
        |SELECT c_custkey, c_name, c_mktsegment,
        |  CAST(r4 AS DOUBLE) / 10000.0 AS revenue
        |FROM r JOIN customer ON o_custkey = c_custkey
        |ORDER BY r4 DESC, c_custkey LIMIT 20""".stripMargin)),

    // TPC-H Q12 shape — LINE PRIORITY AUDIT (no shipmode column here;
    // returnflag plays the mode bucket): lines shipped in 1996,
    // counting high- vs low-priority orders per bucket. One fact
    // shuffle on the order key, conditional map-side aggregate.
    QuerySpec("q242_shipmode_priority", (s, d) => {
      val o = Tables.orders(s, d).select($"o_orderkey", $"o_orderpriority")
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
        .select($"l_orderkey", $"l_returnflag")
        .join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag")
        .agg(sum(when($"o_orderpriority" === "1-URGENT" ||
            $"o_orderpriority" === "2-HIGH", 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when($"o_orderpriority" =!= "1-URGENT" &&
            $"o_orderpriority" =!= "2-HIGH", 1L).otherwise(0L))
            .as("low_line_count"))
        .orderBy($"l_returnflag")
    }, Some(
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN
        |    ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // TPC-H Q13 shape — CUSTOMER ORDER-COUNT DISTRIBUTION: how many
    // customers placed exactly k qualifying orders, INCLUDING k=0 —
    // the left-outer join whose unmatched rows are the point of the
    // query (count(o_orderkey) skips the nulls). Two aggregations:
    // per-customer (fact-sized shuffle) then per-count (≤ a few
    // hundred groups).
    QuerySpec("q243_cust_distribution", (s, d) => {
      val o = Tables.orders(s, d)
        .filter($"o_orderpriority" =!= "4-NOT SPECIFIED")
        .select($"o_orderkey", $"o_custkey")
      Tables.customer(s, d).select($"c_custkey")
        .join(o, $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("c_count"))
        .groupBy($"c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy($"custdist".desc, $"c_count".desc)
    }, Some(
      """WITH pc AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM pc GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // TPC-H Q14 shape — PROMOTION EFFECT: the share of one month's
    // revenue from PROMO-type parts. Both the numerator and the
    // denominator are exact 1e-4-unit longs, so the single division
    // (and hence the single output row) is bit-identical across
    // engines — a ratio of two doubles summed in engine-specific
    // order would not be. Part lookup is a partkey shuffle join after
    // the one-month scan prune.
    QuerySpec("q244_promo_revenue", (s, d) => {
      val p = Tables.part(s, d).select($"p_partkey", $"p_type")
      Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1997-09-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-10-01").cast("timestamp"))
        .select($"l_partkey",
          (floor($"l_extendedprice" * 100 + 0.5).cast("long") *
            (lit(100L) - floor($"l_discount" * 100 + 0.5).cast("long")))
            .as("__rev4"))
        .join(p, $"l_partkey" === $"p_partkey")
        .agg(sum(when($"p_type" === "PROMO", $"__rev4").otherwise(0L))
            .as("__pr"),
          sum($"__rev4").as("__tr"), count(lit(1)).as("n_lines"))
        .select((lit(100.0) * $"__pr".cast("double") /
            $"__tr".cast("double")).as("promo_pct"),
          $"n_lines")
    }, Some(
      """WITH li AS (
        |  SELECT l_partkey,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
        |      AS rev4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |    AND l_shipdate < TIMESTAMP '1997-10-01')
        |SELECT 100.0 * CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN rev4 ELSE 0 END) AS BIGINT) AS DOUBLE) /
        |    CAST(CAST(sum(rev4) AS BIGINT) AS DOUBLE) AS promo_pct,
        |  count(*) AS n_lines
        |FROM li JOIN part ON l_partkey = p_partkey""".stripMargin)),

    // TPC-H Q16 shape — PARTS/SUPPLIER RELATIONSHIP: how many
    // distinct suppliers can supply each surviving (brand, type,
    // size) combo. The supplies relation is lineitem's DISTINCT
    // (part, supp) pairs (no partsupp table in this schema); the
    // supplier denylist (negative balance, the complaints stand-in)
    // is a broadcast LEFT-ANTI; count(DISTINCT) rides Spark's expand
    // path on already-distinct pairs.
    QuerySpec("q245_parts_supplier", (s, d) => {
      val sizes = Seq(1, 4, 9, 16, 25, 36, 49)
      val p = Tables.part(s, d)
        .filter($"p_brand" =!= "Brand#3" && $"p_type" =!= "PROMO" &&
          $"p_size".isin(sizes: _*))
        .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
      val bad = Tables.supplier(s, d)
        .filter($"s_acctbal" < 0).select($"s_suppkey")
      Tables.lineitem(s, d)
        .select($"l_partkey", $"l_suppkey").distinct()
        .join(broadcast(bad), $"l_suppkey" === $"s_suppkey", "left_anti")
        .join(p, $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand", $"p_type", $"p_size")
        .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
        .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
    }, Some(
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) sp
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // TPC-H Q18 shape — LARGE-VOLUME CUSTOMERS: orders whose total
    // quantity clears a threshold, with customer attribution. The
    // qualifying set is a fact aggregate (quantities are integral
    // doubles — the long sum is exact), joined back to orders and
    // customer on their natural keys; top 100 by a pass-through
    // totalprice (identical bits on both engines) with key tiebreaks
    // via TakeOrdered.
    QuerySpec("q246_large_orders", (s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy($"l_orderkey")
        .agg(sum($"l_quantity".cast("long")).as("total_qty"))
        .filter($"total_qty" > 300L)
      Tables.orders(s, d)
        .join(big, $"o_orderkey" === $"l_orderkey")
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .select($"c_name", $"c_custkey", $"o_orderkey",
          date_format($"o_orderdate", "yyyy-MM-dd").as("o_date"),
          $"o_totalprice", $"total_qty")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(100)
    }, Some(
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |      AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS BIGINT)) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |  o_totalprice, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // TPC-H Q19 shape — DISJUNCTIVE DISCOUNTED REVENUE: three
    // (brand, size-range, quantity-range) OR branches. The join is a
    // plain partkey equi-join; the disjunction is a post-join filter
    // whose part-side conjuncts (brand ∈ {..}, size ≤ 15) still
    // prune the part scan — the plan guard asserts the pushed
    // filter. Single exact-integer output row.
    QuerySpec("q247_disjunctive_revenue", (s, d) => {
      val p = Tables.part(s, d)
        .filter($"p_brand".isin("Brand#12", "Brand#23", "Brand#34") &&
          $"p_size" >= 1 && $"p_size" <= 15)
        .select($"p_partkey", $"p_brand", $"p_size")
      Tables.lineitem(s, d)
        .select($"l_partkey", $"l_quantity",
          (floor($"l_extendedprice" * 100 + 0.5).cast("long") *
            (lit(100L) - floor($"l_discount" * 100 + 0.5).cast("long")))
            .as("__rev4"))
        .join(p, $"l_partkey" === $"p_partkey")
        .filter(($"p_brand" === "Brand#12" && $"p_size" <= 5 &&
            $"l_quantity" >= 1 && $"l_quantity" <= 11) ||
          ($"p_brand" === "Brand#23" && $"p_size" <= 10 &&
            $"l_quantity" >= 10 && $"l_quantity" <= 20) ||
          ($"p_brand" === "Brand#34" && $"p_size" <= 15 &&
            $"l_quantity" >= 20 && $"l_quantity" <= 30))
        .agg(sum($"__rev4").as("__r"), count(lit(1)).as("n_lines"))
        .select(($"__r".cast("double") / 10000.0).as("revenue"),
          $"n_lines")
    }, Some(
      """WITH j AS (
        |  SELECT p_brand, p_size, l_quantity,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |      (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
        |      AS rev4
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand IN ('Brand#12', 'Brand#23', 'Brand#34')
        |    AND p_size BETWEEN 1 AND 15)
        |SELECT CAST(CAST(sum(rev4) AS BIGINT) AS DOUBLE) / 10000.0
        |    AS revenue,
        |  count(*) AS n_lines
        |FROM j
        |WHERE (p_brand = 'Brand#12' AND p_size <= 5
        |    AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size <= 10
        |    AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size <= 15
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // TPC-H Q15 shape — TOP SUPPLIER(S) by quarterly revenue, ties
    // kept: per-supplier exact revenue, the maximum as a broadcast
    // 1-row aggregate (the view+subquery of the original), equality
    // join back. No global sort; the max is order-independent because
    // the sum is an integer.
    QuerySpec("q248_top_supplier", (s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
        .groupBy($"l_suppkey")
        .agg(sum(floor($"l_extendedprice" * 100 + 0.5).cast("long") *
          (lit(100L) - floor($"l_discount" * 100 + 0.5).cast("long")))
          .as("__r4"))
      val mx = rev.agg(max($"__r4").as("__mx"))
      rev.crossJoin(broadcast(mx)).filter($"__r4" === $"__mx")
        .join(broadcast(Tables.supplier(s, d)),
          $"l_suppkey" === $"s_suppkey")
        .select($"s_suppkey", $"s_name",
          ($"__r4".cast("double") / 10000.0).as("total_revenue"))
        .orderBy($"s_suppkey")
    }, Some(
      """WITH rev AS (
        |  SELECT l_suppkey, CAST(sum(
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) *
        |    (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
        |    AS BIGINT) AS r4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(r4 AS DOUBLE) / 10000.0
        |  AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE r4 = (SELECT max(r4) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),

    // HILBERT vs Z-ORDER LOCALITY — the measured half of the storage-
    // layout story: q100 lays files out on the Morton curve; this
    // query WALKS the data's own occupied grid cells in each curve's
    // index order and measures the spatial (Manhattan) jump between
    // consecutive cells — exactly the "how far apart on disk-order are
    // my next rows in space" number a clustered layout is chosen for.
    // Hilbert's defining property (consecutive indices are always
    // grid-adjacent; Morton jumps across power-of-two seams) shows up
    // as a smaller mean jump. The Hilbert index is a native integer
    // expression (`functions.HilbertIndexExpr`); the oracle replays
    // the public xy→d loop as a recursive CTE. Occupied cells are
    // ≤ 64×64 regardless of data size, so the walk window is bounded
    // by the GRID, not the table (the unpartitioned window is
    // bounded by construction).
    QuerySpec("q254_hilbert_locality", (s, d) => {
      import graft.operators.Layout
      val cells = Tables.part(s, d)
        .select(($"p_size".cast("long") % 64).as("x"),
          expr("(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)" +
            " div 100) % 64").as("y"))
        .distinct()
        .withColumn("h", Layout.hilbertValue($"x", $"y", 6))
        .withColumn("z", Layout.zValue($"x", $"y", 6))
      def walk(curve: String, idx: String) = {
        val w = Window.orderBy(col(idx))
        cells
          .withColumn("__px", lag($"x", 1).over(w))
          .withColumn("__py", lag($"y", 1).over(w))
          .filter($"__px".isNotNull)
          .select((abs($"x" - $"__px") + abs($"y" - $"__py")).as("__j"))
          .agg(count(lit(1)).as("n_steps"), sum($"__j").as("__s"),
            max($"__j").as("max_jump"))
          .select(lit(curve).as("curve"), $"n_steps",
            Fns.roundU($"__s".cast("double") / $"n_steps", 4)
              .as("mean_jump"),
            $"max_jump")
      }
      walk("hilbert", "h").unionByName(walk("zorder", "z"))
        .orderBy($"curve")
    }, Some(
      // Hilbert index replayed as the public xy→d loop in a recursive
      // CTE (6 levels, s = 32 → 1); Morton as q100's bit-interleave sum
      """WITH RECURSIVE cells AS (
        |  SELECT DISTINCT CAST(p_size AS BIGINT) % 64 AS x,
        |    ((CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) // 100)
        |      % 64) AS y
        |  FROM part),
        |hh(x0, y0, x, y, d, s) AS (
        |  SELECT x, y, x, y, CAST(0 AS BIGINT), CAST(32 AS BIGINT)
        |  FROM cells
        |  UNION ALL
        |  SELECT x0, y0,
        |    CASE WHEN (y & s) > 0 THEN x
        |         WHEN (x & s) > 0 THEN s - 1 - y ELSE y END,
        |    CASE WHEN (y & s) > 0 THEN y
        |         WHEN (x & s) > 0 THEN s - 1 - x ELSE x END,
        |    d + s * s * xor(
        |      3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END),
        |      CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END),
        |    s // 2
        |  FROM hh WHERE s > 0),
        |hidx AS (SELECT x0 AS x, y0 AS y, d AS h FROM hh WHERE s = 0),
        |zidx AS (SELECT x, y,
        |  (SELECT sum(((((x & 63) >> u.i) & 1) << (2*u.i))
        |            + ((((y & 63) >> u.i) & 1) << (2*u.i+1)))
        |   FROM range(0, 6) u(i)) AS z
        |  FROM cells),
        |idx AS (SELECT c.x, c.y, h.h, z.z FROM cells c
        |  JOIN hidx h ON c.x = h.x AND c.y = h.y
        |  JOIN zidx z ON c.x = z.x AND c.y = z.y),
        |hw AS (
        |  SELECT abs(x - lag(x) OVER (ORDER BY h))
        |       + abs(y - lag(y) OVER (ORDER BY h)) AS j
        |  FROM idx),
        |zw AS (
        |  SELECT abs(x - lag(x) OVER (ORDER BY z))
        |       + abs(y - lag(y) OVER (ORDER BY z)) AS j
        |  FROM idx)
        |SELECT 'hilbert' AS curve, count(j) AS n_steps,
        |  floor(CAST(CAST(sum(j) AS BIGINT) AS DOUBLE)
        |    / count(j) * 10000 + 0.5) / 10000.0 AS mean_jump,
        |  CAST(max(j) AS BIGINT) AS max_jump
        |FROM hw
        |UNION ALL
        |SELECT 'zorder', count(j),
        |  floor(CAST(CAST(sum(j) AS BIGINT) AS DOUBLE)
        |    / count(j) * 10000 + 0.5) / 10000.0,
        |  CAST(max(j) AS BIGINT)
        |FROM zw
        |ORDER BY curve""".stripMargin)),

    // GEOFENCING — point-in-polygon classification, the missing
    // companion to q190's radius join: which customers sit inside
    // each operating zone, with zone balance rollups. Crossing-number
    // parity in PURE INT64 (coordinates in micro-degrees, the PNPOLY
    // (y1>py)≠(y2>py) half-open rule skips horizontal edges and
    // counts ray-through-vertex hits exactly once; the "px left of
    // the edge at py" test is cross-multiplied by (y2−y1) with the
    // sign flip spelled out, so no division and no float anywhere —
    // both engines evaluate the identical integer predicate, shared
    // vertex-y collisions included). Plan shape: the polygon set is a
    // DIMENSION — broadcast nested-loop of points × 13 edge rows with
    // the crossing predicate inline, map-side partial counts, then a
    // shuffle of only the CROSSING rows (≈2 per inside point), never
    // |points|×|edges|. At a million-edge polygon layer the same
    // operator grid-buckets edges by y-band first (the Geo.radiusJoin
    // discipline); the parity math is unchanged.
    QuerySpec("q256_geofence", (s, d) => {
      val polys: Seq[(String, Seq[(Long, Long)])] = Seq(
        // (zone, vertices as (x=lon, y=lat) micro-degrees, CCW-ish,
        // closed implicitly) — tri/quad convex, "ell" CONCAVE so the
        // parity count genuinely exceeds 1 on real rows
        "ell" -> Seq((-79000000L, 45000000L), (-76000000L, 45000000L),
          (-76000000L, 46000000L), (-78000000L, 46000000L),
          (-78000000L, 48500000L), (-79000000L, 48500000L)),
        "quad" -> Seq((-75000000L, 45000000L), (-72000000L, 45500000L),
          (-71500000L, 48000000L), (-74500000L, 47500000L)),
        "tri" -> Seq((-79500000L, 41000000L), (-76000000L, 41500000L),
          (-78000000L, 44000000L)))
      val edges = { // scoped: the object's $-sugar stays unambiguous
        import s.implicits._
        polys.flatMap { case (z, vs) =>
          vs.zip(vs.tail :+ vs.head).map { case ((x1, y1), (x2, y2)) =>
            (z, x1, y1, x2, y2) } }
          .toDF("zone", "x1", "y1", "x2", "y2")
      }
      val pts = Tables.customer(s, d).select($"c_custkey",
        (lit(40000000L) +
          Sampling.consistentHash($"c_custkey") % 10000000L).as("py"),
        (lit(-80000000L) +
          Sampling.consistentHash($"c_custkey" + lit(1000003))
            % 10000000L).as("px"),
        floor($"c_acctbal" * 100 + 0.5).cast("long").as("__cents"))
      Geo.pointInPolygons(pts, "c_custkey", "px", "py", edges)
        .groupBy($"zone")
        .agg(count(lit(1)).as("n_inside"),
          sum($"__cents").as("balance_cents"))
        .orderBy($"zone")
    }, Some(
      // q256: the identical integer PNPOLY predicate over the same
      // VALUES edge list — parity per (zone, customer), then the rollup
      """WITH p AS (
        |  SELECT c_custkey,
        |    40000000 + ((c_custkey % 2147483647) * 2654435761
        |      % 4294967296) % 10000000 AS py,
        |    -80000000 + (((c_custkey + 1000003) % 2147483647)
        |      * 2654435761 % 4294967296) % 10000000 AS px,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
        |  FROM customer),
        |e(zone, x1, y1, x2, y2) AS (VALUES
        |  ('ell', -79000000, 45000000, -76000000, 45000000),
        |  ('ell', -76000000, 45000000, -76000000, 46000000),
        |  ('ell', -76000000, 46000000, -78000000, 46000000),
        |  ('ell', -78000000, 46000000, -78000000, 48500000),
        |  ('ell', -78000000, 48500000, -79000000, 48500000),
        |  ('ell', -79000000, 48500000, -79000000, 45000000),
        |  ('quad', -75000000, 45000000, -72000000, 45500000),
        |  ('quad', -72000000, 45500000, -71500000, 48000000),
        |  ('quad', -71500000, 48000000, -74500000, 47500000),
        |  ('quad', -74500000, 47500000, -75000000, 45000000),
        |  ('tri', -79500000, 41000000, -76000000, 41500000),
        |  ('tri', -76000000, 41500000, -78000000, 44000000),
        |  ('tri', -78000000, 44000000, -79500000, 41000000)),
        |cr AS (
        |  SELECT e.zone, p.c_custkey, count(*) AS k,
        |    max(cents) AS cents
        |  FROM p JOIN e ON ((y1 > py) <> (y2 > py)) AND
        |    (CASE WHEN y2 > y1
        |      THEN (py - y1) * (x2 - x1) - (px - x1) * (y2 - y1) > 0
        |      ELSE (py - y1) * (x2 - x1) - (px - x1) * (y2 - y1) < 0
        |     END)
        |  GROUP BY 1, 2)
        |SELECT zone, CAST(count(*) AS BIGINT) AS n_inside,
        |  CAST(sum(cents) AS BIGINT) AS balance_cents
        |FROM cr WHERE k % 2 = 1 GROUP BY zone ORDER BY zone""".stripMargin)),

    // L-DIVERSITY AUDIT — q152's k-anonymity bounds re-identification
    // by class SIZE, but a class whose members all share the
    // SENSITIVE value still leaks it (the homogeneity attack).
    // Distinct-l diversity per equivalence class over the same
    // quasi-identifiers (nation, balance band), sensitive = market
    // segment — computed as TWO STACKED hash aggregates (class+value,
    // then class) instead of count(distinct)'s EXPAND: the q31
    // discipline, one shuffle each, partials map-side. Per nation:
    // classes and rows below l = 3 and the worst class's diversity.
    QuerySpec("q257_l_diversity", (s, d) => {
      Tables.customer(s, d)
        .groupBy($"c_nationkey", floor($"c_acctbal" / 1000).as("__b"),
          $"c_mktsegment")
        .agg(count(lit(1)).as("__n"))
        .groupBy($"c_nationkey", $"__b")
        .agg(count(lit(1)).as("__l"), sum($"__n").as("__rows"))
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_classes"),
          sum(when($"__l" < 3, 1L).otherwise(0L))
            .as("n_risky_classes"),
          sum(when($"__l" < 3, $"__rows").otherwise(0L))
            .as("n_risky_rows"),
          min($"__l").as("min_l"))
        .orderBy($"c_nationkey")
    }, Some(
      // q257: the same two stacked aggregates, spelled out
      """WITH cls AS (
        |  SELECT c_nationkey, floor(c_acctbal / 1000) AS b,
        |    c_mktsegment, count(*) AS n
        |  FROM customer GROUP BY 1, 2, 3),
        |dv AS (
        |  SELECT c_nationkey, b, CAST(count(*) AS BIGINT) AS l,
        |    CAST(sum(n) AS BIGINT) AS nr
        |  FROM cls GROUP BY 1, 2)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_risky_classes,
        |  CAST(sum(CASE WHEN l < 3 THEN nr ELSE 0 END) AS BIGINT)
        |    AS n_risky_rows,
        |  min(l) AS min_l
        |FROM dv GROUP BY 1 ORDER BY c_nationkey""".stripMargin)),

    // TRADE AREAS — q190's radius join taken to its assignment
    // readout: every customer is assigned to its NEAREST depot within
    // 60 km (argmin), then depots roll up their captured demand. The
    // argmin rides min(struct(µkm, depot)) over INTEGER micro-km —
    // the distance is floored to int64 BEFORE the comparison, so the
    // selection never compares raw doubles and a µkm TIE breaks on
    // the depot key identically in both engines. Per-depot averages
    // ride exact integer sums. Top 15 depots by captured customers.
    QuerySpec("q258_trade_areas", (s, d) => {
      val (clat, clon) = Geo.syntheticPoint($"c_custkey")
      val cust = Tables.customer(s, d)
        .select($"c_custkey", clat.as("c_lat"), clon.as("c_lon"))
      val (slat, slon) = Geo.syntheticPoint($"s_suppkey" + lit(500000L))
      val sup = Tables.supplier(s, d)
        .select($"s_suppkey", slat.as("s_lat"), slon.as("s_lon"))
      Geo.radiusJoin(cust, "c_lat", "c_lon",
          sup, "s_lat", "s_lon", radiusKm = 60.0)
        .select($"c_custkey",
          struct(floor($"dist_km" * 1000000 + 0.5).cast("long")
            .as("um"), $"s_suppkey").as("__p"))
        .groupBy($"c_custkey").agg(min($"__p").as("__p"))
        .select($"c_custkey", $"__p.um".as("__um"),
          $"__p.s_suppkey".as("depot"))
        .groupBy($"depot")
        .agg(count(lit(1)).as("n_customers"),
          Fns.roundU(sum($"__um").cast("double") / count(lit(1))
            / 1000000.0, 4).as("avg_km"))
        .orderBy($"n_customers".desc, $"depot")
        .limit(15)
    }, Some(
      // q258: q190's cross-join-filter world, argmin by (µkm, depot)
      // via row_number — the deterministic-tie mirror of min(struct)
      s"""WITH c AS (
        |  SELECT c_custkey,
        |    $custCoordsSql
        |  FROM customer),
        |$supplierCoordsCte,
        |w AS (
        |  SELECT c.c_custkey, s.s_suppkey,
        |    CAST(floor(sqrt(((c.lat - s.lat) * 111.0)
        |        * ((c.lat - s.lat) * 111.0)
        |      + ((c.lon - s.lon) * 85.0) * ((c.lon - s.lon) * 85.0))
        |      * 1000000 + 0.5) AS BIGINT) AS um
        |  FROM c, s
        |  WHERE sqrt(((c.lat - s.lat) * 111.0)
        |        * ((c.lat - s.lat) * 111.0)
        |      + ((c.lon - s.lon) * 85.0) * ((c.lon - s.lon) * 85.0))
        |      <= 60.0),
        |near AS (
        |  SELECT c_custkey, um, s_suppkey AS depot,
        |    row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY um, s_suppkey) AS rn
        |  FROM w)
        |SELECT depot, CAST(count(*) AS BIGINT) AS n_customers,
        |  floor(CAST(sum(um) AS DOUBLE) / count(*) / 1000000.0
        |    * 10000 + 0.5) / 10000.0 AS avg_km
        |FROM near WHERE rn = 1 GROUP BY depot
        |ORDER BY n_customers DESC, depot LIMIT 15""".stripMargin)),

    // V-SHAPE PATTERN SCAN — MATCH_RECOGNIZE-class sequence
    // detection over per-desk daily revenue: a maximal strictly-DOWN
    // run of ≥ 2 moves immediately followed by a maximal strictly-UP
    // run of ≥ 2 moves. Moves classify day-over-day on EXACT integer
    // cents (flat days are their own class so they break both runs);
    // maximal runs come from the gaps-and-islands double
    // row_number; the pattern itself is a self-join of CONSECUTIVE
    // runs (up.start = down.end + 1 in the desk's row sequence) —
    // the regex "D{2,}U{2,}" as one equi-join. V depth = peak cents
    // (the value BEFORE the first down move, carried on each move
    // row by the lag) minus valley cents. Every window partitions by
    // desk — never a one-task window; the run table is ~runs-sized,
    // so the pattern join is tiny.
    QuerySpec("q259_vshape_patterns", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(($"o_custkey" % 97).cast("long").as("desk"),
          $"o_orderdate".as("dt"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("c"))
      val wd = Window.partitionBy($"desk").orderBy($"dt")
      val mv = daily
        .withColumn("__pc", lag($"c", 1).over(wd))
        .filter($"__pc".isNotNull)
        .withColumn("mv", when($"c" > $"__pc", 1)
          .when($"c" < $"__pc", -1).otherwise(0))
        .withColumn("__ra", row_number().over(wd))
        .withColumn("__rm", row_number().over(
          Window.partitionBy($"desk", $"mv").orderBy($"dt")))
      val runs = mv
        .groupBy($"desk", $"mv", ($"__ra" - $"__rm").as("__g"))
        .agg(count(lit(1)).as("len"),
          min($"__ra").as("srn"), max($"__ra").as("ern"),
          min(struct($"__ra", $"__pc")).getField("__pc").as("openv"),
          max(struct($"__ra", $"c")).getField("c").as("closev"))
      val dn = runs.filter($"mv" === -1 && $"len" >= 2)
        .select($"desk", $"ern".as("__de"), $"len".as("__dl"),
          ($"openv" - $"closev").as("__fall"))
      val up = runs.filter($"mv" === 1 && $"len" >= 2)
        .select($"desk".as("__k2"), $"srn".as("__us"),
          $"len".as("__ul"))
      dn.join(up, $"desk" === $"__k2" && $"__us" === $"__de" + 1)
        .groupBy($"desk")
        .agg(count(lit(1)).as("n_v"),
          max($"__fall").as("max_fall_cents"),
          max($"__dl" + $"__ul").as("max_span"))
        .orderBy($"n_v".desc, $"desk")
        .limit(20)
    }, Some(
      // q259: the same move classification, double row_number islands,
      // and consecutive-run join; run opens/closes via min_by/max_by
      """WITH daily AS (
        |  SELECT CAST(o_custkey % 97 AS BIGINT) AS desk,
        |    o_orderdate AS dt,
        |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
        |  FROM orders GROUP BY 1, 2),
        |lagged AS (
        |  SELECT desk, dt, c,
        |    lag(c) OVER (PARTITION BY desk ORDER BY dt) AS pc
        |  FROM daily),
        |mv AS (
        |  SELECT desk, dt, c, pc,
        |    CASE WHEN c > pc THEN 1 WHEN c < pc THEN -1 ELSE 0 END
        |      AS m,
        |    row_number() OVER (PARTITION BY desk ORDER BY dt) AS ra
        |  FROM lagged WHERE pc IS NOT NULL),
        |mv2 AS (
        |  SELECT *, ra - row_number() OVER (PARTITION BY desk, m
        |    ORDER BY dt) AS g FROM mv),
        |runs AS (
        |  SELECT desk, m, g, CAST(count(*) AS BIGINT) AS len,
        |    min(ra) AS srn, max(ra) AS ern,
        |    min_by(pc, ra) AS openv, max_by(c, ra) AS closev
        |  FROM mv2 GROUP BY 1, 2, 3),
        |dn AS (SELECT desk, ern, len AS dl, openv - closev AS fall
        |  FROM runs WHERE m = -1 AND len >= 2),
        |up AS (SELECT desk, srn, len AS ul
        |  FROM runs WHERE m = 1 AND len >= 2)
        |SELECT d.desk, CAST(count(*) AS BIGINT) AS n_v,
        |  CAST(max(d.fall) AS BIGINT) AS max_fall_cents,
        |  CAST(max(d.dl + u.ul) AS BIGINT) AS max_span
        |FROM dn d JOIN up u ON d.desk = u.desk AND u.srn = d.ern + 1
        |GROUP BY 1 ORDER BY n_v DESC, d.desk LIMIT 20""".stripMargin)),

    // FRACTIONAL-KNAPSACK BUDGET ALLOCATION — the greedy-selection
    // operator class at scale: spend 1 % of total catalog cost on the
    // best value-per-cost items (densest first, one fractional item
    // at the cut — optimal for the fractional relaxation). The
    // ENTIRE selection is integer-exact: value density ranks by
    // (v·10⁶ div c) — an int64 rational, never a float ratio — and
    // the "sort + running total + cut" rides the DISTRIBUTED
    // two-phase prefix scan (q76/q198's operator), so one global
    // greedy order costs a range shuffle, not a single-task window.
    // The budget, the cut item, and its awarded ppm fraction are all
    // exact integers; the oracle replays the identical arithmetic
    // with a window scan.
    QuerySpec("q262_budget_allocation", (s, d) => {
      val items = Tables.part(s, d)
        .select($"p_partkey".cast("long").as("key"),
          floor($"p_retailprice" * 100 + 0.5).cast("long").as("c"))
        .filter($"c" > 0)
        .withColumn("u", Sampling.consistentHash($"key") % 100L)
        .withColumn("v", $"c" + expr("(c * u) div 100"))
        .withColumn("nr", -expr("(v * 1000000) div c"))
        .withColumn("__g", lit(1))
      val cum = Packing.prefixSum(items, Seq("__g"), Seq("nr", "key"),
        "c", "cumc")
      val bud = items.agg(expr("sum(c) div 100").as("bud"))
      val j = cum.crossJoin(broadcast(bud))
      val full = j.filter($"cumc" <= $"bud")
        .agg(max($"bud").as("budget_cents"),
          count(lit(1)).as("n_full"),
          sum($"v").as("value_full"),
          max($"cumc").as("spent_full"))
      val partial = j.filter($"cumc" > $"bud" && $"cumc" - $"c" < $"bud")
        .select($"key".as("__pk"),
          expr("((bud - (cumc - c)) * 1000000) div c").as("__ppm"),
          expr("(v * (((bud - (cumc - c)) * 1000000) div c))" +
            " div 1000000").as("__pv"))
      full.join(partial, lit(true), "left")
        .select($"budget_cents", $"n_full", $"value_full",
          $"spent_full",
          coalesce($"__pk", lit(0L)).as("partial_key"),
          coalesce($"__ppm", lit(0L)).as("partial_ppm"),
          ($"value_full" + coalesce($"__pv", lit(0L)))
            .as("total_value"))
    }, Some(
      // q262: the same integer density rank and running-total cut as a
      // single window scan (fine at oracle scale; the engine side uses
      // the distributed two-phase prefix sum)
      """WITH it AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS key,
        |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM part WHERE floor(p_retailprice * 100 + 0.5) > 0),
        |iv AS (
        |  SELECT key, c,
        |    ((key % 2147483647) * 2654435761 % 4294967296) % 100 AS u
        |  FROM it),
        |vv AS (SELECT key, c, c + (c * u) // 100 AS v FROM iv),
        |rr AS (SELECT *, -((v * 1000000) // c) AS nr FROM vv),
        |cum AS (
        |  SELECT *, CAST(sum(c) OVER (ORDER BY nr, key
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc FROM rr),
        |b AS (SELECT CAST(sum(c) // 100 AS BIGINT) AS bud FROM rr),
        |f AS (
        |  SELECT max(bud) AS budget_cents,
        |    CAST(count(*) AS BIGINT) AS n_full,
        |    CAST(sum(v) AS BIGINT) AS value_full,
        |    CAST(max(cumc) AS BIGINT) AS spent_full
        |  FROM cum CROSS JOIN b WHERE cumc <= bud),
        |p AS (
        |  SELECT key AS pk,
        |    ((bud - (cumc - c)) * 1000000) // c AS ppm,
        |    (v * (((bud - (cumc - c)) * 1000000) // c)) // 1000000
        |      AS pv
        |  FROM cum CROSS JOIN b WHERE cumc > bud AND cumc - c < bud)
        |SELECT f.budget_cents, f.n_full, f.value_full, f.spent_full,
        |  CAST(coalesce(p.pk, 0) AS BIGINT) AS partial_key,
        |  CAST(coalesce(p.ppm, 0) AS BIGINT) AS partial_ppm,
        |  CAST(f.value_full + coalesce(p.pv, 0) AS BIGINT)
        |    AS total_value
        |FROM f LEFT JOIN p ON TRUE""".stripMargin)),

    // DATA-QUALITY SUITE — the dbt-test/Great-Expectations operator
    // class as ONE scan-bounded audit: a battery of integrity checks
    // (PK uniqueness as a two-level aggregate — never a
    // count-distinct EXPAND; FK orphans as left joins with the dim
    // broadcast; domain/range membership) plus policy checks that
    // flag real rows (quantity/price caps, freshness), emitted as a
    // uniform (check, n_checked, n_violations, pass) scorecard. Each
    // check is a one-row aggregate with map-side partials; the fact
    // tables are scanned once per check family, dimensions broadcast.
    QuerySpec("q266_dq_suite", (s, d) => {
      val cust = Tables.customer(s, d)
      val ord = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      def named(name: String, df: DataFrame): DataFrame =
        df.select(lit(name).as("check"), $"n_checked", $"n_violations")
      val checks = Seq(
        named("customer_pk_unique",
          cust.groupBy($"c_custkey").agg(count(lit(1)).as("__n"))
            .agg(sum($"__n").as("n_checked"),
              sum($"__n" - 1).as("n_violations"))),
        named("customer_segment_domain",
          cust.agg(count(lit(1)).as("n_checked"),
            sum(when(!$"c_mktsegment".isin("AUTOMOBILE", "HOUSEHOLD",
              "BUILDING", "FURNITURE", "MACHINERY"), 1L)
              .otherwise(0L)).as("n_violations"))),
        named("orders_custkey_fk",
          ord.select($"o_custkey")
            .join(broadcast(cust.select($"c_custkey")),
              $"o_custkey" === $"c_custkey", "left")
            .agg(count(lit(1)).as("n_checked"),
              sum(when($"c_custkey".isNull, 1L).otherwise(0L))
                .as("n_violations"))),
        named("orders_price_positive",
          ord.agg(count(lit(1)).as("n_checked"),
            sum(when($"o_totalprice" <= 0, 1L).otherwise(0L))
              .as("n_violations"))),
        named("orders_price_leq_500k_policy",
          ord.agg(count(lit(1)).as("n_checked"),
            sum(when($"o_totalprice" > 500000, 1L).otherwise(0L))
              .as("n_violations"))),
        named("orders_fresh_before_2001h2_policy",
          ord.agg(count(lit(1)).as("n_checked"),
            sum(when($"o_orderdate" >= "2001-07-01", 1L)
              .otherwise(0L)).as("n_violations"))),
        named("lineitem_orderkey_fk",
          li.select($"l_orderkey")
            .join(ord.select($"o_orderkey"),
              $"l_orderkey" === $"o_orderkey", "left")
            .agg(count(lit(1)).as("n_checked"),
              sum(when($"o_orderkey".isNull, 1L).otherwise(0L))
                .as("n_violations"))),
        named("lineitem_qty_in_1_50",
          li.agg(count(lit(1)).as("n_checked"),
            sum(when($"l_quantity" < 1 || $"l_quantity" > 50, 1L)
              .otherwise(0L)).as("n_violations"))),
        named("lineitem_qty_leq_45_policy",
          li.agg(count(lit(1)).as("n_checked"),
            sum(when($"l_quantity" > 45, 1L).otherwise(0L))
              .as("n_violations"))),
        named("lineitem_discount_in_0_10pct",
          li.agg(count(lit(1)).as("n_checked"),
            sum(when($"l_discount" < 0 || $"l_discount" > 0.10001, 1L)
              .otherwise(0L)).as("n_violations"))))
      checks.reduce(_ unionAll _)
        .withColumn("pass", $"n_violations" === 0)
        .orderBy($"check")
    }, Some(
      // q266: the same ten checks as one UNION ALL battery
      """WITH all_checks AS (
        |  SELECT 'customer_pk_unique' AS chk,
        |    CAST(sum(n) AS BIGINT) AS n_checked,
        |    CAST(sum(n - 1) AS BIGINT) AS n_violations
        |  FROM (SELECT count(*) AS n FROM customer GROUP BY c_custkey)
        |  UNION ALL
        |  SELECT 'customer_segment_domain', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN c_mktsegment NOT IN ('AUTOMOBILE',
        |      'HOUSEHOLD', 'BUILDING', 'FURNITURE', 'MACHINERY')
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'orders_custkey_fk', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM orders o LEFT JOIN customer c
        |    ON o.o_custkey = c.c_custkey
        |  UNION ALL
        |  SELECT 'orders_price_positive', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders_price_leq_500k_policy',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN o_totalprice > 500000 THEN 1 ELSE 0
        |      END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders_fresh_before_2001h2_policy',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN o_orderdate >= '2001-07-01'
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem_orderkey_fk', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0
        |      END) AS BIGINT)
        |  FROM lineitem l LEFT JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey
        |  UNION ALL
        |  SELECT 'lineitem_qty_in_1_50', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_qty_leq_45_policy',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_discount_in_0_10pct',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.10001
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem)
        |SELECT chk AS "check", n_checked, n_violations,
        |  n_violations = 0 AS pass
        |FROM all_checks ORDER BY chk""".stripMargin)),

    // SEQUENCE-GAP AUDIT — the missing-invoice-numbers check over the
    // finance extract (status 'F' orders): holes in the observed key
    // sequence, found SHARD-LOCALLY. The scale shape is the point: a
    // global lead() would be the one-task window, so keys bucket by
    // range (k div 10000), adjacency inside a bucket is a PARTITIONED
    // window, and the cross-bucket seams stitch through the
    // bucket-summary table — metadata-sized (one row per non-empty
    // bucket), where a global window is fine. Internal + seam gaps
    // together are EXACTLY global adjacency (the oracle computes the
    // global form — their equality is what the hash certifies).
    QuerySpec("q268_sequence_gaps", (s, d) => {
      val k = Tables.orders(s, d).filter($"o_orderstatus" === "F")
        .select($"o_orderkey".as("k")).distinct()
        .withColumn("bkt", expr("k div 10000"))
      val wi = Window.partitionBy($"bkt").orderBy($"k")
      val internal = k.withColumn("nx", lead($"k", 1).over(wi))
        .filter($"nx".isNotNull && $"nx" - $"k" > 1)
        .agg(count(lit(1)).as("__gi"),
          coalesce(sum($"nx" - $"k" - 1), lit(0L)).as("__mi"),
          coalesce(max($"nx" - $"k" - 1), lit(0L)).as("__xi"))
      val summary = k.groupBy($"bkt")
        .agg(min($"k").as("__mn"), max($"k").as("__mx"))
      val ws = Window.orderBy($"bkt") // bucket-count rows: metadata
      val seam = summary
        .withColumn("__nmn", lead($"__mn", 1).over(ws))
        .filter($"__nmn".isNotNull && $"__nmn" - $"__mx" > 1)
        .agg(count(lit(1)).as("__gb"),
          coalesce(sum($"__nmn" - $"__mx" - 1), lit(0L)).as("__mb"),
          coalesce(max($"__nmn" - $"__mx" - 1), lit(0L)).as("__xb"))
      val base = k.agg(count(lit(1)).as("n_present"))
      base.crossJoin(broadcast(internal)).crossJoin(broadcast(seam))
        .select($"n_present",
          ($"__gi" + $"__gb").as("n_gaps"),
          ($"__mi" + $"__mb").as("n_missing"),
          greatest($"__xi", $"__xb").as("max_gap"))
    }, Some(
      // q268: the GLOBAL adjacency form — equality with the engine's
      // bucket-local + seam-stitch decomposition is the audited claim
      """WITH k AS (
        |  SELECT DISTINCT o_orderkey AS k FROM orders
        |  WHERE o_orderstatus = 'F'),
        |dd AS (SELECT k, lead(k) OVER (ORDER BY k) AS nx FROM k),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(coalesce(sum(nx - k - 1), 0) AS BIGINT) AS n_missing,
        |    CAST(coalesce(max(nx - k - 1), 0) AS BIGINT) AS max_gap
        |  FROM dd WHERE nx IS NOT NULL AND nx - k > 1)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM k) AS n_present,
        |  n_gaps, n_missing, max_gap
        |FROM g""".stripMargin)),

    // ERASURE CASCADE — the right-to-be-forgotten audit: for a
    // requested delete set (every customer with custkey % 53 = 7),
    // the exact blast radius across the referencing tables before
    // any tombstone is written. Cascade membership is two broadcast
    // semi-joins down the FK chain (customer → orders → lineitem);
    // counts and the payment mass being erased are exact integers.
    QuerySpec("q272_erasure_cascade", (s, d) => {
      val del = Tables.customer(s, d)
        .filter($"c_custkey" % 53 === 7).select($"c_custkey")
      val ords = Tables.orders(s, d)
        .join(broadcast(del), $"o_custkey" === $"c_custkey",
          "left_semi")
      val li = Tables.lineitem(s, d)
        .join(ords.select($"o_orderkey".as("__ok")),
          $"l_orderkey" === $"__ok", "left_semi")
      val a = del.agg(count(lit(1)).as("n_customers"))
      val b = ords.agg(count(lit(1)).as("n_orders"),
        sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("erased_cents"))
      val c = li.agg(count(lit(1)).as("n_lineitems"))
      a.crossJoin(broadcast(b)).crossJoin(broadcast(c))
    }, Some(
      // q272: the same two-hop cascade as joins
      """WITH del AS (
        |  SELECT c_custkey FROM customer WHERE c_custkey % 53 = 7),
        |o AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM del)),
        |l AS (
        |  SELECT 1 AS x FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM o))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM del)
        |    AS n_customers,
        |  (SELECT CAST(count(*) AS BIGINT) FROM o) AS n_orders,
        |  (SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
        |    AS BIGINT)) AS BIGINT) FROM o) AS erased_cents,
        |  (SELECT CAST(count(*) AS BIGINT) FROM l) AS n_lineitems"""
        .stripMargin)),

    // ROUNDING-POLICY AUDIT — the finance-consolidation drift report:
    // the same per-order 7 % fee computed under three rounding
    // policies (truncate, half-up, half-even/banker's), each as pure
    // integer arithmetic on cents×100 fixed-point (half-even decides
    // the tie on the QUOTIENT's parity — spelled out, no library
    // rounding mode anywhere), then the per-nation totals and the
    // policy drift: Σhalf-up − Σhalf-even is the number an auditor
    // asks for, and it is exact here because every policy is a pure
    // int64 function both engines evaluate identically.
    QuerySpec("q278_rounding_policy", (s, d) => {
      val ord = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select($"c_custkey", $"c_nationkey")),
          $"o_custkey" === $"c_custkey")
        .select($"c_nationkey",
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("c"))
        // fee = 7% of cents → numerator n = 7·c over denominator 100
        .withColumn("__q", expr("(7 * c) div 100"))
        .withColumn("__r", expr("(7 * c) % 100"))
      val trunc = $"__q"
      val halfUp = $"__q" + when($"__r" >= 50, 1L).otherwise(0L)
      val halfEven = $"__q" + when($"__r" > 50, 1L)
        .when($"__r" === 50 && $"__q" % 2 === 1, 1L).otherwise(0L)
      ord.groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(trunc).as("fee_trunc"),
          sum(halfUp).as("fee_halfup"),
          sum(halfEven).as("fee_halfeven"),
          sum(halfUp - halfEven).as("policy_drift"))
        .orderBy($"c_nationkey")
    }, Some(
      // q278: the three integer rounding policies spelled out
      """WITH o AS (
        |  SELECT c.c_nationkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders JOIN customer c ON o_custkey = c_custkey),
        |f AS (
        |  SELECT c_nationkey, (7 * c) // 100 AS q, (7 * c) % 100 AS r
        |  FROM o)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(q) AS BIGINT) AS fee_trunc,
        |  CAST(sum(q + CASE WHEN r >= 50 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS fee_halfup,
        |  CAST(sum(q + CASE WHEN r > 50 THEN 1
        |    WHEN r = 50 AND q % 2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS fee_halfeven,
        |  CAST(sum(CASE WHEN r >= 50 THEN 1 ELSE 0 END
        |    - CASE WHEN r > 50 THEN 1
        |      WHEN r = 50 AND q % 2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS policy_drift
        |FROM f GROUP BY 1 ORDER BY c_nationkey""".stripMargin)),

    // JOIN-CARDINALITY ESTIMATION — the cost-based-optimizer
    // estimator as a first-class query, on a genuinely m:n join
    // (1995-96 lines ⋈ 1997+ lines per part — the cross-year
    // co-occurrence join): the MCV + uniform-tail model every CBO
    // keeps. Top-20 heavy keys ride the bounded TopKPerKey heap and
    // contribute Σ a_k·b_k EXACTLY; the tail uses System-R's
    // ta·tb div max(da, db) on the remaining mass. Everything is
    // integer to the end (the error is a floored ppm ratio), so the
    // (actual, estimate, err_ppm) readout — the number a CBO
    // regression suite tracks — is hash-exact across engines.
    QuerySpec("q279_join_cardinality", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select($"l_partkey".as("k"), $"l_shipdate")
      val a = li.filter($"l_shipdate" < "1997-01-01")
        .groupBy($"k").agg(count(lit(1)).as("ca"))
      val b = li.filter($"l_shipdate" >= "1997-01-01")
        .groupBy($"k").agg(count(lit(1)).as("cb"))
      val topB = graft.plans.TopKPerKey(
        b.withColumn("__g", lit(1)), Seq("__g"),
        Seq($"cb".desc, $"k".asc), k = 20).drop("__g")
      val top = topB.join(a, Seq("k"), "left")
        .agg(coalesce(sum($"ca" * $"cb"), lit(0L)).as("__top"),
          coalesce(sum($"cb"), lit(0L)).as("__btop"),
          coalesce(sum($"ca"), lit(0L)).as("__atop"),
          count(lit(1)).as("__ktop"))
      val sa = a.agg(sum($"ca").as("__ta"),
        count(lit(1)).as("__da"))
      val sb = b.agg(sum($"cb").as("__tb"),
        count(lit(1)).as("__db"))
      val actual = a.join(b, Seq("k"))
        .agg(coalesce(sum($"ca" * $"cb"), lit(0L)).as("actual"))
      top.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
        .crossJoin(broadcast(actual))
        .select($"actual",
          ($"__top" + expr("((__ta - __atop) * (__tb - __btop)) div " +
            "greatest(1L, greatest(__da - __ktop, __db - __ktop))"))
            .as("estimate"))
        // sign × |diff| quotient: the numerator stays non-negative so
        // Spark's trunc-div and DuckDB's floor-div agree
        .withColumn("err_ppm",
          expr("((abs(estimate - actual) * 1000000) div actual) * " +
            "(CASE WHEN estimate >= actual THEN 1L ELSE -1L END)"))
    }, Some(
      // q279: MCV top-20 via row_number, the same System-R tail
      """WITH li AS (
        |  SELECT l_partkey AS k, l_shipdate FROM lineitem),
        |a AS (SELECT k, CAST(count(*) AS BIGINT) AS ca FROM li
        |  WHERE l_shipdate < '1997-01-01' GROUP BY 1),
        |b AS (SELECT k, CAST(count(*) AS BIGINT) AS cb FROM li
        |  WHERE l_shipdate >= '1997-01-01' GROUP BY 1),
        |tb AS (SELECT k, cb FROM (
        |  SELECT k, cb, row_number() OVER (ORDER BY cb DESC, k) AS rn
        |  FROM b) WHERE rn <= 20),
        |top AS (
        |  SELECT CAST(coalesce(sum(a.ca * tb.cb), 0) AS BIGINT)
        |      AS topsum,
        |    CAST(coalesce(sum(tb.cb), 0) AS BIGINT) AS btop,
        |    CAST(coalesce(sum(a.ca), 0) AS BIGINT) AS atop,
        |    CAST(count(*) AS BIGINT) AS ktop
        |  FROM tb LEFT JOIN a ON tb.k = a.k),
        |sa AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
        |  CAST(count(*) AS BIGINT) AS da FROM a),
        |sb AS (SELECT CAST(sum(cb) AS BIGINT) AS tbb,
        |  CAST(count(*) AS BIGINT) AS db FROM b),
        |act AS (SELECT CAST(coalesce(sum(a.ca * b.cb), 0) AS BIGINT)
        |  AS actual FROM a JOIN b ON a.k = b.k),
        |e AS (
        |  SELECT act.actual,
        |    topsum + ((ta - atop) * (tbb - btop))
        |      // greatest(1, greatest(da - ktop, db - ktop))
        |      AS estimate
        |  FROM top CROSS JOIN sa CROSS JOIN sb CROSS JOIN act)
        |SELECT actual, CAST(estimate AS BIGINT) AS estimate,
        |  CAST(((abs(estimate - actual) * 1000000) // actual)
        |    * (CASE WHEN estimate >= actual THEN 1 ELSE -1 END)
        |    AS BIGINT) AS err_ppm
        |FROM e""".stripMargin)),

    // OLAP CUBE — the multi-level rollup surface itself (every BI tool
    // emits it): all four grouping levels of (priority, returnflag) in
    // ONE pass (Catalyst expands the cube in the aggregate, not by
    // rescanning per level), revenue on the exact-cents integer path,
    // the level tagged by grouping_id so subtotal rows are first-class
    // addressable output. NULLs in grouping columns are the rollup
    // marker; the ORDER BY pins their position identically on both
    // engines (ASC NULLS FIRST).
    QuerySpec("q280_cube_grouping", (s, d) => {
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .select($"o_orderpriority", $"l_returnflag",
          floor($"l_extendedprice" * 100 + 0.5).cast("long").as("__c"))
        .cube($"o_orderpriority", $"l_returnflag")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_lines"),
          sum($"__c").as("revenue_cents"))
        .orderBy($"gid", $"o_orderpriority".asc_nulls_first,
          $"l_returnflag".asc_nulls_first)
    }, Some(
      // q280: GROUPING(a)*2 + GROUPING(b) is Spark's grouping_id bit
      // order (first cube column = MSB)
      """WITH j AS (
        |  SELECT o_orderpriority, l_returnflag,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT o_orderpriority, l_returnflag,
        |  CAST(GROUPING(o_orderpriority) * 2 + GROUPING(l_returnflag)
        |    AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(c) AS BIGINT) AS revenue_cents
        |FROM j GROUP BY CUBE (o_orderpriority, l_returnflag)
        |ORDER BY gid, o_orderpriority ASC NULLS FIRST,
        |  l_returnflag ASC NULLS FIRST""".stripMargin)),

    // PIVOT — the long→wide reshape every BI export runs: segment ×
    // order-year revenue matrix in exact cents. The year values are
    // ENUMERATED (`.pivot(col, values)`), which skips Spark's extra
    // distinct-collection job AND fixes the output schema at plan
    // time — at 100 TB a discovery pass over the fact table just to
    // learn 7 known column names is a full scan wasted. Missing cells
    // are 0 (na.fill), matching the oracle's coalesce.
    QuerySpec("q286_pivot", (s, d) => {
      val o = Tables.orders(s, d)
        .select($"o_custkey",
          concat(lit("y"), year($"o_orderdate")).as("__yr"),
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("__c"))
      val c = Tables.customer(s, d)
        .select($"c_custkey", $"c_mktsegment")
      o.join(broadcast(c), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .pivot("__yr", Seq("y1992", "y1993", "y1994", "y1995",
          "y1996", "y1997", "y1998"))
        .agg(sum($"__c"))
        .na.fill(0L)
        .orderBy($"c_mktsegment")
    }, Some(
      // q286: the conditional-aggregation expansion pivot replaces
      """WITH j AS (
        |  SELECT c_mktsegment, year(o_orderdate) AS yr,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment,
        |  CAST(coalesce(sum(CASE WHEN yr = 1992 THEN c END), 0)
        |    AS BIGINT) AS y1992,
        |  CAST(coalesce(sum(CASE WHEN yr = 1993 THEN c END), 0)
        |    AS BIGINT) AS y1993,
        |  CAST(coalesce(sum(CASE WHEN yr = 1994 THEN c END), 0)
        |    AS BIGINT) AS y1994,
        |  CAST(coalesce(sum(CASE WHEN yr = 1995 THEN c END), 0)
        |    AS BIGINT) AS y1995,
        |  CAST(coalesce(sum(CASE WHEN yr = 1996 THEN c END), 0)
        |    AS BIGINT) AS y1996,
        |  CAST(coalesce(sum(CASE WHEN yr = 1997 THEN c END), 0)
        |    AS BIGINT) AS y1997,
        |  CAST(coalesce(sum(CASE WHEN yr = 1998 THEN c END), 0)
        |    AS BIGINT) AS y1998
        |FROM j GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),

    // UNPIVOT — the wide→long dual (Spark's Dataset.unpivot / SQL
    // UNPIVOT): per-brand part metrics melted to (brand, metric,
    // value) rows. All three measures ride int64 so the melted value
    // column has one exact type; the oracle is the UNION ALL
    // expansion the operator replaces.
    QuerySpec("q287_unpivot", (s, d) => {
      Tables.part(s, d)
        .groupBy($"p_brand")
        .agg(sum(floor($"p_retailprice" * 100 + 0.5).cast("long"))
            .as("retail_cents"),
          sum($"p_size".cast("long")).as("total_size"),
          count(lit(1)).as("n_parts"))
        .unpivot(Array(col("p_brand")),
          Array(col("retail_cents"), col("total_size"),
            col("n_parts")),
          "metric", "value")
        .orderBy($"p_brand", $"metric")
    }, Some(
      // q287: the UNION ALL expansion unpivot replaces
      """WITH a AS (
        |  SELECT p_brand,
        |    CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS retail_cents,
        |    CAST(sum(p_size) AS BIGINT) AS total_size,
        |    CAST(count(*) AS BIGINT) AS n_parts
        |  FROM part GROUP BY 1)
        |SELECT p_brand, 'retail_cents' AS metric,
        |  retail_cents AS value FROM a
        |UNION ALL
        |SELECT p_brand, 'total_size', total_size FROM a
        |UNION ALL
        |SELECT p_brand, 'n_parts', n_parts FROM a
        |ORDER BY p_brand, metric""".stripMargin)),

    // RUNNING DISTINCT — cumulative distinct customers per segment by
    // month, the "total logos to date" curve. COUNT(DISTINCT) over an
    // expanding window is inexpressible/explosive in both engines; the
    // scale form is first-occurrence semantics: distinct collapses to
    // each customer's FIRST month (one hash aggregate over (segment,
    // customer)), then a prefix sum over the ≤84-row month spine per
    // segment — the window runs over month counts, never customer
    // rows.
    QuerySpec("q289_running_distinct", (s, d) => {
      val c = Tables.customer(s, d)
        .select($"c_custkey", $"c_mktsegment")
      val fm = Tables.orders(s, d)
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .select($"c_mktsegment", $"o_custkey",
          ((year($"o_orderdate") - 1992) * 12 +
            month($"o_orderdate") - 1).cast("long").as("__m"))
        .groupBy($"c_mktsegment", $"o_custkey")
        .agg(min($"__m").as("month_idx"))
      val w = Window.partitionBy($"c_mktsegment").orderBy($"month_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      fm.groupBy($"c_mktsegment", $"month_idx")
        .agg(count(lit(1)).as("n_new"))
        .select($"c_mktsegment", $"month_idx", $"n_new",
          sum($"n_new").over(w).as("cum_distinct"))
        .orderBy($"c_mktsegment", $"month_idx")
    }, Some(
      // q289: first-month collapse + prefix sum over the month spine
      """WITH fm AS (
        |  SELECT c_mktsegment, o_custkey,
        |    min(CAST((year(o_orderdate) - 1992) * 12
        |      + month(o_orderdate) - 1 AS BIGINT)) AS month_idx
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |n AS (SELECT c_mktsegment, month_idx,
        |    CAST(count(*) AS BIGINT) AS n_new
        |  FROM fm GROUP BY 1, 2)
        |SELECT c_mktsegment, month_idx, n_new,
        |  CAST(sum(n_new) OVER (PARTITION BY c_mktsegment
        |    ORDER BY month_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_distinct
        |FROM n ORDER BY c_mktsegment, month_idx""".stripMargin)),

    // ROLLUP — the hierarchy-subtotal dual of q280's CUBE: region →
    // nation revenue with per-region subtotals and the grand total,
    // one Expand+aggregate pass, levels tagged by grouping_id. The
    // dims chain down broadcast joins onto orders; revenue rides
    // exact cents.
    QuerySpec("q291_rollup", (s, d) => {
      val c = Tables.customer(s, d).select($"c_custkey", $"c_nationkey")
      val n = Tables.nation(s, d)
        .select($"n_nationkey", $"n_name", $"n_regionkey")
      val r = Tables.region(s, d).select($"r_regionkey", $"r_name")
      Tables.orders(s, d)
        .select($"o_custkey",
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("__c"))
        .join(broadcast(c), $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_orders"),
          sum($"__c").as("revenue_cents"))
        .orderBy($"gid", $"r_name".asc_nulls_first,
          $"n_name".asc_nulls_first)
    }, Some(
      // q291: GROUP BY ROLLUP, same grouping_id bit order as q280
      """WITH j AS (
        |  SELECT r_name, n_name,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey)
        |SELECT r_name, n_name,
        |  CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT)
        |    AS gid,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(c) AS BIGINT) AS revenue_cents
        |FROM j GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY gid, r_name ASC NULLS FIRST,
        |  n_name ASC NULLS FIRST""".stripMargin)),

    // GRID-DENSITY CLUSTERING — the DBSCAN point taxonomy
    // (core / border / noise) on the grid approximation that scales:
    // one hash aggregate folds N points to ≤1600 cells, and ALL
    // density logic (3×3 neighborhood sums, the core test, core
    // adjacency for border cells) runs on the metadata-sized cell
    // table — the 9× neighbor replication multiplies cells, never
    // points. Core ⟺ 1600·nbhd ≥ 9·N (density ≥ the uniform
    // expectation, cross-multiplied to integers); border = non-core
    // cell with a core cell among its 9 neighbors; the rest is
    // noise. Coordinates are CHAINED Knuth hashes (cy hashes cx's
    // hash, not the key) — two affine-in-key hashes land every point
    // on one line of the grid (u2 − u1 is constant mod 2³²), which
    // collapses the taxonomy to all-core; the chained form breaks
    // the linearity through the mod-p reduction between multiplies.
    QuerySpec("q292_dbscan_grid", (s, d) => {
      val u1 = Sampling.consistentHash($"c_custkey")
      val u2 = Sampling.consistentHash(u1 + lit(1000003L))
      val cells = Tables.customer(s, d)
        .select(
          floor(u1.cast("double") / 4294967296.0 * 40.0)
            .cast("long").as("cx"),
          floor(u2.cast("double") / 4294967296.0 * 40.0)
            .cast("long").as("cy"))
        .groupBy($"cx", $"cy").agg(count(lit(1)).as("cnt"))
      val offs = { import s.implicits._
        (for (dx <- -1 to 1; dy <- -1 to 1) yield (dx.toLong, dy.toLong))
          .toDF("dx", "dy") }
      val nbhd = cells.crossJoin(broadcast(offs))
        .groupBy(($"cx" + $"dx").as("cx"), ($"cy" + $"dy").as("cy"))
        .agg(sum($"cnt").as("nbhd"))
      val nPts = cells.agg(sum($"cnt").as("__n"))
      val tab = cells.join(nbhd, Seq("cx", "cy"))
        .crossJoin(broadcast(nPts))
        .withColumn("__core", $"nbhd" * 1600 >= $"__n" * 9)
      val coreCells = tab.filter($"__core").select($"cx", $"cy")
      val borderCells = tab.filter(!$"__core")
        .crossJoin(broadcast(offs))
        .select(($"cx" + $"dx").as("cx"), ($"cy" + $"dy").as("cy"),
          $"cx".as("__ox"), $"cy".as("__oy"))
        .join(coreCells, Seq("cx", "cy"), "left_semi")
        .select($"__ox".as("cx"), $"__oy".as("cy")).distinct()
      tab.join(borderCells.withColumn("__b", lit(true)),
          Seq("cx", "cy"), "left")
        .select($"cnt",
          when($"__core", "core").when($"__b", "border")
            .otherwise("noise").as("cls"))
        .groupBy($"cls")
        .agg(count(lit(1)).as("n_cells"), sum($"cnt").as("n_points"))
        .orderBy($"cls")
    }, Some(
      // q292: same chained Knuth-hash cells, same cross-multiplied core
      // test, border via core adjacency
      """WITH h AS (
        |  SELECT (c_custkey % 2147483647) * 2654435761 % 4294967296
        |    AS u1 FROM customer),
        |pts AS (
        |  SELECT
        |    CAST(floor(u1 / 4294967296.0 * 40.0) AS BIGINT) AS cx,
        |    CAST(floor(((u1 + 1000003) % 2147483647) * 2654435761
        |      % 4294967296 / 4294967296.0 * 40.0) AS BIGINT) AS cy
        |  FROM h),
        |cells AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS cnt
        |  FROM pts GROUP BY 1, 2),
        |nbhd AS (
        |  SELECT c.cx + o1.dx AS cx, c.cy + o2.dy AS cy,
        |    CAST(sum(cnt) AS BIGINT) AS nbhd
        |  FROM cells c, range(-1, 2) o1(dx), range(-1, 2) o2(dy)
        |  GROUP BY 1, 2),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cells),
        |tab AS (
        |  SELECT cells.cx, cells.cy, cells.cnt, nbhd.nbhd,
        |    nbhd.nbhd * 1600 >= n.n * 9 AS core
        |  FROM cells JOIN nbhd USING (cx, cy) CROSS JOIN n),
        |cc AS (SELECT cx, cy FROM tab WHERE core),
        |bd AS (
        |  SELECT DISTINCT t.cx, t.cy
        |  FROM tab t, range(-1, 2) o1(dx), range(-1, 2) o2(dy)
        |  JOIN cc ON cc.cx = t.cx + o1.dx AND cc.cy = t.cy + o2.dy
        |  WHERE NOT t.core)
        |SELECT CASE WHEN t.core THEN 'core'
        |    WHEN bd.cx IS NOT NULL THEN 'border'
        |    ELSE 'noise' END AS cls,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(t.cnt) AS BIGINT) AS n_points
        |FROM tab t LEFT JOIN bd ON t.cx = bd.cx AND t.cy = bd.cy
        |GROUP BY 1 ORDER BY cls""".stripMargin)),

    // GEO k-NN — each customer's 3 nearest depots within 60 km,
    // through the radius-join grid (candidates only from the 3×3
    // cell neighborhood) and the bounded-heap TopKPerKey cut — never
    // a per-customer sort of the full candidate list. Distances
    // compare as exact integer micro-km (ties broken on depot id
    // inside the struct), and the readout — how many customers rank
    // each depot in their top 3 / at rank 1 — is the site-planning
    // number the k=1 assignment (q258) cannot see.
    QuerySpec("q293_geo_knn", (s, d) => {
      val (clat, clon) = Geo.syntheticPoint($"c_custkey")
      val cust = Tables.customer(s, d)
        .select($"c_custkey", clat.as("c_lat"), clon.as("c_lon"))
      val (slat, slon) = Geo.syntheticPoint($"s_suppkey" + lit(500000L))
      val sup = Tables.supplier(s, d)
        .select($"s_suppkey", slat.as("s_lat"), slon.as("s_lon"))
      val cand = Geo.radiusJoin(cust, "c_lat", "c_lon",
          sup, "s_lat", "s_lon", radiusKm = 60.0)
        .select($"c_custkey", $"s_suppkey",
          floor($"dist_km" * 1000000 + 0.5).cast("long").as("um"))
      val top3 = graft.plans.TopKPerKey(cand, Seq("c_custkey"),
        Seq($"um".asc, $"s_suppkey".asc), k = 3)
      val r1 = cand.groupBy($"c_custkey")
        .agg(min(struct($"um", $"s_suppkey")).as("__m"))
        .select($"__m.s_suppkey".as("s_suppkey"))
        .groupBy($"s_suppkey").agg(count(lit(1)).as("n_rank1"))
      top3.groupBy($"s_suppkey").agg(count(lit(1)).as("n_top3"))
        .join(r1, Seq("s_suppkey"), "left")
        .select($"s_suppkey".as("depot"), $"n_top3",
          coalesce($"n_rank1", lit(0L)).as("n_rank1"))
        .orderBy($"n_top3".desc, $"depot")
        .limit(15)
    }, Some(
      // q293: the oracle ranks the cartesian + radius filter (q190's
      // model) with the identical (um, depot) tie order
      s"""WITH c AS (
        |  SELECT c_custkey,
        |    $custCoordsSql
        |  FROM customer),
        |$supplierCoordsCte,
        |w AS (
        |  SELECT c.c_custkey, s.s_suppkey,
        |    CAST(floor(sqrt(((c.lat - s.lat) * 111.0)
        |        * ((c.lat - s.lat) * 111.0)
        |      + ((c.lon - s.lon) * 85.0) * ((c.lon - s.lon) * 85.0))
        |      * 1000000 + 0.5) AS BIGINT) AS um
        |  FROM c, s
        |  WHERE sqrt(((c.lat - s.lat) * 111.0)
        |      * ((c.lat - s.lat) * 111.0)
        |    + ((c.lon - s.lon) * 85.0) * ((c.lon - s.lon) * 85.0))
        |    <= 60.0),
        |r AS (
        |  SELECT c_custkey, s_suppkey, um, row_number() OVER (
        |    PARTITION BY c_custkey ORDER BY um, s_suppkey) AS rn
        |  FROM w),
        |t3 AS (SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_top3
        |  FROM r WHERE rn <= 3 GROUP BY 1),
        |r1 AS (SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_rank1
        |  FROM r WHERE rn = 1 GROUP BY 1)
        |SELECT t3.s_suppkey AS depot, n_top3,
        |  CAST(coalesce(n_rank1, 0) AS BIGINT) AS n_rank1
        |FROM t3 LEFT JOIN r1 USING (s_suppkey)
        |ORDER BY n_top3 DESC, depot LIMIT 15""".stripMargin)),

    // INTERVAL MERGE — gaps-and-islands on real intervals (each
    // line's [order, ship] fulfillment window per supplier): islands
    // form where an interval's start exceeds the running max end of
    // everything before it in (start, end DESC) order — the end-DESC
    // tiebreak matters for determinism: with equal starts, end-ASC
    // first would let the short interval's end under-seed the prefix
    // max and the tie ORDER would decide island starts. Coverage
    // (busy days), idle days and the overlap ratio are the
    // utilization numbers interval UNION answers and q125's
    // concurrency histogram cannot. One partitioned window pass +
    // two hash aggregates; ratios are floored ppm integers.
    QuerySpec("q294_interval_merge", (s, d) => {
      val iv = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .select($"l_suppkey",
          datediff($"o_orderdate", lit("1992-01-01").cast("date"))
            .cast("long").as("d1"),
          datediff($"l_shipdate", lit("1992-01-01").cast("date"))
            .cast("long").as("d2"))
        .filter($"d2" >= $"d1")
      val ord = Window.partitionBy($"l_suppkey")
        .orderBy($"d1", $"d2".desc)
      val flagged = iv
        .withColumn("__pm", max($"d2").over(
          ord.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("__st",
          when($"__pm".isNull || $"d1" > $"__pm", 1L).otherwise(0L))
        .withColumn("__isl", sum($"__st").over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val islands = flagged.groupBy($"l_suppkey", $"__isl")
        .agg(min($"d1").as("__s"), max($"d2").as("__e"),
          count(lit(1)).as("__n"),
          sum($"d2" - $"d1" + 1).as("__ivdays"))
      islands.groupBy($"l_suppkey")
        .agg(count(lit(1)).as("n_islands"),
          sum($"__e" - $"__s" + 1).as("coverage_days"),
          max($"__e" - $"__s" + 1).as("max_island_days"),
          sum($"__ivdays").as("__tot"))
        .select($"l_suppkey".as("supplier"), $"n_islands",
          $"coverage_days", $"max_island_days",
          expr("((__tot - coverage_days) * 1000000) div __tot")
            .as("overlap_ppm"))
        .orderBy($"coverage_days".desc, $"supplier")
        .limit(20)
    }, Some(
      // q294: identical (d1, d2 DESC) order, identical prefix-max
      // island derivation
      """WITH iv AS (
        |  SELECT l_suppkey,
        |    CAST(datediff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS d1,
        |    CAST(datediff('day', DATE '1992-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS d2
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE CAST(l_shipdate AS DATE)
        |    >= CAST(o_orderdate AS DATE)),
        |f AS (
        |  SELECT l_suppkey, d1, d2,
        |    max(d2) OVER (PARTITION BY l_suppkey ORDER BY d1, d2 DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS pm
        |  FROM iv),
        |g AS (
        |  SELECT l_suppkey, d1, d2,
        |    CASE WHEN pm IS NULL OR d1 > pm THEN 1 ELSE 0 END AS st
        |  FROM f),
        |h AS (
        |  SELECT l_suppkey, d1, d2,
        |    sum(st) OVER (PARTITION BY l_suppkey ORDER BY d1, d2 DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS isl
        |  FROM g),
        |islands AS (
        |  SELECT l_suppkey, isl, min(d1) AS s, max(d2) AS e,
        |    CAST(sum(d2 - d1 + 1) AS BIGINT) AS ivdays
        |  FROM h GROUP BY 1, 2),
        |agg AS (
        |  SELECT l_suppkey AS supplier,
        |    CAST(count(*) AS BIGINT) AS n_islands,
        |    CAST(sum(e - s + 1) AS BIGINT) AS coverage_days,
        |    CAST(max(e - s + 1) AS BIGINT) AS max_island_days,
        |    CAST(sum(ivdays) AS BIGINT) AS tot
        |  FROM islands GROUP BY 1)
        |SELECT supplier, n_islands, coverage_days, max_island_days,
        |  CAST(((tot - coverage_days) * 1000000) // tot AS BIGINT)
        |    AS overlap_ppm
        |FROM agg ORDER BY coverage_days DESC, supplier
        |LIMIT 20""".stripMargin)),

    // EXACT-INTEGER NEAREST NEIGHBOR — q258's assignment with the
    // final sqrt kept OUT of float space: coordinates quantized to
    // integer micro-degrees, the axis-scaled squared distance summed
    // in int64, and the root taken by the native `isqrt` expression
    // (functions.IntMath — floor(√x) exact for every int64, where
    // floor(sqrt(double)) mis-floors near perfect squares and above
    // 2⁵³). The oracle seeds from DuckDB's own floor(sqrt) and
    // applies the same ±1 integer correction, so hash equality
    // certifies the native expression against an independent
    // implementation on every candidate pair.
    QuerySpec("q295_exact_int_nn", (s, d) => {
      val (clat, clon) = Geo.syntheticPoint($"c_custkey")
      val cust = Tables.customer(s, d)
        .select($"c_custkey", clat.as("c_lat"), clon.as("c_lon"))
      val (slat, slon) = Geo.syntheticPoint($"s_suppkey" + lit(500000L))
      val sup = Tables.supplier(s, d)
        .select($"s_suppkey", slat.as("s_lat"), slon.as("s_lon"))
      val cand = Geo.radiusJoin(cust, "c_lat", "c_lon",
          sup, "s_lat", "s_lon", radiusKm = 60.0)
        .select($"c_custkey", $"s_suppkey",
          (floor($"c_lat" * 1000000).cast("long") -
            floor($"s_lat" * 1000000).cast("long")).as("__dx"),
          (floor($"c_lon" * 1000000).cast("long") -
            floor($"s_lon" * 1000000).cast("long")).as("__dy"))
        .select($"c_custkey", $"s_suppkey",
          expr("isqrt((111 * __dx) * (111 * __dx) + " +
            "(85 * __dy) * (85 * __dy))").as("um"))
      cand.groupBy($"c_custkey")
        .agg(min(struct($"um", $"s_suppkey")).as("__m"))
        .select($"__m.um".as("um"), $"__m.s_suppkey".as("depot"))
        .groupBy($"depot")
        .agg(count(lit(1)).as("n_customers"), sum($"um").as("sum_um"))
        .withColumn("mean_um", expr("sum_um div n_customers"))
        .orderBy($"n_customers".desc, $"depot")
        .limit(15)
    }, Some(
      // q295: DuckDB's floor(sqrt) seed + the same ±1 integer
      // correction = an independent exact isqrt
      s"""WITH c AS (
        |  SELECT c_custkey,
        |    $custCoordsSql
        |  FROM customer),
        |$supplierCoordsCte,
        |w AS (
        |  SELECT c.c_custkey, s.s_suppkey,
        |    CAST(floor(c.lat * 1000000) AS BIGINT)
        |      - CAST(floor(s.lat * 1000000) AS BIGINT) AS dx,
        |    CAST(floor(c.lon * 1000000) AS BIGINT)
        |      - CAST(floor(s.lon * 1000000) AS BIGINT) AS dy
        |  FROM c, s
        |  WHERE sqrt(((c.lat - s.lat) * 111.0)
        |      * ((c.lat - s.lat) * 111.0)
        |    + ((c.lon - s.lon) * 85.0) * ((c.lon - s.lon) * 85.0))
        |    <= 60.0),
        |e AS (SELECT c_custkey, s_suppkey,
        |    (111 * dx) * (111 * dx) + (85 * dy) * (85 * dy) AS d2
        |  FROM w),
        |f AS (SELECT c_custkey, s_suppkey, d2,
        |    CAST(floor(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT) AS f0
        |  FROM e),
        |q AS (SELECT c_custkey, s_suppkey,
        |    CASE WHEN (f0 + 1) * (f0 + 1) <= d2 THEN f0 + 1
        |      WHEN f0 > 0 AND f0 * f0 > d2 THEN f0 - 1
        |      ELSE f0 END AS um
        |  FROM f),
        |a AS (SELECT c_custkey, s_suppkey, um, row_number() OVER (
        |    PARTITION BY c_custkey ORDER BY um, s_suppkey) AS rn
        |  FROM q)
        |SELECT s_suppkey AS depot, CAST(count(*) AS BIGINT)
        |    AS n_customers,
        |  CAST(sum(um) AS BIGINT) AS sum_um,
        |  CAST(CAST(sum(um) AS BIGINT) // count(*) AS BIGINT)
        |    AS mean_um
        |FROM a WHERE rn = 1 GROUP BY 1
        |ORDER BY n_customers DESC, depot LIMIT 15""".stripMargin)),

    // RANGE-INTERVAL FRAME — the window semantics ROWS frames get
    // WRONG on sparse time series: RANGE BETWEEN 29 PRECEDING uses
    // VALUE distance, so calendar gaps shrink the trailing window
    // instead of silently reaching further back in time (a ROWS
    // BETWEEN 29 PRECEDING over gappy days spans >30 calendar days).
    // Peak trailing-30-day revenue per nation, exact cents, the
    // (value, day) argmax via one max(struct) — ties resolved on the
    // later day identically on both engines.
    QuerySpec("q297_range_frame", (s, d) => {
      val daily = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select($"c_custkey", $"c_nationkey")),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_nationkey",
          datediff($"o_orderdate", lit("1992-01-01").cast("date"))
            .cast("long").as("__day"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("__c"))
      val w = Window.partitionBy($"c_nationkey").orderBy($"__day")
        .rangeBetween(-29, 0)
      daily.select($"c_nationkey", $"__day",
          sum($"__c").over(w).as("__t30"))
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_days"),
          max(struct($"__t30", $"__day")).as("__m"))
        .select($"c_nationkey", $"n_days",
          $"__m.__t30".as("peak_30d_cents"),
          $"__m.__day".as("peak_day"))
        .orderBy($"c_nationkey")
    }, Some(
      // q297: identical RANGE value-frame, identical (t30, day) argmax
      """WITH daily AS (
        |  SELECT c.c_nationkey,
        |    CAST(datediff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS c
        |  FROM orders JOIN customer c ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT c_nationkey, day,
        |    CAST(sum(c) OVER (PARTITION BY c_nationkey ORDER BY day
        |      RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS t30
        |  FROM daily),
        |r AS (
        |  SELECT c_nationkey, day, t30, row_number() OVER (
        |    PARTITION BY c_nationkey ORDER BY t30 DESC, day DESC)
        |    AS rn,
        |    count(*) OVER (PARTITION BY c_nationkey) AS n
        |  FROM w)
        |SELECT c_nationkey, CAST(n AS BIGINT) AS n_days,
        |  t30 AS peak_30d_cents, day AS peak_day
        |FROM r WHERE rn = 1 ORDER BY c_nationkey""".stripMargin)),

    // CIDR CONTAINMENT — the log-analytics network join: q232's
    // synthetic client IPs as int64, a 12-block CIDR dimension
    // (prefix ⟹ [lo, hi] integer range) BROADCAST onto the event
    // stream, longest-prefix match per IP via one max(struct(prefix
    // length, network)) — never a shuffled range join for a
    // metadata-sized dimension. Unmatched traffic lands in the
    // explicit 'unassigned' bucket so the rollup accounts for every
    // event.
    QuerySpec("q299_cidr_match", (s, d) => {
      // collapse to DISTINCT ip + event count BEFORE the range join:
      // the dimension probe then touches |ips| rows, not |events|
      val ip = Tables.events(s, d)
        .select(expr("CAST(10 * 16777216 + (user_id % 256) * 65536 " +
          "+ ((event_id div 7) % 256) * 256 + (event_id % 256) " +
          "AS BIGINT)").as("__ip"))
        .groupBy($"__ip").agg(count(lit(1)).as("__n"))
      val cidrs = { import s.implicits._
        ((for (b <- 0 until 8) yield
          (s"10.$b.0.0/16",
            10L * 16777216L + b.toLong * 65536L,
            10L * 16777216L + b.toLong * 65536L + 65535L, 16L)) ++
        Seq(("10.0.128.0/17",
          10L * 16777216L + 32768L,
          10L * 16777216L + 65535L, 17L),
          ("10.1.0.0/24", 10L * 16777216L + 65536L,
            10L * 16777216L + 65536L + 255L, 24L),
          ("10.2.4.0/22", 10L * 16777216L + 2L * 65536L + 1024L,
            10L * 16777216L + 2L * 65536L + 2047L, 22L),
          ("10.0.0.0/8", 10L * 16777216L,
            11L * 16777216L - 1L, 8L)))
          .toDF("network", "lo", "hi", "plen") }
      ip.join(broadcast(cidrs),
          $"__ip" >= $"lo" && $"__ip" <= $"hi", "left")
        .groupBy($"__ip")
        .agg(max(when($"network".isNotNull,
          struct($"plen", $"network"))).as("__m"),
          max($"__n").as("__n"))
        .select(coalesce($"__m.network", lit("unassigned"))
          .as("network"), $"__n")
        .groupBy($"network")
        .agg(count(lit(1)).as("n_ips"), sum($"__n").as("n_events"))
        .orderBy($"network")
    }, Some(
      // q299: same distinct-ip collapse, same longest-prefix argmax
      """WITH ip AS (
        |  SELECT 10 * 16777216 + (user_id % 256) * 65536
        |    + ((event_id // 7) % 256) * 256 + (event_id % 256) AS ip,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |cidrs AS (
        |  SELECT * FROM (VALUES
        |    ('10.0.0.0/16', 167772160, 167837695, 16),
        |    ('10.1.0.0/16', 167837696, 167903231, 16),
        |    ('10.2.0.0/16', 167903232, 167968767, 16),
        |    ('10.3.0.0/16', 167968768, 168034303, 16),
        |    ('10.4.0.0/16', 168034304, 168099839, 16),
        |    ('10.5.0.0/16', 168099840, 168165375, 16),
        |    ('10.6.0.0/16', 168165376, 168230911, 16),
        |    ('10.7.0.0/16', 168230912, 168296447, 16),
        |    ('10.0.128.0/17', 167804928, 167837695, 17),
        |    ('10.1.0.0/24', 167837696, 167837951, 24),
        |    ('10.2.4.0/22', 167904256, 167905279, 22),
        |    ('10.0.0.0/8', 167772160, 184549375, 8))
        |    AS v(network, lo, hi, plen)),
        |j AS (
        |  SELECT ip.ip, ip.n, c.network, row_number() OVER (
        |    PARTITION BY ip.ip
        |    ORDER BY c.plen DESC NULLS LAST,
        |      c.network DESC NULLS LAST) AS rn
        |  FROM ip LEFT JOIN cidrs c
        |    ON ip.ip >= c.lo AND ip.ip <= c.hi)
        |SELECT coalesce(network, 'unassigned') AS network,
        |  CAST(count(*) AS BIGINT) AS n_ips,
        |  CAST(sum(n) AS BIGINT) AS n_events
        |FROM j WHERE rn = 1 GROUP BY 1 ORDER BY network""".stripMargin)),

    // LUHN VALIDATION — the checksum format gate every account/card
    // ingest runs: 12-digit synthetic account numbers, the Luhn sum
    // UNROLLED over fixed digit positions as pure int64 arithmetic
    // (digit d_i = (a div 10^i) mod 10; odd positions doubled with
    // the >9 fold as 2d − 9·(d≥5)) — identical closed form on both
    // engines, no loop construct needed. Per-segment validity rates
    // as floored ppm; the deliberate corruption (every 7th account
    // gets +1) pins that the validator actually rejects.
    QuerySpec("q300_luhn", (s, d) => {
      // Luhn digit term: double at the flagged positions, fold >9 as
      // 2d − 9 (the standard sum-of-digits shortcut)
      def term(col: String, i: Int, double: Boolean): String = {
        val p = "1" + "0" * i
        if (double)
          s"(2 * (($col div $p) % 10) - 9 * " +
            s"(CASE WHEN ($col div $p) % 10 >= 5 THEN 1 ELSE 0 END))"
        else s"(($col div $p) % 10)"
      }
      // payload digits sit at final positions 1..11 → doubled when
      // their payload index is EVEN; the full 12-digit account
      // doubles ODD positions
      val s11 = (0 to 10).map(i => term("__p", i, i % 2 == 0))
        .mkString(" + ")
      val s12 = (0 to 11).map(i => term("__a", i, i % 2 == 1))
        .mkString(" + ")
      Tables.customer(s, d)
        .select($"c_mktsegment", $"c_custkey")
        // key rides in MOD 9e6 so the payload tops out at
        // 10^10 + 8999999·9973 + 96 < 10^11 — the account stays
        // exactly 12 digits (check digit included) at EVERY scale
        // factor; the raw key would overflow the 11-digit payload
        // window past c_custkey ≈ 9.02M (TPC-H sf ≳ 60), silently
        // breaking the planted valid/decoy semantics
        .withColumn("__p", expr("CAST(10000000000 + (c_custkey % 9000000)" +
          " * 9973 + (c_custkey % 97) AS BIGINT)"))
        .withColumn("__a0",
          expr(s"__p * 10 + (10 - (($s11) % 10)) % 10"))
        // corrupt every 7th account: rotate the last digit (+1 mod
        // 10, no carry) — always breaks the checksum
        .withColumn("__a", expr("CASE WHEN c_custkey % 7 = 0 " +
          "THEN __a0 - (__a0 % 10) + ((__a0 % 10) + 1) % 10 " +
          "ELSE __a0 END"))
        .withColumn("__ok",
          when(expr(s"($s12) % 10") === 0, 1L).otherwise(0L))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_accounts"),
          sum($"__ok").as("n_valid"))
        .withColumn("valid_ppm",
          expr("(n_valid * 1000000) div n_accounts"))
        .orderBy($"c_mktsegment")
    }, Some(
      // q300: the identical unrolled Luhn closed form (construct +
      // corrupt + validate), // for div
      (s300OracleSql))),

    // RANK WITH TIES — the top-N-per-group cut where VALUE ties must
    // all surface (rank() ≤ 3, not row_number ≤ 3): top revenue
    // brands per segment on exact cents. The tie semantics make the
    // output a deterministic function of the DATA — no tiebreak
    // column needed for hash stability, which is exactly when
    // rank() is the right cut and row_number would silently drop
    // tied peers. Window runs over the bounded (segment, brand)
    // aggregate, never the fact.
    QuerySpec("q301_rank_ties", (s, d) => {
      val rev = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .join(broadcast(Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment")),
          $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.part(s, d)
          .select($"p_partkey", $"p_brand")),
          $"l_partkey" === $"p_partkey")
        .groupBy($"c_mktsegment", $"p_brand")
        .agg(sum(floor($"l_extendedprice" * 100 + 0.5).cast("long"))
          .as("revenue_cents"))
      val w = Window.partitionBy($"c_mktsegment")
        .orderBy($"revenue_cents".desc)
      rev.withColumn("rk", rank().over(w).cast("long"))
        .filter($"rk" <= 3)
        .orderBy($"c_mktsegment", $"rk", $"p_brand")
    }, Some(
      // q301: the same rank() value-tie cut
      """WITH rev AS (
        |  SELECT c.c_mktsegment, p.p_brand,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer c ON o_custkey = c_custkey
        |  JOIN part p ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT c_mktsegment, p_brand, revenue_cents,
        |    CAST(rank() OVER (PARTITION BY c_mktsegment
        |      ORDER BY revenue_cents DESC) AS BIGINT) AS rk
        |  FROM rev)
        |SELECT c_mktsegment, p_brand, revenue_cents, rk
        |FROM r WHERE rk <= 3
        |ORDER BY c_mktsegment, rk, p_brand""".stripMargin)),

    // GROUPING() indicators + the grand-total set — what q45's
    // grouping-sets coverage left out: the GROUPING() discriminator
    // is the only way to tell "NULL because rolled up" from a NULL
    // dimension VALUE, and the empty set () exercises the all-rows
    // grouping. Same single expand + hash aggregate plan as
    // q45/q280/q291.
    QuerySpec("q316_grouping_sets", (s, d) => {
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"),
            Seq()),
          $"l_returnflag", $"l_linestatus")
        .agg(grouping($"l_returnflag").cast("int").as("g_flag"),
          grouping($"l_linestatus").cast("int").as("g_status"),
          count(lit(1)).as("n"),
          Fns.roundU(sum($"l_quantity"), 2).as("sum_qty"))
        .select($"l_returnflag", $"l_linestatus", $"g_flag", $"g_status",
          $"n", $"sum_qty")
        .orderBy($"g_flag", $"g_status", $"l_returnflag", $"l_linestatus")
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
        |  count(*) AS n,
        |  floor(sum(l_quantity) * 100 + 0.5) / 100.0 AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin)),

    // FD-VIOLATION REPAIR — the data-cleaning pass beside the
    // expectations report (q102) and FD profiling: a denormalized
    // fact carries a redundant attribute that must be functionally
    // determined by its key (custkey → nation), a deterministic
    // corruption plants conflicting claims, and the repair picks each
    // key's MAJORITY value (count desc, value asc — the
    // HoloClean-style voting baseline). Scale shape: one
    // (key, claim) count aggregate, one per-key argmax over a
    // struct max (no sort, no window over the fact), one broadcast-
    // size rollup — the fact shuffles once, on its key.
    QuerySpec("q322_fd_repair", (s, d) => {
      val cust = Tables.customer(s, d)
        .select($"c_custkey", $"c_nationkey".cast("long").as("nat"))
      val claims = Tables.orders(s, d)
        .join(cust, $"o_custkey" === $"c_custkey")
        .select($"o_custkey".as("k"),
          when($"o_orderkey" % 97 === 0,
            ($"nat" + 1 + $"o_orderkey" % 7) % 25)
            .otherwise($"nat").as("claim"))
      val counted = claims.groupBy($"k", $"claim")
        .agg(count(lit(1)).as("cnt"))
      val majority = counted.groupBy($"k")
        .agg(max(struct($"cnt", (-$"claim").as("negc"))).as("m"))
        .select($"k", (-$"m.negc").as("maj"))
      counted.join(majority, Seq("k"))
        .groupBy($"maj".as("nation"))
        .agg(countDistinct($"k").as("n_keys"),
          sum($"cnt").as("n_rows"),
          sum(when($"claim" =!= $"maj", $"cnt").otherwise(0L))
            .as("n_repaired_rows"))
        .orderBy($"nation")
    }, Some(
      // q322: same planted corruption, same majority vote — the argmax
      // tie-break (count desc, claim asc) spelled as the composite
      // integer key cnt·100 − claim (claims are < 25 < 100).
      """WITH claims AS (
        |  SELECT o_custkey AS k,
        |    CASE WHEN o_orderkey % 97 = 0
        |      THEN (CAST(c_nationkey AS BIGINT) + 1 + o_orderkey % 7)
        |        % 25
        |      ELSE CAST(c_nationkey AS BIGINT) END AS claim
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |counted AS (
        |  SELECT k, claim, count(*) AS cnt
        |  FROM claims GROUP BY k, claim),
        |majority AS (
        |  SELECT k, arg_max(claim, cnt * 100 - claim) AS maj
        |  FROM counted GROUP BY k)
        |SELECT maj AS nation,
        |  CAST(count(DISTINCT counted.k) AS BIGINT) AS n_keys,
        |  CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN claim <> maj THEN cnt ELSE 0 END)
        |    AS BIGINT) AS n_repaired_rows
        |FROM counted JOIN majority ON counted.k = majority.k
        |GROUP BY maj ORDER BY nation""".stripMargin))
  )

  /** q300's oracle assembled from the same position terms the Spark
    * side unrolls (kept in one place so the two cannot drift). */
  private def s300OracleSql: String = {
    def term(col: String, i: Int, double: Boolean): String = {
      val p = "1" + "0" * i
      if (double)
        s"(2 * (($col // $p) % 10) - 9 * " +
          s"(CASE WHEN ($col // $p) % 10 >= 5 THEN 1 ELSE 0 END))"
      else s"(($col // $p) % 10)"
    }
    val s11 = (0 to 10).map(i => term("p", i, i % 2 == 0))
      .mkString(" + ")
    val s12 = (0 to 11).map(i => term("a", i, i % 2 == 1))
      .mkString(" + ")
    s"""WITH b AS (
       |  SELECT c_mktsegment, c_custkey,
       |    CAST(10000000000 + (c_custkey % 9000000) * 9973 + (c_custkey % 97)
       |      AS BIGINT) AS p
       |  FROM customer),
       |a0 AS (
       |  SELECT c_mktsegment, c_custkey,
       |    p * 10 + (10 - (($s11) % 10)) % 10 AS a0
       |  FROM b),
       |ac AS (
       |  SELECT c_mktsegment,
       |    CASE WHEN c_custkey % 7 = 0
       |      THEN a0 - (a0 % 10) + ((a0 % 10) + 1) % 10
       |      ELSE a0 END AS a
       |  FROM a0)
       |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_accounts,
       |  CAST(sum(CASE WHEN ($s12) % 10 = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_valid,
       |  CAST((sum(CASE WHEN ($s12) % 10 = 0 THEN 1 ELSE 0 END)
       |    * 1000000) // count(*) AS BIGINT) AS valid_ppm
       |FROM ac GROUP BY 1 ORDER BY c_mktsegment""".stripMargin
  }

  /** Customer `lat`/`lon` columns: the Knuth-hash coordinates the geo
    * queries give every customer (`lat` in [40, 50), `lon` in [-80, -70)). */
  private val custCoordsSql: String =
    """40.0 + ((c_custkey % 2147483647) * 2654435761 % 4294967296)
      |      / 4294967296.0 * 10.0 AS lat,
      |    -80.0 + (((c_custkey + 1000003) % 2147483647) * 2654435761
      |      % 4294967296) / 4294967296.0 * 10.0 AS lon""".stripMargin

  /** CTE `s`: every supplier's Knuth-hash `lat`/`lon` (the customer
    * coordinates' scheme, offset by 500000). */
  private val supplierCoordsCte: String =
    """s AS (
      |  SELECT s_suppkey,
      |    40.0 + (((s_suppkey + 500000) % 2147483647) * 2654435761
      |      % 4294967296) / 4294967296.0 * 10.0 AS lat,
      |    -80.0 + (((s_suppkey + 500000 + 1000003) % 2147483647)
      |      * 2654435761 % 4294967296) / 4294967296.0 * 10.0 AS lon
      |  FROM supplier)""".stripMargin
}
