package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators._
import graft.SparkEntry.scoped

/** Statistics queries: exact quantiles and robust aggregates, hypothesis
  * tests, correlation and regression, distribution fits, survival curves and
  * the model-evaluation suite. */
object StatsQueries {
  def specs: Seq[QuerySpec] = Seq(
    // Approximate distinct (HLL) — rows-only: sketch implementations are
    // engine-specific. Paired with q09's exact counts for calibration.
    // Approx distinct WITH an oracle: the HLL++ estimate itself is
    // engine-specific (no SQL oracle can reproduce Spark's hash), but
    // its ERROR BOUND is the portable contract — so the query emits the
    // exact counts plus a deterministic within-10% check of the
    // estimate, and DuckDB oracles exact counts + literal TRUE. A
    // drifting HLL implementation fails the hash compare loudly.
    QuerySpec("q31_approx_distinct", (s, d) => {
      // exact distincts as SEPARATE two-stage branches joined on the
      // group key, not one multi-distinct aggregate: Spark plans two
      // countDistincts in one agg via EXPAND (every row ×3 through the
      // shuffle); per-branch, each shuffle carries only that column's
      // distinct (flag, value) pairs — the q81 pruned-scan trade, per
      // aggregate. The HLL sketches ride the cheap single-pass branch.
      val li = Tables.lineitem(s, d)
      // isNotNull BEFORE the distinct: distinct() keeps a NULL as a
      // value, but count(DISTINCT c) — the semantics being replaced,
      // and the oracle's — excludes it
      def exactDistinct(c: String, as: String) =
        li.select($"l_returnflag", col(c)).filter(col(c).isNotNull)
          .distinct()
          .groupBy($"l_returnflag").agg(count(lit(1)).as(as))
      val approx = li.groupBy($"l_returnflag")
        .agg(approx_count_distinct($"l_partkey").as("__ap"),
          approx_count_distinct($"l_orderkey").as("__ao"))
      // LEFT-join the exact branches ONTO the approx branch: approx
      // covers every group, while exactDistinct drops a group whose
      // values are all NULL (its isNotNull filter empties it) — an
      // inner join would drop that group entirely where count(DISTINCT)
      // reports 0. Null-safe key compare so a NULL returnflag group
      // still lines up. coalesce(...,0) restores the 0 counts.
      val ep = exactDistinct("l_partkey", "n_parts")
        .withColumnRenamed("l_returnflag", "__rfp")
      val eo = exactDistinct("l_orderkey", "n_orders")
        .withColumnRenamed("l_returnflag", "__rfo")
      approx
        .join(ep, $"l_returnflag" <=> $"__rfp", "left")
        .join(eo, $"l_returnflag" <=> $"__rfo", "left")
        .select($"l_returnflag",
          coalesce($"n_parts", lit(0L)).as("n_parts"),
          coalesce($"n_orders", lit(0L)).as("n_orders"),
          (abs($"__ap" - coalesce($"n_parts", lit(0L)))
            <= coalesce($"n_parts", lit(0L)) * 0.1)
            .as("approx_parts_ok"),
          (abs($"__ao" - coalesce($"n_orders", lit(0L)))
            <= coalesce($"n_orders", lit(0L)) * 0.1)
            .as("approx_orders_ok"))
        .orderBy($"l_returnflag")
    }, Some(
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  TRUE AS approx_parts_ok, TRUE AS approx_orders_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // Exact median per group via the multi-level histogram (see
    // operators.Percentiles): every stage a parallel hash aggregate or a
    // window over ≤4096 rows per group, regardless of data size. The
    // previous distinct-value form was still a near-row-level sort here —
    // l_extendedprice is near-unique, so 3 tasks each sorted ~n/3 values.
    QuerySpec("q33_percentiles", (s, d) => {
      // NOT persisted at the call site despite the levels+2 re-reads:
      // measured at sf0.1, re-scanning the column-pruned parquet beats
      // the row-format cache scan (2-col scan is cheaper than cache
      // materialization + InMemoryTableScan for this few passes).
      Percentiles.exactMedian(Tables.lineitem(s, d), "l_returnflag",
          "l_extendedprice")
        .select($"l_returnflag",
          Fns.roundU($"median", 2).as("median_price"), $"n_mid")
        .orderBy($"l_returnflag")
    }, Some(
      """WITH ranked AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  floor((avg(l_extendedprice)) * 100 + 0.5) / 100.0
        |    AS median_price,
        |  count(*) AS n_mid
        |FROM ranked
        |WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Exact p25/p50/p75 per group via the same multi-level histogram
    // (type-1 nearest-rank), each quantile narrowing its own range.
    QuerySpec("q50_quantiles", (s, d) => {
      // not persisted — same measured call as q33
      Percentiles.exactQuantiles(Tables.lineitem(s, d), "l_returnflag",
          "l_extendedprice", Seq(0.25, 0.5, 0.75))
        .select($"l_returnflag", $"q", $"value")
        .orderBy($"l_returnflag", $"q")
    }, Some(
      """WITH ranked AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(q AS DOUBLE) AS q,
        |  l_extendedprice AS value
        |FROM ranked, (VALUES (0.25), (0.5), (0.75)) AS qs(q)
        |WHERE rn = greatest(1, CAST(ceil(CAST(q AS DOUBLE) * n) AS BIGINT))
        |ORDER BY l_returnflag, q""".stripMargin)),

    // FEATURE CORRELATION matrix — the ML-prep stats pass: Pearson
    // corr for every numeric column pair in ONE scan (corr is a
    // sufficient-statistics aggregate — sums/products with map-side
    // combine — so k² pairs cost one pass, no per-pair rescans), then
    // the wide row unpivots to (col_a, col_b, corr).
    QuerySpec("q85_feature_corr", (s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j))
      val aggs = pairs.map { case (a, b) =>
        Fns.roundU(corr(col(a), col(b)), 6).as(s"__c_${a}_$b")
      }
      val stacked = pairs.map { case (a, b) =>
        s"'$a', '$b', __c_${a}_$b"
      }.mkString(", ")
      Tables.lineitem(s, d).agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${pairs.length}, $stacked) as " +
          "(col_a, col_b, pearson_corr)")
        .orderBy($"col_a", $"col_b")
    }, Some(
      """WITH w AS (SELECT
        |  floor((corr(l_quantity, l_extendedprice)) * 1000000 + 0.5)
        |    / 1000000.0 AS c_qty_price,
        |  floor((corr(l_quantity, l_discount)) * 1000000 + 0.5)
        |    / 1000000.0 AS c_qty_disc,
        |  floor((corr(l_quantity, l_tax)) * 1000000 + 0.5)
        |    / 1000000.0 AS c_qty_tax,
        |  floor((corr(l_extendedprice, l_discount)) * 1000000 + 0.5)
        |    / 1000000.0 AS c_price_disc,
        |  floor((corr(l_extendedprice, l_tax)) * 1000000 + 0.5)
        |    / 1000000.0 AS c_price_tax,
        |  floor((corr(l_discount, l_tax)) * 1000000 + 0.5)
        |    / 1000000.0 AS c_disc_tax
        |FROM lineitem)
        |SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
        |  c_qty_price AS pearson_corr FROM w
        |UNION ALL SELECT 'l_quantity', 'l_discount', c_qty_disc FROM w
        |UNION ALL SELECT 'l_quantity', 'l_tax', c_qty_tax FROM w
        |UNION ALL SELECT 'l_extendedprice', 'l_discount', c_price_disc
        |  FROM w
        |UNION ALL SELECT 'l_extendedprice', 'l_tax', c_price_tax FROM w
        |UNION ALL SELECT 'l_discount', 'l_tax', c_disc_tax FROM w
        |ORDER BY col_a, col_b""".stripMargin)),

    // Per-group OLS — group-wise linear fit from sufficient statistics
    // (regr_slope/regr_intercept are single-pass aggregates): price as
    // a function of quantity per return flag. The 1-D least-squares
    // fit needs NO iterative solver, so "train a model per group"
    // stays one hash aggregate at any data size.
    QuerySpec("q86_group_regression", (s, d) => {
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          Fns.roundU(regr_slope($"l_extendedprice", $"l_quantity"), 4)
            .as("slope"),
          Fns.roundU(regr_intercept($"l_extendedprice", $"l_quantity"), 2)
            .as("intercept"),
          Fns.roundU(corr($"l_extendedprice", $"l_quantity"), 6)
            .as("fit_corr"))
        .orderBy($"l_returnflag")
    }, Some(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  floor((regr_slope(l_extendedprice, l_quantity)) * 10000 + 0.5)
        |    / 10000.0 AS slope,
        |  floor((regr_intercept(l_extendedprice, l_quantity)) * 100
        |    + 0.5) / 100.0 AS intercept,
        |  floor((corr(l_extendedprice, l_quantity)) * 1000000 + 0.5)
        |    / 1000000.0 AS fit_corr
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // WINSORIZED mean — robust aggregation composed from the exact
    // histogram quantiles: per-group p05/p95 bounds (each a parallel
    // multi-level histogram, q33's machinery) broadcast back onto the
    // facts, values clipped, then a plain mean. The robust-stats pass
    // quality-score pipelines run to stop outliers steering thresholds.
    QuerySpec("q90_winsorized_mean", (s, d) => {
      val li = Tables.lineitem(s, d)
      val qs = Percentiles.exactQuantiles(li, "l_returnflag",
          "l_extendedprice", Seq(0.05, 0.95))
      val bounds = qs.groupBy($"l_returnflag")
        .agg(min(when($"q" === 0.05, $"value")).as("__lo"),
          min(when($"q" === 0.95, $"value")).as("__hi"))
      li.select($"l_returnflag", $"l_extendedprice")
        .join(broadcast(bounds), "l_returnflag")
        .select($"l_returnflag",
          least(greatest($"l_extendedprice", $"__lo"), $"__hi")
            .as("__clipped"), $"l_extendedprice")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          Fns.roundU(avg($"l_extendedprice"), 2).as("raw_mean"),
          Fns.roundU(avg($"__clipped"), 2).as("winsorized_mean"))
        .orderBy($"l_returnflag")
    }, Some(
      // q90: the nearest-rank (type-1) bound formula matches q50's oracle
      """WITH ranked AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |b AS (
        |  SELECT l_returnflag,
        |    max(CASE WHEN rn = greatest(1,
        |      CAST(ceil(0.05 * n) AS BIGINT)) THEN l_extendedprice END)
        |      AS lo,
        |    max(CASE WHEN rn = greatest(1,
        |      CAST(ceil(0.95 * n) AS BIGINT)) THEN l_extendedprice END)
        |      AS hi
        |  FROM ranked GROUP BY l_returnflag)
        |SELECT r.l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  floor((avg(r.l_extendedprice)) * 100 + 0.5) / 100.0
        |    AS raw_mean,
        |  floor((avg(least(greatest(r.l_extendedprice, b.lo), b.hi)))
        |    * 100 + 0.5) / 100.0 AS winsorized_mean
        |FROM ranked r JOIN b USING (l_returnflag)
        |GROUP BY r.l_returnflag ORDER BY r.l_returnflag""".stripMargin)),

    // SKETCH-ACCELERATED EXACT HEAVY HITTERS — the two-phase pattern
    // that makes "every key with count >= T, exactly" affordable at
    // 100 TB: phase 1 builds ONE Count-Min sketch (fixed 256 KB of
    // state however many keys exist) and keeps only rows whose key the
    // sketch says MIGHT reach T — sound, because CM never
    // underestimates, so the survivor set is a superset of the truth;
    // phase 2 exact-counts only the survivors, so the shuffle carries
    // candidate-key rows instead of the whole key domain. The FINAL
    // output is exact and engine-independent (the sketch only prunes),
    // which is why this query rides a plain GROUP BY/HAVING oracle
    // while the sketch itself (q-less, engine-hash) stays spec-gated.
    // The probe is deliberately a Scala UDF over the broadcast sketch:
    // depth array lookups per row against 256 KB of shared state —
    // the expression-literal alternative would embed the sketch in the
    // plan.
    QuerySpec("q108_sketch_heavy", (s, d) => {
      val T = 45L
      val depth = 4; val width = 8192
      val li = Tables.lineitem(s, d).select($"l_partkey")
      val sketch = li.agg(graft.functions.CountMinAgg(depth, width)(
          $"l_partkey".cast("string")).as("sk"))
        .collect()(0).getSeq[Long](0).toArray
      val bc = s.sparkContext.broadcast(sketch)
      val mayReachT = udf((k: Long) => graft.functions.CountMinAgg
        .estimate(bc.value, k.toString, depth, width) >= T)
      li.filter(mayReachT($"l_partkey"))
        .groupBy($"l_partkey")
        .agg(count(lit(1)).as("n"))
        .filter($"n" >= T)
        .orderBy($"l_partkey")
    }, Some(
      // q108: the sketch only PRUNES — the exact output is plain
      // GROUP BY/HAVING, which is the point of the two-phase pattern
      """SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_partkey HAVING count(*) >= 45
        |ORDER BY l_partkey""".stripMargin)),

    // FUNNEL TIME-TO-CONVERT — latency from each user's first 'view'
    // to their first subsequent 'purchase', exact p50/p90 per signup-
    // week cohort through the multi-level histogram (q33/q50's
    // operator): every stage a bounded hash aggregate, no per-cohort
    // row sort, so the same plan holds when a cohort has 100M
    // converters. Latency travels as MICROSECONDS (exact long in both
    // engines — no float epoch division to disagree over).
    QuerySpec("q115_funnel_latency", (s, d) => {
      val ev = Tables.events(s, d)
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("v_ts"))
      val p = ev.filter($"event_type" === "purchase")
        .join(v, "user_id")
        .filter($"ts" > $"v_ts")
        .groupBy($"user_id").agg(min($"ts").as("p_ts"), min($"v_ts").as("v_ts"))
      val lat = p.select(
        date_trunc("week", $"v_ts").cast("date").as("cohort_week"),
        (unix_micros($"p_ts") - unix_micros($"v_ts"))
          .cast("double").as("lat"))
      Percentiles.exactQuantiles(lat, "cohort_week", "lat",
          Seq(0.5, 0.9))
        .withColumnRenamed("value", "lat_us")
        .orderBy($"cohort_week", $"q")
    }, Some(
      // q115: nearest-rank (type-1) quantile at ⌈q·n⌉ min 1, the
      // histogram operator's contract; latency in exact microseconds
      """WITH v AS (
        |  SELECT user_id, min(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS p_ts, min(v.v_ts) AS v_ts
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > v.v_ts
        |  GROUP BY 1),
        |l AS (
        |  SELECT CAST(date_trunc('week', v_ts) AS DATE) AS cohort_week,
        |    CAST(epoch_us(p_ts) - epoch_us(v_ts) AS DOUBLE) AS lat
        |  FROM p),
        |r AS (
        |  SELECT cohort_week, lat,
        |    row_number() OVER (PARTITION BY cohort_week
        |      ORDER BY lat) AS rn,
        |    count(*) OVER (PARTITION BY cohort_week) AS n
        |  FROM l),
        |qs AS (SELECT unnest([CAST(0.5 AS DOUBLE),
        |    CAST(0.9 AS DOUBLE)]) AS q)
        |SELECT r.cohort_week, qs.q, r.lat AS lat_us
        |FROM r CROSS JOIN qs
        |WHERE r.rn = greatest(1, CAST(ceil(qs.q * r.n) AS BIGINT))
        |ORDER BY cohort_week, q""".stripMargin)),

    // CHI-SQUARED INDEPENDENCE — is event mix independent of user
    // segment? Pearson chi² over the (event_type × user_id mod 3)
    // contingency table: observed from one hash aggregate, expected
    // from broadcast marginals, the statistic one bounded sum. The
    // contingency table is |types|·|segments| cells regardless of row
    // count — the classic reduce-then-test shape.
    QuerySpec("q119_chi_squared", (s, d) => {
      val cells = Tables.events(s, d)
        .groupBy($"event_type", pmod($"user_id", lit(3)).as("seg"))
        .agg(count(lit(1)).as("o"))
      val rowT = cells.groupBy($"event_type").agg(sum($"o").as("__rt"))
      val colT = cells.groupBy($"seg").agg(sum($"o").as("__ct"))
      val tot = cells.agg(sum($"o").as("__n"))
      cells.join(broadcast(rowT), "event_type")
        .join(broadcast(colT), "seg")
        .crossJoin(broadcast(tot))
        .select(($"__rt" * $"__ct" / $"__n").as("__e"), $"o",
          $"event_type", $"seg")
        .agg(
          // 4 digits, not 6: the 15-cell double sum's addition order
          // is engine/partitioning-dependent (~1e-15 relative jitter);
          // the coarser grid keeps the rounding boundary far away
          Fns.roundU(sum(($"o" - $"__e") * ($"o" - $"__e") / $"__e"), 4)
            .as("chi2"),
          ((countDistinct($"event_type") - 1) *
            (countDistinct($"seg") - 1)).as("dof"))
    }, Some(
      // q119: Pearson chi² from the same contingency marginals
      """WITH cells AS (
        |  SELECT event_type, user_id % 3 AS seg,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, sum(o) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT seg, sum(o) AS c FROM cells GROUP BY 1),
        |n AS (SELECT sum(o) AS n FROM cells),
        |e AS (
        |  SELECT cells.event_type, cells.seg, cells.o,
        |    rt.r * ct.c / CAST(n.n AS DOUBLE) AS ex
        |  FROM cells JOIN rt USING (event_type)
        |  JOIN ct USING (seg) CROSS JOIN n)
        |SELECT
        |  floor(sum((o - ex) * (o - ex) / ex) * 10000 + 0.5)
        |    / 10000.0 AS chi2,
        |  CAST((count(DISTINCT event_type) - 1) *
        |    (count(DISTINCT seg) - 1) AS BIGINT) AS dof
        |FROM e""".stripMargin)),

    // MAD ROBUST OUTLIERS — median absolute deviation per return flag:
    // med = exact median(price), mad = exact median(|price − med|),
    // outliers counted at the 3·MAD fence. Both medians go through the
    // multi-level histogram (q33's operator — bounded hash aggregates,
    // no per-group sort), composed: the second pass scans with the
    // 3-row med table broadcast on. The robust-statistics alternative
    // to q90's winsorized mean.
    QuerySpec("q122_mad_outliers", (s, d) => {
      // Deliberately NOT scoped-persisted despite three downstream
      // scans (median pass, deviation-median pass, fence aggregate):
      // measured at sf0.1 solo, persisting this 2-column projection
      // was 10.8 s vs 4.5 s without — building the columnar
      // InMemoryRelation for 6M rows costs more than two extra
      // column-pruned parquet scans (dictionary-decoded doubles are
      // nearly free to re-read; the q208 persist pays off only when
      // the REUSED subtree contains a shuffle or wide decode, which
      // this one doesn't).
      val li = Tables.lineitem(s, d)
        .select($"l_returnflag", $"l_extendedprice")
      // ONE stats pass shared by both medians (one fewer full scan +
      // aggregate in the plan): the price pass takes it verbatim, and
      // the deviation pass derives its bounds from it — a finite price's
      // |v − med| is in [0, max(hi − med, med − lo)] (the wider range is
      // exactness-safe per the statsHint contract), and every ±Inf price
      // deviates by +Inf, so both price bands become the +Inf band. The
      // median itself is finite while the ±Inf prices are a minority.
      val stats0 = Percentiles.groupStats(
          Percentiles.cleanRows(li, "l_returnflag", "l_extendedprice"))
        .transform(scoped)
      val med = Percentiles.exactMedian(li, "l_returnflag",
          "l_extendedprice", statsHint = Some(stats0))
        .select($"l_returnflag", $"median".as("__med"))
      val dev = li.join(broadcast(med), "l_returnflag")
        .select($"l_returnflag",
          abs($"l_extendedprice" - $"__med").as("__dev"))
      val devStats = stats0
        .join(broadcast(med.withColumnRenamed("l_returnflag", "__g")),
          Seq("__g"))
        .select($"__g", lit(0.0).as("__lo"),
          greatest($"__hi" - $"__med", $"__med" - $"__lo").as("__hi"),
          $"__n", lit(0L).as("__nneg"), ($"__nneg" + $"__npos").as("__npos"))
      val mad = Percentiles.exactMedian(dev, "l_returnflag", "__dev",
          statsHint = Some(devStats))
        .select($"l_returnflag", $"median".as("__mad"))
      li.join(broadcast(med), "l_returnflag")
        .join(broadcast(mad), "l_returnflag")
        .groupBy($"l_returnflag")
        .agg(Fns.roundU(max($"__med"), 2).as("median_price"),
          Fns.roundU(max($"__mad"), 2).as("mad"),
          sum(when(abs($"l_extendedprice" - $"__med") >
            lit(3.0) * $"__mad", 1L).otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
    }, Some(
      // q122: both medians via the ranked middle-pair average (the q33
      // dual), composed exactly like the Spark side
      """WITH li AS (
        |  SELECT l_returnflag, l_extendedprice FROM lineitem),
        |r1 AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n FROM li),
        |med AS (
        |  SELECT l_returnflag, avg(l_extendedprice) AS med FROM r1
        |  WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1 GROUP BY 1),
        |dv AS (
        |  SELECT li.l_returnflag,
        |    abs(li.l_extendedprice - med.med) AS dev
        |  FROM li JOIN med USING (l_returnflag)),
        |r2 AS (
        |  SELECT l_returnflag, dev,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY dev) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n FROM dv),
        |mad AS (
        |  SELECT l_returnflag, avg(dev) AS mad FROM r2
        |  WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1 GROUP BY 1)
        |SELECT li.l_returnflag,
        |  floor(max(med.med) * 100 + 0.5) / 100.0 AS median_price,
        |  floor(max(mad.mad) * 100 + 0.5) / 100.0 AS mad,
        |  CAST(sum(CASE WHEN abs(li.l_extendedprice - med.med)
        |    > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM li JOIN med USING (l_returnflag)
        |JOIN mad USING (l_returnflag)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // BENFORD FIRST-DIGIT AUDIT — fraud-screening staple: the leading
    // digit distribution of order totals vs Benford's log law. Digit
    // extraction is a LIBM-FREE decade CASE (log10 would put each
    // engine's math library in the hash path; nested division by
    // exact powers of 10 keeps both engines on identical IEEE ops).
    // One scan, 9-row output, expected freqs from ln (display-only,
    // rounded).
    QuerySpec("q123_benford", (s, d) => {
      val x = $"o_totalprice"
      val mag = when(x >= 1000000, x / 1000000)
        .when(x >= 100000, x / 100000)
        .when(x >= 10000, x / 10000)
        .when(x >= 1000, x / 1000)
        .when(x >= 100, x / 100)
        .when(x >= 10, x / 10)
        .otherwise(x)
      val tot = Tables.orders(s, d)
        .filter($"o_totalprice" >= 1)
        .select(floor(mag).cast("int").as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n"))
      val all = tot.agg(sum($"n").as("__tot"))
      tot.crossJoin(broadcast(all))
        .select($"digit", $"n",
          Fns.roundU($"n" / $"__tot".cast("double"), 4).as("obs_frac"),
          Fns.roundU(log(lit(1.0) + lit(1.0) / $"digit") / log(lit(10.0)),
            4).as("benford_frac"))
        .orderBy($"digit")
    }, Some(
      // q123: identical libm-free decade CASE for the leading digit;
      // Benford expectation from ln on both sides (display-rounded)
      """WITH digits AS (
        |  SELECT CAST(floor(CASE
        |      WHEN o_totalprice >= 1000000 THEN o_totalprice / 1000000
        |      WHEN o_totalprice >= 100000 THEN o_totalprice / 100000
        |      WHEN o_totalprice >= 10000 THEN o_totalprice / 10000
        |      WHEN o_totalprice >= 1000 THEN o_totalprice / 1000
        |      WHEN o_totalprice >= 100 THEN o_totalprice / 100
        |      WHEN o_totalprice >= 10 THEN o_totalprice / 10
        |      ELSE o_totalprice END) AS INTEGER) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
        |  FROM digits GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM c)
        |SELECT digit, n,
        |  floor(n / CAST(tot AS DOUBLE) * 10000 + 0.5) / 10000.0
        |    AS obs_frac,
        |  floor(ln(1.0 + 1.0 / digit) / ln(10.0) * 10000 + 0.5)
        |    / 10000.0 AS benford_frac
        |FROM c CROSS JOIN t ORDER BY digit""".stripMargin)),

    // AUTOCORRELATION (ACF lags 1–3) — the time-series diagnostic
    // over each event type's daily-count series: lag windows are
    // PARTITIONED by (event_type) so no global sort exists, and the
    // three lags ride one sorted window pass (three lag() calls share
    // the frame); corr() is Spark's numerically-stable covariance
    // aggregate, one hash agg per lag after the unpivot. Lags step
    // over OBSERVED days (gaps collapse), the convention the oracle
    // mirrors; a calendar-spine variant would densify first.
    QuerySpec("q127_daily_acf", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(count(lit(1)).cast("double").as("n"))
      val w = Window.partitionBy($"event_type").orderBy($"day")
      val lagged = daily.select($"event_type", $"n",
        lag($"n", 1).over(w).as("__l1"),
        lag($"n", 2).over(w).as("__l2"),
        lag($"n", 3).over(w).as("__l3"))
      val acf = (1 to 3).map { k =>
        lagged.filter(col(s"__l$k").isNotNull)
          .groupBy($"event_type")
          .agg(lit(k).as("lag_k"),
            Fns.roundU(corr($"n", col(s"__l$k")), 6).as("acf"),
            count(lit(1)).as("n_obs"))
      }.reduce(_.unionByName(_))
      acf.select($"event_type", $"lag_k", $"acf", $"n_obs")
        .orderBy($"event_type", $"lag_k")
    }, Some(
      // q127: same lag-over-observed-days convention; corr is Pearson r
      // on both engines (denominator normalization cancels)
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY 1, 2),
        |lagged AS (
        |  SELECT event_type, n,
        |    lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
        |    lag(n, 2) OVER (PARTITION BY event_type ORDER BY day) AS l2,
        |    lag(n, 3) OVER (PARTITION BY event_type ORDER BY day) AS l3
        |  FROM daily),
        |u AS (
        |  SELECT event_type, 1 AS lag_k, round(corr(n, l1), 6) AS acf,
        |    CAST(count(*) AS BIGINT) AS n_obs
        |  FROM lagged WHERE l1 IS NOT NULL GROUP BY 1
        |  UNION ALL
        |  SELECT event_type, 2, round(corr(n, l2), 6),
        |    CAST(count(*) AS BIGINT)
        |  FROM lagged WHERE l2 IS NOT NULL GROUP BY 1
        |  UNION ALL
        |  SELECT event_type, 3, round(corr(n, l3), 6),
        |    CAST(count(*) AS BIGINT)
        |  FROM lagged WHERE l3 IS NOT NULL GROUP BY 1)
        |SELECT event_type, lag_k, acf, n_obs FROM u
        |ORDER BY event_type, lag_k""".stripMargin)),

    // EQUI-DEPTH HISTOGRAM — 10 bins of equal row count over a
    // near-unique column, the stats pass behind range partitioning
    // and optimizer selectivity tables. Global rank is the q128
    // two-phase scan (Packing.prefixSum of 1 — never a
    // single-partition window); bin = (rank−1)·10 div n. Ties may
    // rank either way across engines, but every per-bin output
    // (count, min, max, sum) is tie-insensitive: bin SIZES are fixed
    // by the formula, and a tie run straddling a boundary contributes
    // the same value to both bins' min/max whichever copy lands
    // where.
    QuerySpec("q132_equidepth_bins", (s, d) => {
      val li = Tables.lineitem(s, d).select($"l_extendedprice".as("v"))
        .withColumn("__g", lit(1)).withColumn("__one", lit(1L))
      val n = li.count()
      val rk = Packing.prefixSum(li, Seq("__g"), Seq("v"),
        "__one", "__rk")
      rk.withColumn("bin", expr(s"(__rk - 1) * 10 div ${n}L"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_rows"),
          min($"v").as("min_v"), max($"v").as("max_v"),
          Fns.roundU(sum($"v"), 2).as("sum_v"))
        .orderBy($"bin")
    }, Some(
      // q132: rank via row_number — tie placement may differ from the
      // engine's, but per-bin count/min/max/sum are tie-insensitive
      """WITH r AS (
        |  SELECT l_extendedprice AS v,
        |    row_number() OVER (ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER () AS n
        |  FROM lineitem)
        |SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(v) AS min_v, max(v) AS max_v,
        |  floor(sum(v) * 100 + 0.5) / 100.0 AS sum_v
        |FROM r GROUP BY 1 ORDER BY bin""".stripMargin)),

    // CUPED adjusted A/B readout — the experimentation-platform
    // variance-reduction staple: per-user post-period metric Y
    // adjusted by the pre-period covariate X as Y − θ·(X − E[X]),
    // θ = cov(X,Y)/var(X), which shrinks variance by corr² without
    // biasing the mean. Pre/post split and variant assignment are
    // derived (ts median; user_id parity), θ comes from ONE global
    // 1-row aggregate (broadcast), and the readout is a per-variant
    // hash agg — three bounded aggregates over one user-level table,
    // nothing user-count-sized ever leaves the executors.
    QuerySpec("q137_cuped", (s, d) => {
      val ev = Tables.events(s, d)
        .select($"user_id", unix_micros($"ts").as("__us"), $"value")
      // pre/post boundary = timeline midpoint from an EXACT 1-row agg
      // (a percentile_approx sketch here would be engine-specific and
      // unoraclable)
      val mid = ev.agg(expr("(min(__us) + max(__us)) div 2")
        .as("__mid"))
      val user = ev.crossJoin(broadcast(mid))
        .groupBy($"user_id")
        .agg(sum(when($"__us" < $"__mid", $"value").otherwise(0.0))
          .as("__x"),
          sum(when($"__us" >= $"__mid", $"value").otherwise(0.0))
            .as("__y"))
        .withColumn("variant", ($"user_id" % 2).cast("int"))
      val theta = user.agg(
        (covar_pop($"__x", $"__y") / var_pop($"__x")).as("__theta"),
        avg($"__x").as("__mx"))
      user.crossJoin(broadcast(theta))
        .groupBy($"variant")
        .agg(count(lit(1)).as("n_users"),
          Fns.roundU(avg($"__y"), 6).as("raw_mean"),
          Fns.roundU(avg($"__y" - $"__theta" * ($"__x" - $"__mx")), 6)
            .as("cuped_mean"),
          Fns.roundU(stddev_pop($"__y"), 6).as("raw_sd"),
          Fns.roundU(stddev_pop($"__y" - $"__theta" *
            ($"__x" - $"__mx")), 6).as("cuped_sd"))
        .orderBy($"variant")
    }, Some(
      // q137: same derived boundary/variant, same population moments;
      // CAST mirrors keep DuckDB in double arithmetic throughout
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us, value FROM events),
        |mid AS (
        |  SELECT (min(us) + max(us)) // 2 AS m FROM ev),
        |u AS (
        |  SELECT user_id,
        |    sum(CASE WHEN us < m THEN value ELSE 0.0 END) AS x,
        |    sum(CASE WHEN us >= m THEN value ELSE 0.0 END) AS y,
        |    CAST(user_id % 2 AS INT) AS variant
        |  FROM ev CROSS JOIN mid GROUP BY user_id),
        |th AS (
        |  SELECT covar_pop(x, y) / var_pop(x) AS theta,
        |    avg(x) AS mx FROM u)
        |SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
        |  floor(avg(y) * 1e6 + 0.5) / 1e6 AS raw_mean,
        |  floor(avg(y - theta * (x - mx)) * 1e6 + 0.5) / 1e6
        |    AS cuped_mean,
        |  floor(stddev_pop(y) * 1e6 + 0.5) / 1e6 AS raw_sd,
        |  floor(stddev_pop(y - theta * (x - mx)) * 1e6 + 0.5) / 1e6
        |    AS cuped_sd
        |FROM u CROSS JOIN th
        |GROUP BY variant ORDER BY variant""".stripMargin)),

    // KAPLAN–MEIER survival curve — churn analysis with CENSORING
    // done right: a customer's observed lifetime is first→last order
    // date, they "die" (churn) only if silent for 90+ days before the
    // dataset ends, and still-active customers are CENSORED at their
    // observed lifetime (they leave the risk set without counting as
    // churn) — exactly what a plain lifetime CDF gets wrong. The
    // per-customer collapse is a hash aggregate; everything after
    // runs on the DURATION-bucketed table — two windows over at most
    // date-span rows (bounded by the calendar, not the data), so the
    // estimator's sequential product (as exp∘Σln) never touches
    // row-scale data.
    QuerySpec("q138_kaplan_meier", (s, d) => {
      val ud = Tables.orders(s, d)
        .groupBy($"o_custkey")
        .agg(min(to_date($"o_orderdate")).as("__f"),
          max(to_date($"o_orderdate")).as("__l"))
      val mx = ud.agg(max($"__l").as("__mx"))
      val u = ud.crossJoin(broadcast(mx))
        .select(datediff($"__l", $"__f").as("dur"),
          (datediff($"__mx", $"__l") < 90).as("__cens"))
      // persisted: the totals aggregate and the window chain both read
      // it; released by the per-query session cache clear
      val byDur = u.groupBy($"dur")
        .agg(sum(when($"__cens", 0L).otherwise(1L)).as("n_deaths"),
          sum(when($"__cens", 1L).otherwise(0L)).as("n_censored"))
        .transform(scoped)
      val tot = byDur.agg(sum($"n_deaths" + $"n_censored").as("__n"))
      val wPrev = Window.orderBy($"dur")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCur = Window.orderBy($"dur")
        .rowsBetween(Window.unboundedPreceding, 0)
      // a row where EVERY at-risk member dies (n_deaths == n_risk) has
      // survival factor 0: Spark's log(0) is NULL (sum would silently
      // DROP it — survival wrongly stays flat) while the oracle's ln(0)
      // is -inf, so both sides carry an explicit cumulative dead flag
      // and pin survival to 0.0 from that row on; the log sum then only
      // ever sees strictly positive factors
      byDur.crossJoin(broadcast(tot))
        .withColumn("n_risk", $"__n" - coalesce(
          sum($"n_deaths" + $"n_censored").over(wPrev), lit(0L)))
        .withColumn("__dead", max(when($"n_deaths" === $"n_risk", 1)
          .otherwise(0)).over(wCur))
        .withColumn("survival", when($"__dead" === 1, lit(0.0))
          .otherwise(Fns.roundU(exp(sum(
            when($"n_deaths" > 0 && $"n_deaths" < $"n_risk",
              log(lit(1.0) - $"n_deaths".cast("double") / $"n_risk"))
              .otherwise(0.0)).over(wCur)), 6)))
        .select($"dur", $"n_risk", $"n_deaths", $"n_censored",
          $"survival")
        .orderBy($"dur")
    }, Some(
      // q138: same churn rule (90+ days silent before dataset end),
      // same risk-set windows, same exp∘Σln product form
      """WITH ud AS (
        |  SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS f,
        |    max(CAST(o_orderdate AS DATE)) AS l
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT max(l) AS m FROM ud),
        |u AS (SELECT l - f AS dur, (m - l) < 90 AS cens
        |  FROM ud CROSS JOIN mx),
        |tot AS (SELECT count(*) AS n FROM u),
        |bydur AS (
        |  SELECT dur,
        |    CAST(sum(CASE WHEN cens THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_deaths,
        |    CAST(sum(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_censored
        |  FROM u GROUP BY 1),
        |r AS (
        |  SELECT *, tot.n - coalesce(sum(n_deaths + n_censored)
        |      OVER (ORDER BY dur
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM bydur CROSS JOIN tot),
        |s AS (
        |  SELECT *,
        |    max(CASE WHEN n_deaths = n_risk THEN 1 ELSE 0 END)
        |      OVER (ORDER BY dur
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS dead,
        |    exp(sum(CASE WHEN n_deaths > 0 AND n_deaths < n_risk
        |      THEN ln(1 - CAST(n_deaths AS DOUBLE) / n_risk)
        |      ELSE 0.0 END) OVER (ORDER BY dur
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS sv
        |  FROM r)
        |SELECT CAST(dur AS INT) AS dur, CAST(n_risk AS BIGINT)
        |  AS n_risk, n_deaths, n_censored,
        |  CASE WHEN dead = 1 THEN 0.0
        |       ELSE floor(sv * 1e6 + 0.5) / 1e6 END AS survival
        |FROM s ORDER BY dur""".stripMargin)),

    // WEIGHTED MEDIAN — quantity-weighted price per returnflag: the
    // smallest price whose cumulative QUANTITY reaches half the
    // group's total, i.e. "the price at which half the units moved" —
    // a row median answers the wrong question whenever weights vary.
    // Percentiles.weightedMedian generalizes the histogram family's
    // rank target from row counts to weight mass: per-bucket weight
    // sums (hash agg), a ≤nBuckets-row window locates the crossing
    // bucket, per-value collapse + a bounded window resolve inside
    // it. Integer weights keep every cumulative comparison exact on
    // both engines.
    QuerySpec("q142_weighted_median", (s, d) => {
      Percentiles.weightedMedian(Tables.lineitem(s, d),
          "l_returnflag", "l_extendedprice", "l_quantity")
        .orderBy($"l_returnflag")
    }, Some(
      // q142: the declarative cum-weight form (row-scale window — the
      // plan the histogram operator exists to avoid)
      """WITH r AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v,
        |    CAST(l_quantity AS DOUBLE) AS w
        |  FROM lineitem WHERE l_quantity > 0),
        |tw AS (SELECT g, sum(w) AS tot FROM r GROUP BY 1),
        |vw AS (SELECT g, v, sum(w) AS vw FROM r GROUP BY 1, 2),
        |c AS (
        |  SELECT g, v, sum(vw) OVER (PARTITION BY g ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM vw)
        |SELECT c.g AS l_returnflag, min(v) AS weighted_median
        |FROM c JOIN tw ON tw.g = c.g
        |WHERE cum >= tot / 2
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // SPEARMAN RANK CORRELATION — the monotone-association companion to
    // q85's Pearson matrix: rho over fractional (average) ranks per
    // returnflag. The point of the query is the RANKING PLAN: no
    // per-group window sort anywhere — ranks come from a (group, value)
    // compaction + the distributed prefix scan (Stats.avgRanks /
    // Packing.prefixSum), then shuffle-join back and one corr aggregate.
    // The oracle ranks with rank() + (tied-1)/2 windows, which DuckDB
    // can afford at sf0.01.
    QuerySpec("q143_spearman", (s, d) => {
      Stats.spearman(Tables.lineitem(s, d), "l_returnflag",
          Seq("l_quantity", "l_extendedprice", "l_discount"),
          Seq(("l_quantity", "l_extendedprice"),
            ("l_quantity", "l_discount"),
            ("l_extendedprice", "l_discount")))
        .orderBy($"l_returnflag")
    }, Some(
      """WITH rk AS (SELECT l_returnflag,
        |  rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
        |    + (count(*) OVER (PARTITION BY l_returnflag, l_quantity)
        |       - 1) / 2.0 AS rq,
        |  rank() OVER (PARTITION BY l_returnflag
        |               ORDER BY l_extendedprice)
        |    + (count(*) OVER (PARTITION BY l_returnflag,
        |                      l_extendedprice) - 1) / 2.0 AS rp,
        |  rank() OVER (PARTITION BY l_returnflag ORDER BY l_discount)
        |    + (count(*) OVER (PARTITION BY l_returnflag, l_discount)
        |       - 1) / 2.0 AS rd
        |FROM lineitem)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  floor((corr(rq, rp)) * 1000000 + 0.5) / 1000000.0
        |    AS rho_l_quantity_l_extendedprice,
        |  floor((corr(rq, rd)) * 1000000 + 0.5) / 1000000.0
        |    AS rho_l_quantity_l_discount,
        |  floor((corr(rp, rd)) * 1000000 + 0.5) / 1000000.0
        |    AS rho_l_extendedprice_l_discount
        |FROM rk GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // OUT-OF-FOLD TARGET ENCODING — the leakage-safe categorical
    // encoder of a feature pipeline (CatBoost/Kaggle style): fold f's
    // encoding of a category uses only the OTHER folds' rows (a target
    // mean must never see the row it encodes — the training-serving
    // leak q74 guards at the split level, applied to features), with
    // m-estimate smoothing toward the out-of-fold GLOBAL mean so rare
    // categories don't memorize their own targets. ONE (cat, fold)
    // hash aggregate is the only data-sized stage; category totals,
    // fold totals, the global total and the blend all run over its
    // ≤ |cats|·k rows. Folds ride the engine-independent consistent
    // hash (replayable; the oracle reproduces them exactly), partial
    // sums ride DECIMAL so out-of-fold subtraction is exact on both
    // engines, and the final blend casts to double in one shared
    // expression shape — bit-identical results.
    QuerySpec("q144_target_encoding", (s, d) => {
      val pf = Tables.orders(s, d)
        .select($"o_orderpriority".as("cat"),
          (Sampling.consistentHash($"o_orderkey") % 5).as("fold"),
          $"o_totalprice".cast("decimal(18,2)").as("__t"))
        .groupBy($"cat", $"fold")
        .agg(sum($"__t").as("__sdec"), count(lit(1)).as("n_rows"))
      val catTot = pf.groupBy($"cat")
        .agg(sum($"__sdec").as("__csdec"), sum($"n_rows").as("__cn"))
      val foldTot = pf.groupBy($"fold")
        .agg(sum($"__sdec").as("__fsdec"), sum($"n_rows").as("__fn"))
      val allTot = pf.agg(sum($"__sdec").as("__gsdec"),
        sum($"n_rows").as("__gn"))
      pf.join(catTot, Seq("cat")).join(foldTot, Seq("fold"))
        .crossJoin(broadcast(allTot))
        .select($"cat", $"fold", $"n_rows",
          Fns.roundU(
            (($"__csdec".cast("double") - $"__sdec".cast("double"))
              + lit(20.0) * (($"__gsdec".cast("double")
                - $"__fsdec".cast("double")) / ($"__gn" - $"__fn")))
              / (($"__cn" - $"n_rows") + lit(20.0)), 4).as("enc"))
        .orderBy($"cat", $"fold")
    }, Some(
      """WITH pf AS (
        |  SELECT o_orderpriority AS cat,
        |    (o_orderkey % 2147483647 + 2147483647) % 2147483647
        |      * 2654435761 % 4294967296 % 5 AS fold,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sdec,
        |    count(*) AS n_rows
        |  FROM orders GROUP BY 1, 2),
        |ct AS (SELECT cat, sum(sdec) AS csdec, sum(n_rows) AS cn
        |       FROM pf GROUP BY cat),
        |ft AS (SELECT fold, sum(sdec) AS fsdec, sum(n_rows) AS fn
        |       FROM pf GROUP BY fold),
        |gt AS (SELECT sum(sdec) AS gsdec, sum(n_rows) AS gn FROM pf)
        |SELECT pf.cat, pf.fold, CAST(pf.n_rows AS BIGINT) AS n_rows,
        |  floor(((CAST(csdec AS DOUBLE) - CAST(sdec AS DOUBLE))
        |    + 20.0 * ((CAST(gsdec AS DOUBLE) - CAST(fsdec AS DOUBLE))
        |        / (gn - fn)))
        |    / ((cn - pf.n_rows) + 20.0) * 10000 + 0.5) / 10000.0 AS enc
        |FROM pf JOIN ct USING (cat) JOIN ft USING (fold), gt
        |ORDER BY cat, fold""".stripMargin)),

    // GAINS / LIFT TABLE — the model-calibration readout: rank
    // customers by score (acctbal), cut into deciles, report each
    // decile's positive rate (placed an URGENT order), cumulative
    // capture and lift. Decile BOUNDARIES come from the exact-quantile
    // histogram (Percentiles.exactQuantiles, rank = ceil(q·n) — q50's
    // convention, mirrored in the oracle) so no global row sort ever
    // runs: assignment is a broadcast of 9 boundary values folded over
    // each row, the cumulative window covers ≤ 10 decile rows. Ties at
    // a boundary fall to the LOWER bucket on both engines (strict >).
    QuerySpec("q145_gains_table", (s, d) => {
      val scored = urgentScored(s, d)
      val bounds = decileBounds(
        Tables.customer(s, d).select($"c_acctbal"), "c_acctbal")
      val g = scored.crossJoin(broadcast(bounds))
        .select($"__y", decileOf($"c_acctbal").as("decile"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_cust"), sum($"__y").as("n_pos"))
      val tot = g.agg(sum($"n_cust").as("__tn"), sum($"n_pos").as("__tp"))
      // ≤ 10 rows past this point: the unpartitioned window is bounded
      val w = Window.orderBy($"decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.crossJoin(broadcast(tot))
        .select($"decile", $"n_cust", $"n_pos",
          Fns.roundU($"n_pos" / $"n_cust", 6).as("pos_rate"),
          Fns.roundU(sum($"n_pos").over(w) / $"__tp", 6)
            .as("cum_capture"),
          Fns.roundU(($"n_pos" / $"n_cust") / ($"__tp" / $"__tn"), 6)
            .as("lift"))
        .orderBy($"decile")
    }, Some(
      // q145: decile boundaries via q50's rank = ceil(q·n) convention;
      // boundary ties fall to the lower bucket (strict >) on both sides
      s"""WITH pos AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE o_orderpriority = '1-URGENT'),
        |ranked AS (
        |  SELECT c_acctbal, row_number() OVER (ORDER BY c_acctbal) AS rn,
        |    count(*) OVER () AS n
        |  FROM customer),
        |$decileBoundsCte,
        |dec AS (
        |  SELECT CASE WHEN p.o_custkey IS NULL THEN 0 ELSE 1 END AS y,
        |    10 - (SELECT count(*) FROM bounds WHERE c.c_acctbal > b)
        |      AS decile
        |  FROM customer c LEFT JOIN pos p ON c.c_custkey = p.o_custkey),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
        |        CAST(sum(y) AS BIGINT) AS n_pos FROM dec GROUP BY decile),
        |t AS (SELECT CAST(sum(n_cust) AS DOUBLE) AS tn,
        |        CAST(sum(n_pos) AS DOUBLE) AS tp FROM g)
        |SELECT decile, n_cust, n_pos,
        |  floor(CAST(n_pos AS DOUBLE) / n_cust * 1000000 + 0.5)
        |    / 1000000.0 AS pos_rate,
        |  floor(CAST(sum(n_pos) OVER (ORDER BY decile) AS DOUBLE) / tp
        |    * 1000000 + 0.5) / 1000000.0 AS cum_capture,
        |  floor((CAST(n_pos AS DOUBLE) / n_cust) / (tp / tn)
        |    * 1000000 + 0.5) / 1000000.0 AS lift
        |FROM g, t ORDER BY decile""".stripMargin)),

    // REVENUE CONCENTRATION — HHI and Gini of supplier revenue per
    // nation: the market-structure readout (is one supplier taking the
    // nation's volume?). Per-supplier revenue sums ride DECIMAL so both
    // engines agree bit-for-bit BEFORE any ranking — Gini needs a rank
    // over revenue, and FP-noisy sums would make near-tied suppliers
    // rank differently per engine. Ranks come from Stats.avgRanks (the
    // q143 prefix-scan — no per-nation window sort); HHI is one
    // share² aggregate. Gini uses the average-rank form
    // 2·Σ(r·x)/(n·Σx) − (n+1)/n, correct under ties.
    QuerySpec("q146_concentration", (s, d) => {
      val sup = Tables.supplier(s, d)
        .select($"s_suppkey", $"s_nationkey")
      val n = Tables.nation(s, d).select($"n_nationkey", $"n_name")
      val rev = Tables.lineitem(s, d)
        .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name", $"s_suppkey")
        .agg(sum($"l_extendedprice".cast("decimal(18,2)")
          * (lit(1).cast("decimal(3,2)")
            - $"l_discount".cast("decimal(3,2)"))).as("__rev"))
      val ranked = rev.join(
        Stats.avgRanks(rev, "n_name", "__rev"), Seq("n_name", "__rev"))
      // totals/denominators sum the DECIMAL (exact, then one cast);
      // only Σx² and Σr·x are double sums — their noise washes out in
      // the normalizing division. x*x, not pow(x,2): pow may differ
      // from the product by an ulp across engines.
      val revd = $"__rev".cast("double")
      ranked.groupBy($"n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          Fns.roundU(sum($"__rev").cast("double"), 2).as("total_rev"),
          Fns.roundU(sum(revd * revd) * 10000.0
            / (sum($"__rev").cast("double")
              * sum($"__rev").cast("double")), 4).as("hhi"),
          Fns.roundU(lit(2.0) * sum($"__rk___rev" * revd)
            / (count(lit(1)) * sum($"__rev").cast("double"))
            - (count(lit(1)) + 1.0) / count(lit(1)), 6).as("gini"))
        .orderBy($"n_name")
    }, Some(
      // q146: per-supplier revenue as DECIMAL (exact, so ranks agree),
      // avg-rank via the q143 rank()+ties/2 identity
      """WITH rev AS (
        |  SELECT n_name, s_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(3,2))
        |        - CAST(l_discount AS DECIMAL(3,2)))) AS r
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT n_name, CAST(r AS DOUBLE) AS rd, r,
        |    rank() OVER (PARTITION BY n_name ORDER BY r)
        |      + (count(*) OVER (PARTITION BY n_name, r) - 1) / 2.0 AS rr
        |  FROM rev)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
        |  floor(CAST(sum(r) AS DOUBLE) * 100 + 0.5) / 100.0 AS total_rev,
        |  floor(sum(rd * rd) * 10000.0
        |    / (CAST(sum(r) AS DOUBLE) * CAST(sum(r) AS DOUBLE))
        |    * 10000 + 0.5) / 10000.0 AS hhi,
        |  floor((2.0 * sum(rr * rd)
        |      / (count(*) * CAST(sum(r) AS DOUBLE))
        |      - (count(*) + 1.0) / count(*))
        |    * 1000000 + 0.5) / 1000000.0 AS gini
        |FROM rk GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // PSI DRIFT — population stability index of the order-value
    // distribution, 1995 reference vs year-2000 current: the
    // model-monitoring staple. Bins are the REFERENCE window's exact
    // deciles (q145's histogram bounds + broadcast fold — no sort);
    // both windows bin through the same 9 broadcast values. Counts are
    // +1-smoothed so an empty current bin contributes a finite,
    // well-defined term instead of ln(0); the ref spine has all 10
    // bins by construction (its own deciles), so a left join + fill 0
    // completes the current side.
    QuerySpec("q153_psi_drift", (s, d) => {
      val ord = Tables.orders(s, d)
        .select($"o_orderdate", $"o_totalprice")
      val ref = ord.filter($"o_orderdate" >= "1995-01-01"
        && $"o_orderdate" < "1996-01-01").select($"o_totalprice")
      val cur = ord.filter($"o_orderdate" >= "2000-01-01"
        && $"o_orderdate" < "2001-01-01").select($"o_totalprice")
      val bounds = decileBounds(ref, "o_totalprice")
      def binned(df: DataFrame, as: String) = df
        .crossJoin(broadcast(bounds))
        .select(decileOf($"o_totalprice").as("bin"))
        .groupBy($"bin").agg(count(lit(1)).as(as))
      val j = binned(ref, "n_ref")
        .join(binned(cur, "n_cur"), Seq("bin"), "left")
        .na.fill(0L, Seq("n_cur"))
      val tot = j.agg(sum($"n_ref").as("__tr"), sum($"n_cur").as("__tc"))
      j.crossJoin(broadcast(tot))
        .select($"bin", $"n_ref", $"n_cur",
          (($"n_ref" + 1) / ($"__tr" + 10)).as("__pr"),
          (($"n_cur" + 1) / ($"__tc" + 10)).as("__pc"))
        .select($"bin", $"n_ref", $"n_cur",
          Fns.roundU($"__pr", 6).as("p_ref"),
          Fns.roundU($"__pc", 6).as("p_cur"),
          Fns.roundU(($"__pc" - $"__pr") * log($"__pc" / $"__pr"), 6)
            .as("psi_term"))
        .orderBy($"bin")
    }, Some(
      // q153: bins from the reference window's exact deciles (q145
      // convention); +1 smoothing so empty current bins stay finite
      """WITH ref AS (
        |  SELECT o_totalprice AS v FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01'),
        |cur AS (
        |  SELECT o_totalprice AS v FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        |    AND o_orderdate < TIMESTAMP '2001-01-01'),
        |rk AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |         count(*) OVER () AS n FROM ref),
        |bounds AS (
        |  SELECT v AS b
        |  FROM rk, (VALUES (0.1),(0.2),(0.3),(0.4),(0.5),(0.6),
        |                   (0.7),(0.8),(0.9)) qs(q)
        |  WHERE rn = greatest(1, CAST(ceil(CAST(q AS DOUBLE) * n)
        |    AS BIGINT))),
        |rb AS (SELECT 10 - (SELECT count(*) FROM bounds WHERE r.v > b)
        |         AS bin FROM ref r),
        |cb AS (SELECT 10 - (SELECT count(*) FROM bounds WHERE c.v > b)
        |         AS bin FROM cur c),
        |rc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_ref
        |       FROM rb GROUP BY bin),
        |cc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_cur
        |       FROM cb GROUP BY bin),
        |j AS (SELECT rc.bin, n_ref, coalesce(n_cur, 0) AS n_cur
        |      FROM rc LEFT JOIN cc USING (bin)),
        |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
        |        CAST(sum(n_cur) AS BIGINT) AS tc FROM j),
        |p AS (SELECT bin, n_ref, n_cur,
        |        (n_ref + 1) / CAST(tr + 10 AS DOUBLE) AS pr,
        |        (n_cur + 1) / CAST(tc + 10 AS DOUBLE) AS pc
        |      FROM j, t)
        |SELECT bin, n_ref, n_cur,
        |  floor(pr * 1000000 + 0.5) / 1000000.0 AS p_ref,
        |  floor(pc * 1000000 + 0.5) / 1000000.0 AS p_cur,
        |  floor((pc - pr) * ln(pc / pr) * 1000000 + 0.5)
        |    / 1000000.0 AS psi_term
        |FROM p ORDER BY bin""".stripMargin)),

    // EVENT-TYPE DISTRIBUTION PROFILE — per-user entropy, Gini
    // impurity, dominant-type share: the "is this account a bot"
    // shape readout. Two hash aggregates and a join; every p is an
    // exact long/long ratio and the per-user double sums run over at
    // most #event-types terms.
    QuerySpec("q154_type_entropy", (s, d) => {
      val cnt = Tables.events(s, d)
        .groupBy($"user_id", $"event_type")
        .agg(count(lit(1)).as("__n"))
      val tot = cnt.groupBy($"user_id")
        .agg(sum($"__n").as("__t"), count(lit(1)).as("n_types"),
          max($"__n").as("__mx"))
      cnt.join(tot, Seq("user_id"))
        .select($"user_id", $"n_types", $"__mx", $"__t", $"__n",
          ($"__n" / $"__t").as("__p"))
        .groupBy($"user_id", $"n_types", $"__mx", $"__t")
        // gini in EXACT integer form (t² − Σn²)/t², never 1 − Σp²: the
        // float-sum form landed 1 ulp across a .0000005 boundary at
        // sf0.1 (both engines compute the same longs here, so the one
        // division — and its rounding — is bit-identical). Entropy has
        // no integer form (ln), so it keeps the float sum.
        .agg(sum(-$"__p" * log($"__p")).as("__H"),
          sum($"__n" * $"__n").as("__S2"))
        .select($"user_id", $"n_types",
          Fns.roundU($"__mx" / $"__t", 6).as("top_share"),
          Fns.roundU($"__H", 6).as("entropy"),
          Fns.roundU(($"__t" * $"__t" - $"__S2")
            / ($"__t" * $"__t"), 6).as("gini_impurity"))
        .orderBy($"user_id")
    }, Some(
      """WITH cnt AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT user_id, CAST(sum(n) AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(max(n) AS BIGINT) AS mx
        |  FROM cnt GROUP BY 1),
        |p AS (
        |  SELECT cnt.user_id, tot.n_types, tot.mx, tot.t, n,
        |    CAST(n AS DOUBLE) / t AS p
        |  FROM cnt JOIN tot USING (user_id))
        |SELECT user_id, n_types,
        |  floor(CAST(mx AS DOUBLE) / t * 1000000 + 0.5)
        |    / 1000000.0 AS top_share,
        |  floor(sum(-p * ln(p)) * 1000000 + 0.5)
        |    / 1000000.0 AS entropy,
        |  floor((t * t - CAST(sum(n * n) AS BIGINT)) / (t * t)
        |    * 1000000 + 0.5) / 1000000.0 AS gini_impurity
        |FROM p GROUP BY user_id, n_types, mx, t
        |ORDER BY user_id""".stripMargin)),

    // ZIPF FIT — least-squares slope of ln(freq) on ln(rank) over the
    // top-200 corpus terms (natural text ⇒ slope ≈ −1; synthetic or
    // templated text bends it). The top-200 cut rides the bounded-heap
    // TopKPerKey plan under a (freq desc, term) total order — integer
    // freqs, so the cut is engine-exact; the closed-form regression
    // runs over exactly 200 rows, and the single-partition rank window
    // is bounded by that 200.
    QuerySpec("q155_zipf_slope", (s, d) => {
      val tok = Tables.documents(s, d)
        .filter(length(trim($"text")) > 0)
        .select(explode(split(trim($"text"), "\\s+")).as("term"))
      val freq = tok.groupBy($"term").agg(count(lit(1)).as("freq"))
      val top = graft.plans.TopKPerKey(freq.withColumn("__g", lit(1)),
        Seq("__g"), Seq($"freq".desc, $"term".asc), 200)
      val xy = top
        .withColumn("rank",
          row_number().over(Window.orderBy($"freq".desc, $"term")))
        .select(log($"rank".cast("double")).as("x"),
          log($"freq".cast("double")).as("y"))
      val a = xy.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"y").as("sy"), sum($"x" * $"y").as("sxy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"))
      a.select($"n",
          (($"n" * $"sxy" - $"sx" * $"sy")
            / ($"n" * $"sxx" - $"sx" * $"sx")).as("__m"),
          $"sx", $"sy", $"sxy", $"sxx", $"syy")
        .select($"n".as("n_terms"),
          Fns.roundU($"__m", 6).as("slope"),
          Fns.roundU(($"sy" - $"__m" * $"sx") / $"n", 6).as("intercept"),
          Fns.roundU(($"n" * $"sxy" - $"sx" * $"sy")
            * ($"n" * $"sxy" - $"sx" * $"sy")
            / (($"n" * $"sxx" - $"sx" * $"sx")
              * ($"n" * $"syy" - $"sy" * $"sy")), 6).as("r2"))
    }, Some(
      // q155: top-200 cut under a (freq desc, term) total order —
      // integer freqs make the cut engine-exact
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |freq AS (SELECT term, count(*) AS freq FROM tok GROUP BY term),
        |top AS (SELECT term, freq FROM freq
        |        ORDER BY freq DESC, term LIMIT 200),
        |xy AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, term)
        |      AS DOUBLE)) AS x,
        |    ln(CAST(freq AS DOUBLE)) AS y
        |  FROM top),
        |a AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM xy),
        |m AS (SELECT *, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS sl
        |      FROM a)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  floor(sl * 1000000 + 0.5) / 1000000.0 AS slope,
        |  floor((sy - sl * sx) / n * 1000000 + 0.5)
        |    / 1000000.0 AS intercept,
        |  floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |      / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        |    * 1000000 + 0.5) / 1000000.0 AS r2
        |FROM m""".stripMargin)),

    // COHORT LTV CURVE — cumulative revenue per first-order cohort,
    // normalized by cohort size: the retention economics readout
    // (q109's retention matrix, revenue-weighted). Monthly revenue
    // sums ride DECIMAL then cast once; the cumulative window runs
    // per cohort over AGGREGATED month rows — bounded by the
    // calendar, never the data — and the double cumsum folds in the
    // same age order on both engines.
    QuerySpec("q156_ltv_curve", (s, d) => {
      val ord = Tables.orders(s, d)
        .select($"o_custkey", $"o_orderdate", $"o_totalprice")
      val first = ord.groupBy($"o_custkey")
        .agg(min($"o_orderdate").as("__f"))
      val sizes = first
        .groupBy(date_format($"__f", "yyyy-MM").as("cohort"))
        .agg(count(lit(1)).as("n_customers"))
      val r = ord.join(first, Seq("o_custkey"))
        .groupBy(date_format($"__f", "yyyy-MM").as("cohort"),
          ((year($"o_orderdate") - year($"__f")) * 12
            + (month($"o_orderdate") - month($"__f")))
            .cast("long").as("age"))
        .agg(sum($"o_totalprice".cast("decimal(18,2)"))
          .cast("double").as("__mrev"))
      val wc = Window.partitionBy($"cohort").orderBy($"age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      r.withColumn("__cum", sum($"__mrev").over(wc))
        .join(sizes, Seq("cohort"))
        .filter($"age" <= 12)
        .select($"cohort", $"age", $"n_customers",
          Fns.roundU($"__mrev", 2).as("month_rev"),
          Fns.roundU($"__cum" / $"n_customers", 6).as("cum_ltv_per_cust"))
        .orderBy($"cohort", $"age")
    }, Some(
      // q156: double cumsum folds in the same age order on both engines;
      // month revenue is DECIMAL then one cast
      """WITH f AS (
        |  SELECT o_custkey, min(o_orderdate) AS fd FROM orders
        |  GROUP BY 1),
        |sizes AS (
        |  SELECT strftime(fd, '%Y-%m') AS cohort,
        |    CAST(count(*) AS BIGINT) AS n_customers
        |  FROM f GROUP BY 1),
        |r AS (
        |  SELECT strftime(f.fd, '%Y-%m') AS cohort,
        |    (year(o.o_orderdate) - year(f.fd)) * 12
        |      + (month(o.o_orderdate) - month(f.fd)) AS age,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS mrev
        |  FROM orders o JOIN f ON o.o_custkey = f.o_custkey
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT cohort, age, mrev,
        |    sum(mrev) OVER (PARTITION BY cohort ORDER BY age
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM r)
        |SELECT c.cohort, c.age, s.n_customers,
        |  floor(mrev * 100 + 0.5) / 100.0 AS month_rev,
        |  floor(cum / s.n_customers * 1000000 + 0.5)
        |    / 1000000.0 AS cum_ltv_per_cust
        |FROM c JOIN sizes s USING (cohort)
        |WHERE age <= 12 ORDER BY cohort, age""".stripMargin)),

    // PARETO 80/20 — per nation, the minimal top-customer set covering
    // 80% of revenue. NO per-nation sort: revenue becomes exact cents
    // (DECIMAL×100 → long) and the descending cumulative comes from
    // the distributed prefix scan ordered by (−cents, custkey) — a
    // total order, so the crossing is engine-exact. The 80% test is
    // pure integer arithmetic (5·cum_before < 4·total), never a
    // floating threshold.
    QuerySpec("q157_pareto", (s, d) => {
      val rev = Tables.orders(s, d)
        .join(Tables.customer(s, d).select($"c_custkey", $"c_nationkey"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_nationkey", $"c_custkey")
        .agg((sum($"o_totalprice".cast("decimal(18,2)")) * 100)
          .cast("long").as("__u"))
        .withColumn("__nu", -$"__u")
      val cum = Packing.prefixSum(rev, Seq("c_nationkey"),
        Seq("__nu", "c_custkey"), "__u", "__cum")
      val tot = rev.groupBy($"c_nationkey").agg(sum($"__u").as("__t"))
      cum.join(tot, Seq("c_nationkey"))
        .withColumn("__in", lit(5) * ($"__cum" - $"__u") < lit(4) * $"__t")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_customers"),
          sum(when($"__in", 1L).otherwise(0L)).as("n_top"),
          sum(when($"__in", $"__u").otherwise(0L)).as("__cov"),
          max($"__t").as("__tt"))
        .select($"c_nationkey", $"n_customers", $"n_top",
          Fns.roundU($"n_top" / $"n_customers", 6).as("top_frac"),
          Fns.roundU($"__cov" / $"__tt", 6).as("covered_share"))
        .orderBy($"c_nationkey")
    }, Some(
      // q157: exact cents, integer 80% test 5*(cum-u) < 4*t under a
      // (u DESC, custkey) total order
      """WITH rev AS (
        |  SELECT c_nationkey, c_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
        |      AS BIGINT) AS u
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT c_nationkey, u,
        |    sum(u) OVER (PARTITION BY c_nationkey
        |      ORDER BY u DESC, c_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(u) OVER (PARTITION BY c_nationkey) AS t
        |  FROM rev)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(CASE WHEN 5 * (cum - u) < 4 * t THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_top,
        |  floor(CAST(sum(CASE WHEN 5 * (cum - u) < 4 * t
        |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |    * 1000000 + 0.5) / 1000000.0 AS top_frac,
        |  floor(CAST(sum(CASE WHEN 5 * (cum - u) < 4 * t
        |      THEN u ELSE 0 END) AS DOUBLE) / max(t)
        |    * 1000000 + 0.5) / 1000000.0 AS covered_share
        |FROM c GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // PURCHASE INTERVALS — per repeat customer, the gap statistics
    // between consecutive orders. The lag window partitions by
    // customer and is bounded by that customer's order count; ties on
    // order date break on o_orderkey so both engines see the same
    // neighbor. Gaps are integer days — every stat except the mean is
    // integer-exact, and the mean is one exact-ratio division.
    QuerySpec("q158_purchase_intervals", (s, d) => {
      val wo = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
      Tables.orders(s, d)
        .select($"o_custkey", $"o_orderkey", $"o_orderdate")
        .withColumn("__gap", datediff($"o_orderdate",
          lag($"o_orderdate", 1).over(wo)))
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          min($"__gap").as("min_gap_days"),
          max($"__gap").as("max_gap_days"),
          sum($"__gap").as("__sg"), count($"__gap").as("__ng"))
        .filter($"n_orders" >= 2)
        .select($"o_custkey", $"n_orders", $"min_gap_days",
          $"max_gap_days",
          Fns.roundU($"__sg" / $"__ng", 6).as("mean_gap_days"))
        .orderBy($"o_custkey")
    }, Some(
      """WITH g AS (
        |  SELECT o_custkey,
        |    date_diff('day',
        |      CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey) AS DATE),
        |      CAST(o_orderdate AS DATE)) AS gap
        |  FROM orders)
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(min(gap) AS INT) AS min_gap_days,
        |  CAST(max(gap) AS INT) AS max_gap_days,
        |  floor(CAST(sum(gap) AS DOUBLE) / count(gap)
        |    * 1000000 + 0.5) / 1000000.0 AS mean_gap_days
        |FROM g GROUP BY o_custkey HAVING count(*) >= 2
        |ORDER BY o_custkey""".stripMargin)),

    // DAY-OF-WEEK SEASONALITY — per event type, each weekday's average
    // daily volume relative to the type's overall average (observed
    // days only, so a type absent on Mondays is a data fact, not a
    // divide-by-zero). Every ratio is long/long exact; dow is
    // normalized to 0=Sunday on both engines.
    QuerySpec("q160_dow_seasonality", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy($"event_type", to_date($"ts").as("d"))
        .agg(count(lit(1)).as("__n"))
      val tot = daily.groupBy($"event_type")
        .agg(sum($"__n").as("__tn"), count(lit(1)).as("__td"))
      daily.groupBy($"event_type", (dayofweek($"d") - 1).as("dow"))
        .agg(sum($"__n").as("n_events"), count(lit(1)).as("n_days"))
        .join(tot, Seq("event_type"))
        .select($"event_type", $"dow", $"n_events", $"n_days",
          Fns.roundU(($"n_events" / $"n_days") / ($"__tn" / $"__td"), 6)
            .as("seasonality_index"))
        .orderBy($"event_type", $"dow")
    }, Some(
      // q160: DuckDB dayofweek is already 0=Sunday; Spark's is shifted
      // by one in the engine
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, CAST(sum(n) AS BIGINT) AS tn,
        |    CAST(count(*) AS BIGINT) AS td
        |  FROM daily GROUP BY 1),
        |g AS (
        |  SELECT event_type, dayofweek(d) AS dow,
        |    CAST(sum(n) AS BIGINT) AS n_events,
        |    CAST(count(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1, 2)
        |SELECT g.event_type, CAST(dow AS INT) AS dow, n_events, n_days,
        |  floor((CAST(n_events AS DOUBLE) / n_days)
        |      / (CAST(tn AS DOUBLE) / td) * 1000000 + 0.5)
        |    / 1000000.0 AS seasonality_index
        |FROM g JOIN tot USING (event_type)
        |ORDER BY event_type, dow""".stripMargin)),

    // PR CURVE — precision/recall/F1 at each of the 9 decile
    // thresholds of the q145 score. One decile assignment (broadcast
    // fold), one ≤10-row pos/neg table, and every threshold's
    // confusion matrix falls out of a cumulative window over that
    // bounded table — never a per-threshold rescan, never a score
    // sort. All counts integer; the three ratios are the only doubles.
    QuerySpec("q162_pr_curve", (s, d) => {
      val scored = urgentScored(s, d)
      val bounds = decileBounds(
        Tables.customer(s, d).select($"c_acctbal"), "c_acctbal")
      val dec = scored.crossJoin(broadcast(bounds))
        .select($"__y", decileOf($"c_acctbal").as("__dec"))
        .groupBy($"__dec")
        .agg(sum($"__y").as("__p"), sum(lit(1L) - $"__y").as("__n"))
      val tot = dec.agg(sum($"__p").as("__tp_all"))
      // ≤ 10 decile rows: cumulative TP/FP from the top is bounded
      val w = Window.orderBy($"__dec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec.crossJoin(broadcast(tot))
        .select($"__dec", $"__tp_all",
          sum($"__p").over(w).as("__tp"), sum($"__n").over(w).as("__fp"))
        // threshold k predicts positive on deciles 1..(10-k): row
        // __dec = 10-k carries threshold k's cumulative counts
        .filter($"__dec" <= 9)
        .select((lit(10) - $"__dec").as("threshold_rank"),
          $"__tp".as("tp"), $"__fp".as("fp"),
          ($"__tp_all" - $"__tp").as("fn"))
        .select($"threshold_rank", $"tp", $"fp", $"fn",
          Fns.roundU($"tp" / ($"tp" + $"fp"), 6).as("precision"),
          Fns.roundU($"tp" / ($"tp" + $"fn"), 6).as("recall"),
          Fns.roundU(lit(2.0) * $"tp"
            / (lit(2.0) * $"tp" + $"fp" + $"fn"), 6).as("f1"))
        .orderBy($"threshold_rank")
    }, Some(
      // q162: q145's decile bounds; each threshold's confusion matrix
      // from the cumulative over the 10-row decile table
      s"""WITH pos AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE o_orderpriority = '1-URGENT'),
        |ranked AS (
        |  SELECT c_acctbal, row_number() OVER (ORDER BY c_acctbal) AS rn,
        |    count(*) OVER () AS n
        |  FROM customer),
        |$decileBoundsCte,
        |dec AS (
        |  SELECT CASE WHEN p.o_custkey IS NULL THEN 0 ELSE 1 END AS y,
        |    10 - (SELECT count(*) FROM bounds WHERE c.c_acctbal > b)
        |      AS d
        |  FROM customer c LEFT JOIN pos p ON c.c_custkey = p.o_custkey),
        |g AS (SELECT d, CAST(sum(y) AS BIGINT) AS p,
        |        CAST(sum(1 - y) AS BIGINT) AS nn FROM dec GROUP BY d),
        |t AS (SELECT CAST(sum(p) AS BIGINT) AS tpall FROM g),
        |c AS (SELECT d, sum(p) OVER (ORDER BY d) AS tp,
        |        sum(nn) OVER (ORDER BY d) AS fp FROM g)
        |SELECT CAST(10 - d AS BIGINT) AS threshold_rank,
        |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(tpall - tp AS BIGINT) AS fn,
        |  floor(CAST(tp AS DOUBLE) / (tp + fp) * 1000000 + 0.5)
        |    / 1000000.0 AS precision,
        |  floor(CAST(tp AS DOUBLE) / (tp + (tpall - tp))
        |    * 1000000 + 0.5) / 1000000.0 AS recall,
        |  floor(2.0 * tp / (2.0 * tp + fp + (tpall - tp))
        |    * 1000000 + 0.5) / 1000000.0 AS f1
        |FROM c, t WHERE d <= 9 ORDER BY threshold_rank""".stripMargin)),

    // TWO-SAMPLE KS TEST — D = max |F_A − F_B| between the 1995 and
    // 2000 order-value distributions (q153's windows, the exact
    // companion to its binned PSI). INTEGER-EXACT: the argmax runs on
    // |cumA·nB − cumB·nA| (cross-multiplied longs, never a float
    // CDF), cumulative counts come from the distributed prefix scan
    // over the per-value aggregate — no global sort of raw rows, and
    // the one division happens after the max.
    QuerySpec("q163_ks_test", (s, d) => {
      val ord = Tables.orders(s, d)
        .select($"o_orderdate", $"o_totalprice")
      def win(lo: String, hi: String) = ord
        .filter($"o_orderdate" >= lo && $"o_orderdate" < hi)
        .select($"o_totalprice".as("v"))
      val cnt = win("1995-01-01", "1996-01-01")
        .select($"v", lit(1L).as("__a"), lit(0L).as("__b"))
        .unionAll(win("2000-01-01", "2001-01-01")
          .select($"v", lit(0L).as("__a"), lit(1L).as("__b")))
        .groupBy($"v")
        .agg(sum($"__a").as("__ca"), sum($"__b").as("__cb"))
        .withColumn("__g", lit(1))
      val cum = Packing.prefixSum(
        Packing.prefixSum(cnt, Seq("__g"), Seq("v"), "__ca", "__cumA"),
        Seq("__g"), Seq("v"), "__cb", "__cumB")
      val tot = cnt.agg(sum($"__ca").as("__na"), sum($"__cb").as("__nb"))
      val diff = cum.crossJoin(broadcast(tot))
        .select($"v", $"__na", $"__nb",
          abs($"__cumA" * $"__nb" - $"__cumB" * $"__na").as("__dn"))
      val mx = diff.groupBy($"__na", $"__nb")
        .agg(max($"__dn").as("__mx"))
      diff.join(mx, Seq("__na", "__nb"))
        .filter($"__dn" === $"__mx")
        .groupBy($"__na", $"__nb", $"__mx")
        .agg(min($"v").as("ks_at_value"))
        .select($"__na".as("n_a"), $"__nb".as("n_b"), $"ks_at_value",
          Fns.roundU($"__mx" / ($"__na" * $"__nb"), 6).as("ks_stat"))
    }, Some(
      // q163: integer-exact argmax on |cumA*nB - cumB*nA|; the one
      // division happens after the max
      """WITH a AS (
        |  SELECT o_totalprice AS v FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01'),
        |b AS (
        |  SELECT o_totalprice AS v FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        |    AND o_orderdate < TIMESTAMP '2001-01-01'),
        |cnt AS (
        |  SELECT v, CAST(sum(ia) AS BIGINT) AS ca,
        |    CAST(sum(ib) AS BIGINT) AS cb
        |  FROM (SELECT v, 1 AS ia, 0 AS ib FROM a
        |        UNION ALL SELECT v, 0, 1 FROM b)
        |  GROUP BY v),
        |c AS (
        |  SELECT v, sum(ca) OVER (ORDER BY v) AS cuma,
        |    sum(cb) OVER (ORDER BY v) AS cumb
        |  FROM cnt),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |        CAST(sum(cb) AS BIGINT) AS nb FROM cnt),
        |dd AS (SELECT v, na, nb, abs(cuma * nb - cumb * na) AS dn
        |       FROM c, t),
        |m AS (SELECT max(dn) AS mx FROM dd)
        |SELECT dd.na AS n_a, dd.nb AS n_b, min(v) AS ks_at_value,
        |  floor(CAST(m.mx AS DOUBLE) / (dd.na * dd.nb)
        |    * 1000000 + 0.5) / 1000000.0 AS ks_stat
        |FROM dd, m WHERE dn = mx
        |GROUP BY dd.na, dd.nb, m.mx""".stripMargin)),

    // EXACT DISTRIBUTED AUC — of the q145 score/label pair, via the
    // rank-sum (Mann-Whitney) identity: AUC = (ΣR⁺ − nP(nP+1)/2) /
    // (nP·nN). NO sort of raw rows: average ranks come from the
    // per-value aggregate + distributed prefix scan, carried DOUBLED
    // (2·rank = 2·cum − (cnt−1)) so tie midpoints stay integer — the
    // whole computation is long arithmetic until the final division.
    QuerySpec("q164_auc_exact", (s, d) => {
      val cnts = urgentScored(s, d).groupBy($"c_acctbal")
        .agg(count(lit(1)).as("__cnt"), sum($"__y").as("__pos"))
        .withColumn("__g", lit(1))
      val cum = Packing.prefixSum(cnts, Seq("__g"), Seq("c_acctbal"),
          "__cnt", "__cum")
        .withColumn("__r2", lit(2) * $"__cum" - ($"__cnt" - 1))
      cum.agg(sum($"__pos" * $"__r2").as("__s2"),
          sum($"__pos").as("__np"),
          sum($"__cnt" - $"__pos").as("__nn"))
        .select($"__np".as("n_pos"), $"__nn".as("n_neg"),
          Fns.roundU(($"__s2" - $"__np" * ($"__np" + 1))
            / (lit(2.0) * $"__np" * $"__nn"), 6).as("auc"))
    }, Some(
      // q164: rank-sum AUC with doubled ranks — long arithmetic until
      // the final division
      """WITH pos AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE o_orderpriority = '1-URGENT'),
        |s AS (
        |  SELECT c_acctbal AS v,
        |    CASE WHEN p.o_custkey IS NULL THEN 0 ELSE 1 END AS y
        |  FROM customer c LEFT JOIN pos p ON c.c_custkey = p.o_custkey),
        |cnts AS (
        |  SELECT v, count(*) AS cnt, CAST(sum(y) AS BIGINT) AS posn
        |  FROM s GROUP BY v),
        |c AS (
        |  SELECT v, cnt, posn, sum(cnt) OVER (ORDER BY v) AS cum
        |  FROM cnts),
        |a AS (
        |  SELECT CAST(sum(posn * (2 * cum - (cnt - 1))) AS BIGINT) AS s2,
        |    CAST(sum(posn) AS BIGINT) AS np,
        |    CAST(sum(cnt - posn) AS BIGINT) AS nn
        |  FROM c)
        |SELECT np AS n_pos, nn AS n_neg,
        |  floor(CAST(s2 - np * (np + 1) AS DOUBLE) / (2.0 * np * nn)
        |    * 1000000 + 0.5) / 1000000.0 AS auc
        |FROM a""".stripMargin)),

    // MUTUAL INFORMATION — I(returnflag; quantity) from the joint
    // count table: the feature-selection readout (is this column
    // informative about that one?). Every log argument is a ratio of
    // exact LONG products ((cnt·n)/(cx·cy)) — the joint/marginal
    // structure is three hash aggregates and two broadcast joins, and
    // the ≤ |X|·|Y| cell sum is the only float accumulation.
    QuerySpec("q168_mutual_info", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select($"l_returnflag".as("x"), $"l_quantity".cast("int").as("y"))
      val joint = li.groupBy($"x", $"y").agg(count(lit(1)).as("__c"))
      val mx = joint.groupBy($"x").agg(sum($"__c").as("__cx"))
      val my = joint.groupBy($"y").agg(sum($"__c").as("__cy"))
      val n = joint.agg(sum($"__c").as("__n"),
        count(lit(1)).as("n_cells"))
      joint.join(broadcast(mx), Seq("x")).join(broadcast(my), Seq("y"))
        .crossJoin(broadcast(n))
        .select($"n_cells", $"__n",
          (($"__c" / $"__n")
            * log(($"__c" * $"__n") / ($"__cx" * $"__cy"))).as("__t"),
          ($"__c" / $"__n" * log($"__n" / $"__cx")).as("__hx0"),
          ($"__c" / $"__n" * log($"__n" / $"__cy")).as("__hy0"))
        .groupBy($"n_cells", $"__n")
        .agg(sum($"__t").as("__mi"), sum($"__hx0").as("__hx"),
          sum($"__hy0").as("__hy"))
        .select($"n_cells",
          Fns.roundU($"__mi", 6).as("mi_nats"),
          Fns.roundU($"__hx", 6).as("h_x"),
          Fns.roundU($"__hy", 6).as("h_y"),
          Fns.roundU($"__mi" / least($"__hx", $"__hy"), 6)
            .as("normalized_mi"))
    }, Some(
      // q168: every log argument is a ratio of exact long products
      """WITH li AS (
        |  SELECT l_returnflag AS x, CAST(l_quantity AS INT) AS y
        |  FROM lineitem),
        |joint AS (SELECT x, y, count(*) AS c FROM li GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx
        |       FROM joint GROUP BY 1),
        |my AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy
        |       FROM joint GROUP BY 1),
        |nt AS (SELECT CAST(sum(c) AS BIGINT) AS nn,
        |         CAST(count(*) AS BIGINT) AS n_cells FROM joint),
        |cells AS (
        |  SELECT n_cells, nn,
        |    (c / nn) * ln((c * nn) / (cx * cy)) AS t,
        |    c / nn * ln(nn / cx) AS hx0,
        |    c / nn * ln(nn / cy) AS hy0
        |  FROM joint JOIN mx USING (x) JOIN my USING (y), nt),
        |a AS (
        |  SELECT n_cells, sum(t) AS mi, sum(hx0) AS hx, sum(hy0) AS hy
        |  FROM cells GROUP BY n_cells, nn)
        |SELECT n_cells,
        |  floor(mi * 1000000 + 0.5) / 1000000.0 AS mi_nats,
        |  floor(hx * 1000000 + 0.5) / 1000000.0 AS h_x,
        |  floor(hy * 1000000 + 0.5) / 1000000.0 AS h_y,
        |  floor(mi / least(hx, hy) * 1000000 + 0.5)
        |    / 1000000.0 AS normalized_mi
        |FROM a""".stripMargin)),

    // LEAD-LAG CROSS-CORRELATION — corr(view volume at t, purchase
    // volume at t+L) for L in −3..+3: does engagement LEAD conversion?
    // q127's ACF generalized to two series. The 7 lags ride ONE
    // exploded join keyed on (shifted) day — never seven rescans — and
    // day counts are exact longs; corr is the only float.
    QuerySpec("q169_xcorr", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy($"event_type", to_date($"ts").as("d"))
        .agg(count(lit(1)).as("__n"))
      val a = daily.filter($"event_type" === "view")
        .select($"d", $"__n".as("__na"))
      val b = daily.filter($"event_type" === "purchase")
        .select(explode(sequence(lit(-3), lit(3))).as("lag_days"),
          $"d", $"__n".as("__nb"))
        .select($"lag_days", date_add($"d", -$"lag_days").as("d"),
          $"__nb")
      a.join(b, Seq("d"))
        .groupBy($"lag_days")
        .agg(count(lit(1)).as("n_obs"),
          Fns.roundU(corr($"__na", $"__nb"), 6).as("xcorr"))
        .orderBy($"lag_days")
    }, Some(
      // q169: one exploded join, shifted-day key; counts exact longs
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT d, n AS na FROM daily WHERE event_type = 'view'),
        |b AS (
        |  SELECT l.lag_days, d - l.lag_days AS d2, n AS nb
        |  FROM daily, (VALUES (-3),(-2),(-1),(0),(1),(2),(3))
        |    l(lag_days)
        |  WHERE event_type = 'purchase')
        |SELECT lag_days, CAST(count(*) AS BIGINT) AS n_obs,
        |  floor(corr(na, nb) * 1000000 + 0.5) / 1000000.0 AS xcorr
        |FROM a JOIN b ON a.d = b.d2
        |GROUP BY lag_days ORDER BY lag_days""".stripMargin)),

    // QQ POINTS — ventile-by-ventile comparison of the two q153/q163
    // windows: the POINTWISE member of the drift trio (PSI = binned
    // mass, KS = sup-norm, QQ = where in the range the shift lives).
    // Two exact-quantile histogram passes (no sorts), one 19-row join.
    QuerySpec("q171_qq_points", (s, d) => {
      val ord = Tables.orders(s, d)
        .select($"o_orderdate", $"o_totalprice")
      def win(lo: String, hi: String) = ord
        .filter($"o_orderdate" >= lo && $"o_orderdate" < hi)
        .select($"o_totalprice")
      val qs = (1 to 19).map(_ / 20.0)
      def quant(df: DataFrame) = Percentiles.exactQuantiles(
        df.withColumn("__g", lit(1)), "__g", "o_totalprice", qs)
      quant(win("1995-01-01", "1996-01-01"))
        .select($"q", $"value".as("v_ref"))
        .join(quant(win("2000-01-01", "2001-01-01"))
          .select($"q", $"value".as("v_cur")), Seq("q"))
        .select($"q", $"v_ref", $"v_cur",
          Fns.roundU($"v_cur" - $"v_ref", 2).as("shift"))
        .orderBy($"q")
    }, Some(
      // q171: q50's rank = ceil(q·n) convention on both windows
      """WITH ref AS (
        |  SELECT o_totalprice AS v FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01'),
        |cur AS (
        |  SELECT o_totalprice AS v FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        |    AND o_orderdate < TIMESTAMP '2001-01-01'),
        |qs AS (SELECT CAST(i AS DOUBLE) / 20 AS q
        |       FROM unnest(range(1, 20)) t(i)),
        |ra AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |         count(*) OVER () AS n FROM ref),
        |rb AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |         count(*) OVER () AS n FROM cur),
        |qa AS (SELECT q, v AS v_ref FROM ra, qs
        |       WHERE rn = greatest(1, CAST(ceil(q * n) AS BIGINT))),
        |qb AS (SELECT q, v AS v_cur FROM rb, qs
        |       WHERE rn = greatest(1, CAST(ceil(q * n) AS BIGINT)))
        |SELECT q, v_ref, v_cur,
        |  floor((v_cur - v_ref) * 100 + 0.5) / 100.0 AS shift
        |FROM qa JOIN qb USING (q) ORDER BY q""".stripMargin)),

    // WELCH TWO-SAMPLE T — the drift trio's SIGNIFICANCE readout: PSI/
    // KS/QQ (q153/q163/q171) say the windows differ; this says whether
    // the MEAN shift clears sampling noise (unequal variances assumed —
    // Welch–Satterthwaite df, plus Cohen's d for effect size). ONE scan
    // with conditional projections feeds one 6-value reduce; every
    // emitted stat is a RATIO of aggregates (never a raw variance), so
    // the cross-engine float agreement is relative-error-tight.
    QuerySpec("q172_welch_ttest", (s, d) => {
      val ord = Tables.orders(s, d)
        .select($"o_orderdate", $"o_totalprice")
      def win(lo: String, hi: String) =
        when($"o_orderdate" >= lo && $"o_orderdate" < hi,
          $"o_totalprice")
      val st = ord
        .select(win("1995-01-01", "1996-01-01").as("a"),
          win("2000-01-01", "2001-01-01").as("b"))
        .agg(count($"a").as("n_ref"), avg($"a").as("__ma"),
          var_samp($"a").as("__va"),
          count($"b").as("n_cur"), avg($"b").as("__mb"),
          var_samp($"b").as("__vb"))
      val sa = $"__va" / $"n_ref"
      val sb = $"__vb" / $"n_cur"
      st.select($"n_ref", $"n_cur",
        Fns.roundU($"__ma", 2).as("mean_ref"),
        Fns.roundU($"__mb", 2).as("mean_cur"),
        Fns.roundU(($"__mb" - $"__ma") / sqrt(sa + sb), 6).as("t_stat"),
        Fns.roundU(pow(sa + sb, 2) /
          (pow(sa, 2) / ($"n_ref" - 1) + pow(sb, 2) / ($"n_cur" - 1)),
          4).as("df_welch"),
        Fns.roundU(($"__mb" - $"__ma") /
          sqrt((($"n_ref" - 1) * $"__va" + ($"n_cur" - 1) * $"__vb") /
            ($"n_ref" + $"n_cur" - 2)), 6).as("cohens_d"))
    }, Some(
      """WITH a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, avg(o_totalprice) AS m,
        |    var_samp(o_totalprice) AS v
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01'),
        |b AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, avg(o_totalprice) AS m,
        |    var_samp(o_totalprice) AS v
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        |    AND o_orderdate < TIMESTAMP '2001-01-01')
        |SELECT a.n AS n_ref, b.n AS n_cur,
        |  floor(a.m * 100 + 0.5) / 100.0 AS mean_ref,
        |  floor(b.m * 100 + 0.5) / 100.0 AS mean_cur,
        |  floor((b.m - a.m) / sqrt(a.v / a.n + b.v / b.n)
        |    * 1000000 + 0.5) / 1000000.0 AS t_stat,
        |  floor((a.v / a.n + b.v / b.n) * (a.v / a.n + b.v / b.n)
        |      / ((a.v / a.n) * (a.v / a.n) / (a.n - 1)
        |        + (b.v / b.n) * (b.v / b.n) / (b.n - 1))
        |    * 10000 + 0.5) / 10000.0 AS df_welch,
        |  floor((b.m - a.m)
        |      / sqrt(((a.n - 1) * a.v + (b.n - 1) * b.v)
        |        / (a.n + b.n - 2))
        |    * 1000000 + 0.5) / 1000000.0 AS cohens_d
        |FROM a, b""".stripMargin)),

    // ONE-WAY ANOVA — does order priority move the money? F over the
    // o_orderpriority groups of o_totalprice: one per-group hash
    // aggregate (k rows out however many rows in), then ONE reduce of
    // those k rows — SSW from the per-group sample variances, SSB in
    // moment form (Σn·m² − (Σn·m)²/N, exactly Σn(m−m̄)² in exact
    // arithmetic). The moment form is what keeps the plan to a SINGLE
    // fact scan (PlanShapeSpec-pinned): the centered form needs the
    // grand mean first, i.e. the k-row table twice, and Catalyst
    // plans that as a second scan. Its cancellation costs ~6 of 16
    // digits here (terms ~1e15 vs SSB ~1e9) — both engines lose the
    // SAME digits, so the rounded ratios still agree.
    QuerySpec("q173_anova_f", (s, d) => {
      Tables.orders(s, d)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("__ng"), avg($"o_totalprice").as("__mg"),
          var_samp($"o_totalprice").as("__vg"))
        .agg(sum($"__ng").as("__n"), count(lit(1)).as("__k"),
          sum($"__ng" * $"__mg").as("__s1"),
          sum($"__ng" * $"__mg" * $"__mg").as("__s2"),
          sum(($"__ng" - 1) * $"__vg").as("__ssw"))
        .select($"__k".as("k_groups"), $"__n".as("n"),
          (($"__s2" - $"__s1" * $"__s1" / $"__n")).as("__ssb"),
          $"__ssw", $"__k", $"__n")
        .select($"k_groups", $"n",
          Fns.roundU(($"__ssb" / ($"__k" - 1)) /
            ($"__ssw" / ($"__n" - $"__k")), 6).as("f_stat"),
          Fns.roundU($"__ssb" / ($"__ssb" + $"__ssw"), 6).as("eta_sq"))
    }, Some(
      """WITH g AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS ng,
        |    avg(o_totalprice) AS mg, var_samp(o_totalprice) AS vg
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
        |        CAST(count(*) AS BIGINT) AS k_groups,
        |        sum(ng * mg) AS s1, sum(ng * mg * mg) AS s2,
        |        sum((ng - 1) * vg) AS ssw FROM g),
        |a AS (SELECT k_groups, n, s2 - s1 * s1 / n AS ssb, ssw FROM t)
        |SELECT k_groups, n,
        |  floor((ssb / (k_groups - 1)) / (ssw / (n - k_groups))
        |    * 1000000 + 0.5) / 1000000.0 AS f_stat,
        |  floor(ssb / (ssb + ssw) * 1000000 + 0.5) / 1000000.0 AS eta_sq
        |FROM a""".stripMargin)),

    // CRAMÉR'S V — q119's chi² made comparable across table shapes:
    // the returnflag × linestatus association normalized to [0,1] by
    // n·(min(r,c)−1). The contingency table is one hash aggregate
    // (≤ |flags|·|statuses| cells regardless of row count); expecteds
    // come from broadcast marginals; observed counts stay exact longs
    // until the single chi² division.
    QuerySpec("q174_cramers_v", (s, d) => {
      val obs = Tables.lineitem(s, d)
        .groupBy($"l_returnflag".as("r"), $"l_linestatus".as("c"))
        .agg(count(lit(1)).as("__o"))
      val mr = obs.groupBy($"r").agg(sum($"__o").as("__nr"))
      val mc = obs.groupBy($"c").agg(sum($"__o").as("__nc"))
      val nt = obs.agg(sum($"__o").as("__n"),
        countDistinct($"r").as("r_levels"),
        countDistinct($"c").as("c_levels"))
      obs.join(broadcast(mr), Seq("r")).join(broadcast(mc), Seq("c"))
        .crossJoin(broadcast(nt))
        .select($"__n", $"r_levels", $"c_levels",
          (pow($"__o" - $"__nr" * $"__nc" / $"__n", 2) /
            ($"__nr" * $"__nc" / $"__n")).as("__x"))
        .groupBy($"__n", $"r_levels", $"c_levels")
        .agg(sum($"__x").as("__chi2"))
        .select($"__n".as("n"), $"r_levels", $"c_levels",
          Fns.roundU($"__chi2", 4).as("chi2"),
          Fns.roundU(sqrt($"__chi2" / ($"__n" *
            (least($"r_levels", $"c_levels") - 1))), 6).as("cramers_v"))
    }, Some(
      """WITH obs AS (
        |  SELECT l_returnflag AS r, l_linestatus AS c,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM lineitem GROUP BY 1, 2),
        |mr AS (SELECT r, CAST(sum(o) AS BIGINT) AS nr FROM obs GROUP BY 1),
        |mc AS (SELECT c, CAST(sum(o) AS BIGINT) AS nc FROM obs GROUP BY 1),
        |nt AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |         CAST(count(DISTINCT r) AS BIGINT) AS r_levels,
        |         CAST(count(DISTINCT c) AS BIGINT) AS c_levels FROM obs),
        |x AS (SELECT n, r_levels, c_levels,
        |        (o - nr * nc / CAST(n AS DOUBLE))
        |          * (o - nr * nc / CAST(n AS DOUBLE))
        |          / (nr * nc / CAST(n AS DOUBLE)) AS xx
        |      FROM obs JOIN mr USING (r) JOIN mc USING (c), nt),
        |a AS (SELECT n, r_levels, c_levels, sum(xx) AS chi2
        |      FROM x GROUP BY 1, 2, 3)
        |SELECT n, r_levels, c_levels,
        |  floor(chi2 * 10000 + 0.5) / 10000.0 AS chi2,
        |  floor(sqrt(chi2 / (n * (least(r_levels, c_levels) - 1)))
        |    * 1000000 + 0.5) / 1000000.0 AS cramers_v
        |FROM a""".stripMargin)),

    // CALIBRATION CURVE + BRIER — the model-eval suite's missing
    // member: q162/q164 grade RANKING (PR, AUC); this grades the
    // PROBABILITIES themselves. Scores normalize to [0,1] by the
    // broadcast min/max, bins reuse the q145 exact-decile machinery
    // (decile of the normalized score = decile of the raw score — the
    // map is monotone, so the bounds come straight off c_acctbal), and
    // each bin reports mean predicted vs observed rate plus its Brier
    // contribution. Two broadcasts and two hash aggregates end to end.
    QuerySpec("q175_calibration", (s, d) => {
      val scored = urgentScored(s, d)
      val mm = scored.agg(min($"c_acctbal").as("__lo"),
        max($"c_acctbal").as("__hi"))
      scored.crossJoin(broadcast(decileBounds(scored, "c_acctbal")))
        .crossJoin(broadcast(mm))
        .select(decileOf($"c_acctbal").as("decile"), $"__y",
          (($"c_acctbal" - $"__lo") / ($"__hi" - $"__lo")).as("__p"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_cust"),
          Fns.roundU(avg($"__p"), 6).as("mean_pred"),
          Fns.roundU(avg($"__y"), 6).as("pos_rate"),
          Fns.roundU(avg(pow($"__p" - $"__y", 2)), 6).as("bin_brier"))
        .orderBy($"decile")
    }, Some(
      s"""WITH pos AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE o_orderpriority = '1-URGENT'),
        |sc AS (
        |  SELECT c_acctbal,
        |    CASE WHEN p.o_custkey IS NULL THEN 0 ELSE 1 END AS y
        |  FROM customer c LEFT JOIN pos p ON c.c_custkey = p.o_custkey),
        |ranked AS (
        |  SELECT c_acctbal, row_number() OVER (ORDER BY c_acctbal) AS rn,
        |    count(*) OVER () AS n FROM sc),
        |$decileBoundsCte,
        |mm AS (SELECT min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM sc),
        |dec AS (
        |  SELECT 10 - (SELECT count(*) FROM bounds WHERE s.c_acctbal > b)
        |      AS decile,
        |    y, (s.c_acctbal - lo) / (hi - lo) AS p
        |  FROM sc s, mm)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
        |  floor(avg(p) * 1000000 + 0.5) / 1000000.0 AS mean_pred,
        |  floor(avg(CAST(y AS DOUBLE)) * 1000000 + 0.5)
        |    / 1000000.0 AS pos_rate,
        |  floor(avg((p - y) * (p - y)) * 1000000 + 0.5)
        |    / 1000000.0 AS bin_brier
        |FROM dec GROUP BY decile ORDER BY decile""".stripMargin)),

    // MULTI-FEATURE OLS VIA NORMAL EQUATIONS — ŷ = β0 + β1·acctbal +
    // β2·n_items over every order, closed form: ONE scan reduces to
    // the covariance sufficient statistics, and the 2×2 Cramer solve
    // + R² happen on that single row. Covariance form, NOT raw
    // ΣxᵢxⱼE: centering is built into the one-pass aggregate, so the
    // solve conditions on spreads (~1e3) instead of raw second
    // moments (~1e9) and the cross-engine float agreement stays
    // relative-error-tight. q86's "a model per group with no
    // iterative solver", one feature wider — the same recipe extends
    // to any k with a k×k driver-side solve over k(k+3)/2 aggregates.
    QuerySpec("q179_ols_normal_eq", (s, d) => {
      val ni = Tables.lineitem(s, d).groupBy($"l_orderkey")
        .agg(count(lit(1)).as("__k"))
      val rows = Tables.orders(s, d)
        .join(ni, $"o_orderkey" === $"l_orderkey")
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .select($"o_totalprice".as("__y"), $"c_acctbal".as("__x1"),
          $"__k".cast("double").as("__x2"))
      val st = rows.agg(count(lit(1)).as("n"),
        avg($"__y").as("__my"), avg($"__x1").as("__m1"),
        avg($"__x2").as("__m2"),
        var_samp($"__x1").as("__v11"), var_samp($"__x2").as("__v22"),
        covar_samp($"__x1", $"__x2").as("__v12"),
        covar_samp($"__x1", $"__y").as("__c1"),
        covar_samp($"__x2", $"__y").as("__c2"),
        var_samp($"__y").as("__vy"))
      val det = $"__v11" * $"__v22" - $"__v12" * $"__v12"
      val b1 = ($"__c1" * $"__v22" - $"__c2" * $"__v12") / det
      val b2 = ($"__c2" * $"__v11" - $"__c1" * $"__v12") / det
      st.select($"n",
        Fns.roundU($"__my" - b1 * $"__m1" - b2 * $"__m2", 4).as("b0"),
        Fns.roundU(b1, 6).as("b1"),
        Fns.roundU(b2, 6).as("b2"),
        Fns.roundU((b1 * $"__c1" + b2 * $"__c2") / $"__vy", 6).as("r2"))
    }, Some(
      """WITH ni AS (
        |  SELECT l_orderkey, CAST(count(*) AS DOUBLE) AS k
        |  FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT o_totalprice AS y, c_acctbal AS x1, k AS x2
        |  FROM orders JOIN ni ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, avg(y) AS my,
        |    avg(x1) AS m1, avg(x2) AS m2,
        |    var_samp(x1) AS v11, var_samp(x2) AS v22,
        |    covar_samp(x1, x2) AS v12,
        |    covar_samp(x1, y) AS c1, covar_samp(x2, y) AS c2,
        |    var_samp(y) AS vy
        |  FROM r),
        |b AS (
        |  SELECT n, my, m1, m2, c1, c2, vy,
        |    (c1 * v22 - c2 * v12) / (v11 * v22 - v12 * v12) AS b1,
        |    (c2 * v11 - c1 * v12) / (v11 * v22 - v12 * v12) AS b2
        |  FROM st)
        |SELECT n,
        |  floor((my - b1 * m1 - b2 * m2) * 10000 + 0.5) / 10000.0 AS b0,
        |  floor(b1 * 1000000 + 0.5) / 1000000.0 AS b1,
        |  floor(b2 * 1000000 + 0.5) / 1000000.0 AS b2,
        |  floor((b1 * c1 + b2 * c2) / vy * 1000000 + 0.5)
        |    / 1000000.0 AS r2
        |FROM b""".stripMargin)),

    // RFM SEGMENTATION — the classic CRM cube: per customer Recency
    // (days since last order vs the corpus max date), Frequency
    // (order count), Monetary (lifetime totalprice), each scored 1-5
    // by EXACT quintile bounds (q50's histogram machinery over the
    // per-customer aggregate — bounds are actual data values, so both
    // engines cut at bit-identical points), assigned by the q145
    // broadcast-fold. One fact aggregate, three 1-row broadcasts, and
    // a ≤125-cell readout — no windows, no sorts, at any scale.
    QuerySpec("q182_rfm", (s, d) => {
      val mx = Tables.orders(s, d).agg(max($"o_orderdate").as("__mx"))
      val cust = Tables.orders(s, d)
        .groupBy($"o_custkey")
        .agg(max($"o_orderdate").as("__last"),
          count(lit(1)).as("__f"),
          // monetary is an EXACT decimal sum everywhere — both the
          // reported cell total AND the quintile-bound input (a double
          // sum is summation-order-dependent, so a customer sitting
          // exactly on a bound could flip m_score between engines)
          sum($"o_totalprice".cast("decimal(18,2)")).as("__md"))
        .crossJoin(broadcast(mx))
        .select($"o_custkey",
          datediff($"__mx", $"__last").cast("long").as("__r"),
          $"__f", $"__md")
      // ONE exact-quantile pass for all three metrics, grouped by
      // metric name, instead of three independent job chains (each a
      // histogram cascade + its own broadcast): the quantile operator
      // is already per-group, so the metric axis IS a group key. The
      // selected bounds are rank-exact (value at ceil(q·n)), hence
      // bit-identical to the per-column calls — the oracle and the
      // output hash are untouched. Values unify as double exactly as
      // before (exactQuantiles works in double internally; the
      // decimal discipline above protects the SUM, and the one
      // exact-sum→double conversion is order-independent).
      val metrics = cust.select(explode(map(
          lit("r"), $"__r".cast("double"),
          lit("f"), $"__f".cast("double"),
          lit("m"), $"__md".cast("double"))))
        .toDF("__metric", "__value")
      val bounds = Percentiles.exactQuantiles(metrics, "__metric",
          "__value", Seq(0.2, 0.4, 0.6, 0.8))
        .groupBy($"__metric")
        .agg(sort_array(collect_list($"value")).as("__bs"))
        .agg(map_from_entries(collect_list(struct($"__metric", $"__bs")))
          .as("__bm"))
      def score(x: org.apache.spark.sql.Column,
          bs: org.apache.spark.sql.Column) =
        lit(1) + aggregate(bs, lit(0),
          (acc, b) => acc + when(x > b, 1).otherwise(0))
      cust.crossJoin(broadcast(bounds))
        // recency inverts: score 5 = most recent (smallest gap).
        // Scores cast to long so the output type matches the oracle's
        // BIGINT (the driver's hash is type-sensitive).
        .select((lit(6) - score($"__r", element_at($"__bm", "r")))
            .cast("long").as("r_score"),
          score($"__f", element_at($"__bm", "f")).cast("long")
            .as("f_score"),
          score($"__md", element_at($"__bm", "m")).cast("long")
            .as("m_score"),
          $"__md")
        .groupBy($"r_score", $"f_score", $"m_score")
        .agg(count(lit(1)).as("n_cust"),
          // emit EXACT INTEGER CENTS, not the raw decimal sum: a wide
          // DECIMAL(38,2) final column proved comparator-fragile across
          // DuckDB versions (r6/r7 driver hash reds with bit-identical
          // values locally) — the house idiom (q238-q248) is a BIGINT
          // cents column, which hashes identically everywhere. __md is
          // DECIMAL(18,2) so *100 and the long cast are both exact.
          sum(($"__md" * lit(100)).cast("long")).as("sum_monetary"))
        .orderBy($"r_score", $"f_score", $"m_score")
    }, Some(
      """WITH mx AS (SELECT max(o_orderdate) AS m FROM orders),
        |cust AS (
        |  SELECT o_custkey,
        |    date_diff('day', CAST(max(o_orderdate) AS DATE),
        |      CAST((SELECT m FROM mx) AS DATE)) AS r,
        |    CAST(count(*) AS BIGINT) AS f,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS md
        |  FROM orders GROUP BY 1),
        |qs AS (SELECT CAST(q AS DOUBLE) AS q
        |       FROM (VALUES (0.2),(0.4),(0.6),(0.8)) v(q)),
        |rb AS (
        |  SELECT v AS b FROM (
        |    SELECT r AS v, row_number() OVER (ORDER BY r) AS rn,
        |      count(*) OVER () AS n FROM cust), qs
        |  WHERE rn = greatest(1, CAST(ceil(q * n) AS BIGINT))),
        |fb AS (
        |  SELECT v AS b FROM (
        |    SELECT f AS v, row_number() OVER (ORDER BY f) AS rn,
        |      count(*) OVER () AS n FROM cust), qs
        |  WHERE rn = greatest(1, CAST(ceil(q * n) AS BIGINT))),
        |mb AS (
        |  SELECT v AS b FROM (
        |    SELECT md AS v, row_number() OVER (ORDER BY md) AS rn,
        |      count(*) OVER () AS n FROM cust), qs
        |  WHERE rn = greatest(1, CAST(ceil(q * n) AS BIGINT))),
        |sc AS (
        |  SELECT
        |    CAST(6 - (1 + (SELECT count(*) FROM rb WHERE c.r > b))
        |      AS BIGINT) AS r_score,
        |    CAST(1 + (SELECT count(*) FROM fb WHERE c.f > b)
        |      AS BIGINT) AS f_score,
        |    CAST(1 + (SELECT count(*) FROM mb WHERE c.md > b)
        |      AS BIGINT) AS m_score,
        |    md
        |  FROM cust c)
        |SELECT r_score, f_score, m_score,
        |  CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(CAST(md * 100 AS BIGINT)) AS BIGINT) AS sum_monetary
        |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // FORECAST BACKTEST — grade the seasonal-naive forecaster
    // (ŷ_t = y_{t-7}) over the 2000 evaluation year: MAE/MAPE/bias/
    // RMSE of daily revenue. The series is ONE bounded hash aggregate
    // (a row per day, however many fact rows feed it), the 7-day
    // shift is an equi-JOIN of that table against itself shifted —
    // q169's shifted-day idiom, no window over the raw facts — and
    // the scorecard is a single reduce. The eval harness generalizes:
    // swap the fc branch for any per-day prediction table.
    QuerySpec("q183_forecast_backtest", (s, d) => {
      val days = Tables.orders(s, d)
        .groupBy(to_date($"o_orderdate").as("__d"))
        .agg(sum($"o_totalprice").as("__v"))
      val fc = days.select(date_add($"__d", 7).as("__d"),
        $"__v".as("__f"))
      days.filter($"__d" >= "2000-01-01" && $"__d" < "2001-01-01")
        .join(fc, Seq("__d"))
        .agg(count(lit(1)).as("n_days"),
          Fns.roundU(avg(abs($"__v" - $"__f")), 2).as("mae"),
          // MAPE averages only days with v > 0 (avg skips the nulls):
          // a zero-revenue day would otherwise poison the scorecard
          // with Inf on both engines
          Fns.roundU(avg(when($"__v" > 0, abs($"__v" - $"__f") / $"__v")),
            6).as("mape"),
          Fns.roundU(avg($"__v" - $"__f"), 2).as("bias"),
          Fns.roundU(sqrt(avg(pow($"__v" - $"__f", 2))), 2).as("rmse"))
    }, Some(
      """WITH days AS (
        |  SELECT CAST(o_orderdate AS DATE) AS dd,
        |    sum(o_totalprice) AS v
        |  FROM orders GROUP BY 1),
        |fc AS (SELECT dd + 7 AS dd, v AS f FROM days),
        |e AS (
        |  SELECT d.v, fc.f FROM days d JOIN fc USING (dd)
        |  WHERE d.dd >= DATE '2000-01-01' AND d.dd < DATE '2001-01-01')
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |  floor(avg(abs(v - f)) * 100 + 0.5) / 100.0 AS mae,
        |  floor(avg(CASE WHEN v > 0 THEN abs(v - f) / v END)
        |    * 1000000 + 0.5) / 1000000.0 AS mape,
        |  floor(avg(v - f) * 100 + 0.5) / 100.0 AS bias,
        |  floor(sqrt(avg((v - f) * (v - f))) * 100 + 0.5)
        |    / 100.0 AS rmse
        |FROM e""".stripMargin)),

    // GROWTH ACCOUNTING — the SaaS-board quarterly customer ledger:
    // every active (customer, quarter) is exactly one of new (first
    // quarter ever), retained (also active the quarter before) or
    // resurrected; churn is charged to the quarter a previously
    // active customer went quiet. All set algebra on exact ints: one
    // distinct activity table, a min-aggregate for first quarters,
    // the quarter-1 comparison as a self equi-join on the shifted
    // key (never a per-customer window), churn as an anti-join of
    // the shifted table against activity. Integer counts end to end
    // — no float surface at all.
    QuerySpec("q185_growth_accounting", (s, d) => {
      val act = Tables.orders(s, d)
        .select($"o_custkey".as("c"),
          (year($"o_orderdate") * 4 + quarter($"o_orderdate") - 1)
            .as("qi"))
        .distinct().transform(scoped)
      val firstq = act.groupBy($"c").agg(min($"qi").as("__fq"))
      val shifted = act.select($"c", ($"qi" + 1).as("qi"))
      // shifted is distinct by construction (act is), so the left
      // join marks prev-quarter activity without row multiplication
      val statused = act.join(firstq, Seq("c"))
        .join(shifted.withColumn("__p", lit(1)), Seq("c", "qi"), "left")
        .groupBy($"qi")
        .agg(count(lit(1)).as("n_active"),
          sum(when($"qi" === $"__fq", 1).otherwise(0)).as("n_new"),
          sum(when($"qi" =!= $"__fq" && $"__p".isNotNull, 1)
            .otherwise(0)).as("n_retained"),
          sum(when($"qi" =!= $"__fq" && $"__p".isNull, 1)
            .otherwise(0)).as("n_resurrected"))
      val churn = shifted.join(act, Seq("c", "qi"), "left_anti")
        .groupBy($"qi").agg(count(lit(1)).as("n_churned"))
      statused.join(churn, Seq("qi"), "left")
        .na.fill(0L, Seq("n_churned"))
        .select((($"qi" / 4).cast("long")).as("year"),
          ($"qi" % 4 + 1).cast("long").as("quarter"),
          $"n_active", $"n_new", $"n_retained", $"n_resurrected",
          $"n_churned",
          ($"n_new" + $"n_resurrected" - $"n_churned").as("net"))
        .orderBy($"year", $"quarter")
    }, Some(
      """WITH act AS (
        |  SELECT DISTINCT o_custkey AS c,
        |    year(o_orderdate) * 4 + quarter(o_orderdate) - 1 AS qi
        |  FROM orders),
        |firstq AS (SELECT c, min(qi) AS fq FROM act GROUP BY 1),
        |shifted AS (SELECT c, qi + 1 AS qi FROM act),
        |st AS (
        |  SELECT a.qi, CAST(count(*) AS BIGINT) AS n_active,
        |    CAST(sum(CASE WHEN a.qi = f.fq THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN a.qi <> f.fq AND s.c IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN a.qi <> f.fq AND s.c IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM act a JOIN firstq f ON a.c = f.c
        |  LEFT JOIN shifted s ON a.c = s.c AND a.qi = s.qi
        |  GROUP BY 1),
        |ch AS (
        |  SELECT s.qi, CAST(count(*) AS BIGINT) AS n_churned
        |  FROM shifted s
        |  WHERE NOT EXISTS (SELECT 1 FROM act a
        |    WHERE a.c = s.c AND a.qi = s.qi)
        |  GROUP BY 1)
        |SELECT CAST(st.qi // 4 AS BIGINT) AS year,
        |  CAST(st.qi % 4 + 1 AS BIGINT) AS quarter,
        |  n_active, n_new, n_retained, n_resurrected,
        |  coalesce(n_churned, 0) AS n_churned,
        |  n_new + n_resurrected - coalesce(n_churned, 0) AS net
        |FROM st LEFT JOIN ch ON st.qi = ch.qi
        |ORDER BY year, quarter""".stripMargin)),

    // THEIL-SEN ROBUST TREND — the median-of-pairwise-slopes
    // estimator over daily revenue, the outlier-immune counterpart to
    // q179's OLS. Day pairs are pairs of DAILY AGGREGATES (bounded by
    // the calendar, not by data volume — ~n_days²/2 rows, never
    // data×data), and each slope is ONE double division of exact
    // integer cent/day differences, so the slope multiset is
    // bit-identical across engines. Median = the LOWER median (the
    // ⌈n/2⌉-th smallest ELEMENT, selected by rank) on BOTH sides —
    // never interpolated: percentile()'s midpoint average is
    // 0.5a+0.5b on Spark but a+0.5(b-a) on DuckDB, a last-ulp
    // divergence this selection-based definition removes by
    // construction. Intercept = lower median over days of
    // (cents - slope*day), the standard Theil-Sen pairing. The rank
    // windows run over day-pair aggregates (calendar-bounded), not
    // data rows.
    QuerySpec("q198_theil_sen", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date($"o_orderdate").as("__day"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("__c"))
        .select(datediff($"__day", to_date(lit("1970-01-01")))
          .cast("long").as("__x"), $"__c")
      val a = daily.select($"__x".as("__x1"), $"__c".as("__c1"))
      val b = daily.select($"__x".as("__x2"), $"__c".as("__c2"))
      // median SELECTION rides the distributed prefix-sum rank (the
      // q98 machinery: range partition + local sort + boundary
      // offsets), not a one-task row_number window — ~n_days²/2 pair
      // rows sort on every core (measured 3.5 → 1.8 s at sf0.1); with
      // duplicate slope values ranks are still unique per ROW, and
      // the VALUE at the median rank is what both engines agree on
      // persisted because THREE executions read it (the count, the
      // range-partitioner's sample pass, the ranked pass) — without
      // this the pair join re-runs each time; released by the
      // session-level cache clear (Bench/Verify per query)
      val slopes = a.join(b, $"__x1" < $"__x2")
        .select((($"__c2" - $"__c1").cast("double") /
          ($"__x2" - $"__x1")).as("__slope"))
        .withColumn("__g", lit(1))
        .transform(scoped)
      val np = slopes.agg(count(lit(1)).as("n_pairs"))
      val slope = Packing.prefixSum(slopes, Seq("__g"), Seq("__slope"),
          "__g", "__rk")
        .crossJoin(broadcast(np))
        .filter($"__rk" === expr("(n_pairs + 1) div 2"))
        .select($"n_pairs", $"__slope".as("__m"))
      val resid = daily.crossJoin(broadcast(slope))
        .select($"n_pairs", $"__m",
          ($"__c".cast("double") - $"__m" * $"__x").as("__r"))
        .withColumn("__g", lit(1))
      val nd = resid.agg(count(lit(1)).as("n_days"))
      Packing.prefixSum(resid, Seq("__g"), Seq("__r"), "__g", "__rk")
        .crossJoin(broadcast(nd))
        .filter($"__rk" === expr("(n_days + 1) div 2"))
        .select($"n_days", $"n_pairs",
          Fns.roundU($"__m", 4).as("slope_cents_per_day"),
          Fns.roundU($"__r", 4).as("intercept_cents"))
    }, Some(
      // q198: identical slope/residual doubles (one division of exact
      // ints), LOWER median selected by rank on both engines — no
      // interpolation formula to diverge
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS c
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT CAST(b.c - a.c AS DOUBLE) / (b.x - a.x) AS slope
        |  FROM daily a, daily b WHERE a.x < b.x),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM p),
        |ms AS (
        |  SELECT n_pairs, slope AS m
        |  FROM (SELECT slope, row_number() OVER (ORDER BY slope) AS rk
        |        FROM p), np
        |  WHERE rk = (n_pairs + 1) // 2),
        |res AS (
        |  SELECT n_pairs, m, CAST(c AS DOUBLE) - m * x AS r
        |  FROM daily, ms),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM res),
        |mi AS (
        |  SELECT n_days, n_pairs, m, r
        |  FROM (SELECT *, row_number() OVER (ORDER BY r) AS rk
        |        FROM res), nd
        |  WHERE rk = (n_days + 1) // 2)
        |SELECT n_days, n_pairs,
        |  floor(m * 10000 + 0.5) / 10000.0 AS slope_cents_per_day,
        |  floor(r * 10000 + 0.5) / 10000.0 AS intercept_cents
        |FROM mi""".stripMargin)),

    // POISSON-BOOTSTRAP CI — resampling-based uncertainty without
    // moving data: each (order, replica) draws a Poisson(1) count
    // from an ENGINE-INDEPENDENT multiplicative hash (the q101
    // uniform, fixed inverse-CDF thresholds identical on both
    // sides), replica means ride exact integer cent sums with one
    // division, and the 95% CI is the 5th/196th ORDER STATISTIC of
    // the 200 replica means — selected by rank (the q198 discipline,
    // no interpolation). The scale shape: B×N rows but the aggregate
    // is 200 groups with map-side partial sums — the shuffle carries
    // 200·partitions rows, not B×N; this is the textbook cluster
    // bootstrap (Poisson counts avoid coordinating a true
    // N-out-of-N resample across executors).
    QuerySpec("q200_bootstrap_ci", (s, d) => {
      val ord = Tables.orders(s, d)
        .select($"o_orderkey",
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("__cents"))
      val rep = ord
        .select($"o_orderkey", $"__cents",
          explode(sequence(lit(0), lit(199))).as("__b"))
        .withColumn("__x",
          ($"o_orderkey" * 1009 + $"__b" * 9176) % 2147483647L)
        .withColumn("__k", ($"__x" * 2654435761L) % 4294967296L)
        .withColumn("__u", $"__k".cast("double") / 4294967296.0)
        .withColumn("__c",
          when($"__u" < 0.36787944117144233, 0L)
            .when($"__u" < 0.7357588823428847, 1L)
            .when($"__u" < 0.9196986029286058, 2L)
            .when($"__u" < 0.9810118431238462, 3L)
            .when($"__u" < 0.9963401531726563, 4L)
            .when($"__u" < 0.9994058151824183, 5L)
            .otherwise(6L))
      val means = rep.groupBy($"__b")
        .agg((sum($"__c" * $"__cents").cast("double") / sum($"__c"))
          .as("__m"))
      val ci = means
        .withColumn("__rk", row_number().over(Window.orderBy($"__m")))
        .agg(count(lit(1)).as("b_replicas"),
          min(when($"__rk" === 5, $"__m")).as("__lo"),
          min(when($"__rk" === 196, $"__m")).as("__hi"))
      ord.agg(count(lit(1)).as("n_orders"),
          (sum($"__cents").cast("double") / count(lit(1))).as("__pm"))
        .crossJoin(broadcast(ci))
        .select($"n_orders", $"b_replicas",
          Fns.roundU($"__pm" / 100.0, 4).as("mean_price"),
          Fns.roundU($"__lo" / 100.0, 4).as("ci_lo"),
          Fns.roundU($"__hi" / 100.0, 4).as("ci_hi"))
    }, Some(
      // q200: identical hash, thresholds and rank selection — the
      // replica means are bit-identical doubles on both engines
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |rep AS (
        |  SELECT cents, b.i AS b,
        |    ((o_orderkey * 1009 + b.i * 9176) % 2147483647)
        |      * 2654435761 % 4294967296 AS k
        |  FROM o, range(0, 200) b(i)),
        |cnt AS (
        |  SELECT b, cents,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         ELSE 6 END AS c
        |  FROM (SELECT b, cents, CAST(k AS DOUBLE) / 4294967296.0 AS u
        |        FROM rep)),
        |means AS (
        |  SELECT b, CAST(sum(c * cents) AS DOUBLE)
        |    / CAST(sum(c) AS BIGINT) AS m
        |  FROM cnt GROUP BY b),
        |r AS (SELECT m, row_number() OVER (ORDER BY m) AS rk FROM means),
        |ci AS (
        |  SELECT CAST(count(*) AS BIGINT) AS b_replicas,
        |    min(CASE WHEN rk = 5 THEN m END) AS lo,
        |    min(CASE WHEN rk = 196 THEN m END) AS hi
        |  FROM r),
        |base AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(cents) AS DOUBLE) / count(*) AS pm
        |  FROM o)
        |SELECT n_orders, b_replicas,
        |  floor((pm / 100.0) * 10000 + 0.5) / 10000.0 AS mean_price,
        |  floor((lo / 100.0) * 10000 + 0.5) / 10000.0 AS ci_lo,
        |  floor((hi / 100.0) * 10000 + 0.5) / 10000.0 AS ci_hi
        |FROM base, ci""".stripMargin)),

    // DIFFERENCE-IN-DIFFERENCES — the two-group two-period causal
    // readout (CUPED q137's observational sibling): treated nations
    // (even nationkey) vs control, pre/post 1996, outcome = mean
    // order value. Four cell means from ONE grouped scan (each an
    // exact long cent sum with one division), pivoted to a single
    // row by conditional aggregation; the estimate is the standard
    // (T,post − T,pre) − (C,post − C,pre). An absent cell yields
    // NULL (a data fact at tiny SFs), never a fabricated zero.
    QuerySpec("q201_diff_in_diff", (s, d) => {
      val cells = Tables.orders(s, d)
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .select(($"c_nationkey" % 2 === 0).as("__treat"),
          ($"o_orderdate" >= lit("1996-01-01").cast("timestamp"))
            .as("__post"),
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("__cents"))
        .groupBy($"__treat", $"__post")
        .agg(count(lit(1)).as("__n"),
          (sum($"__cents").cast("double") / count(lit(1))).as("__m"))
      cells.agg(
          sum($"__n").as("n_orders"),
          min(when($"__treat" && $"__post", $"__m")).as("__tp"),
          min(when($"__treat" && !$"__post", $"__m")).as("__tq"),
          min(when(!$"__treat" && $"__post", $"__m")).as("__cp"),
          min(when(!$"__treat" && !$"__post", $"__m")).as("__cq"))
        .select($"n_orders",
          Fns.roundU(($"__tp" - $"__tq") / 100.0, 4).as("treat_delta"),
          Fns.roundU(($"__cp" - $"__cq") / 100.0, 4)
            .as("control_delta"),
          Fns.roundU((($"__tp" - $"__tq") - ($"__cp" - $"__cq")) / 100.0,
            4).as("did"))
    }, Some(
      // q201: the same four cell means (one division each) and the
      // same subtraction order
      """WITH cells AS (
        |  SELECT c_nationkey % 2 = 0 AS tr,
        |    o_orderdate >= TIMESTAMP '1996-01-01' AS post,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS DOUBLE) / count(*) AS m
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_orders,
        |    min(CASE WHEN tr AND post THEN m END) AS tp,
        |    min(CASE WHEN tr AND NOT post THEN m END) AS tq,
        |    min(CASE WHEN NOT tr AND post THEN m END) AS cp,
        |    min(CASE WHEN NOT tr AND NOT post THEN m END) AS cq
        |  FROM cells)
        |SELECT n_orders,
        |  floor(((tp - tq) / 100.0) * 10000 + 0.5) / 10000.0
        |    AS treat_delta,
        |  floor(((cp - cq) / 100.0) * 10000 + 0.5) / 10000.0
        |    AS control_delta,
        |  floor((((tp - tq) - (cp - cq)) / 100.0) * 10000 + 0.5)
        |    / 10000.0 AS did
        |FROM p""".stripMargin)),

    // MANN-WHITNEY U — the nonparametric two-sample location test
    // (click vs purchase spend), with the TIE-CORRECTED normal
    // approximation. Pooled fractional ranks come from Stats.avgRanks
    // (the compacted two-phase prefix scan — never a one-task global
    // sort), and every input to the z formula is EXACT: ranks are
    // multiples of 0.5 below 2^53 (order-independent double sums),
    // counts and the tie term Σ(t³−t) are integers — so the one final
    // double expression evaluates bit-identically on both engines.
    QuerySpec("q212_mann_whitney", (s, d) => {
      val ev = Tables.events(s, d)
        .filter($"event_type".isin("click", "purchase"))
        .select($"event_type", $"value")
      val pooled = ev.withColumn("__g", lit(1))
      val st = pooled.join(Stats.avgRanks(pooled, "__g", "value"),
          Seq("__g", "value"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("__n"), sum($"__rk_value").as("__rs"))
      val ties = pooled.groupBy($"value")
        .agg(count(lit(1)).as("__t"))
        .agg(sum($"__t" * $"__t" * $"__t" - $"__t").as("__ts"))
      val piv = st.agg(
          max(when($"event_type" === "click", $"__n")).as("n1"),
          max(when($"event_type" === "purchase", $"__n")).as("n2"),
          max(when($"event_type" === "click", $"__rs")).as("__r1"))
        .crossJoin(broadcast(ties))
      val u1 = $"__r1" - $"n1" * ($"n1" + 1) / 2.0
      val nn = $"n1" + $"n2"
      piv.select($"n1", $"n2",
        Fns.roundU(u1, 2).as("u1"),
        Fns.roundU((u1 - $"n1" * $"n2" / 2.0) /
          sqrt($"n1" * $"n2" / 12.0 *
            ((nn + 1) - $"__ts" / (nn * (nn - 1.0)))), 6).as("z"),
        Fns.roundU(u1 / ($"n1" * $"n2"), 6).as("auc"),
        $"__ts".as("tie_term"))
    }, Some(
      """WITH ev AS (
        |  SELECT event_type, value FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |r AS (
        |  SELECT event_type,
        |    rank() OVER (ORDER BY value)
        |      + (count(*) OVER (PARTITION BY value) - 1) / 2.0 AS rk
        |  FROM ev),
        |st AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 END)
        |      AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
        |      AS BIGINT) AS n2,
        |    sum(CASE WHEN event_type = 'click' THEN rk END) AS r1
        |  FROM r),
        |t AS (
        |  SELECT CAST(sum(c * c * c - c) AS BIGINT) AS ts
        |  FROM (SELECT count(*) AS c FROM ev GROUP BY value))
        |SELECT n1, n2,
        |  floor((r1 - n1 * (n1 + 1) / 2.0) * 100 + 0.5) / 100.0 AS u1,
        |  floor(((r1 - n1 * (n1 + 1) / 2.0) - n1 * n2 / 2.0) /
        |    sqrt(n1 * n2 / 12.0 * ((n1 + n2 + 1)
        |      - ts / ((n1 + n2) * (n1 + n2 - 1.0))))
        |    * 1000000 + 0.5) / 1000000.0 AS z,
        |  floor((r1 - n1 * (n1 + 1) / 2.0) / (n1 * n2)
        |    * 1000000 + 0.5) / 1000000.0 AS auc,
        |  ts AS tie_term
        |FROM st, t""".stripMargin)),

    // BENJAMINI-HOCHBERG FDR — the multiple-testing layer every
    // metric sweep needs: a one-vs-rest Welch battery (each event
    // type's spend against all others) whose p-values are BH-adjusted
    // (p_adj_i = min over j≥i of p_j·m/j) and gated at q=0.05.
    // Scale split: the battery is ONE grouped scan (k rows out of any
    // row count) with rest-moments by EXACT decimal subtraction from
    // the broadcast total — order-independent — and the BH window
    // runs over the HYPOTHESIS table (m rows, bounded by group
    // cardinality, not data). p comes from the Abramowitz-Stegun
    // 7.1.26 erfc polynomial spelled identically in both engines
    // (neither Spark nor DuckDB exposes erf), so the doubles match
    // bit-for-bit from exact integer/decimal inputs.
    QuerySpec("q213_bh_fdr", (s, d) => {
      val ev = Tables.events(s, d)
        .select($"event_type", $"value".cast("decimal(18,2)").as("__v"))
      val g = ev.groupBy($"event_type")
        .agg(count(lit(1)).as("__n"), sum($"__v").as("__s"),
          sum($"__v" * $"__v").as("__q"))
      val tot = g.agg(sum($"__n").as("__nn"), sum($"__s").as("__ss"),
        sum($"__q").as("__qq"))
      val m = g.crossJoin(broadcast(tot)).select($"event_type",
        $"__n", ($"__nn" - $"__n").as("__nr"),
        $"__s".cast("double").as("__sd"),
        $"__q".cast("double").as("__qd"),
        ($"__ss" - $"__s").cast("double").as("__sr"),
        ($"__qq" - $"__q").cast("double").as("__qr"))
      val mg = $"__sd" / $"__n"
      val mr = $"__sr" / $"__nr"
      val vg = ($"__qd" - $"__sd" * $"__sd" / $"__n") / ($"__n" - 1)
      val vr = ($"__qr" - $"__sr" * $"__sr" / $"__nr") / ($"__nr" - 1)
      val tS = (mg - mr) / sqrt(vg / $"__n" + vr / $"__nr")
      // two-sided p = erfc(|t|/√2), A&S 7.1.26 (|err| < 1.5e-7);
      // Horner order mirrored character-for-character in the oracle
      val x = abs($"t_stat_full") / sqrt(lit(2.0))
      val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      val poly = tt * (lit(0.254829592) + tt * (lit(-0.284496736) +
        tt * (lit(1.421413741) + tt * (lit(-1.453152027) +
          tt * lit(1.061405429)))))
      val hyp = m.select($"event_type", $"__n".as("n"),
          Fns.roundU(mg, 4).as("mean_g"), tS.as("t_stat_full"))
        .withColumn("__p", poly * exp(-x * x))
      import org.apache.spark.sql.expressions.Window
      // hypothesis-table windows: m rows total (one per event type) —
      // bounded by group cardinality, so a global sort is fine here
      val wRank = Window.orderBy($"__p", $"event_type")
      val wTail = Window.orderBy($"__p", $"event_type")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      hyp
        .withColumn("__m", count(lit(1)).over(
          Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("__i", row_number().over(wRank))
        .withColumn("p_adj_raw",
          min($"__p" * $"__m" / $"__i").over(wTail))
        .select($"event_type", $"n", $"mean_g",
          Fns.roundU($"t_stat_full", 6).as("t_stat"),
          Fns.roundU($"__p", 8).as("p_value"),
          Fns.roundU(least(lit(1.0), $"p_adj_raw"), 8).as("p_adj"),
          (least(lit(1.0), $"p_adj_raw") <= 0.05).as("reject"))
        .orderBy($"event_type")
    }, Some(
      """WITH ev AS (
        |  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |g AS (
        |  SELECT event_type, count(*) AS n, sum(v) AS s,
        |    sum(v * v) AS q
        |  FROM ev GROUP BY event_type),
        |tot AS (SELECT sum(n) AS nn, sum(s) AS ss, sum(q) AS qq
        |  FROM g),
        |m AS (
        |  SELECT event_type, CAST(n AS BIGINT) AS n,
        |    CAST(nn - n AS BIGINT) AS nr,
        |    CAST(s AS DOUBLE) AS sd, CAST(q AS DOUBLE) AS qd,
        |    CAST(ss - s AS DOUBLE) AS sr, CAST(qq - q AS DOUBLE) AS qr
        |  FROM g, tot),
        |h AS (
        |  SELECT event_type, n, sd / n AS mg,
        |    ((sd / n) - (sr / nr)) /
        |      sqrt(((qd - sd * sd / n) / (n - 1)) / n
        |        + ((qr - sr * sr / nr) / (nr - 1)) / nr) AS tf
        |  FROM m),
        |px AS (
        |  SELECT event_type, n, mg, tf, abs(tf) / sqrt(2.0) AS x,
        |    1.0 / (1.0 + 0.3275911 * (abs(tf) / sqrt(2.0))) AS t1
        |  FROM h),
        |pp AS (
        |  SELECT event_type, n, mg, tf,
        |    t1 * (0.254829592 + t1 * (-0.284496736 + t1 * (1.421413741
        |      + t1 * (-1.453152027 + t1 * 1.061405429))))
        |      * exp(-x * x) AS p
        |  FROM px),
        |b AS (
        |  SELECT event_type, n, mg, tf, p, count(*) OVER () AS m,
        |    row_number() OVER (ORDER BY p, event_type) AS i
        |  FROM pp),
        |a AS (
        |  SELECT *, min(p * m / i) OVER (ORDER BY p, event_type
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS praw
        |  FROM b)
        |SELECT event_type, n,
        |  floor(mg * 10000 + 0.5) / 10000.0 AS mean_g,
        |  floor(tf * 1000000 + 0.5) / 1000000.0 AS t_stat,
        |  floor(p * 100000000 + 0.5) / 100000000.0 AS p_value,
        |  floor(least(1.0, praw) * 100000000 + 0.5) / 100000000.0
        |    AS p_adj,
        |  least(1.0, praw) <= 0.05 AS reject
        |FROM a ORDER BY event_type""".stripMargin)),

    // PER-GROUP OLS TREND — slope/intercept/R² of daily revenue vs
    // day index for each market segment over 1995: the least-squares
    // complement of q198's robust Theil-Sen. Two bounded aggregates
    // (days per segment, then 5 moment rows) — no window, no sort.
    // Numeric determinism: y is exact CENTS (the q193 floor idiom), x
    // an exact day index, and all five moments accumulate as
    // DECIMAL(20,0) products — order-independent integer sums (Σy²
    // overflows a BIGINT; decimal keeps it exact) — converted to
    // double ONCE before the closed-form fit, which both engines then
    // evaluate with the identical operation sequence.
    QuerySpec("q215_ols_trend", (s, d) => {
      val daily = Tables.orders(s, d)
        .filter($"o_orderdate" >= "1995-01-01" &&
          $"o_orderdate" < "1996-01-01")
        .join(Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment",
          datediff($"o_orderdate", to_date(lit("1995-01-01")))
            .as("__x"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("__y"))
      val m = daily.select($"c_mktsegment",
          $"__x".cast("decimal(20,0)").as("__xd"),
          $"__y".cast("decimal(20,0)").as("__yd"))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_days"),
          sum($"__xd").cast("double").as("__sx"),
          sum($"__yd").cast("double").as("__sy"),
          sum($"__xd" * $"__yd").cast("double").as("__sxy"),
          sum($"__xd" * $"__xd").cast("double").as("__sx2"),
          sum($"__yd" * $"__yd").cast("double").as("__sy2"))
      val n = $"n_days".cast("double")
      val sxx = n * $"__sx2" - $"__sx" * $"__sx"
      val sxy = n * $"__sxy" - $"__sx" * $"__sy"
      val syy = n * $"__sy2" - $"__sy" * $"__sy"
      m.select($"c_mktsegment", $"n_days",
          Fns.roundU(sxy / sxx, 4).as("slope_cents_per_day"),
          Fns.roundU(($"__sy" - sxy / sxx * $"__sx") / n, 2)
            .as("intercept_cents"),
          Fns.roundU(sxy * sxy / (sxx * syy), 6).as("r2"))
        .orderBy($"c_mktsegment")
    }, Some(
      """WITH daily AS (
        |  SELECT c_mktsegment,
        |    date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS x,
        |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01'
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT c_mktsegment,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(CAST(x AS DECIMAL(20,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(20,0))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x AS DECIMAL(20,0)) * CAST(y AS DECIMAL(20,0)))
        |      AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x AS DECIMAL(20,0)) * CAST(x AS DECIMAL(20,0)))
        |      AS DOUBLE) AS sx2,
        |    CAST(sum(CAST(y AS DECIMAL(20,0)) * CAST(y AS DECIMAL(20,0)))
        |      AS DOUBLE) AS sy2
        |  FROM daily GROUP BY 1)
        |SELECT c_mktsegment, n_days,
        |  floor((n * sxy - sx * sy) / (n * sx2 - sx * sx)
        |    * 10000 + 0.5) / 10000.0 AS slope_cents_per_day,
        |  floor((sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx)
        |    / n * 100 + 0.5) / 100.0 AS intercept_cents,
        |  floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |    / ((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
        |    * 1000000 + 0.5) / 1000000.0 AS r2
        |FROM m ORDER BY c_mktsegment""".stripMargin)),

    // MARKOV TRANSITION ENTROPY — per event type: where does the NEXT
    // event go, and how predictable is it? Successor pairs come from
    // one lead() window PARTITIONED BY USER (millions of small
    // partitions at scale — the scalable window shape, unlike a
    // global sort), ordered by (ts, event_id) so ties are
    // deterministic. Transition counts are exact; the conditional
    // entropy −Σ p·ln p and the top-successor pick (min of the
    // (−count, successor) struct — largest count, lexicographic
    // tie-break) are the q168 entropy idiom.
    QuerySpec("q216_markov_entropy", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts", $"event_id")
      val tr = Tables.events(s, d)
        .select($"user_id", $"ts", $"event_id",
          $"event_type".as("cur"))
        .withColumn("nxt", lead($"cur", 1).over(w))
        .filter($"nxt".isNotNull)
        .groupBy($"cur", $"nxt").agg(count(lit(1)).as("__c"))
      val tot = tr.groupBy($"cur").agg(sum($"__c").as("__n"),
        count(lit(1)).as("n_successors"))
      tr.join(broadcast(tot), Seq("cur"))
        .select($"cur", $"__n", $"n_successors",
          (($"__c" / $"__n") * log($"__c" / $"__n")).as("__t"),
          struct((-$"__c").as("nc"), $"nxt".as("nx")).as("__top"))
        .groupBy($"cur", $"__n", $"n_successors")
        .agg((-sum($"__t")).as("__h"), min($"__top").as("__tp"))
        .select($"cur".as("event_type"), $"__n".as("n_trans"),
          $"n_successors",
          Fns.roundU($"__h", 6).as("entropy_nats"),
          $"__tp.nx".as("top_next"),
          Fns.roundU((-$"__tp.nc") / $"__n", 4).as("top_frac"))
        .orderBy($"event_type")
    }, Some(
      """WITH seq AS (
        |  SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |tr AS (
        |  SELECT cur, nxt, count(*) AS c FROM seq
        |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (
        |  SELECT cur, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_successors
        |  FROM tr GROUP BY 1),
        |top AS (
        |  SELECT cur, nxt AS top_next, c AS top_c,
        |    row_number() OVER (PARTITION BY cur
        |      ORDER BY c DESC, nxt) AS rk
        |  FROM tr)
        |SELECT t.cur AS event_type, t.n AS n_trans, t.n_successors,
        |  floor(-(SELECT sum((tr.c / t.n) * ln(tr.c / t.n)) FROM tr
        |      WHERE tr.cur = t.cur) * 1000000 + 0.5) / 1000000.0
        |    AS entropy_nats,
        |  p.top_next,
        |  floor(CAST(p.top_c AS DOUBLE) / t.n * 10000 + 0.5) / 10000.0
        |    AS top_frac
        |FROM tot t JOIN top p ON p.cur = t.cur AND p.rk = 1
        |ORDER BY event_type""".stripMargin)),

    // CUSUM CHANGE-POINT — where does the daily-revenue level shift?
    // dev_t = S_t − t·μ over the exact-cents prefix sum; the change
    // point is the |dev| argmax. S_t and t come from ONE distributed
    // prefix scan (Packing.prefixSum — never a one-task window over
    // the raw facts), μ is the exact total over exact n, and the
    // before/after means are recovered FROM THE PREFIX VALUES at the
    // argmax (no second pass over the data). The last day is excluded
    // from the argmax on both engines: its deviation is ~0 by
    // construction and its "after" side is empty.
    QuerySpec("q218_cusum_changepoint", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("__c"))
        .withColumn("__g", lit(1)).withColumn("__one", lit(1L))
      val withS = Packing.prefixSum(daily, Seq("__g"), Seq("day"),
        "__c", "__s")
      val withRk = Packing.prefixSum(withS, Seq("__g"), Seq("day"),
        "__one", "__rk")
      val tot = daily.agg(sum($"__c").as("__st"),
        count(lit(1)).as("__n"))
      val dev = withRk.crossJoin(broadcast(tot))
        .withColumn("__dv",
          $"__s" - $"__rk" * ($"__st".cast("double") / $"__n"))
        .filter($"__rk" < $"__n")
      dev.orderBy(abs($"__dv").desc, $"day").limit(1)
        .select($"day".as("cp_day"), $"__n".as("n_days"),
          Fns.roundU(abs($"__dv"), 2).as("max_abs_cusum"),
          Fns.roundU($"__s".cast("double") / $"__rk", 2)
            .as("mean_before_cents"),
          Fns.roundU(($"__st" - $"__s").cast("double") /
            ($"__n" - $"__rk"), 2).as("mean_after_cents"))
    }, Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT day, c,
        |    CAST(sum(c) OVER (ORDER BY day) AS BIGINT) AS s,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rk
        |  FROM daily),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS st,
        |  CAST(count(*) AS BIGINT) AS n FROM daily),
        |dev AS (
        |  SELECT day, s, rk, st, n,
        |    s - rk * (CAST(st AS DOUBLE) / n) AS dv
        |  FROM t, tot WHERE rk < n)
        |SELECT day AS cp_day, n AS n_days,
        |  floor(abs(dv) * 100 + 0.5) / 100.0 AS max_abs_cusum,
        |  floor(CAST(s AS DOUBLE) / rk * 100 + 0.5) / 100.0
        |    AS mean_before_cents,
        |  floor(CAST(st - s AS DOUBLE) / (n - rk) * 100 + 0.5) / 100.0
        |    AS mean_after_cents
        |FROM dev ORDER BY abs(dv) DESC, day LIMIT 1""".stripMargin)),

    // ADDITIVE SEASONAL DECOMPOSITION — daily revenue split into
    // trend (centered 7-day moving average over exact cents; edge
    // days without a full window are excluded on both engines),
    // per-weekday seasonal index (mean detrended), and remainder
    // (mean |detr − seasonal|). The moving average windows over the
    // BOUNDED daily aggregate (one row per day, not per fact) — the
    // q117 shape; weekday is Spark's weekday()/DuckDB's isodow()−1
    // (0 = Monday), aligned explicitly because the engines' default
    // dow origins differ.
    QuerySpec("q219_seasonal_decomp", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.orders(s, d)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("__c"))
      val w = Window.orderBy($"day").rowsBetween(-3, 3)
      // detrending in ×7 INTEGER space: 7·c − Σwindow is an exact
      // long, so the per-dow seasonal mean is an exact-sum / count —
      // order-independent — divided by 7 exactly once at the end (the
      // avg-of-doubles form here was the one order-dependent sum left
      // in the q211+ tail; residual magnitudes made a rounded-cent
      // boundary hit plausible at sf0.1)
      val detr = daily
        .withColumn("__wn", count($"__c").over(w))
        .withColumn("__ws", sum($"__c").over(w))
        .filter($"__wn" === 7)
        .select(weekday($"day").cast("long").as("dow"),
          ($"__c" * 7 - $"__ws").as("__d7"))
      val seas = detr.groupBy($"dow")
        .agg(count(lit(1)).as("n_days"), sum($"__d7").as("__s7"))
      detr.join(broadcast(seas), Seq("dow"))
        .groupBy($"dow", $"n_days", $"__s7")
        .agg(avg(abs($"__d7" - $"__s7".cast("double") / $"n_days"))
          .as("__mar7"))
        .select($"dow", $"n_days",
          Fns.roundU($"__s7".cast("double") / $"n_days" / 7, 2)
            .as("seasonal_cents"),
          Fns.roundU($"__mar7" / 7, 2).as("mean_abs_remainder"))
        .orderBy($"dow")
    }, Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
        |  FROM orders GROUP BY 1),
        |ma AS (
        |  SELECT day, c,
        |    count(c) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn,
        |    CAST(sum(c) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
        |      AS ws
        |  FROM daily),
        |detr AS (
        |  SELECT CAST(isodow(day) - 1 AS BIGINT) AS dow,
        |    CAST(c * 7 - ws AS BIGINT) AS d7
        |  FROM ma WHERE wn = 7),
        |seas AS (
        |  SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(d7) AS BIGINT) AS s7
        |  FROM detr GROUP BY 1)
        |SELECT d.dow, s.n_days,
        |  floor(CAST(s.s7 AS DOUBLE) / s.n_days / 7 * 100 + 0.5)
        |    / 100.0 AS seasonal_cents,
        |  floor(avg(abs(d.d7 - CAST(s.s7 AS DOUBLE) / s.n_days)) / 7
        |    * 100 + 0.5) / 100.0 AS mean_abs_remainder
        |FROM detr d JOIN seas s ON d.dow = s.dow
        |GROUP BY d.dow, s.n_days, s.s7
        |ORDER BY d.dow""".stripMargin)),

    // KENDALL'S TAU-B — the rank-correlation complement of Spearman
    // (q143): does view volume move with purchase volume day-over-day?
    // Concordant/discordant/tie counts come from the CALENDAR-BOUNDED
    // day-pair join (the q198 Theil-Sen model: pairs grow with days²,
    // not data², however many fact rows feed a day) over exact long
    // counts; tau-b's tie-corrected denominator is one double formula
    // over those exact integers.
    QuerySpec("q221_kendall_tau", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date($"ts").as("day"))
        .agg(sum(when($"event_type" === "view", 1L).otherwise(0L))
            .as("x"),
          sum(when($"event_type" === "purchase", 1L).otherwise(0L))
            .as("y"))
      val a = daily.select($"day".as("d1"), $"x".as("x1"), $"y".as("y1"))
      val b = daily.select($"day".as("d2"), $"x".as("x2"), $"y".as("y2"))
      val st = a.join(b, $"d1" < $"d2")
        .select((($"x2" - $"x1") * ($"y2" - $"y1")).as("__p"),
          ($"x1" === $"x2").cast("long").as("__tx"),
          ($"y1" === $"y2").cast("long").as("__ty"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(($"__p" > 0).cast("long")).as("nc"),
          sum(($"__p" < 0).cast("long")).as("nd"),
          sum($"__tx").as("ties_x"), sum($"__ty").as("ties_y"))
      st.select($"n_pairs", $"nc", $"nd", $"ties_x", $"ties_y",
        Fns.roundU(($"nc" - $"nd").cast("double") /
          sqrt(($"n_pairs" - $"ties_x").cast("double") *
            ($"n_pairs" - $"ties_y")), 6).as("tau_b"))
    }, Some(
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1
        |      ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(sum(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1
        |      ELSE 0 END) AS BIGINT) AS nd,
        |    CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ties_x,
        |    CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ties_y
        |  FROM daily a JOIN daily b ON a.day < b.day)
        |SELECT n_pairs, nc, nd, ties_x, ties_y,
        |  floor(CAST(nc - nd AS DOUBLE) /
        |    sqrt(CAST(n_pairs - ties_x AS DOUBLE) * (n_pairs - ties_y))
        |    * 1000000 + 0.5) / 1000000.0 AS tau_b
        |FROM st""".stripMargin)),

    // BENFORD FIRST-DIGIT TEST — the classic fabricated-data screen:
    // leading digit of every order's exact-cents amount vs the
    // Benford distribution. The digit comes from an INTEGER magnitude
    // ladder (div by powers of 10 in a CASE chain — never
    // floor(log10(x)), whose 2.999... boundary at exact powers of 10
    // differs per libm), and the nine Benford probabilities are
    // HARDCODED 17-digit literals so both engines parse identical
    // doubles instead of calling their own log implementations.
    QuerySpec("q222_benford", (s, d) => {
      val c = floor($"o_totalprice" * 100 + 0.5).cast("long")
      val mags = Seq(1000000000L, 100000000L, 10000000L, 1000000L,
        100000L, 10000L, 1000L, 100L, 10L)
      val digit = mags.foldLeft(when(lit(false), lit(0L))) { (acc, m) =>
        acc.when($"__c" >= m, expr(s"__c div $m"))
      }.otherwise($"__c")
      val probs = Map(1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
        3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
        5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
        7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
        9 -> 0.04575749056067514)
      val p = probs.foldLeft(when(lit(false), lit(0.0))) {
        case (acc, (dd, pp)) => acc.when($"digit" === dd, lit(pp))
      }
      Tables.orders(s, d).select(c.as("__c"))
        .select($"__c", digit.as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n_obs"))
        .crossJoin(broadcast(Tables.orders(s, d)
          .agg(count(lit(1)).as("__n"))))
        .select($"digit", $"n_obs",
          Fns.roundU($"__n" * p, 2).as("expected"),
          Fns.roundU(($"n_obs" - $"__n" * p) * ($"n_obs" - $"__n" * p)
            / ($"__n" * p), 4).as("chi2_term"))
        .orderBy($"digit")
    }, Some(
      """WITH c AS (
        |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders),
        |dg AS (
        |  SELECT CASE
        |    WHEN c >= 1000000000 THEN c // 1000000000
        |    WHEN c >= 100000000 THEN c // 100000000
        |    WHEN c >= 10000000 THEN c // 10000000
        |    WHEN c >= 1000000 THEN c // 1000000
        |    WHEN c >= 100000 THEN c // 100000
        |    WHEN c >= 10000 THEN c // 10000
        |    WHEN c >= 1000 THEN c // 1000
        |    WHEN c >= 100 THEN c // 100
        |    WHEN c >= 10 THEN c // 10
        |    ELSE c END AS digit
        |  FROM c),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM dg
        |  GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
        |p AS (
        |  SELECT digit, n_obs, n, CAST(CASE digit
        |    WHEN 1 THEN 0.3010299956639812
        |    WHEN 2 THEN 0.17609125905568124
        |    WHEN 3 THEN 0.12493873660829992
        |    WHEN 4 THEN 0.09691001300805642
        |    WHEN 5 THEN 0.07918124604762482
        |    WHEN 6 THEN 0.06694678963061322
        |    WHEN 7 THEN 0.05799194697768673
        |    WHEN 8 THEN 0.05115252244738129
        |    WHEN 9 THEN 0.04575749056067514 END AS DOUBLE) AS pr
        |  FROM g, n)
        |SELECT digit, n_obs,
        |  floor(n * pr * 100 + 0.5) / 100.0 AS expected,
        |  floor((n_obs - n * pr) * (n_obs - n * pr) / (n * pr)
        |    * 10000 + 0.5) / 10000.0 AS chi2_term
        |FROM p ORDER BY digit""".stripMargin)),

    // ZIPF FIT — the corpus-law fingerprint: log-log OLS of word
    // frequency vs frequency rank (natural text slopes ≈ −1; a
    // templated/spammy corpus bends the curve). Ranks come from the
    // distributed prefix scan over the COMPACTED (word, count) table
    // ordered by (−count, word) — deterministic ties, never a
    // one-task row_number over the vocabulary — and the fit reuses
    // q215's closed-form moments (here over ln pairs; exact integer
    // inputs, ln parity per the q168 precedent).
    QuerySpec("q225_zipf_fit", (s, d) => {
      val cnt = Tables.documents(s, d)
        .filter(length(trim($"text")) > 0)
        .select(explode(split(trim($"text"), "\\s+")).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("__c"))
        .filter($"__c" >= 5)
        .withColumn("__g", lit(1))
        .withColumn("__neg", -$"__c")
        .withColumn("__one", lit(1L))
      val pts = Packing.prefixSum(cnt, Seq("__g"), Seq("__neg", "w"),
          "__one", "__rk")
        .select(log($"__rk".cast("double")).as("__x"),
          log($"__c".cast("double")).as("__y"))
      val m = pts.agg(count(lit(1)).as("n_words"),
        sum($"__x").as("__sx"), sum($"__y").as("__sy"),
        sum($"__x" * $"__y").as("__sxy"),
        sum($"__x" * $"__x").as("__sx2"),
        sum($"__y" * $"__y").as("__sy2"))
      val n = $"n_words".cast("double")
      val sxx = n * $"__sx2" - $"__sx" * $"__sx"
      val sxy = n * $"__sxy" - $"__sx" * $"__sy"
      val syy = n * $"__sy2" - $"__sy" * $"__sy"
      m.select($"n_words",
        Fns.roundU(sxy / sxx, 4).as("zipf_slope"),
        Fns.roundU(($"__sy" - sxy / sxx * $"__sx") / n, 4)
          .as("zipf_intercept"),
        Fns.roundU(sxy * sxy / (sxx * syy), 4).as("r2"))
    }, Some(
      """WITH w AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT w, count(*) AS c FROM w GROUP BY w
        |  HAVING count(*) >= 5),
        |r AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, w)
        |      AS DOUBLE)) AS x,
        |    ln(CAST(c AS DOUBLE)) AS y
        |  FROM c),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sx2, sum(y * y) AS sy2
        |  FROM r)
        |SELECT n_words,
        |  floor((n * sxy - sx * sy) / (n * sx2 - sx * sx)
        |    * 10000 + 0.5) / 10000.0 AS zipf_slope,
        |  floor((sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx)
        |    / n * 10000 + 0.5) / 10000.0 AS zipf_intercept,
        |  floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |    / ((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
        |    * 10000 + 0.5) / 10000.0 AS r2
        |FROM m""".stripMargin)),

    // HEAPS FIT — the other corpus law: vocabulary growth V ≈ K·T^β
    // (β ≈ 0.4–0.6 for natural text; saturated synthetic vocabularies
    // flatten). Per-doc token counts and per-doc NEW-word counts
    // (first occurrence = min doc_id per word) are two bounded
    // aggregates; both cumulatives ride the distributed prefix scan
    // over doc order, and the log-log OLS is the q225 machinery.
    QuerySpec("q226_heaps_fit", (s, d) => {
      val toks = Tables.documents(s, d)
        .filter(length(trim($"text")) > 0)
        .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("w"))
      // "__tok"/"__nw", not "__t": Packing.prefixSum uses "__t" for
      // its internal partition totals and a caller column of the same
      // name is AMBIGUOUS_REFERENCE
      val perDoc = toks.groupBy($"doc_id").agg(count(lit(1)).as("__tok"))
      val newW = toks.groupBy($"w").agg(min($"doc_id").as("doc_id"))
        .groupBy($"doc_id").agg(count(lit(1)).as("__v0"))
      val base = perDoc.join(newW, Seq("doc_id"), "left")
        .select($"doc_id", $"__tok", coalesce($"__v0", lit(0L)).as("__nw"))
        .withColumn("__g", lit(1))
      val cum = Packing.prefixSum(Packing.prefixSum(base, Seq("__g"),
        Seq("doc_id"), "__tok", "__T"), Seq("__g"), Seq("doc_id"),
        "__nw", "__V")
      val pts = cum.select(log($"__T".cast("double")).as("__x"),
        log($"__V".cast("double")).as("__y"))
      val m = pts.agg(count(lit(1)).as("n_docs"),
        sum($"__x").as("__sx"), sum($"__y").as("__sy"),
        sum($"__x" * $"__y").as("__sxy"),
        sum($"__x" * $"__x").as("__sx2"),
        sum($"__y" * $"__y").as("__sy2"))
      val n = $"n_docs".cast("double")
      val sxx = n * $"__sx2" - $"__sx" * $"__sx"
      val sxy = n * $"__sxy" - $"__sx" * $"__sy"
      val syy = n * $"__sy2" - $"__sy" * $"__sy"
      m.select($"n_docs",
        Fns.roundU(sxy / sxx, 4).as("heaps_beta"),
        Fns.roundU(exp(($"__sy" - sxy / sxx * $"__sx") / n), 4)
          .as("heaps_k"),
        Fns.roundU(sxy * sxy / (sxx * syy), 4).as("r2"))
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+'))
        |    AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |per_doc AS (
        |  SELECT doc_id, count(*) AS t FROM toks GROUP BY 1),
        |neww AS (
        |  SELECT doc_id, count(*) AS v FROM (
        |    SELECT w, min(doc_id) AS doc_id FROM toks GROUP BY w)
        |  GROUP BY 1),
        |base AS (
        |  SELECT p.doc_id, p.t, coalesce(n.v, 0) AS v
        |  FROM per_doc p LEFT JOIN neww n ON p.doc_id = n.doc_id),
        |cum AS (
        |  SELECT ln(CAST(sum(t) OVER (ORDER BY doc_id) AS DOUBLE))
        |      AS x,
        |    ln(CAST(sum(v) OVER (ORDER BY doc_id) AS DOUBLE)) AS y
        |  FROM base),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sx2, sum(y * y) AS sy2
        |  FROM cum)
        |SELECT n_docs,
        |  floor((n * sxy - sx * sy) / (n * sx2 - sx * sx)
        |    * 10000 + 0.5) / 10000.0 AS heaps_beta,
        |  floor(exp((sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx)
        |    * sx) / n) * 10000 + 0.5) / 10000.0 AS heaps_k,
        |  floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |    / ((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
        |    * 10000 + 0.5) / 10000.0 AS r2
        |FROM m""".stripMargin)),

    // KAPLAN-MEIER SURVIVAL — customer-lifetime churn with CENSORING,
    // the estimator naive retention curves get wrong (dropping
    // still-active customers biases survival down). Churn = no order
    // in the final 365 days (event at last order); otherwise censored
    // at observation end. Lifetimes quantize to 30-day months, so the
    // curve is a BOUNDED month-level table (two aggregates out of any
    // order count); at-risk counts come from cumulative event+censor
    // sums, and the survival product Π(1 − d/n) evaluates as
    // exp(Σ ln(·)) over the month order — the one float chain, same
    // spelling both engines (q168 ln-parity precedent).
    QuerySpec("q228_kaplan_meier", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val obs = Tables.orders(s, d)
        .agg(max(to_date($"o_orderdate")).as("__e"))
      val cust = Tables.orders(s, d)
        .groupBy($"o_custkey")
        .agg(min(to_date($"o_orderdate")).as("__f"),
          max(to_date($"o_orderdate")).as("__l"))
        .crossJoin(broadcast(obs))
        .select(
          (datediff($"__e", $"__l") > 365).as("__churned"),
          when(datediff($"__e", $"__l") > 365,
            expr("datediff(__l, __f) div 30"))
            .otherwise(expr("datediff(__e, __f) div 30"))
            .cast("long").as("__m"))
      val months = cust.groupBy($"__m")
        .agg(sum($"__churned".cast("long")).as("n_events"),
          sum((!$"__churned").cast("long")).as("__cens"))
      val tot = cust.agg(count(lit(1)).as("__n"))
      val w = Window.orderBy($"__m")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wS = Window.orderBy($"__m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      months.crossJoin(broadcast(tot))
        .withColumn("n_risk",
          $"__n" - coalesce(sum($"n_events" + $"__cens").over(w),
            lit(0L)))
        .withColumn("__lnterm",
          log(lit(1.0) - $"n_events".cast("double") / $"n_risk"))
        .withColumn("survival", exp(sum($"__lnterm").over(wS)))
        .select($"__m".as("month"), $"n_risk", $"n_events",
          $"__cens".as("n_censored"),
          Fns.roundU($"survival", 6).as("survival"))
        .orderBy($"month")
    }, Some(
      """WITH obs AS (
        |  SELECT CAST(max(o_orderdate) AS DATE) AS e FROM orders),
        |cust AS (
        |  SELECT o_custkey, CAST(min(o_orderdate) AS DATE) AS f,
        |    CAST(max(o_orderdate) AS DATE) AS l
        |  FROM orders GROUP BY 1),
        |lt AS (
        |  SELECT date_diff('day', l, e) > 365 AS churned,
        |    CASE WHEN date_diff('day', l, e) > 365
        |      THEN date_diff('day', f, l) // 30
        |      ELSE date_diff('day', f, e) // 30 END AS m
        |  FROM cust, obs),
        |months AS (
        |  SELECT m,
        |    CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_events,
        |    CAST(sum(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT)
        |      AS cens
        |  FROM lt GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lt),
        |risk AS (
        |  SELECT m, n_events, cens,
        |    n - coalesce(sum(n_events + cens) OVER (ORDER BY m
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM months, tot),
        |surv AS (
        |  SELECT m, n_risk, n_events, cens,
        |    exp(sum(ln(1.0 - CAST(n_events AS DOUBLE) / n_risk))
        |      OVER (ORDER BY m
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS s
        |  FROM risk)
        |SELECT m AS month, CAST(n_risk AS BIGINT) AS n_risk, n_events,
        |  cens AS n_censored,
        |  floor(s * 1000000 + 0.5) / 1000000.0 AS survival
        |FROM surv ORDER BY month""".stripMargin)),

    // KMV (k-minimum-values) DISTINCT-COUNT SKETCH, fully oracled —
    // the mergeable distinct estimator (Bar-Yossef et al. 2002,
    // public) whose sketch is just the k smallest hash values: merge =
    // k-min of a union, estimate = (k−1)·p/h_k. Unlike HLL (q31,
    // engine-specific hash → rows-only check), the hash here is a
    // UNIVERSAL integer hash (a·x+b mod p, Mersenne prime 2³¹−1) both
    // engines compute bit-identically, so the estimates themselves are
    // oracle-checked. Scale: distinct(flag, part) is one map-side-
    // combine shuffle; the k smallest per group ride TopKPerKey's
    // bounded per-partition heap (never a per-group sort — the oracle
    // uses the window form, DuckDB's problem); everything after is
    // ≤ k·groups rows. The 'ALL' row demonstrates the merge property:
    // k-min over the union equals the merged per-group sketches.
    QuerySpec("q250_kmv_distinct", (s, d) => {
      val (a, b, p, k) = (1000003L, 12345L, 2147483647L, 128)
      val li = Tables.lineitem(s, d).select($"l_returnflag", $"l_partkey")
      val keyed = li.union(li.select(lit("ALL"), $"l_partkey"))
      val dp = keyed.distinct()
        .select($"l_returnflag",
          (($"l_partkey" * a + b) % p).as("__hv"))
        .distinct()
      val mins = graft.plans.TopKPerKey(dp, Seq("l_returnflag"),
        Seq($"__hv".asc), k)
      val sk = mins.groupBy($"l_returnflag")
        .agg(count(lit(1)).as("__nk"), max($"__hv").as("__hk"))
      val exact = keyed.groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("n_exact"))
      exact.join(sk, Seq("l_returnflag"))
        .select($"l_returnflag", $"n_exact",
          when($"__nk" < k, $"__nk".cast("double"))
            .otherwise(lit(((k - 1).toLong * p).toDouble) /
              $"__hk".cast("double")).as("kmv_est"))
        .withColumn("rel_err_pct", Fns.roundU(
          abs($"kmv_est" - $"n_exact".cast("double")) /
            $"n_exact".cast("double") * 100, 4))
        .orderBy($"l_returnflag")
    }, Some(
      // KMV oracle: same universal hash, k-th smallest via a window
      // (correctness-only engine — the Spark side uses the bounded heap)
      """WITH keyed AS (
        |  SELECT l_returnflag, l_partkey FROM lineitem
        |  UNION ALL
        |  SELECT 'ALL', l_partkey FROM lineitem),
        |dp AS (
        |  SELECT DISTINCT l_returnflag,
        |    (l_partkey * 1000003 + 12345) % 2147483647 AS hv
        |  FROM (SELECT DISTINCT l_returnflag, l_partkey FROM keyed)),
        |rk AS (
        |  SELECT l_returnflag, hv, row_number() OVER (
        |    PARTITION BY l_returnflag ORDER BY hv) AS r
        |  FROM dp),
        |sk AS (
        |  SELECT l_returnflag, count(*) AS nk,
        |    max(CASE WHEN r = 128 THEN hv END) AS hk
        |  FROM rk WHERE r <= 128 GROUP BY 1),
        |ex AS (
        |  SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact
        |  FROM keyed GROUP BY 1)
        |SELECT ex.l_returnflag, n_exact,
        |  CASE WHEN nk < 128 THEN CAST(nk AS DOUBLE)
        |    ELSE CAST(127 * CAST(2147483647 AS BIGINT) AS DOUBLE) / CAST(hk AS DOUBLE)
        |  END AS kmv_est,
        |  floor(abs(CASE WHEN nk < 128 THEN CAST(nk AS DOUBLE)
        |      ELSE CAST(127 * CAST(2147483647 AS BIGINT) AS DOUBLE) / CAST(hk AS DOUBLE)
        |      END - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
        |    * 100 * 10000 + 0.5) / 10000.0 AS rel_err_pct
        |FROM ex JOIN sk ON ex.l_returnflag = sk.l_returnflag
        |ORDER BY 1""".stripMargin)),

    // GROUP-WISE MODE (argmax) — the most frequent order priority per
    // customer nation, by the ONE-AGGREGATE argmax pattern:
    // max(struct(count, key)) picks the winner inside the hash
    // aggregate with map-side combine — no per-group sort, no window,
    // no second shuffle of the counted table. Tiebreak is part of the
    // struct ordering (largest key among equal counts), mirrored in
    // the oracle's window ORDER BY. Two bounded shuffles total:
    // (nation, priority) counts, then 25-row argmax.
    QuerySpec("q252_group_mode", (s, d) => {
      val cn = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"n_name")
      val counts = Tables.orders(s, d)
        .join(cn, $"o_custkey" === $"c_custkey")
        .groupBy($"n_name", $"o_orderpriority")
        .agg(count(lit(1)).as("__c"))
      counts.groupBy($"n_name")
        .agg(max(struct($"__c", $"o_orderpriority")).as("__m"))
        .select($"n_name", $"__m.o_orderpriority".as("mode_priority"),
          $"__m.__c".as("n_orders"))
        .orderBy($"n_name")
    }, Some(
      """WITH counts AS (
        |  SELECT n_name, o_orderpriority, count(*) AS c
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT n_name, o_orderpriority, c, row_number() OVER (
        |    PARTITION BY n_name
        |    ORDER BY c DESC, o_orderpriority DESC) AS r
        |  FROM counts)
        |SELECT n_name, o_orderpriority AS mode_priority, c AS n_orders
        |FROM rk WHERE r = 1 ORDER BY n_name""".stripMargin)),

    // KMV SET ALGEBRA — the point of a mergeable sketch: union and
    // intersection distinct-count ESTIMATES for two part sets
    // (returned vs non-returned) from their k-min sketches alone.
    // Merge = k smallest of the two sketches' union (never re-scans
    // the data); intersection rides the standard ρ·û estimator where
    // ρ is the fraction of the union sketch present in BOTH input
    // sketches. After the two bounded TopKPerKey heaps everything is
    // ≤ 2k rows. Same cross-engine universal hash as q250, so all
    // four estimates sit under the oracle.
    QuerySpec("q253_kmv_setops", (s, d) => {
      val (ha, hb, p, k) = (1000003L, 12345L, 2147483647L, 128)
      def sketch(flag: String) =
        graft.plans.TopKPerKey(
          Tables.lineitem(s, d).filter($"l_returnflag" === flag)
            .select((($"l_partkey" * ha + hb) % p).as("__hv"))
            .distinct().withColumn("__g", lit(1)),
          Seq("__g"), Seq($"__hv".asc), k)
          .select($"__hv")
      val ka = sketch("R").withColumn("__inA", lit(1L))
      val kb = sketch("N").withColumn("__inB", lit(1L))
      val ku = graft.plans.TopKPerKey(
        ka.select($"__hv").union(kb.select($"__hv")).distinct()
          .withColumn("__g", lit(1)),
        Seq("__g"), Seq($"__hv".asc), k)
        .select($"__hv")
      val sk = ku.join(broadcast(ka), Seq("__hv"), "left")
        .join(broadcast(kb), Seq("__hv"), "left")
        .agg(count(lit(1)).as("__nk"), max($"__hv").as("__hk"),
          sum(when($"__inA".isNotNull && $"__inB".isNotNull, 1L)
            .otherwise(0L)).as("__both"))
      val exact = Tables.lineitem(s, d)
        .filter($"l_returnflag".isin("R", "N"))
        .select($"l_partkey", $"l_returnflag").distinct()
        .groupBy($"l_partkey")
        .agg(count(lit(1)).as("__nf"))
        .agg(count(lit(1)).as("exact_union"),
          sum(when($"__nf" === 2, 1L).otherwise(0L)).as("exact_inter"))
      exact.crossJoin(broadcast(sk))
        .withColumn("__eu", when($"__nk" < k, $"__nk".cast("double"))
          .otherwise(lit(((k - 1).toLong * p).toDouble) /
            $"__hk".cast("double")))
        .select($"exact_union", $"exact_inter",
          Fns.roundU($"__eu", 2).as("kmv_union"),
          Fns.roundU($"__both".cast("double") / k * $"__eu", 2)
            .as("kmv_inter"))
    }, Some(
      """WITH ha AS (
        |  SELECT DISTINCT (l_partkey * 1000003 + 12345) % 2147483647
        |    AS hv FROM lineitem WHERE l_returnflag = 'R'),
        |ka AS (SELECT hv FROM (SELECT hv,
        |  row_number() OVER (ORDER BY hv) AS r FROM ha) WHERE r <= 128),
        |hb AS (
        |  SELECT DISTINCT (l_partkey * 1000003 + 12345) % 2147483647
        |    AS hv FROM lineitem WHERE l_returnflag = 'N'),
        |kb AS (SELECT hv FROM (SELECT hv,
        |  row_number() OVER (ORDER BY hv) AS r FROM hb) WHERE r <= 128),
        |cu AS (SELECT DISTINCT hv FROM
        |  (SELECT hv FROM ka UNION ALL SELECT hv FROM kb) u),
        |ku AS (SELECT hv FROM (SELECT hv,
        |  row_number() OVER (ORDER BY hv) AS r FROM cu) WHERE r <= 128),
        |ag AS (SELECT count(*) AS nk, max(hv) AS hk,
        |  CAST(sum(CASE WHEN hv IN (SELECT hv FROM ka)
        |    AND hv IN (SELECT hv FROM kb) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS bo
        |  FROM ku),
        |ex AS (SELECT count(*) AS exact_union,
        |  CAST(sum(CASE WHEN nf = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS exact_inter
        |  FROM (SELECT l_partkey, count(DISTINCT l_returnflag) AS nf
        |    FROM lineitem WHERE l_returnflag IN ('R', 'N')
        |    GROUP BY 1)),
        |eu AS (SELECT nk, hk, bo,
        |  CASE WHEN nk < 128 THEN CAST(nk AS DOUBLE)
        |    ELSE CAST(127 * CAST(2147483647 AS BIGINT) AS DOUBLE)
        |      / CAST(hk AS DOUBLE) END AS euv
        |  FROM ag)
        |SELECT exact_union, exact_inter,
        |  floor(euv * 100 + 0.5) / 100.0 AS kmv_union,
        |  floor(CAST(bo AS DOUBLE) / 128 * euv * 100 + 0.5) / 100.0
        |    AS kmv_inter
        |FROM ex CROSS JOIN eu""".stripMargin)),

    // LOG-LINEAR QUANTILE SKETCH — the MERGEABLE bounded-error
    // sibling of q33/q50's exact rank statistics (the DDSketch/HDR
    // histogram idea): bucket = decade·1000 + leading two digits,
    // with the decade as an integer CASE ladder (q123's libm-free
    // discipline — log10 would put each engine's math library in the
    // hash path). Bucket width ≤ 1/10 of its lower bound ⇒ every
    // reported quantile carries a ≤ 10 % relative-error guarantee;
    // state is ≤ ~90 buckets per decade PER GROUP — constant
    // regardless of row count, so shards/streams/pre-agg tiers merge
    // by summing counts. The oracle replays the identical ladder.
    QuerySpec("q260_quantile_sketch", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select($"l_returnflag".as("flag"),
          floor($"l_extendedprice" * 100 + 0.5).cast("long").as("c"))
      val sk = Percentiles.logHistSketch(li, "flag", "c")
      Percentiles.logHistQuantiles(sk, "flag", Seq(50, 90, 99))
        .orderBy($"flag")
    }, Some(
      // q260: the identical decade ladder, cumulative window, and
      // ceil-rank pick — DuckDB's // is exact int64 division here
      """WITH v AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM lineitem),
        |b AS (
        |  SELECT flag,
        |    CASE WHEN c >= 10000000 THEN 8000 + c // 1000000
        |         WHEN c >= 1000000 THEN 7000 + c // 100000
        |         WHEN c >= 100000 THEN 6000 + c // 10000
        |         WHEN c >= 10000 THEN 5000 + c // 1000
        |         WHEN c >= 1000 THEN 4000 + c // 100
        |         WHEN c >= 100 THEN 3000 + c // 10
        |         WHEN c >= 10 THEN 2000 + c
        |         ELSE 1000 + c END AS bk
        |  FROM v),
        |sk AS (SELECT flag, bk, CAST(count(*) AS BIGINT) AS cnt
        |  FROM b GROUP BY 1, 2),
        |cum AS (
        |  SELECT flag, bk, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY bk
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm,
        |    CAST(sum(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
        |  FROM sk),
        |low AS (
        |  SELECT *,
        |    CASE bk // 1000 WHEN 8 THEN (bk % 1000) * 1000000
        |      WHEN 7 THEN (bk % 1000) * 100000
        |      WHEN 6 THEN (bk % 1000) * 10000
        |      WHEN 5 THEN (bk % 1000) * 1000
        |      WHEN 4 THEN (bk % 1000) * 100
        |      WHEN 3 THEN (bk % 1000) * 10
        |      ELSE bk % 1000 END AS lo
        |  FROM cum)
        |SELECT flag, max(n) AS n, CAST(count(*) AS BIGINT) AS n_buckets,
        |  min(CASE WHEN cm >= (n * 50 + 99) // 100
        |    AND cm - cnt < (n * 50 + 99) // 100 THEN lo END)
        |    AS p50_cents,
        |  min(CASE WHEN cm >= (n * 90 + 99) // 100
        |    AND cm - cnt < (n * 90 + 99) // 100 THEN lo END)
        |    AS p90_cents,
        |  min(CASE WHEN cm >= (n * 99 + 99) // 100
        |    AND cm - cnt < (n * 99 + 99) // 100 THEN lo END)
        |    AS p99_cents
        |FROM low GROUP BY flag ORDER BY flag""".stripMargin)),

    // HYPERPARAMETER GRID SCORING — model selection as a data-
    // parallel operator: five blend weights α for the one-step daily
    // revenue forecast ŷ_t = (α·y_{t−7} + (100−α)·y_{t−1}) div 100
    // are scored per order-priority segment on EXACT integer-cent
    // absolute error over the year-2000 eval window, and the winner
    // is the one-aggregate argmin min(struct(loss, α)) — ties to the
    // smaller α inside the struct order. The 5-row grid broadcasts
    // onto the lagged daily series (scan × |grid| map-side rows, one
    // (segment, α) aggregate, |segments| output rows) — the shape a
    // 10 000-configuration sweep needs at 100 TB: params are a
    // dimension, data is scanned once.
    QuerySpec("q267_grid_search", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy($"o_orderpriority".as("seg"),
          $"o_orderdate".cast("date").as("dt"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("c"))
      val w = Window.partitionBy($"seg").orderBy($"dt")
      val lagged = daily
        .withColumn("__l1", lag($"c", 1).over(w))
        .withColumn("__l7", lag($"c", 7).over(w))
        .filter($"__l1".isNotNull && $"__l7".isNotNull &&
          $"dt" >= "2000-01-01" && $"dt" < "2001-01-01")
      val grid = { import s.implicits._
        Seq(0L, 25L, 50L, 75L, 100L).toDF("alpha") }
      lagged.crossJoin(broadcast(grid))
        .select($"seg", $"alpha",
          abs($"c" - expr("(alpha * __l7 + (100 - alpha) * __l1)" +
            " div 100")).as("__e"))
        .groupBy($"seg", $"alpha")
        .agg(sum($"__e").as("__loss"), count(lit(1)).as("__n"))
        .groupBy($"seg")
        .agg(min(struct($"__loss", $"alpha")).getField("alpha")
          .as("best_alpha"),
          min(struct($"__loss", $"alpha")).getField("__loss")
            .as("best_loss_cents"),
          max($"__n").as("n_days"))
        .orderBy($"seg")
    }, Some(
      // q267: the same lagged blend grid as a window + cross join +
      // rank — argmin tie to the smaller alpha, mirrored
      """WITH daily AS (
        |  SELECT o_orderpriority AS seg, CAST(o_orderdate AS DATE)
        |      AS dt,
        |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
        |  FROM orders GROUP BY 1, 2),
        |lagged AS (
        |  SELECT seg, dt, c,
        |    lag(c, 1) OVER (PARTITION BY seg ORDER BY dt) AS l1,
        |    lag(c, 7) OVER (PARTITION BY seg ORDER BY dt) AS l7
        |  FROM daily),
        |ev AS (SELECT * FROM lagged
        |  WHERE l1 IS NOT NULL AND l7 IS NOT NULL
        |    AND dt >= DATE '2000-01-01' AND dt < DATE '2001-01-01'),
        |g(alpha) AS (VALUES (0), (25), (50), (75), (100)),
        |sc AS (
        |  SELECT seg, alpha,
        |    CAST(sum(abs(c - (alpha * l7 + (100 - alpha) * l1)
        |      // 100)) AS BIGINT) AS loss,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM ev CROSS JOIN g GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY seg
        |  ORDER BY loss, alpha) AS rn FROM sc)
        |SELECT seg, CAST(alpha AS BIGINT) AS best_alpha,
        |  loss AS best_loss_cents, n AS n_days
        |FROM r WHERE rn = 1 ORDER BY seg""".stripMargin)),

    // ABC-XYZ INVENTORY CLASSIFICATION — the planner's 3×3 matrix:
    // ABC by cumulative revenue share (A ≤ 80 %, B ≤ 95 % — the
    // running total rides the DISTRIBUTED prefix scan in revenue-desc
    // order, and every share test is CROSS-MULTIPLIED integer cents:
    // 5·cum ≤ 4·T, 20·cum ≤ 19·T — no percentage float ever exists),
    // XYZ by demand variability (weekly quantity CV² against 1/4 and
    // 1, again cross-multiplied: 4·w·Σq² < 5·(Σq)² etc., exact in
    // int64 because quantities are small integers). Weeks are
    // calendar-free day div 7 buckets so both engines bucket
    // identically. Output: the 9-cell matrix with part counts and
    // exact revenue mass.
    QuerySpec("q277_abc_xyz", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select($"l_partkey".as("pk"),
          floor($"l_extendedprice" * 100 + 0.5).cast("long").as("c"),
          $"l_quantity".cast("long").as("q"),
          expr("datediff(l_shipdate, date'1995-01-01') div 7")
            .as("wk"))
      val wq = li.groupBy($"pk", $"wk").agg(sum($"q").as("wq"))
      val xyz = wq.groupBy($"pk")
        .agg(count(lit(1)).as("w"), sum($"wq").as("sq"),
          sum($"wq" * $"wq").as("sq2"))
        .select($"pk", when(
            lit(4L) * $"w" * $"sq2" < lit(5L) * $"sq" * $"sq", "X")
          .when($"w" * $"sq2" < lit(2L) * $"sq" * $"sq", "Y")
          .otherwise("Z").as("xyz"))
      val rev = li.groupBy($"pk").agg(sum($"c").as("r"))
        .withColumn("__nr", -$"r").withColumn("__g", lit(1))
      val tot = rev.agg(sum($"r").as("__t"))
      val abc = Packing.prefixSum(rev, Seq("__g"), Seq("__nr", "pk"),
          "r", "cum")
        .crossJoin(broadcast(tot))
        .select($"pk", $"r",
          when(lit(5L) * $"cum" <= lit(4L) * $"__t", "A")
            .when(lit(20L) * $"cum" <= lit(19L) * $"__t", "B")
            .otherwise("C").as("abc"))
      abc.join(xyz, Seq("pk"))
        .groupBy($"abc", $"xyz")
        .agg(count(lit(1)).as("n_parts"), sum($"r").as("revenue_cents"))
        .orderBy($"abc", $"xyz")
    }, Some(
      // q277: same cross-multiplied class boundaries; the prefix runs
      // as one window at oracle scale
      """WITH li AS (
        |  SELECT l_partkey AS pk,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
        |    CAST(l_quantity AS BIGINT) AS q,
        |    date_diff('day', DATE '1995-01-01',
        |      CAST(l_shipdate AS DATE)) // 7 AS wk
        |  FROM lineitem),
        |wq AS (SELECT pk, wk, CAST(sum(q) AS BIGINT) AS wq
        |  FROM li GROUP BY 1, 2),
        |x AS (
        |  SELECT pk, CAST(count(*) AS BIGINT) AS w,
        |    CAST(sum(wq) AS BIGINT) AS sq,
        |    CAST(sum(wq * wq) AS BIGINT) AS sq2
        |  FROM wq GROUP BY 1),
        |xyz AS (
        |  SELECT pk, CASE WHEN 4 * w * sq2 < 5 * sq * sq THEN 'X'
        |    WHEN w * sq2 < 2 * sq * sq THEN 'Y' ELSE 'Z' END AS xyz
        |  FROM x),
        |rev AS (SELECT pk, CAST(sum(c) AS BIGINT) AS r
        |  FROM li GROUP BY 1),
        |t AS (SELECT CAST(sum(r) AS BIGINT) AS tt FROM rev),
        |cm AS (SELECT pk, r, CAST(sum(r) OVER (ORDER BY -r, pk
        |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM rev),
        |abc AS (
        |  SELECT pk, r, CASE WHEN 5 * cum <= 4 * tt THEN 'A'
        |    WHEN 20 * cum <= 19 * tt THEN 'B' ELSE 'C' END AS abc
        |  FROM cm CROSS JOIN t)
        |SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(r) AS BIGINT) AS revenue_cents
        |FROM abc JOIN xyz USING (pk)
        |GROUP BY 1, 2 ORDER BY abc, xyz""".stripMargin)),

    // WILDER RSI — the technical-analysis smoothing recurrence
    // AG' = (AG·13 + gain) div 14 over per-flag daily revenue, kept in
    // pure int64 cents end-to-end ([[operators.Sessionize.wilderSmooth]]:
    // the exponentially-weighted state at day t depends on every
    // earlier day once the div floors each step, so no window/prefix
    // form exists — the same secondary-sort O(1)-state scan as
    // q209/q275, oracled by a recursive CTE advancing every series one
    // day per iteration). The RSI readout is the exact integer
    // (10⁶·AG) div (AG+AL); all operands non-negative, so Spark's
    // trunc-div and DuckDB's floor-div agree everywhere.
    QuerySpec("q282_wilder_rsi", (s, d) => {
      val daily = Tables.lineitem(s, d)
        .groupBy($"l_returnflag", to_date($"l_shipdate").as("__day"))
        .agg(sum(floor($"l_extendedprice" * 100 + 0.5).cast("long"))
          .as("__v"))
        .select($"l_returnflag",
          datediff($"__day", lit("1992-01-01").cast("date"))
            .cast("long").as("__t"),
          $"__v")
      Sessionize.wilderSmooth(daily, "l_returnflag", "__t", "__v", n = 14)
        .select($"l_returnflag",
          date_add(lit("1992-01-01").cast("date"), $"__t".cast("int"))
            .as("day"),
          $"__v".as("revenue_cents"), $"avg_gain", $"avg_loss",
          $"rsi_ppm")
        .orderBy($"l_returnflag", $"day")
    }, Some(
      // q282: the Wilder recurrence replayed one day per key per
      // recursive iteration; // = div on the non-negative operands
      """WITH RECURSIVE d AS (
        |  SELECT l_returnflag AS k,
        |    CAST(datediff('day', DATE '1992-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS t,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |s AS (SELECT k, t, v,
        |    row_number() OVER (PARTITION BY k ORDER BY t) AS rn
        |  FROM d),
        |rec AS (
        |  SELECT k, rn, t, v, CAST(0 AS BIGINT) AS ag,
        |    CAST(0 AS BIGINT) AS al
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.k, s.rn, s.t, s.v,
        |    (r.ag * 13 + greatest(s.v - r.v, 0)) // 14,
        |    (r.al * 13 + greatest(r.v - s.v, 0)) // 14
        |  FROM rec r JOIN s ON s.k = r.k AND s.rn = r.rn + 1)
        |SELECT k AS l_returnflag,
        |  DATE '1992-01-01' + CAST(t AS INTEGER) AS day,
        |  v AS revenue_cents, CAST(ag AS BIGINT) AS avg_gain,
        |  CAST(al AS BIGINT) AS avg_loss,
        |  CASE WHEN ag + al > 0
        |    THEN CAST((1000000 * ag) // (ag + al) AS BIGINT) END
        |    AS rsi_ppm
        |FROM rec ORDER BY l_returnflag, day""".stripMargin)),

    // BOLLINGER BREAKOUT — 20-day rolling mean ± 2σ on per-flag daily
    // quantity, the band test CROSS-MULTIPLIED to integers so no
    // sqrt/float exists anywhere: x − μ > 2σ over the frame
    // ⟺ (n·x − S)² > 4·(n·Q − S²) with S = Σx, Q = Σx² — every
    // operand an int64 the two engines compute identically. One
    // window pass (rows frame, count-complete days only), breakout
    // days emitted with direction.
    QuerySpec("q283_bollinger", (s, d) => {
      val daily = Tables.lineitem(s, d)
        .groupBy($"l_returnflag", to_date($"l_shipdate").as("day"))
        .agg(sum(floor($"l_quantity").cast("long")).as("v"))
      val w = Window.partitionBy($"l_returnflag").orderBy($"day")
        .rowsBetween(-19, 0)
      val dev = lit(20) * $"v" - $"__s"
      val varTerm = lit(4) * (lit(20) * $"__q" - $"__s" * $"__s")
      daily.select($"l_returnflag", $"day", $"v",
          sum($"v").over(w).as("__s"),
          sum($"v" * $"v").over(w).as("__q"),
          count(lit(1)).over(w).as("__n"))
        .filter($"__n" === 20)
        .withColumn("dir",
          when(dev > 0 && dev * dev > varTerm, "up")
            .when(dev < 0 && dev * dev > varTerm, "down"))
        .filter($"dir".isNotNull)
        .select($"l_returnflag", $"day", $"v", $"__s".as("win_sum"),
          $"__q".as("win_sumsq"), $"dir")
        .orderBy($"l_returnflag", $"day")
    }, Some(
      // q283: identical frame, identical cross-multiplied band test
      """WITH d AS (
        |  SELECT l_returnflag, CAST(l_shipdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (
        |  SELECT l_returnflag, day, v,
        |    CAST(sum(v) OVER fr AS BIGINT) AS s,
        |    CAST(sum(v * v) OVER fr AS BIGINT) AS q,
        |    count(*) OVER fr AS n
        |  FROM d WINDOW fr AS (PARTITION BY l_returnflag ORDER BY day
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |b AS (
        |  SELECT l_returnflag, day, v, s, q,
        |    20 * v - s AS dev, 4 * (20 * q - s * s) AS vt
        |  FROM w WHERE n = 20)
        |SELECT l_returnflag, day, v, s AS win_sum, q AS win_sumsq,
        |  CASE WHEN dev > 0 THEN 'up' ELSE 'down' END AS dir
        |FROM b WHERE dev * dev > vt AND dev <> 0
        |ORDER BY l_returnflag, day""".stripMargin)),

    // MULTI-CLASS EVAL — confusion-derived per-class metrics for the
    // plurality-rule classifier (predict each customer's segment as
    // their nation's modal segment; mode via one max(struct) pass,
    // tie broken on (count, segment) — no window): tp / n_actual /
    // n_predicted per class, precision/recall/F1 as exact integer ppm
    // (F1's harmonic mean as (2·P·R) div (P+R) on the ppm integers),
    // so the scorecard a model-eval suite tracks is hash-exact.
    QuerySpec("q284_multiclass_eval", (s, d) => {
      val c = Tables.customer(s, d)
        .select($"c_custkey", $"c_nationkey", $"c_mktsegment")
      val mode = c.groupBy($"c_nationkey", $"c_mktsegment")
        .agg(count(lit(1)).as("__n"))
        .groupBy($"c_nationkey")
        .agg(max(struct($"__n", $"c_mktsegment")).as("__m"))
        .select($"c_nationkey", $"__m.c_mktsegment".as("__pred"))
      val scored = c.join(broadcast(mode), "c_nationkey")
        .select($"c_mktsegment".as("actual"), $"__pred".as("predicted"))
      val classes = scored.select($"actual".as("cls")).distinct()
      val tp = scored.filter($"actual" === $"predicted")
        .groupBy($"actual".as("cls")).agg(count(lit(1)).as("tp"))
      val act = scored.groupBy($"actual".as("cls"))
        .agg(count(lit(1)).as("n_actual"))
      val prd = scored.groupBy($"predicted".as("cls"))
        .agg(count(lit(1)).as("n_predicted"))
      classes.join(act, Seq("cls"), "left")
        .join(prd, Seq("cls"), "left")
        .join(tp, Seq("cls"), "left")
        .select($"cls", coalesce($"n_actual", lit(0L)).as("n_actual"),
          coalesce($"n_predicted", lit(0L)).as("n_predicted"),
          coalesce($"tp", lit(0L)).as("tp"))
        .withColumn("precision_ppm", when($"n_predicted" > 0,
          expr("(tp * 1000000) div n_predicted")).otherwise(0L))
        .withColumn("recall_ppm", when($"n_actual" > 0,
          expr("(tp * 1000000) div n_actual")).otherwise(0L))
        .withColumn("f1_ppm",
          when($"precision_ppm" + $"recall_ppm" > 0,
            expr("(2 * precision_ppm * recall_ppm) div " +
              "(precision_ppm + recall_ppm)")).otherwise(0L))
        .orderBy($"cls")
    }, Some(
      // q284: the same plurality rule (row_number on (n DESC, seg DESC)
      // = Spark's max(struct)), the same ppm integer metrics
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey, c_mktsegment FROM customer),
        |cnt AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
        |  FROM c GROUP BY 1, 2),
        |md AS (SELECT c_nationkey, c_mktsegment AS pred FROM (
        |  SELECT c_nationkey, c_mktsegment, row_number() OVER (
        |    PARTITION BY c_nationkey
        |    ORDER BY n DESC, c_mktsegment DESC) AS rn
        |  FROM cnt) WHERE rn = 1),
        |sc AS (SELECT c.c_mktsegment AS actual, md.pred AS predicted
        |  FROM c JOIN md USING (c_nationkey)),
        |cls AS (SELECT DISTINCT actual AS cls FROM sc),
        |tp AS (SELECT actual AS cls, CAST(count(*) AS BIGINT) AS tp
        |  FROM sc WHERE actual = predicted GROUP BY 1),
        |na AS (SELECT actual AS cls,
        |  CAST(count(*) AS BIGINT) AS n_actual FROM sc GROUP BY 1),
        |np AS (SELECT predicted AS cls,
        |  CAST(count(*) AS BIGINT) AS n_predicted FROM sc GROUP BY 1),
        |j AS (SELECT cls.cls,
        |    CAST(coalesce(n_actual, 0) AS BIGINT) AS n_actual,
        |    CAST(coalesce(n_predicted, 0) AS BIGINT) AS n_predicted,
        |    CAST(coalesce(tp.tp, 0) AS BIGINT) AS tp
        |  FROM cls LEFT JOIN na USING (cls)
        |  LEFT JOIN np USING (cls) LEFT JOIN tp USING (cls)),
        |m AS (SELECT cls, n_actual, n_predicted, tp,
        |    CAST(CASE WHEN n_predicted > 0
        |      THEN (tp * 1000000) // n_predicted ELSE 0 END
        |      AS BIGINT) AS precision_ppm,
        |    CAST(CASE WHEN n_actual > 0
        |      THEN (tp * 1000000) // n_actual ELSE 0 END
        |      AS BIGINT) AS recall_ppm
        |  FROM j)
        |SELECT cls, n_actual, n_predicted, tp, precision_ppm,
        |  recall_ppm,
        |  CAST(CASE WHEN precision_ppm + recall_ppm > 0
        |    THEN (2 * precision_ppm * recall_ppm)
        |      // (precision_ppm + recall_ppm) ELSE 0 END
        |    AS BIGINT) AS f1_ppm
        |FROM m ORDER BY cls""".stripMargin)),

    // DESEASONALIZATION — ratio-to-moving-average, the classical
    // decomposition a seasonality-aware forecast starts from:
    // monthly revenue over a centered 12-month MA, the ratio as a
    // floored ppm integer, the month-of-year seasonal index as the
    // integer mean of those ratios, and the deseasonalized series as
    // rev·10⁶ div index — every division floored on non-negative
    // operands so both engines agree bit-for-bit. All windows run on
    // the ≤84-row monthly spine (metadata-sized by construction).
    QuerySpec("q302_deseasonalize", (s, d) => {
      val monthly = Tables.orders(s, d)
        .groupBy(((year($"o_orderdate") - 1992) * 12 +
          month($"o_orderdate") - 1).cast("long").as("m"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("rev"))
      val w = Window.orderBy($"m").rowsBetween(-6, 5)
      val ma = monthly
        .withColumn("__n", count(lit(1)).over(w))
        .withColumn("__s", sum($"rev").over(w))
        .filter($"__n" === 12)
        .withColumn("ma", expr("__s div 12"))
        .withColumn("ratio_ppm", expr("(rev * 1000000) div ma"))
      val idx = ma.groupBy(($"m" % 12).as("moy"))
        .agg(expr("sum(ratio_ppm) div count(*)").as("seas_idx_ppm"))
      ma.join(broadcast(idx), ($"m" % 12) === $"moy")
        .select($"m", $"rev".as("revenue_cents"), $"ma".as("ma_cents"),
          $"ratio_ppm", $"seas_idx_ppm",
          expr("(rev * 1000000) div seas_idx_ppm")
            .as("deseason_cents"))
        .orderBy($"m")
    }, Some(
      // q302: identical centered MA frame, identical floored ppm chain
      """WITH monthly AS (
        |  SELECT CAST((year(o_orderdate) - 1992) * 12
        |      + month(o_orderdate) - 1 AS BIGINT) AS m,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |w AS (
        |  SELECT m, rev,
        |    count(*) OVER fr AS n,
        |    CAST(sum(rev) OVER fr AS BIGINT) AS s
        |  FROM monthly WINDOW fr AS (ORDER BY m
        |    ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING)),
        |ma AS (
        |  SELECT m, rev, s // 12 AS ma,
        |    (rev * 1000000) // (s // 12) AS ratio_ppm
        |  FROM w WHERE n = 12),
        |idx AS (
        |  SELECT m % 12 AS moy,
        |    CAST(sum(ratio_ppm) // count(*) AS BIGINT)
        |      AS seas_idx_ppm
        |  FROM ma GROUP BY 1)
        |SELECT m, rev AS revenue_cents, CAST(ma AS BIGINT)
        |    AS ma_cents,
        |  CAST(ratio_ppm AS BIGINT) AS ratio_ppm, seas_idx_ppm,
        |  CAST((rev * 1000000) // seas_idx_ppm AS BIGINT)
        |    AS deseason_cents
        |FROM ma JOIN idx ON m % 12 = moy
        |ORDER BY m""".stripMargin)),

    // DIFFERENCE-IN-DIFFERENCES — the workhorse causal estimator
    // beside CUPED (q140-era): treatment group × pre/post period cell
    // means on exact integer cents, estimate = (postT − preT) −
    // (postC − preC). One scan, one 4-group aggregate, one 1-row
    // reduction — each mean is an exact-integer ratio divided once,
    // so the whole readout (estimate included) is deterministic on
    // both engines. Output = the four cells plus the 'did' row, all
    // at the same (cell, n_orders, value) grain.
    QuerySpec("q323_diff_in_diff", (s, d) => {
      val cells = Tables.orders(s, d)
        .join(Tables.customer(s, d)
          .select($"c_custkey", $"c_nationkey"),
          $"o_custkey" === $"c_custkey")
        .select(
          when($"c_nationkey" < 12, lit("treat")).otherwise(lit("ctrl"))
            .as("grp"),
          when($"o_orderdate" >= lit("1998-01-01").cast("timestamp"),
            lit("post")).otherwise(lit("pre")).as("period"),
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
        .groupBy($"grp", $"period")
        .agg(count(lit(1)).as("n_orders"), sum($"cents").as("sc"))
        .select($"grp", $"period", $"n_orders",
          ($"sc".cast("double") / $"n_orders").as("mean_cents"))
      val w = cells.agg(
        max(when($"grp" === "treat" && $"period" === "pre",
          $"mean_cents")).as("tp"),
        max(when($"grp" === "treat" && $"period" === "post",
          $"mean_cents")).as("ta"),
        max(when($"grp" === "ctrl" && $"period" === "pre",
          $"mean_cents")).as("cp"),
        max(when($"grp" === "ctrl" && $"period" === "post",
          $"mean_cents")).as("ca"),
        sum($"n_orders").as("n"))
      cells
        .select(concat($"period", lit("_"), $"grp").as("cell"),
          $"n_orders", Fns.roundU($"mean_cents", 4).as("value"))
        .unionByName(w.select(lit("did").as("cell"),
          $"n".as("n_orders"),
          Fns.roundU(($"ta" - $"tp") - ($"ca" - $"cp"), 4).as("value")))
        .orderBy($"cell")
    }, Some(
      """WITH j AS (
        |  SELECT CASE WHEN c_nationkey < 12 THEN 'treat'
        |      ELSE 'ctrl' END AS grp,
        |    CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
        |      THEN 'post' ELSE 'pre' END AS period,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (
        |  SELECT grp, period, count(*) AS n_orders,
        |    CAST(sum(cents) AS DOUBLE) / count(*) AS mean_cents
        |  FROM j GROUP BY grp, period),
        |w AS (
        |  SELECT
        |    max(CASE WHEN grp = 'treat' AND period = 'pre'
        |      THEN mean_cents END) AS tp,
        |    max(CASE WHEN grp = 'treat' AND period = 'post'
        |      THEN mean_cents END) AS ta,
        |    max(CASE WHEN grp = 'ctrl' AND period = 'pre'
        |      THEN mean_cents END) AS cp,
        |    max(CASE WHEN grp = 'ctrl' AND period = 'post'
        |      THEN mean_cents END) AS ca,
        |    CAST(sum(n_orders) AS BIGINT) AS n
        |  FROM cells)
        |SELECT period || '_' || grp AS cell,
        |  CAST(n_orders AS BIGINT) AS n_orders,
        |  floor(mean_cents * 10000 + 0.5) / 10000.0 AS value
        |FROM cells
        |UNION ALL
        |SELECT 'did', n,
        |  floor(((ta - tp) - (ca - cp)) * 10000 + 0.5) / 10000.0
        |FROM w
        |ORDER BY cell""".stripMargin)),

    // INTEGER HAAR WAVELET (S-transform) — the multi-resolution
    // member of the signal tier beside q269's FIR and q296's RMS
    // windows: per-nation spend series (32 buckets, exact cents)
    // through 3 levels of the LIFTING scheme — d_i = a−b, s_i =
    // b + (d_i >> 1) — which is exactly invertible in integers (the
    // compression/denoising transform). The Spark side is pure
    // Column array arithmetic inside one projection (shiftright is
    // the arithmetic shift, exact at ANY magnitude); the oracle
    // replays the lifting with the shift spelled floor(d/2.0)
    // (exact below 2^53 — these SFs' cent sums are ≤ ~1e11; the
    // q305 >>-vs-truncating-division lesson applied). Per-level
    // detail energy (Σ|d|) and the final approx checksum pin every
    // coefficient.
    QuerySpec("q324_haar_dwt", (s, d) => {
      val base = Tables.orders(s, d)
        .join(Tables.customer(s, d)
          .select($"c_custkey", $"c_nationkey"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_nationkey".as("nation"),
          ($"o_orderkey" % 32).as("b"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("sc"))
      val arr = base.groupBy($"nation")
        .agg(map_from_entries(collect_list(struct($"b", $"sc")))
          .as("m"))
        .select($"nation", transform(sequence(lit(0L), lit(31L)),
          i => coalesce(element_at($"m", i), lit(0L))).as("s0"))
      def dOf(sv: Column, half: Int): Column =
        transform(sequence(lit(0), lit(half - 1)), i =>
          element_at(sv, i * 2 + 1) - element_at(sv, i * 2 + 2))
      def sOf(sv: Column, half: Int): Column =
        transform(sequence(lit(0), lit(half - 1)), i =>
          element_at(sv, i * 2 + 2) + shiftright(
            element_at(sv, i * 2 + 1) - element_at(sv, i * 2 + 2), 1))
      val lifted = arr
        .withColumn("d1", dOf($"s0", 16)).withColumn("s1", sOf($"s0", 16))
        .withColumn("d2", dOf($"s1", 8)).withColumn("s2", sOf($"s1", 8))
        .withColumn("d3", dOf($"s2", 4)).withColumn("s3", sOf($"s2", 4))
      def sumAbs(c: Column): Column =
        aggregate(c, lit(0L), (acc, x) => acc + abs(x))
      val nullCk = lit(null).cast("long")
      lifted.select($"nation", explode(array(
          struct(lit(1).as("level"), lit(16).as("n_coeffs"),
            sumAbs($"d1").as("sum_abs_d"), nullCk.as("approx_ck")),
          struct(lit(2).as("level"), lit(8).as("n_coeffs"),
            sumAbs($"d2").as("sum_abs_d"), nullCk.as("approx_ck")),
          struct(lit(3).as("level"), lit(4).as("n_coeffs"),
            sumAbs($"d3").as("sum_abs_d"),
            aggregate(zip_with($"s3",
              sequence(lit(1L), lit(4L)), (v, i) => v * i),
              lit(0L), (acc, x) => acc + x).as("approx_ck"))))
          .as("r"))
        .select($"nation", $"r.level", $"r.n_coeffs", $"r.sum_abs_d",
          $"r.approx_ck")
        .orderBy($"nation", $"level")
    }, Some(
      // q324: the lifting replayed with the arithmetic shift spelled
      // floor(d/2.0) — exact below 2^53, which these SFs' cent sums
      // respect (the Spark side's shiftright is exact at any scale).
      """WITH nb AS (
        |  SELECT c_nationkey AS nation, o_orderkey % 32 AS b,
        |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS sc
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |spine AS (
        |  SELECT n.nation, r.i AS b
        |  FROM (SELECT DISTINCT nation FROM nb) n,
        |    unnest(range(0, 32)) r(i)),
        |dense AS (
        |  SELECT spine.nation, spine.b, coalesce(sc, 0) AS v
        |  FROM spine LEFT JOIN nb
        |    ON spine.nation = nb.nation AND spine.b = nb.b),
        |arr AS (
        |  SELECT nation, list(v ORDER BY b) AS s0
        |  FROM dense GROUP BY nation),
        |l1 AS (
        |  SELECT nation,
        |    list_transform(range(0, 16), i ->
        |      s0[2 * CAST(i AS INT) + 1] - s0[2 * CAST(i AS INT) + 2])
        |      AS d1,
        |    list_transform(range(0, 16), i ->
        |      s0[2 * CAST(i AS INT) + 2] + CAST(floor(
        |        (s0[2 * CAST(i AS INT) + 1]
        |          - s0[2 * CAST(i AS INT) + 2]) / 2.0) AS BIGINT))
        |      AS s1
        |  FROM arr),
        |l2 AS (
        |  SELECT nation,
        |    list_transform(range(0, 8), i ->
        |      s1[2 * CAST(i AS INT) + 1] - s1[2 * CAST(i AS INT) + 2])
        |      AS d2,
        |    list_transform(range(0, 8), i ->
        |      s1[2 * CAST(i AS INT) + 2] + CAST(floor(
        |        (s1[2 * CAST(i AS INT) + 1]
        |          - s1[2 * CAST(i AS INT) + 2]) / 2.0) AS BIGINT))
        |      AS s2
        |  FROM l1),
        |l3 AS (
        |  SELECT nation,
        |    list_transform(range(0, 4), i ->
        |      s2[2 * CAST(i AS INT) + 1] - s2[2 * CAST(i AS INT) + 2])
        |      AS d3,
        |    list_transform(range(0, 4), i ->
        |      s2[2 * CAST(i AS INT) + 2] + CAST(floor(
        |        (s2[2 * CAST(i AS INT) + 1]
        |          - s2[2 * CAST(i AS INT) + 2]) / 2.0) AS BIGINT))
        |      AS s3
        |  FROM l2),
        |u AS (
        |  SELECT nation, 1 AS level, 16 AS n_coeffs,
        |    CAST(list_sum(list_transform(d1, x -> abs(x)))
        |      AS BIGINT) AS sum_abs_d,
        |    CAST(NULL AS BIGINT) AS approx_ck
        |  FROM l1
        |  UNION ALL
        |  SELECT nation, 2, 8,
        |    CAST(list_sum(list_transform(d2, x -> abs(x))) AS BIGINT),
        |    CAST(NULL AS BIGINT)
        |  FROM l2
        |  UNION ALL
        |  SELECT l3.nation, 3, 4,
        |    CAST(list_sum(list_transform(d3, x -> abs(x))) AS BIGINT),
        |    CAST(list_sum(list_transform(range(1, 5),
        |      i -> s3[CAST(i AS INT)] * i)) AS BIGINT)
        |  FROM l3)
        |SELECT nation, level, n_coeffs, sum_abs_d, approx_ck
        |FROM u ORDER BY nation, level""".stripMargin))
  )

  /** Urgent-order score/label pair shared by the model-eval suite
    * (q145 gains, q162 PR curve, q164 AUC): one row per customer with
    * the acctbal score and __y = placed a 1-URGENT order. */
  private def urgentScored(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val pos = Tables.orders(s, d)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey").distinct()
    Tables.customer(s, d)
      .join(pos.withColumnRenamed("o_custkey", "__pk"),
        $"c_custkey" === $"__pk", "left")
      .select($"c_acctbal", $"__pk".isNotNull.cast("long").as("__y"))
  }

  /** The 9 exact decile bounds of valCol as ONE sorted-array row
    * (q50's rank = ceil(q·n) convention) — broadcast it and assign
    * with [[decileOf]]; ties at a boundary fall to the lower bucket
    * (strict >) on both engines. Shared by q145/q153/q162. */
  private def decileBounds(df: org.apache.spark.sql.DataFrame,
      valCol: String): org.apache.spark.sql.DataFrame =
    Percentiles.exactQuantiles(df.withColumn("__g", lit(1)), "__g",
        valCol, (1 to 9).map(_ / 10.0))
      .agg(sort_array(collect_list($"value")).as("__bs"))

  /** Decile 1 = top values: 10 − (#bounds strictly below x). Long so
    * the emitted column type matches the oracle's BIGINT exactly. */
  private def decileOf(x: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    (lit(10) - aggregate($"__bs", lit(0),
      (acc, b) => acc + when(x > b, 1).otherwise(0))).cast("long")

  /** CTE `bounds`: the 9 decile bounds `b` of `ranked`'s `c_acctbal` (rank
    * = ceil(q·n), q50's convention) — the oracle side of [[decileBounds]]. */
  private val decileBoundsCte: String =
    """bounds AS (
      |  SELECT c_acctbal AS b
      |  FROM ranked, (VALUES (0.1),(0.2),(0.3),(0.4),(0.5),(0.6),
      |                       (0.7),(0.8),(0.9)) qs(q)
      |  WHERE rn = greatest(1, CAST(ceil(CAST(q AS DOUBLE) * n)
      |    AS BIGINT)))""".stripMargin
}
