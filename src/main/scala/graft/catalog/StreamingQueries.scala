package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators._
import graft.SparkEntry.scoped

/** Streaming-batch queries: the batch forms of event-stream operators —
  * sessionization, change suppression, sliding windows, funnels, attribution,
  * gap filling and rate limits — plus change-data capture, SCD-2 history,
  * point-in-time reads and incremental view maintenance. */
object StreamingQueries {
  def specs: Seq[QuerySpec] = Seq(
    // O35 batch form: lag-window change suppression (>10% relative move).
    QuerySpec("q08_change_suppression", (s, d) => {
      ChangeSuppression.lagFilter(
          Tables.events(s, d).filter($"event_type" === "purchase"),
          "user_id", struct($"ts", $"event_id"), "value", 0.1)
        .select($"user_id", $"event_id", $"value")
        .orderBy($"user_id", $"event_id")
    }, Some(
      """SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value, lag(value) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events WHERE event_type = 'purchase')
        |WHERE prev IS NULL OR abs(value - prev) > abs(prev) * 0.1
        |ORDER BY user_id, event_id""".stripMargin)),

    // O22: positional join — per-user event sequence with position index.
    // Window form (row_number - 1): a per-key sort that streams, with no
    // per-group array materialization — a collect_list form would buffer a
    // user's whole history in one aggregation buffer, the thing that OOMs
    // on a hot key at scale.
    QuerySpec("q17_positional", (s, d) => {
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, d).filter($"user_id" < 20)
        .select($"user_id",
          (row_number().over(w) - 1).as("pos"),
          $"event_type", $"event_id")
        .orderBy($"user_id", $"pos")
    }, Some(
      """SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) - 1 AS INT) AS pos,
        |  event_type, event_id
        |FROM events WHERE user_id < 20 ORDER BY user_id, pos""".stripMargin)),

    // As-of join: each click sees the latest prior-or-simultaneous
    // purchase value of the same user. Sort-based single-pass (no per-row
    // range probe) — the formulation that survives 100× scale.
    QuerySpec("q18_asof_join", (s, d) => {
      val e = Tables.events(s, d)
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"ts", $"event_id", $"value")
      val purchases = e.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value")
      Joins.asOfJoin(clicks, purchases, "user_id", "ts", "value",
          "last_purchase", $"event_id")
        .select($"user_id", $"event_id", $"value", $"last_purchase")
        .orderBy($"user_id", $"event_id")
    }, Some(
      """WITH u AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS side
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |w AS (
        |  SELECT *, last_value(CASE WHEN side = 0 THEN value END
        |      IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, side, value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_purchase
        |  FROM u)
        |SELECT user_id, event_id, value, last_purchase FROM w
        |WHERE side = 1 ORDER BY user_id, event_id""".stripMargin)),

    // O35 exact semantics (previous-EMITTED comparison) as a batch query —
    // the secondary-sort mapPartitions path. Inherently sequential per
    // key, but still SQL-expressible via a RECURSIVE CTE walking each
    // key's rows in rank order — so it gets a real DuckDB oracle.
    QuerySpec("q36_suppress_stateful", (s, d) => {
      val purchases = Tables.events(s, d)
        .filter($"event_type" === "purchase")
        .withColumn("ts_us",
          unix_micros($"ts"))
      ChangeSuppression.suppress(purchases, "user_id", "ts_us", "event_id",
          "value", 0.1)
        // suppress carries its key as string internally; restore the type
        .select($"user_id".cast("long").as("user_id"), $"ts_us",
          $"event_id", $"value")
        .orderBy($"user_id", $"ts_us")
    }, Some(
      // Previous-EMITTED change suppression is sequential per key — the
      // oracle walks each key's rank-ordered rows with a recursive CTE,
      // carrying the last emitted value.
      """WITH RECURSIVE base AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) // 1000, event_id) AS rn
        |  FROM events WHERE event_type = 'purchase'),
        |walk AS (
        |  SELECT user_id, rn, ts_us, event_id, value,
        |    value AS last_emit, true AS emitted
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.user_id, b.rn, b.ts_us, b.event_id, b.value,
        |    CASE WHEN abs(b.value - w.last_emit) > abs(w.last_emit) * 0.1
        |         THEN b.value ELSE w.last_emit END,
        |    abs(b.value - w.last_emit) > abs(w.last_emit) * 0.1
        |  FROM walk w JOIN base b
        |    ON b.user_id = w.user_id AND b.rn = w.rn + 1)
        |SELECT user_id, ts_us, event_id, value FROM walk WHERE emitted
        |ORDER BY user_id, ts_us""".stripMargin)),

    // Sessionization via Spark's session_window (30-min gap), oracled by
    // the classic gaps-and-islands SQL derivation — the streaming-native
    // session operator, validated in batch.
    QuerySpec("q37_sessionize", (s, d) => {
      Tables.events(s, d)
        .filter($"user_id" < 40)
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          Fns.roundU(sum($"value"), 2).as("sum_value"))
        .select($"user_id", $"w.start".as("session_start"),
          $"n_events", $"sum_value")
        .orderBy($"user_id", $"session_start")
    }, Some(
      """WITH e AS (SELECT user_id, ts, value FROM events
        |  WHERE user_id < 40),
        |flags AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |sess AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flags)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        |  floor((sum(value)) * 100 + 0.5) / 100.0 AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),

    // Window frames: per-user running total and moving average over the
    // last 3 events (ROWS BETWEEN frames).
    QuerySpec("q38_running_frames", (s, d) => {
      val byUser = Window.partitionBy($"user_id")
        .orderBy($"ts", $"event_id")
      Tables.events(s, d)
        .filter($"user_id" < 15)
        .select($"user_id", $"event_id", $"value",
          Fns.roundU(sum($"value").over(
            byUser.rowsBetween(Window.unboundedPreceding, 0)), 2)
            .as("running_total"),
          Fns.roundU(sum($"value").over(byUser.rowsBetween(-2, 0)), 2)
            .as("sum_last3"))
        .orderBy($"user_id", $"event_id")
    }, Some(
      """SELECT user_id, event_id, value,
        |  floor((sum(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100
        |    + 0.5) / 100.0 AS running_total,
        |  floor((sum(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) * 100 + 0.5)
        |    / 100.0 AS sum_last3
        |FROM events WHERE user_id < 15
        |ORDER BY user_id, event_id""".stripMargin)),

    // Delta-style MERGE / CDC apply (operators.Merge): fold a change batch
    // (upserts, deletes, inserts of new keys, last-writer-wins within the
    // batch) into a keyed snapshot — winning change via hash aggregate +
    // one full-outer join, no window, no driver state.
    QuerySpec("q49_cdc_apply", (s, d) => {
      val target = Tables.customer(s, d)
        .select($"c_custkey", $"c_name", $"c_acctbal")
      val key = when($"o_orderkey" % 100 === 0, $"o_custkey" + 1000000)
        .otherwise($"o_custkey")
      val changes = Tables.orders(s, d)
        .filter($"o_orderkey" % 50 === 0)
        .select(key.as("c_custkey"),
          concat(lit("cust-"), key.cast("string")).as("c_name"),
          $"o_totalprice".as("c_acctbal"),
          when($"o_orderstatus" === "F", "D").otherwise("U").as("op"),
          $"o_orderkey".as("ord"))
      Merge.applyChanges(target, changes, Seq("c_custkey"),
          Seq("c_name", "c_acctbal"), "op", "ord")
        .orderBy($"c_custkey")
    }, Some(
      """WITH target AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |changes AS (
        |  SELECT CASE WHEN o_orderkey % 100 = 0 THEN o_custkey + 1000000
        |              ELSE o_custkey END AS c_custkey,
        |    concat('cust-', CAST(CASE WHEN o_orderkey % 100 = 0
        |      THEN o_custkey + 1000000 ELSE o_custkey END AS VARCHAR))
        |      AS c_name,
        |    o_totalprice AS c_acctbal,
        |    CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
        |    o_orderkey AS ord
        |  FROM orders WHERE o_orderkey % 50 = 0),
        |win AS (
        |  SELECT c_custkey, c_name, c_acctbal, op FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY ord DESC) AS rn FROM changes) WHERE rn = 1)
        |SELECT coalesce(t.c_custkey, w.c_custkey) AS c_custkey,
        |  CASE WHEN w.op = 'U' THEN w.c_name ELSE t.c_name END AS c_name,
        |  CASE WHEN w.op = 'U' THEN w.c_acctbal ELSE t.c_acctbal END
        |    AS c_acctbal
        |FROM target t FULL OUTER JOIN win w ON t.c_custkey = w.c_custkey
        |WHERE coalesce(w.op, 'U') <> 'D'
        |ORDER BY c_custkey""".stripMargin)),

    // Event FUNNEL: first view → first later click → first later
    // purchase per user, strictly ordered by event time — the classic
    // product-analytics conversion query. Three per-user min
    // aggregates chained by co-partitioned user_id joins; no windows,
    // no per-user event arrays.
    QuerySpec("q82_event_funnel", (s, d) => {
      val ev = Tables.events(s, d)
        .select($"user_id", $"event_type", $"ts")
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("vt"))
      val c = ev.filter($"event_type" === "click").join(v, "user_id")
        .filter($"ts" > $"vt")
        .groupBy($"user_id").agg(min($"ts").as("ct"))
      val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
        .filter($"ts" > $"ct")
        .groupBy($"user_id").agg(min($"ts").as("pt"))
      v.agg(count(lit(1)).as("n_viewed"))
        .crossJoin(c.agg(count(lit(1)).as("n_clicked")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchased")))
        .select($"n_viewed", $"n_clicked", $"n_purchased",
          Fns.roundU($"n_clicked".cast("double") / $"n_viewed", 4)
            .as("click_rate"),
          Fns.roundU($"n_purchased".cast("double") / $"n_clicked", 4)
            .as("purchase_rate"))
    }, Some(
      """WITH v AS (
        |  SELECT user_id, min(ts) AS vt FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS ct
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.vt
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS pt
        |  FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.ct
        |  GROUP BY e.user_id),
        |n AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_viewed,
        |    (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_clicked,
        |    (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchased)
        |SELECT n_viewed, n_clicked, n_purchased,
        |  floor((CAST(n_clicked AS DOUBLE) / n_viewed) * 10000 + 0.5)
        |    / 10000.0 AS click_rate,
        |  floor((CAST(n_purchased AS DOUBLE) / n_clicked) * 10000 + 0.5)
        |    / 10000.0 AS purchase_rate
        |FROM n""".stripMargin)),

    // TRENDING top-k — per (type, hour) leaders through the native
    // TopKPerKey plan on a COMPOSITE key (the custom operator
    // generalizes past single-column keys): only k candidate rows per
    // (type, hour) per partition reach the shuffle, vs a window sort
    // of every (type, hour, user) count row.
    QuerySpec("q87_trending", (s, d) => {
      val counts = Tables.events(s, d)
        .groupBy($"event_type",
          window($"ts", "1 hour").getField("start").as("hr"),
          $"user_id")
        .agg(count(lit(1)).as("n"))
      graft.plans.TopKPerKey(counts, Seq("event_type", "hr"),
          Seq($"n".desc, $"user_id".asc), k = 3)
        .orderBy($"event_type", $"hr", $"n".desc, $"user_id")
    }, Some(
      """WITH c AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, user_id,
        |    count(*) AS n
        |  FROM events GROUP BY event_type, hr, user_id),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type, hr
        |    ORDER BY n DESC, user_id ASC) AS rk
        |  FROM c)
        |SELECT event_type, hr, user_id, CAST(n AS BIGINT) AS n
        |FROM r WHERE rk <= 3
        |ORDER BY event_type, hr, n DESC, user_id""".stripMargin)),

    // MAX DRAWDOWN per user — the risk metric behind q84's alert
    // threshold: largest peak-to-trough value drop over each user's
    // purchase history. Running peak is a rows-frame window
    // PARTITIONED BY USER — high-cardinality key, so every partition's
    // sort is small and parallel (the unpartitioned-window taboo does
    // not apply).
    QuerySpec("q89_max_drawdown", (s, d) => {
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .filter($"event_type" === "purchase")
        .withColumn("peak", max($"value").over(w))
        .filter($"peak" > 0)
        .withColumn("dd", ($"peak" - $"value") / $"peak")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_obs"),
          Fns.roundU(max($"dd"), 4).as("max_drawdown"))
        .orderBy($"user_id")
    }, Some(
      """WITH p AS (
        |  SELECT user_id, value,
        |    max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
        |  floor((max((peak - value) / peak)) * 10000 + 0.5) / 10000.0
        |    AS max_drawdown
        |FROM p WHERE peak > 0 GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // SCD TYPE-2 apply — q49's history-keeping sibling (the other half
    // of warehouse dimension maintenance): changed keys CLOSE their
    // open row at the change timestamp and append the new version;
    // identical-value changes are no-ops (no interval churn). Same
    // scale shape as the SCD-1 merge: winner-per-key hash aggregate +
    // one keyed outer join; history rows never enter the join.
    QuerySpec("q92_scd2_apply", (s, d) => {
      val (target, changes) = scd2Fixture(s, d)
      Merge.applyScd2(target, changes, Seq("c_custkey"), Seq("val"),
          "ts", "valid_from", "valid_to")
        .orderBy($"c_custkey", $"valid_from")
    }, Some(
      s"""WITH $scd2Ctes
        |SELECT * FROM keep UNION ALL SELECT * FROM closed
        |UNION ALL SELECT * FROM ins
        |ORDER BY c_custkey, valid_from""".stripMargin)),

    // POINT-IN-TIME read over the q92 versioned table — time travel as
    // a pure interval filter (valid_from ≤ T < valid_to): the payoff
    // of SCD-2's close-and-append discipline is that any historical
    // snapshot is one predicate, no log replay. T = half the max
    // change timestamp, DERIVED from the data so both pre- and
    // post-change versions exist at EVERY scale factor (a fixed
    // literal exceeded all sf0.001 timestamps, leaving the
    // closed-interval branch dead there).
    QuerySpec("q93_time_travel", (s, d) => {
      val (target, changes) = scd2Fixture(s, d)
      val asOf = changes.agg((max($"ts") / 2).cast("long").as("__asof"))
      Merge.applyScd2(target, changes, Seq("c_custkey"), Seq("val"),
          "ts", "valid_from", "valid_to")
        .crossJoin(broadcast(asOf))
        .filter($"valid_from" <= $"__asof" &&
          ($"valid_to".isNull || $"valid_to" > $"__asof"))
        .select($"c_custkey", $"val", $"valid_from")
        .orderBy($"c_custkey")
    }, Some(
      s"""WITH $scd2Ctes,
        |v AS (
        |  SELECT * FROM keep UNION ALL SELECT * FROM closed
        |  UNION ALL SELECT * FROM ins),
        |a AS (SELECT CAST(max(ts) / 2 AS BIGINT) AS asof FROM ch)
        |SELECT c_custkey, val, valid_from
        |FROM v, a WHERE valid_from <= a.asof
        |  AND (valid_to IS NULL OR valid_to > a.asof)
        |ORDER BY c_custkey""".stripMargin)),

    // SLIDING (hopping) event-time windows — the one window flavor the
    // suite hadn't pinned (q83/q87 are tumbling, q37 is session):
    // 2-hour windows sliding hourly, so each event lands in exactly 2
    // windows. Spark's window() replicates rows per overlapping window
    // inside the scan projection, then it's one hash aggregate — the
    // oracle reproduces the same epoch-aligned window arithmetic.
    QuerySpec("q103_sliding_window", (s, d) => {
      Tables.events(s, d)
        .groupBy($"event_type", window($"ts", "2 hours", "1 hour").as("w"))
        .agg(count(lit(1)).as("n"),
          Fns.roundU(sum($"value"), 2).as("sum_value"))
        .select($"event_type", $"w.start".as("w_start"), $"n",
          $"sum_value")
        .orderBy($"event_type", $"w_start")
    }, Some(
      // q103: every event replicated into its 2 overlapping hour-aligned
      // windows, then the same aggregate
      """WITH w AS (
        |  SELECT event_type, value,
        |    date_trunc('hour', ts) - to_hours(u.i) AS w_start
        |  FROM events, range(0, 2) u(i))
        |SELECT event_type, w_start, CAST(count(*) AS BIGINT) AS n,
        |  floor((sum(value)) * 100 + 0.5) / 100.0 AS sum_value
        |FROM w GROUP BY event_type, w_start
        |ORDER BY event_type, w_start""".stripMargin)),

    // INCREMENTAL AGGREGATE MAINTENANCE — materialized-view delta
    // merge (self-maintainable-view theory: counts/sums maintain under
    // inserts AND retracts with no base-table rescan). Base = the
    // pricing summary over 90% of lineitem; the delta batch inserts
    // the held-out 10% and retracts every 7th base row. The oracle
    // recomputes the aggregate FROM SCRATCH over the effective row
    // set — the maintained view must hash-match it exactly, which is
    // the defining identity of incremental view maintenance.
    QuerySpec("q106_agg_delta", (s, d) => {
      val li = Tables.lineitem(s, d).select($"l_returnflag",
        $"l_linestatus", $"l_quantity", $"l_extendedprice",
        $"l_orderkey")
      val baseAgg = li.filter($"l_orderkey" % 10 =!= 0)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          sum($"l_quantity").as("sum_qty"),
          sum($"l_extendedprice").as("sum_price"))
      val delta = li.filter($"l_orderkey" % 10 === 0)
        .withColumn("__op", lit("I"))
        .unionByName(li.filter($"l_orderkey" % 10 =!= 0 &&
          $"l_orderkey" % 7 === 0).withColumn("__op", lit("D")))
      Merge.applyAggDelta(baseAgg, delta,
          Seq("l_returnflag", "l_linestatus"), "n_rows",
          Seq("sum_qty" -> "l_quantity",
            "sum_price" -> "l_extendedprice"), "__op")
        .select($"l_returnflag", $"l_linestatus", $"n_rows",
          Fns.roundU($"sum_qty", 2).as("sum_qty"),
          Fns.roundU($"sum_price", 2).as("sum_price"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }, Some(
      // q106: the oracle recomputes the aggregate from scratch over the
      // effective set — (base minus retracts) plus inserts collapses to
      // one predicate: kept iff inserted (%10=0) or not retracted (%7<>0)
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  floor((sum(l_quantity)) * 100 + 0.5) / 100.0 AS sum_qty,
        |  floor((sum(l_extendedprice)) * 100 + 0.5) / 100.0 AS sum_price
        |FROM lineitem
        |WHERE l_orderkey % 10 = 0 OR l_orderkey % 7 <> 0
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // LAST-TOUCH ATTRIBUTION — the marketing-analytics staple: each
    // purchase credits the user's latest view/click at-or-before it;
    // revenue rolls up by credited touch type, purchases with no prior
    // touch report as unattributed. Pure REUSE of the q18 as-of join
    // (union + one window pass, one shuffle on user_id — never a
    // per-purchase range probe), with its tie discipline: touches sort
    // before same-ts purchases, equal-ts touches resolve to the
    // greatest type, all mirrored in the oracle.
    QuerySpec("q107_attribution", (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"event_id", $"value")
      val touches = ev.filter($"event_type".isin("view", "click"))
        .select($"user_id", $"ts", $"event_type")
      Joins.asOfJoin(purchases, touches, "user_id", "ts", "event_type",
          "credited", tieBreak = $"event_id")
        .groupBy(coalesce($"credited", lit("unattributed"))
          .as("credited"))
        .agg(count(lit(1)).as("n_purchases"),
          Fns.roundU(sum($"value"), 2).as("revenue"))
        .orderBy($"credited")
    }, Some(
      // q107: the q18 union-window derivation with purchase/touch sides
      // swapped; same tie discipline (touch before same-ts purchase,
      // greatest type among equal-ts touches)
      """WITH u AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS side,
        |    CASE WHEN event_type <> 'purchase' THEN event_type END
        |      AS touch
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |w AS (
        |  SELECT *, last_value(touch IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, side, touch
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS credited
        |  FROM u)
        |SELECT coalesce(credited, 'unattributed') AS credited,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  floor((sum(value)) * 100 + 0.5) / 100.0 AS revenue
        |FROM w WHERE side = 1
        |GROUP BY 1 ORDER BY credited""".stripMargin)),

    // COHORT RETENTION — the product-analytics matrix: users cohorted
    // by first-activity week, retention = fraction of the cohort
    // active k weeks later. Window-free: first-week and activity are
    // two hash aggregates over (user, week) — the distinct collapses
    // per-user event volume BEFORE any join, so the retention join
    // moves at most users × weeks rows however many raw events exist.
    QuerySpec("q109_cohort_retention", (s, d) => {
      val ev = Tables.events(s, d)
        .select($"user_id", date_trunc("week", $"ts").as("w"))
      val act = ev.distinct()
      val firstw = act.groupBy($"user_id").agg(min($"w").as("cw"))
      val sizes = firstw.groupBy($"cw").agg(count(lit(1)).as("n_users"))
      act.join(firstw, "user_id")
        .select($"cw", (datediff($"w", $"cw") / 7).cast("int").as("off"))
        .filter($"off" <= 4)
        .groupBy($"cw", $"off").agg(count(lit(1)).as("n_active"))
        .join(sizes, "cw")
        .select($"cw".cast("date").as("cohort_week"),
          $"off".as("week_offset"), $"n_active", $"n_users",
          Fns.roundU($"n_active".cast("double") / $"n_users", 4)
            .as("retention"))
        .orderBy($"cohort_week", $"week_offset")
    }, Some(
      // q109: same derivation — distinct (user, week) activity, min week
      // as the cohort, day-diff // 7 as the offset
      """WITH a AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS w
        |  FROM events),
        |f AS (SELECT user_id, min(w) AS cw FROM a GROUP BY user_id),
        |cs AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users
        |  FROM f GROUP BY cw),
        |j AS (
        |  SELECT f.cw, CAST(date_diff('day', f.cw, a.w) // 7 AS INT)
        |    AS off
        |  FROM a JOIN f USING (user_id))
        |SELECT CAST(j.cw AS DATE) AS cohort_week, off AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_active, n_users,
        |  floor((count(*) / CAST(n_users AS DOUBLE)) * 10000 + 0.5)
        |    / 10000.0 AS retention
        |FROM j JOIN cs USING (cw) WHERE off <= 4
        |GROUP BY j.cw, off, n_users
        |ORDER BY cohort_week, week_offset""".stripMargin)),

    // LONGEST ACTIVITY STREAK — gaps-and-islands over distinct
    // activity dates (the engagement metric): date minus per-user
    // row_number is constant within a run of consecutive days, so
    // islands fall out of one user-partitioned window + two hash
    // aggregates; output is the per-streak-length user histogram.
    QuerySpec("q112_activity_streaks", (s, d) => {
      val act = Tables.events(s, d)
        .select($"user_id", to_date($"ts").as("d")).distinct()
      val w = Window.partitionBy($"user_id").orderBy($"d")
      act.withColumn("__g", date_sub($"d", row_number().over(w)))
        .groupBy($"user_id", $"__g").agg(count(lit(1)).as("len"))
        .groupBy($"user_id").agg(max($"len").as("max_streak"))
        .groupBy($"max_streak").agg(count(lit(1)).as("n_users"))
        .orderBy($"max_streak")
    }, Some(
      // q112: same gaps-and-islands derivation (date minus row_number)
      """WITH a AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |i AS (
        |  SELECT user_id, d - CAST(row_number() OVER (
        |    PARTITION BY user_id ORDER BY d) AS INT) AS g
        |  FROM a),
        |l AS (SELECT user_id, CAST(count(*) AS BIGINT) AS len
        |  FROM i GROUP BY user_id, g),
        |m AS (SELECT user_id, max(len) AS max_streak FROM l
        |  GROUP BY user_id)
        |SELECT max_streak, CAST(count(*) AS BIGINT) AS n_users
        |FROM m GROUP BY max_streak ORDER BY max_streak""".stripMargin)),

    // EVENT-TYPE TRANSITION MATRIX — the first-order Markov view of
    // user behavior: per user, each event's type paired with its
    // predecessor's (lag over the user-partitioned, totally-ordered
    // stream), transition counts + per-source-state probabilities.
    // One window pass + one hash aggregate; the (ts, event_id) order
    // key makes equal-ts neighbors deterministic.
    QuerySpec("q113_event_transitions", (s, d) => {
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts", $"event_id")
      val t = Tables.events(s, d)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("__from", lag($"event_type", 1).over(w))
        .filter($"__from".isNotNull)
        .groupBy($"__from".as("from_type"),
          $"event_type".as("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = t.groupBy($"from_type")
        .agg(sum($"n").as("__tot"))
      t.join(totals, "from_type")
        .select($"from_type", $"to_type", $"n",
          Fns.roundU($"n".cast("double") / $"__tot", 4).as("p"))
        .orderBy($"from_type", $"to_type")
    }, Some(
      // q113: lag over the same (ts, event_id) total order
      """WITH t AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type,
        |    event_type AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  floor((c.n / CAST(s.tot AS DOUBLE)) * 10000 + 0.5) / 10000.0
        |    AS p
        |FROM c JOIN s USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin)),

    // ROLLING 7-DAY DISTINCT ACTIVE USERS — the DAU/WAU dashboard
    // metric. COUNT(DISTINCT) over a range window doesn't exist in
    // Spark (and the self-join-per-day alternative rescans 7× per
    // day); the scalable form is CONTRIBUTION EXPANSION: each distinct
    // (user, day) activity emits the ≤7 window days it contributes to,
    // distinct again, count per day. Blowup is a constant 7× on the
    // deduped activity table (not the raw events), every stage a hash
    // aggregate — the plan is identical at 100 TB.
    QuerySpec("q116_rolling_active", (s, d) => {
      val act = Tables.events(s, d)
        .select($"user_id", to_date($"ts").as("d")).distinct()
      val contrib = act.select($"user_id",
          explode(sequence($"d", date_add($"d", 6))).as("day"))
        .distinct()
      val bounds = act.agg(max($"d").as("__max_d"))
      contrib.join(broadcast(bounds))
        .filter($"day" <= $"__max_d")
        .groupBy($"day").agg(count(lit(1)).as("active_7d"))
        .orderBy($"day")
    }, Some(
      // q116: same contribution expansion (activity day emits its 7
      // covered window days), deduped, counted
      """WITH a AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (
        |  SELECT DISTINCT user_id, d + CAST(x.i AS INTEGER) AS day
        |  FROM a, unnest(generate_series(0, 6)) AS x(i)),
        |b AS (SELECT max(d) AS max_d FROM a)
        |SELECT c.day, CAST(count(*) AS BIGINT) AS active_7d
        |FROM c CROSS JOIN b WHERE c.day <= b.max_d
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // EWMA ANOMALY SCAN — exponentially-weighted moving average over
    // each event type's daily count series, flagging days that deviate
    // >50% from the prior smoothed level. alpha = 0.5 ON PURPOSE: the
    // closed form ewma_t = 0.5^t · Σ c_i·x_i with c_0 = 1,
    // c_i = 2^(i-1) keeps every intermediate an exactly-representable
    // scaled integer (powers of two are exact doubles), so the
    // recursive definition, this window form, and the oracle's SQL all
    // agree BIT-FOR-BIT — no libm in the loop. One partitioned window
    // pass; series length per key is bounded by the calendar, not the
    // data. Exactness bound: partial sums are integers and stay exact
    // while x̄·2^(L-1) < 2^53 (L = series length) — ~40 days at these
    // daily volumes; past that, restart the recurrence per window
    // (e.g. monthly) rather than trusting one unbounded closed form.
    QuerySpec("q117_ewma_anomaly", (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy($"event_type").orderBy($"day")
      val scored = daily
        .withColumn("__i", row_number().over(w) - 1)
        .withColumn("__c", when($"__i" === 0, lit(1.0))
          .otherwise(pow(lit(2.0), $"__i" - 1)))
        .withColumn("__s", sum($"x" * $"__c").over(w))
        .withColumn("ewma", pow(lit(0.5), $"__i") * $"__s")
        .withColumn("__prev", lag($"ewma", 1).over(w))
        .withColumn("dev",
          abs($"x" - $"__prev") / $"__prev")
      scored.select($"event_type", $"day", $"x",
          Fns.roundU($"ewma", 4).as("ewma"),
          Fns.roundU(coalesce($"dev", lit(0.0)), 4).as("dev"),
          coalesce($"dev" > 0.5, lit(false)).as("anomaly"))
        .orderBy($"event_type", $"day")
    }, Some(
      // q117: identical closed form — 0.5^t · running Σ x_i·2^(i-1);
      // powers of two are exact doubles so both engines agree exactly
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |i AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY day) - 1 AS idx
        |  FROM daily),
        |s AS (
        |  SELECT *, pow(0.5, idx) * sum(x * CASE WHEN idx = 0 THEN 1.0
        |      ELSE pow(2.0, idx - 1) END) OVER (
        |    PARTITION BY event_type ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS ewma
        |  FROM i),
        |p AS (
        |  SELECT *, lag(ewma) OVER (PARTITION BY event_type
        |    ORDER BY day) AS prev
        |  FROM s)
        |SELECT event_type, day, x,
        |  floor(ewma * 10000 + 0.5) / 10000.0 AS ewma,
        |  floor(coalesce(abs(x - prev) / prev, 0.0) * 10000 + 0.5)
        |    / 10000.0 AS dev,
        |  coalesce(abs(x - prev) / prev > 0.5, false) AS anomaly
        |FROM p ORDER BY event_type, day""".stripMargin)),

    // CALENDAR GAP-FILL + FORWARD FILL — the time-series ETL staple:
    // build the dense user×day spine (users crossJoin a BROADCAST
    // calendar — the calendar is bounded by the clock, not the data),
    // left-join the sparse daily facts, carry the last observation
    // forward with an ignore-nulls window. Leading gaps (before a
    // user's first activity) fill with 0. Per-user series length is
    // calendar-bounded, so the window partitions stay small at any
    // data scale.
    QuerySpec("q120_gap_fill", (s, d) => {
      val ev = Tables.events(s, d).filter($"user_id" < 40)
      val daily = ev.groupBy($"user_id", to_date($"ts").as("day"))
        .agg(Fns.roundU(sum($"value"), 4).as("v"))
      val cal = ev.agg(min(to_date($"ts")).as("__lo"),
          max(to_date($"ts")).as("__hi"))
        .select(explode(sequence($"__lo", $"__hi")).as("day"))
      val spine = ev.select($"user_id").distinct()
        .crossJoin(broadcast(cal))
      val w = Window.partitionBy($"user_id").orderBy($"day")
      spine.join(daily, Seq("user_id", "day"), "left")
        .select($"user_id", $"day",
          coalesce(last($"v", ignoreNulls = true).over(w), lit(0.0))
            .as("v_ffill"),
          $"v".isNull.as("is_gap"))
        .orderBy($"user_id", $"day")
    }, Some(
      // q120: same spine + IGNORE NULLS carry-forward window
      """WITH ev AS (SELECT * FROM events WHERE user_id < 40),
        |daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    floor(sum(value) * 10000 + 0.5) / 10000.0 AS v
        |  FROM ev GROUP BY 1, 2),
        |cal AS (
        |  SELECT unnest(generate_series(min(CAST(ts AS DATE)),
        |    max(CAST(ts AS DATE)), INTERVAL 1 DAY)) AS day FROM ev),
        |spine AS (
        |  SELECT u.user_id, CAST(c.day AS DATE) AS day
        |  FROM (SELECT DISTINCT user_id FROM ev) u CROSS JOIN cal c),
        |j AS (
        |  SELECT s.user_id, s.day, d.v
        |  FROM spine s LEFT JOIN daily d USING (user_id, day))
        |SELECT user_id, day,
        |  coalesce(last_value(v IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
        |    AS v_ffill,
        |  v IS NULL AS is_gap
        |FROM j ORDER BY user_id, day""".stripMargin)),

    // EVENT TRIGRAMS — the k=3 sequential-pattern mining pass over
    // each user's totally-ordered stream: two leads in ONE window
    // pass (no self-joins), then a hash aggregate over the bounded
    // |types|³ trigram domain. (ts, event_id) ordering makes equal-ts
    // neighbors deterministic, as in q113.
    QuerySpec("q125_event_trigrams", (s, d) => {
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts", $"event_id")
      Tables.events(s, d)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("__t1", lead($"event_type", 1).over(w))
        .withColumn("__t2", lead($"event_type", 2).over(w))
        .filter($"__t2".isNotNull)
        .groupBy($"event_type".as("e1"), $"__t1".as("e2"),
          $"__t2".as("e3"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"e1", $"e2", $"e3")
        .limit(20)
    }, Some(
      // q125: same two leads over the same (ts, event_id) total order
      """WITH t AS (
        |  SELECT event_type AS e1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS e2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS e3
        |  FROM events)
        |SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
        |FROM t WHERE e3 IS NOT NULL GROUP BY 1, 2, 3
        |ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin)),

    // CONCURRENCY SWEEP-LINE — how many sessions are open at once,
    // and for how long: the interval-stabbing aggregate behind
    // capacity planning. Sessions (q37's session_window) emit ±1
    // boundary deltas; collapsing to per-timestamp NET deltas makes
    // the timeline unique, so the running level is a prefix sum over
    // ONE global order — computed by Packing.prefixSum (two-phase
    // scan), NOT a single-partition window. The interval length needs
    // lead(ts) over the same order; rather than a second window, rank
    // each boundary (prefixSum of 1) and shuffle-join rank→rank+1 —
    // every stage stays partition-parallel however long the timeline.
    // Output: per concurrency level, total open time and interval
    // count — the level-duration histogram.
    QuerySpec("q128_concurrency_sweep", (s, d) => {
      val sess = Tables.events(s, d)
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
        .agg(count(lit(1)).as("__n"))
        .select($"w.start".as("__st"), $"w.end".as("__en"))
      val net = sess.select($"__st".as("ts"), lit(1L).as("__d"))
        .unionAll(sess.select($"__en".as("ts"), lit(-1L).as("__d")))
        .groupBy($"ts").agg(sum($"__d").as("__net"))
        .withColumn("__g", lit(1)).withColumn("__one", lit(1L))
      val run = Packing.prefixSum(net, Seq("__g"), Seq("ts"),
        "__net", "concurrency")
      val rk = Packing.prefixSum(run, Seq("__g"), Seq("ts"),
        "__one", "__rk")
      val nxt = rk.select(($"__rk" - 1).as("__rk2"), $"ts".as("__nxt"))
      rk.join(nxt, $"__rk" === $"__rk2")
        .filter($"concurrency" >= 1)
        .groupBy($"concurrency")
        .agg(sum(unix_micros($"__nxt") - unix_micros($"ts"))
          .as("total_us"),
          count(lit(1)).as("n_intervals"))
        .orderBy($"concurrency")
    }, Some(
      // q128: q37's manual sessionization (gap >= 30 min starts a new
      // session, end = last event + 30 min), then the plain-window form
      // of the sweep: net delta per ts, running sum + lead over the
      // global order — what the engine computes via the two-phase scan
      """WITH flags AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sess AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flags),
        |iv AS (
        |  SELECT min(ts) AS st, max(ts) + INTERVAL 30 MINUTE AS en
        |  FROM sess GROUP BY user_id, sid),
        |net AS (
        |  SELECT ts, CAST(sum(d) AS BIGINT) AS net FROM (
        |    SELECT st AS ts, 1 AS d FROM iv
        |    UNION ALL SELECT en, -1 FROM iv)
        |  GROUP BY ts),
        |run AS (
        |  SELECT ts,
        |    sum(net) OVER (ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
        |    lead(ts) OVER (ORDER BY ts) AS nxt
        |  FROM net)
        |SELECT CAST(c AS BIGINT) AS concurrency,
        |  CAST(sum(epoch_us(nxt) - epoch_us(ts)) AS BIGINT) AS total_us,
        |  CAST(count(*) AS BIGINT) AS n_intervals
        |FROM run WHERE nxt IS NOT NULL AND c >= 1
        |GROUP BY 1 ORDER BY concurrency""".stripMargin)),

    // SNAPSHOT DIFF — the q93 payoff applied twice: reconstruct the
    // dimension at two derived times T1 < T2 from ONE SCD-2 table
    // (interval predicates, no log replay) and classify every key as
    // added / changed / unchanged between them (removed can't occur
    // in a close-and-append dimension — no delete path — so its
    // absence is itself checked by the oracle's hash). One keyed
    // full-outer join between the two snapshots; the history table is
    // scanned once and both interval filters prune from the same
    // cached pass.
    QuerySpec("q136_snapshot_diff", (s, d) => {
      val (target, changes) = scd2Fixture(s, d)
      // persisted: both interval snapshots prune from this one pass;
      // released by the per-query session cache clear
      val hist = Merge.applyScd2(target, changes, Seq("c_custkey"),
        Seq("val"), "ts", "valid_from", "valid_to").transform(scoped)
      // integer div on BOTH sides: a double-division + cast would
      // truncate here but ROUND in DuckDB's BIGINT cast, skewing the
      // derived snapshot times by one
      val ts = changes.agg(expr("max(ts) div 3").as("__t1"),
        expr("max(ts) * 2 div 3").as("__t2"))
      def snap(t: Column) = hist.crossJoin(broadcast(ts))
        .filter($"valid_from" <= t && ($"valid_to".isNull ||
          $"valid_to" > t))
      val s1 = snap($"__t1").select($"c_custkey", $"val".as("__v1"))
      val s2 = snap($"__t2").select($"c_custkey", $"val".as("__v2"))
      s1.join(s2, Seq("c_custkey"), "full_outer")
        .select(when($"__v1".isNull, "added")
          .when($"__v2".isNull, "removed")
          .when($"__v1" === $"__v2", "unchanged")
          .otherwise("changed").as("status"))
        .groupBy($"status").agg(count(lit(1)).as("n_keys"))
        .orderBy($"status")
    }, Some(
      // q136: q92's SCD-2 CTEs verbatim, then two interval snapshots
      // and the keyed diff — the oracle recomputes the whole history
      s"""WITH $scd2Ctes,
        |hist AS (
        |  SELECT * FROM keep UNION ALL SELECT * FROM closed
        |  UNION ALL SELECT * FROM ins),
        |tt AS (SELECT max(ts) // 3 AS t1,
        |  max(ts) * 2 // 3 AS t2 FROM ch),
        |s1 AS (SELECT c_custkey, val AS v1 FROM hist CROSS JOIN tt
        |  WHERE valid_from <= t1
        |    AND (valid_to IS NULL OR valid_to > t1)),
        |s2 AS (SELECT c_custkey, val AS v2 FROM hist CROSS JOIN tt
        |  WHERE valid_from <= t2
        |    AND (valid_to IS NULL OR valid_to > t2))
        |SELECT CASE WHEN v1 IS NULL THEN 'added'
        |    WHEN v2 IS NULL THEN 'removed'
        |    WHEN v1 = v2 THEN 'unchanged'
        |    ELSE 'changed' END AS status,
        |  CAST(count(*) AS BIGINT) AS n_keys
        |FROM s1 FULL OUTER JOIN s2 USING (c_custkey)
        |GROUP BY 1 ORDER BY status""".stripMargin)),

    // CUSUM CHANGEPOINT — per-user level-shift detector over the daily
    // event-count series: S_i = Σ_{j≤i}(x_j − mean), changepoint = the
    // day maximizing |S_i| (earliest on ties). The window partitions
    // by user and spans its OBSERVED days — bounded by the calendar,
    // not the data (q127's per-day discipline). The argmax is a
    // max/join pair, not a second window. The peak search runs on the
    // INTEGER numerator n·cum_i − i·total (= n·S_i, same argmax, zero
    // FP): comparing doubles for the argmax would make a near-tied
    // |S| flip the changepoint date on an ulp; the one division by n
    // happens after the max, on an exact integer.
    QuerySpec("q147_cusum", (s, d) => {
      val daily = Tables.events(s, d)
        .select($"user_id", to_date($"ts").as("d"))
        .groupBy($"user_id", $"d").agg(count(lit(1)).as("__x"))
      val wm = Window.partitionBy($"user_id")
      val wo = Window.partitionBy($"user_id").orderBy($"d")
      val wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cusum = daily
        .withColumn("__n", count(lit(1)).over(wm))
        .filter($"__n" >= 20)
        .withColumn("__tot", sum($"__x").over(wm))
        .withColumn("__cum", sum($"__x").over(wc))
        .withColumn("__i", row_number().over(wo))
        .select($"user_id", $"d", $"__n",
          abs($"__n" * $"__cum" - $"__i" * $"__tot").as("__abs"))
      val peak = cusum.groupBy($"user_id")
        .agg(max($"__abs").as("__mx"), max($"__n").as("n_days"))
      cusum.join(peak, Seq("user_id"))
        .filter($"__abs" === $"__mx")
        .groupBy($"user_id", $"n_days", $"__mx")
        .agg(min($"d").as("cp_date"))
        .select($"user_id", $"n_days", $"cp_date",
          Fns.roundU($"__mx".cast("double") / $"n_days", 6)
            .as("max_abs_cusum"))
        .orderBy($"user_id")
    }, Some(
      // q147: integer numerator n·cum − i·total — exact argmax, the one
      // division happens after the max
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT user_id, d,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    sum(x) OVER (PARTITION BY user_id) AS tot,
        |    sum(x) OVER (PARTITION BY user_id ORDER BY d) AS cum,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS i
        |  FROM daily),
        |a AS (
        |  SELECT user_id, d, n, abs(n * cum - i * tot) AS ab
        |  FROM c WHERE n >= 20),
        |p AS (SELECT user_id, max(ab) AS mx, max(n) AS nd
        |      FROM a GROUP BY user_id)
        |SELECT a.user_id, CAST(p.nd AS BIGINT) AS n_days,
        |  min(a.d) AS cp_date,
        |  floor(CAST(p.mx AS DOUBLE) / p.nd * 1000000 + 0.5)
        |    / 1000000.0 AS max_abs_cusum
        |FROM a JOIN p ON a.user_id = p.user_id AND a.ab = p.mx
        |GROUP BY a.user_id, p.nd, p.mx
        |ORDER BY a.user_id""".stripMargin)),

    // TIME-WEIGHTED AVERAGE (TWAP) — per-user mean of `value` weighted
    // by how long each observation was current (micros until the next
    // event; the last observation carries no weight). The tie order
    // under equal timestamps CHANGES the answer (the first of two
    // same-ts events gets weight 0), so the window orders by
    // (ts, event_id) — a total order both engines replay identically.
    // Integer-micros weights keep Σw exact; only Σ(v·w) is a double.
    QuerySpec("q150_twap", (s, d) => {
      val wo = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, d)
        .select($"user_id", $"event_id", $"ts", $"value")
        .withColumn("__wt",
          lead(unix_micros($"ts"), 1).over(wo) - unix_micros($"ts"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum($"__wt").as("span_micros"),
          sum($"value" * $"__wt").as("__vw"))
        .filter($"span_micros" > 0)
        .select($"user_id", $"n_events", $"span_micros",
          Fns.roundU($"__vw" / $"span_micros", 6).as("twap"))
        .orderBy($"user_id")
    }, Some(
      // q150: weights are integer micros; (ts, event_id) total order so
      // zero-weight ties land on the same row on both engines
      """WITH w AS (
        |  SELECT user_id, value,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) - epoch_us(ts) AS wt
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(wt) AS BIGINT) AS span_micros,
        |  floor(sum(value * wt) / sum(wt) * 1000000 + 0.5)
        |    / 1000000.0 AS twap
        |FROM w GROUP BY user_id HAVING sum(wt) > 0
        |ORDER BY user_id""".stripMargin)),

    // TIME-DECAY MULTI-TOUCH ATTRIBUTION — q107's last-touch sibling:
    // every view/click in the 7 days before a purchase shares the
    // purchase value, weighted 1/(1+whole-hours-before). The weight is
    // the correctly-rounded reciprocal of an exact integer (micros
    // div), so per-touch weights are bit-identical cross-engine; the
    // join is keyed on user_id (fan-out bounded per user), never a
    // time-only cross join. Purchases with no touch in the window
    // surface as the 'unattributed' row — value is conserved.
    QuerySpec("q161_decay_attribution", (s, d) => {
      val ev = Tables.events(s, d)
      val pur = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("__pid"),
          unix_micros($"ts").as("__pt"), $"value")
      val tch = ev.filter($"event_type".isin("view", "click"))
        .select($"user_id".as("__u"), $"event_type",
          unix_micros($"ts").as("__tt"))
      val j = pur.join(tch,
        $"user_id" === $"__u" && $"__tt" <= $"__pt"
          && $"__tt" > $"__pt" - lit(7L * 86400L * 1000000L))
        .withColumn("__w", lit(1.0)
          / (lit(1L) + expr("(__pt - __tt) div 3600000000")))
      val sw = j.groupBy($"__pid").agg(sum($"__w").as("__sw"))
      val credited = j.join(sw, Seq("__pid"))
        .groupBy($"event_type".as("channel"))
        .agg(count(lit(1)).as("n_touches"),
          sum($"value" * $"__w" / $"__sw").as("__cv"))
      val untouched = pur
        .join(j.select($"__pid").distinct(), Seq("__pid"), "left_anti")
        .agg(count(lit(1)).as("n_touches"), sum($"value").as("__cv"))
        .select(lit("unattributed").as("channel"), $"n_touches", $"__cv")
      credited.unionByName(untouched)
        .select($"channel", $"n_touches",
          Fns.roundU($"__cv", 4).as("credited_value"))
        .orderBy($"channel")
    }, Some(
      // q161: weights are correctly-rounded reciprocals of exact integer
      // hour counts — bit-identical cross-engine
      """WITH pur AS (
        |  SELECT user_id, event_id AS pid, epoch_us(ts) AS pt, value
        |  FROM events WHERE event_type = 'purchase'),
        |tch AS (
        |  SELECT user_id AS u, event_type, epoch_us(ts) AS tt
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT pid, value, event_type,
        |    1.0 / (1 + (pt - tt) // 3600000000) AS w
        |  FROM pur JOIN tch ON user_id = u AND tt <= pt
        |    AND tt > pt - 604800000000),
        |sw AS (SELECT pid, sum(w) AS sw FROM j GROUP BY pid),
        |cr AS (
        |  SELECT j.event_type AS channel,
        |    CAST(count(*) AS BIGINT) AS n_touches,
        |    sum(j.value * j.w / sw.sw) AS cv
        |  FROM j JOIN sw USING (pid) GROUP BY 1),
        |un AS (
        |  SELECT 'unattributed' AS channel,
        |    CAST(count(*) AS BIGINT) AS n_touches, sum(value) AS cv
        |  FROM pur WHERE pid NOT IN (SELECT DISTINCT pid FROM j)),
        |u AS (SELECT * FROM cr UNION ALL SELECT * FROM un)
        |SELECT channel, n_touches,
        |  floor(cv * 10000 + 0.5) / 10000.0 AS credited_value
        |FROM u ORDER BY channel""".stripMargin)),

    // POINT-IN-TIME JOIN — every fact matched to the dimension VERSION
    // valid at its timestamp (q93 reads one snapshot; this is the
    // general dimensional join a backfill actually runs). One shuffle
    // join on the key plus the interval predicate; the SCD-2 intervals
    // partition the timeline, so each fact lands on exactly one
    // version — the oracle rebuilds the same history in SQL and the
    // fact counts prove no version is double-matched or dropped.
    QuerySpec("q170_pit_join", (s, d) => {
      val (target, changes) = scd2Fixture(s, d)
      val hist = Merge.applyScd2(target, changes, Seq("c_custkey"),
        Seq("val"), "ts", "valid_from", "valid_to")
      val facts = Tables.orders(s, d)
        .select($"o_custkey".as("c_custkey"), $"o_orderkey".as("__ts"))
      facts.join(hist, Seq("c_custkey"))
        .filter($"valid_from" <= $"__ts" &&
          ($"valid_to".isNull || $"valid_to" > $"__ts"))
        .groupBy(($"valid_from" > 0).as("on_updated_version"))
        .agg(count(lit(1)).as("n_facts"),
          countDistinct($"c_custkey").as("n_customers"),
          Fns.roundU(sum($"val"), 2).as("sum_version_val"))
        .orderBy($"on_updated_version")
    }, Some(
      // q170: q92's history rebuild + the interval match per fact
      s"""WITH $scd2Ctes,
        |hist AS (
        |  SELECT * FROM keep UNION ALL SELECT * FROM closed
        |  UNION ALL SELECT * FROM ins),
        |f AS (SELECT o_custkey AS c_custkey, o_orderkey AS ts
        |      FROM orders),
        |j AS (
        |  SELECT h.valid_from > 0 AS on_updated_version,
        |    f.c_custkey, h.val
        |  FROM f JOIN hist h ON f.c_custkey = h.c_custkey
        |    AND h.valid_from <= f.ts
        |    AND (h.valid_to IS NULL OR h.valid_to > f.ts))
        |SELECT on_updated_version, CAST(count(*) AS BIGINT) AS n_facts,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
        |  floor(sum(val) * 100 + 0.5) / 100.0 AS sum_version_val
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // POSITION-BASED (U-SHAPED) ATTRIBUTION — completes the
    // attribution trio (last-touch q107, time-decay q161): first and
    // last touch take 40% each, the middle splits the remaining 20%
    // evenly (k=1 → 100%, k=2 → 50/50). Same user-keyed 7-day window
    // join as q161; first/last are ONE (min, max) aggregate over the
    // total (touch-time, event-id) key — the event-id tiebreak makes
    // same-timestamp paths deterministic on both engines, never a
    // per-purchase window sort. Weights are exact small rationals
    // from integer k, so value conservation survives the hash check.
    QuerySpec("q188_position_attribution", (s, d) => {
      val ev = Tables.events(s, d)
      val pur = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("__pid"),
          unix_micros($"ts").as("__pt"), $"value")
      val tch = ev.filter($"event_type".isin("view", "click"))
        .select($"user_id".as("__u"), $"event_type",
          $"event_id".as("__tid"), unix_micros($"ts").as("__tt"))
      val j = pur.join(tch,
        $"user_id" === $"__u" && $"__tt" <= $"__pt"
          && $"__tt" > $"__pt" - lit(7L * 86400L * 1000000L))
      val ext = j.groupBy($"__pid").agg(count(lit(1)).as("__k"),
        min(struct($"__tt", $"__tid")).as("__first"),
        max(struct($"__tt", $"__tid")).as("__last"))
      val credited = j.join(ext, Seq("__pid"))
        .withColumn("__w",
          when($"__k" === 1, 1.0)
            .when($"__k" === 2, 0.5)
            .when(struct($"__tt", $"__tid") === $"__first", 0.4)
            .when(struct($"__tt", $"__tid") === $"__last", 0.4)
            .otherwise(lit(0.2) / ($"__k" - 2)))
        .groupBy($"event_type".as("channel"))
        .agg(count(lit(1)).as("n_touches"),
          sum($"value" * $"__w").as("__cv"))
      val untouched = pur
        .join(j.select($"__pid").distinct(), Seq("__pid"), "left_anti")
        .agg(count(lit(1)).as("n_touches"), sum($"value").as("__cv"))
        .select(lit("unattributed").as("channel"), $"n_touches",
          $"__cv")
      credited.unionByName(untouched)
        .select($"channel", $"n_touches",
          Fns.roundU($"__cv", 4).as("credited_value"))
        .orderBy($"channel")
    }, Some(
      """WITH pur AS (
        |  SELECT user_id, event_id AS pid, epoch_us(ts) AS pt, value
        |  FROM events WHERE event_type = 'purchase'),
        |tch AS (
        |  SELECT user_id AS u, event_type, event_id AS tid,
        |    epoch_us(ts) AS tt
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT pid, value, event_type, tt, tid
        |  FROM pur JOIN tch ON user_id = u AND tt <= pt
        |    AND tt > pt - 604800000000),
        |ext AS (
        |  SELECT pid, CAST(count(*) AS BIGINT) AS k,
        |    min(row(tt, tid)) AS frst, max(row(tt, tid)) AS lst
        |  FROM j GROUP BY pid),
        |w AS (
        |  SELECT j.event_type, j.value,
        |    CASE WHEN k = 1 THEN 1.0
        |      WHEN k = 2 THEN 0.5
        |      WHEN row(tt, tid) = frst THEN 0.4
        |      WHEN row(tt, tid) = lst THEN 0.4
        |      ELSE 0.2 / (k - 2) END AS w
        |  FROM j JOIN ext USING (pid)),
        |cr AS (
        |  SELECT event_type AS channel,
        |    CAST(count(*) AS BIGINT) AS n_touches,
        |    sum(value * w) AS cv
        |  FROM w GROUP BY 1),
        |un AS (
        |  SELECT 'unattributed' AS channel,
        |    CAST(count(*) AS BIGINT) AS n_touches, sum(value) AS cv
        |  FROM pur WHERE pid NOT IN (SELECT DISTINCT pid FROM j)),
        |u AS (SELECT * FROM cr UNION ALL SELECT * FROM un)
        |SELECT channel, n_touches,
        |  floor(cv * 10000 + 0.5) / 10000.0 AS credited_value
        |FROM u ORDER BY channel""".stripMargin)),

    // CAPPED SESSIONIZATION -- the sequential split rule windows
    // cannot express: a session breaks on a 30-min gap OR when the
    // span since the CURRENT session's start exceeds 4h (forced
    // rotation under continuous activity). Split points depend on
    // earlier splits, so q37's gap-indicator prefix sum does not
    // apply; Sessionize.cappedSessions runs the secondary-sort
    // streaming scan (one shuffle, within-partition sort, O(1)
    // state). The oracle replays the recurrence as a recursive CTE
    // walking each user's event sequence one step per iteration.
    QuerySpec("q209_capped_sessions", (s, d) => {
      val ev = Tables.events(s, d).filter($"user_id" < 100)
        .select($"user_id", $"ts".cast("long").as("__ts"), $"event_id")
      Sessionize.cappedSessions(ev, "user_id", "__ts", "event_id",
          gapSec = 1800L, capSec = 14400L)
        .groupBy($"user_id", $"session_idx")
        .agg(count(lit(1)).as("n_events"),
          min($"__ts").as("start_ts"), max($"__ts").as("end_ts"))
        .withColumn("duration_sec", $"end_ts" - $"start_ts")
        .orderBy($"user_id", $"session_idx")
    }, Some(
      // q209: the oracle WALKS the same recurrence -- anchor at each
      // user's first event (session 0), each iteration advances one
      // event carrying (session, session_start); identical break
      // predicate, identical (ts, event_id) order
      """WITH RECURSIVE
        |e AS (
        |  -- floor, not CAST: DuckDB CAST(double->BIGINT) ROUNDS the
        |  -- fractional seconds where Spark's timestamp->long cast
        |  -- truncates; the ORDER BY must use the same truncated value
        |  -- or sub-second ties sort differently on the two engines
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY floor(epoch(ts)), event_id) AS rn
        |  FROM events WHERE user_id < 100),
        |walk AS (
        |  SELECT user_id, rn, t, CAST(0 AS BIGINT) AS sess,
        |    t AS sess_start
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.t,
        |    CASE WHEN e.t - w.t > 1800 OR e.t - w.sess_start > 14400
        |         THEN w.sess + 1 ELSE w.sess END,
        |    CASE WHEN e.t - w.t > 1800 OR e.t - w.sess_start > 14400
        |         THEN e.t ELSE w.sess_start END
        |  FROM walk w JOIN e ON e.user_id = w.user_id
        |    AND e.rn = w.rn + 1)
        |SELECT user_id, sess AS session_idx,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(min(t) AS BIGINT) AS start_ts,
        |  CAST(max(t) AS BIGINT) AS end_ts,
        |  CAST(max(t) - min(t) AS BIGINT) AS duration_sec
        |FROM walk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // DEBOUNCE / IDEMPOTENCY-WINDOW DEDUP — keep an event only if ≥
    // 600 s after the last KEPT event of its (user, type): the
    // retry/duplicate-webhook suppression rule. Eligibility depends
    // on which earlier events were kept — a sequential recurrence
    // (the q209 class; "distinct per 10-min bucket" is a DIFFERENT,
    // boundary-artifacted rule) — run as Sessionize.debounce's
    // secondary-sort O(1)-state scan and replayed by the oracle as a
    // recursive CTE. The composite key packs the 5 event types into
    // 3 bits of the user key; the readout unpacks with the same CASE
    // on both engines.
    QuerySpec("q224_debounce", (s, d) => {
      val code = when($"event_type" === "click", 0L)
        .when($"event_type" === "error", 1L)
        .when($"event_type" === "purchase", 2L)
        .when($"event_type" === "signup", 3L).otherwise(4L)
      val ev = Tables.events(s, d)
        .select(($"user_id" * 8 + code).as("__k"),
          $"ts".cast("long").as("__t"), $"event_id")
      Sessionize.debounce(ev, "__k", "__t", "event_id", 600L)
        .select(($"__k" % 8).as("__code"), $"kept")
        .groupBy(when($"__code" === 0, "click")
          .when($"__code" === 1, "error")
          .when($"__code" === 2, "purchase")
          .when($"__code" === 3, "signup").otherwise("view")
          .as("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum($"kept".cast("long")).as("n_kept"))
        .select($"event_type", $"n_events", $"n_kept",
          Fns.roundU(lit(1.0) -
            $"n_kept".cast("double") / $"n_events", 4).as("drop_frac"))
        .orderBy($"event_type")
    }, Some(
      """WITH RECURSIVE
        |e AS (
        |  SELECT user_id * 8 + CASE event_type
        |      WHEN 'click' THEN 0 WHEN 'error' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
        |      ELSE 4 END AS k,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
        |    row_number() OVER (PARTITION BY user_id * 8 + CASE
        |        event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
        |        WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END
        |      ORDER BY floor(epoch(ts)), event_id) AS rn
        |  FROM events),
        |walk AS (
        |  SELECT k, rn, t, TRUE AS kept, t AS last_kept
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.k, e.rn, e.t, e.t - w.last_kept >= 600,
        |    CASE WHEN e.t - w.last_kept >= 600 THEN e.t
        |         ELSE w.last_kept END
        |  FROM walk w JOIN e ON e.k = w.k AND e.rn = w.rn + 1)
        |SELECT CASE k % 8 WHEN 0 THEN 'click' WHEN 1 THEN 'error'
        |    WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup'
        |    ELSE 'view' END AS event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  floor((1.0 - CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000.0
        |    AS drop_frac
        |FROM walk GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // TOP CONVERSION PATHS — the path-analysis readout behind every
    // attribution model: the ordered touch SEQUENCE (view/click) in
    // each purchase's 7-day window, capped at the first 8 touches,
    // ranked by conversion count. The path string is built from a
    // SORTED struct array ((touch-time, event-id) — the q188
    // tiebreak, so equal-timestamp touches order identically on both
    // engines; collect_list alone would be shuffle-order roulette),
    // and the top-15 is a TakeOrdered, never a full sort.
    QuerySpec("q229_conversion_paths", (s, d) => {
      val ev = Tables.events(s, d)
      val pur = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("__pid"),
          unix_micros($"ts").as("__pt"), $"value")
      val tch = ev.filter($"event_type".isin("view", "click"))
        .select($"user_id".as("__u"), $"event_type",
          $"event_id".as("__tid"), unix_micros($"ts").as("__tt"))
      val j = pur.join(tch,
        $"user_id" === $"__u" && $"__tt" <= $"__pt"
          && $"__tt" > $"__pt" - lit(7L * 86400L * 1000000L))
      j.groupBy($"__pid")
        .agg(min($"value").as("__v"),
          concat_ws(">", slice(transform(
            sort_array(collect_list(struct($"__tt", $"__tid",
              $"event_type"))),
            x => x.getField("event_type")), 1, 8)).as("path"))
        .groupBy($"path")
        .agg(count(lit(1)).as("n_conversions"),
          Fns.roundU(sum($"__v"), 2).as("conv_value"))
        .orderBy($"n_conversions".desc, $"path")
        .limit(15)
    }, Some(
      """WITH pur AS (
        |  SELECT user_id, event_id AS pid, epoch_us(ts) AS pt, value
        |  FROM events WHERE event_type = 'purchase'),
        |tch AS (
        |  SELECT user_id AS u, event_type, event_id AS tid,
        |    epoch_us(ts) AS tt
        |  FROM events WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT pid, value, event_type, tt, tid
        |  FROM pur JOIN tch ON user_id = u AND tt <= pt
        |    AND tt > pt - CAST(7 AS BIGINT) * 86400 * 1000000),
        |paths AS (
        |  SELECT pid, min(value) AS v,
        |    array_to_string(list_slice(
        |      list(event_type ORDER BY tt, tid), 1, 8), '>') AS path
        |  FROM j GROUP BY pid)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_conversions,
        |  floor(sum(v) * 100 + 0.5) / 100.0 AS conv_value
        |FROM paths GROUP BY path
        |ORDER BY n_conversions DESC, path LIMIT 15""".stripMargin)),

    // SLIDING DISTINCT (DAU/WAU stickiness) — exact trailing-7-day
    // active users per day, the sliding-window DISTINCT that a plain
    // window frame cannot express (count(DISTINCT) over a frame is
    // unsupported, and approximation changes the answer). The
    // scalable shape: dedup to (user, day), EXPLODE each user-day
    // into the 7 trailing windows it covers (bounded 7× growth of the
    // already-deduped table), dedup (user, window), count — never a
    // per-day rescan of the raw events. Stickiness = DAU/WAU, the
    // product-health ratio this exists for; WAU days with no same-day
    // events keep DAU=0 via the left join.
    QuerySpec("q235_sliding_distinct", (s, d) => {
      val ud = Tables.events(s, d)
        .select($"user_id", to_date($"ts").as("__d")).distinct()
      val mx = ud.agg(max($"__d").as("__m"))
      val wau = ud
        .select($"user_id",
          explode(sequence($"__d", date_add($"__d", 6))).as("day"))
        .distinct()
        .crossJoin(broadcast(mx))
        .filter($"day" <= $"__m")
        .groupBy($"day").agg(count(lit(1)).as("wau"))
      val dau = ud.groupBy($"__d".as("day"))
        .agg(count(lit(1)).as("__dau"))
      wau.join(dau, Seq("day"), "left")
        .select($"day", coalesce($"__dau", lit(0L)).as("dau"), $"wau",
          Fns.roundU(coalesce($"__dau", lit(0L)).cast("double") /
            $"wau", 4).as("stickiness"))
        .orderBy($"day")
    }, Some(
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |mx AS (SELECT max(d) AS m FROM ud),
        |win AS (
        |  SELECT DISTINCT user_id,
        |    d + CAST(x.i AS INT) AS w
        |  FROM ud, unnest(range(0, 7)) x(i)),
        |wau AS (
        |  SELECT w AS day, CAST(count(*) AS BIGINT) AS wau
        |  FROM win, mx WHERE w <= m GROUP BY 1),
        |dau AS (
        |  SELECT d AS day, CAST(count(*) AS BIGINT) AS dau
        |  FROM ud GROUP BY 1)
        |SELECT w.day, coalesce(d.dau, 0) AS dau, w.wau,
        |  floor(CAST(coalesce(d.dau, 0) AS DOUBLE) / w.wau
        |    * 10000 + 0.5) / 10000.0 AS stickiness
        |FROM wau w LEFT JOIN dau d ON w.day = d.day
        |ORDER BY w.day""".stripMargin)),

    // INTERVAL SCHEDULING — activity selection per desk: the maximum
    // set of non-overlapping order-service windows, by the
    // earliest-deadline-first greedy (optimal by the exchange
    // argument). Like q209/q224 this is a genuinely SEQUENTIAL
    // recurrence — no window/prefix-sum form — run as the
    // secondary-sort O(1)-state scan sorted on interval END
    // (Sessionize.greedySchedule), and replayed by the oracle as a
    // one-interval-per-iteration recursive CTE. Half-open [s, e):
    // touching windows are compatible. One staffing year keeps the
    // oracle's recursion depth bounded; the engine side has no such
    // limit — state is two scalars however long a desk's history.
    QuerySpec("q263_interval_scheduling", (s, d) => {
      val iv = Tables.orders(s, d)
        .filter($"o_orderdate" >= "1995-01-01" &&
          $"o_orderdate" < "1996-01-01")
        .select(($"o_custkey" % 23).cast("long").as("desk"),
          datediff($"o_orderdate", lit("1992-01-01")).cast("long")
            .as("st"),
          $"o_orderkey".cast("long").as("oid"))
        .withColumn("en", $"st" + lit(1L) + $"oid" % 14)
      Sessionize.greedySchedule(iv, "desk", "st", "en", "oid")
        .groupBy($"desk")
        .agg(count(lit(1)).as("n_intervals"),
          sum(when($"accepted", 1L).otherwise(0L)).as("n_accepted"),
          min(when($"accepted", $"st")).as("first_start"),
          max(when($"accepted", $"en")).as("last_end"))
        .orderBy($"desk")
    }, Some(
      // q263: the greedy replayed one interval per iteration in
      // (end, start, id) rank order — q224's walk pattern with the
      // accept-iff-start-clears-last-end recurrence
      """WITH RECURSIVE iv0 AS (
        |  SELECT o_custkey % 23 AS k,
        |    date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS s,
        |    o_orderkey AS i
        |  FROM orders
        |  WHERE o_orderdate >= '1995-01-01'
        |    AND o_orderdate < '1996-01-01'),
        |iv AS (
        |  SELECT k, s, s + 1 + i % 14 AS e, i,
        |    row_number() OVER (PARTITION BY k
        |      ORDER BY s + 1 + i % 14, s, i) AS rn
        |  FROM iv0),
        |walk AS (
        |  SELECT k, rn, s, e, TRUE AS acc, e AS last_end
        |  FROM iv WHERE rn = 1
        |  UNION ALL
        |  SELECT iv.k, iv.rn, iv.s, iv.e, iv.s >= w.last_end,
        |    CASE WHEN iv.s >= w.last_end THEN iv.e
        |         ELSE w.last_end END
        |  FROM walk w JOIN iv ON iv.k = w.k AND iv.rn = w.rn + 1)
        |SELECT CAST(k AS BIGINT) AS desk,
        |  CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(sum(CASE WHEN acc THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_accepted,
        |  CAST(min(CASE WHEN acc THEN s END) AS BIGINT)
        |    AS first_start,
        |  CAST(max(CASE WHEN acc THEN e END) AS BIGINT) AS last_end
        |FROM walk GROUP BY 1 ORDER BY desk""".stripMargin)),

    // INCREMENTAL VIEW MAINTENANCE (join view) — the delta algebra
    // for V = A ⋈ B aggregated, under BOTH a fact append (ΔA = 1996H1
    // orders) and a dimension payload update (ΔB = +$100 balance on
    // every custkey % 10 = 0, which can shift the balance BAND the
    // view groups by). The engine answers INCREMENTALLY:
    //   V' = V₀ + ΔA⋈B' − A₀[upd]⋈B_old + A₀[upd]⋈B_new
    // four aggregates over deltas and the affected slice only — never
    // a re-scan of unaffected history — folded with a sign column.
    // The oracle computes V' by FULL recompute ((A₀ ∪ ΔA) ⋈ B'), so
    // the hash equality IS the IVM correctness theorem on real data,
    // boundary band-shifts included. At 100 TB this is the difference
    // between touching |Δ| and touching everything.
    QuerySpec("q271_join_ivm", (s, d) => {
      val cust = Tables.customer(s, d)
        .select($"c_custkey", $"c_nationkey", $"c_acctbal")
      val bOld = cust.withColumn("band",
        floor($"c_acctbal" / 1000).cast("long"))
      val bNew = cust.withColumn("c_acctbal",
          when($"c_custkey" % 10 === 0, $"c_acctbal" + 100)
            .otherwise($"c_acctbal"))
        .withColumn("band", floor($"c_acctbal" / 1000).cast("long"))
      val ords = Tables.orders(s, d)
        .select($"o_custkey", $"o_orderdate",
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("__c"))
      val a0 = ords.filter($"o_orderdate" < "1996-01-01")
      val dA = ords.filter($"o_orderdate" >= "1996-01-01" &&
        $"o_orderdate" < "1996-07-01")
      def grp(fact: DataFrame, dim: DataFrame, sign: Long) =
        fact.join(broadcast(dim),
            fact("o_custkey") === dim("c_custkey"))
          .groupBy($"c_nationkey", $"band")
          .agg((sum($"__c") * sign).as("__v"),
            (count(lit(1)) * sign).as("__n"))
      val upd = $"c_custkey" % 10 === 0
      val terms = Seq(
        grp(a0, bOld, 1L),                      // V0
        grp(dA, bNew, 1L),                      // ΔA ⋈ B'
        grp(a0, bOld.filter(upd), -1L),         // − A0[upd] ⋈ B_old
        grp(a0, bNew.filter(upd), 1L))          // + A0[upd] ⋈ B_new
      terms.reduce(_ unionAll _)
        .groupBy($"c_nationkey", $"band")
        .agg(sum($"__v").as("revenue_cents"), sum($"__n").as("n_rows"))
        .filter($"n_rows" > 0)
        .orderBy($"c_nationkey", $"band")
    }, Some(
      // q271: FULL RECOMPUTE — (A0 ∪ ΔA) ⋈ B'; equality with the
      // engine's incremental fold is the IVM theorem under test
      """WITH bnew AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(floor((CASE WHEN c_custkey % 10 = 0
        |      THEN c_acctbal + 100 ELSE c_acctbal END) / 1000)
        |      AS BIGINT) AS band
        |  FROM customer),
        |f AS (
        |  SELECT o_custkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders WHERE o_orderdate < '1996-07-01')
        |SELECT b.c_nationkey, b.band,
        |  CAST(sum(f.c) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM f JOIN bnew b ON f.o_custkey = b.c_custkey
        |GROUP BY 1, 2 ORDER BY c_nationkey, band""".stripMargin)),

    // TOKEN-BUCKET RATE LIMITER — the API-throttling replay audit:
    // cap 3 tokens, refill 1 per 10 min, cost 1 per event, in
    // integer MILLI-tokens. The two-sided clamp plus the
    // allow-conditional deduction is a genuinely sequential
    // recurrence (q196's prefix identity handles only the one-sided
    // clamp), so it runs as the q209-family secondary-sort
    // O(1)-state scan (Sessionize.rateLimit — two longs of state per
    // key) and the oracle replays it one event per iteration as a
    // recursive CTE. Per user: events, allowed, denied.
    QuerySpec("q275_rate_limit", (s, d) => {
      val ev = Tables.events(s, d).filter($"user_id" < 100)
        .select($"user_id", $"ts".cast("long").as("__ts"),
          $"event_id")
      Sessionize.rateLimit(ev, "user_id", "__ts", "event_id",
          capMilli = 3000L, costMilli = 1000L,
          refillNumer = 1000L, refillDenom = 600L)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when($"allowed", 1L).otherwise(0L)).as("n_allowed"),
          sum(when(!$"allowed", 1L).otherwise(0L)).as("n_denied"))
        .orderBy($"user_id")
    }, Some(
      // q275: the q224 walk pattern with the token-bucket recurrence —
      // refill, two-sided clamp, allow-conditional deduction
      """WITH RECURSIVE e AS (
        |  SELECT user_id AS k,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY floor(epoch(ts)), event_id) AS rn
        |  FROM events WHERE user_id < 100),
        |walk AS (
        |  SELECT k, rn, t, TRUE AS ok, CAST(2000 AS BIGINT) AS tok,
        |    t AS lt
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.k, e.rn, e.t,
        |    least(3000, w.tok + (e.t - w.lt) * 1000 // 600) >= 1000,
        |    CASE WHEN least(3000, w.tok + (e.t - w.lt) * 1000 // 600)
        |        >= 1000
        |      THEN least(3000, w.tok + (e.t - w.lt) * 1000 // 600)
        |        - 1000
        |      ELSE least(3000, w.tok + (e.t - w.lt) * 1000 // 600)
        |    END,
        |    e.t
        |  FROM walk w JOIN e ON e.k = w.k AND e.rn = w.rn + 1)
        |SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_allowed,
        |  CAST(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_denied
        |FROM walk GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // BITEMPORAL SLICE — the valid-time × transaction-time matrix
    // that q93's single-axis time travel cannot answer: "what did we
    // BELIEVE on date TT about the state valid on date VT?" Records
    // are orders with valid_from = order date and recorded_at lagged
    // by a few days (late-arriving bookkeeping), and the slice picks
    // per customer the LATEST valid_from ≤ VT among records KNOWN by
    // TT — one argmax via max(struct(valid_from, recorded_at, key)),
    // no window over the fact. Two (VT, TT) corners are answered in
    // one scan (conditional aggregates), and their DIFFERENCE is the
    // audit readout: how much the TT₂ knowledge revises the TT₁
    // belief about the same VT — the restatement report.
    QuerySpec("q276_bitemporal", (s, d) => {
      val rec = Tables.orders(s, d)
        .select($"o_custkey",
          $"o_orderdate".cast("date").as("vf"),
          date_add($"o_orderdate".cast("date"),
            ($"o_orderkey" % 5).cast("int")).as("ra"),
          $"o_orderkey",
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("__c"))
        .filter($"vf" <= "2000-06-30")
      def slice(tt: String, tag: String) =
        rec.filter($"ra" <= tt)
          .groupBy($"o_custkey")
          .agg(max(struct($"vf", $"ra", $"o_orderkey", $"__c"))
            .getField("__c").as("__bal"))
          .agg(lit(tag).as("slice"),
            count(lit(1)).as("n_customers"),
            sum($"__bal").as("believed_cents"))
      slice("2000-07-01", "tt1_naive")
        .unionAll(slice("2000-07-15", "tt2_settled"))
        .orderBy($"slice")
    }, Some(
      // q276: both corners via the row_number mirror of max(struct)
      """WITH rec AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS vf,
        |    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 5 AS INT)
        |      AS ra,
        |    o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders
        |  WHERE CAST(o_orderdate AS DATE) <= DATE '2000-06-30'),
        |p1 AS (
        |  SELECT o_custkey, c FROM (
        |    SELECT o_custkey, c, row_number() OVER (
        |      PARTITION BY o_custkey
        |      ORDER BY vf DESC, ra DESC, o_orderkey DESC) AS rn
        |    FROM rec WHERE ra <= DATE '2000-07-01') WHERE rn = 1),
        |p2 AS (
        |  SELECT o_custkey, c FROM (
        |    SELECT o_custkey, c, row_number() OVER (
        |      PARTITION BY o_custkey
        |      ORDER BY vf DESC, ra DESC, o_orderkey DESC) AS rn
        |    FROM rec WHERE ra <= DATE '2000-07-15') WHERE rn = 1)
        |SELECT 'tt1_naive' AS slice,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(c) AS BIGINT) AS believed_cents FROM p1
        |UNION ALL
        |SELECT 'tt2_settled', CAST(count(*) AS BIGINT),
        |  CAST(sum(c) AS BIGINT) FROM p2
        |ORDER BY slice""".stripMargin)),

    // MERGE INTO — the lakehouse upsert statement, realized at the
    // engine level: ONE full-outer join between target and source
    // batch, then a case-wise projection deciding
    // matched+U → UPDATE, matched+D → DELETE, unmatched-by-target →
    // INSERT, unmatched-by-source → keep. (Delta/Iceberg implement
    // exactly this plan under their MERGE syntax; the join is the
    // only shuffle and it's on the merge key, so the op scales as
    // one co-partitioned join at any table size.) The source batch
    // is derived deterministically from the target (update/delete/
    // insert thirds on disjoint key classes, integer-cents balances)
    // and the output is the per-action audit: row count, balance
    // checksum, key range — which pins every row's routing without
    // materializing the merged table in the result.
    QuerySpec("q318_merge_into", (s, d) => {
      val cents = (c: Column) => floor(c * 100 + 0.5).cast("long")
      val cust = Tables.customer(s, d)
        .select($"c_custkey", cents($"c_acctbal").as("bal0"))
      val upd = cust
        .filter($"c_custkey" % 5 === 0 || $"c_custkey" % 11 === 0)
        .select($"c_custkey".as("k"),
          when($"c_custkey" % 11 === 0, lit("D")).otherwise(lit("U"))
            .as("op"),
          ($"bal0" + ($"c_custkey" % 9700) - 4850).as("nb"))
      // insert keys derive from max(c_custkey), not a literal offset:
      // a fixed +10M would collide with real custkeys once SF ≥ ~67
      // (TPC-H custkey max = 150000·SF) and silently reclassify
      // matched rows as inserts — the broadcast 1-row max keeps the
      // fixture collision-free at ANY table size, which is what the
      // "scales at any size" claim requires
      val mx = cust.agg(max($"c_custkey").as("__mx"))
      val ins = cust.filter($"c_custkey" % 13 === 0)
        .crossJoin(broadcast(mx))
        .select(($"c_custkey" + $"__mx").as("k"), lit("I").as("op"),
          (($"c_custkey" % 5000) * 100 + 99).as("nb"))
      val merged = cust
        .join(upd.unionByName(ins), $"c_custkey" === $"k", "full_outer")
        .select(
          coalesce($"c_custkey", $"k").as("key"),
          when($"op".isNull, lit("kept"))
            .when($"op" === "D", lit("deleted"))
            .when($"op" === "U", lit("updated"))
            .otherwise(lit("inserted")).as("action"),
          // audit value: the post-merge balance (deleted rows audit
          // their pre-image — the row leaves the table)
          when($"op".isNull || $"op" === "D", $"bal0")
            .otherwise($"nb").as("bal"))
      merged.groupBy($"action")
        .agg(count(lit(1)).as("n"), sum($"bal").as("sum_bal_cents"),
          min($"key").as("min_key"), max($"key").as("max_key"))
        .orderBy($"action")
    }, Some(
      """WITH cust AS (
        |  SELECT c_custkey,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal0
        |  FROM customer),
        |upd AS (
        |  SELECT c_custkey AS k,
        |    CASE WHEN c_custkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
        |    bal0 + (c_custkey % 9700) - 4850 AS nb
        |  FROM cust WHERE c_custkey % 5 = 0 OR c_custkey % 11 = 0),
        |ins AS (
        |  SELECT c_custkey + (SELECT max(c_custkey) FROM cust) AS k,
        |    'I' AS op,
        |    (c_custkey % 5000) * 100 + 99 AS nb
        |  FROM cust WHERE c_custkey % 13 = 0),
        |src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |merged AS (
        |  SELECT coalesce(c_custkey, k) AS key,
        |    CASE WHEN op IS NULL THEN 'kept'
        |         WHEN op = 'D' THEN 'deleted'
        |         WHEN op = 'U' THEN 'updated'
        |         ELSE 'inserted' END AS action,
        |    CASE WHEN op IS NULL OR op = 'D' THEN bal0 ELSE nb END
        |      AS bal
        |  FROM cust FULL OUTER JOIN src ON c_custkey = k)
        |SELECT action, count(*) AS n,
        |  CAST(sum(bal) AS BIGINT) AS sum_bal_cents,
        |  CAST(min(key) AS BIGINT) AS min_key,
        |  CAST(max(key) AS BIGINT) AS max_key
        |FROM merged GROUP BY action ORDER BY action""".stripMargin))
  )

  /** Shared SCD-2 fixture for q92 (apply) and q93 (point-in-time read):
    * customer as the day-0 open snapshot, orders-derived changes
    * (q49's key remap — %100 keys become brand-new — LWW-collapsed to
    * one change per key). ONE copy so the write and read sides can
    * never drift apart; the DuckDB oracles replicate the same CTEs. */
  private def scd2Fixture(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val target = Tables.customer(s, d)
      .select($"c_custkey", $"c_acctbal".as("val"),
        lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
    val key = when($"o_orderkey" % 100 === 0, $"o_custkey" + 1000000)
      .otherwise($"o_custkey")
    val changes = Tables.orders(s, d)
      .filter($"o_orderkey" % 50 === 0)
      .select(key.as("c_custkey"), $"o_totalprice".as("val"),
        $"o_orderkey".as("ts"))
      .groupBy($"c_custkey")
      .agg(max_by($"val", $"ts").as("val"), max($"ts").as("ts"))
    (target, changes)
  }

  /** The oracle side of [[scd2Fixture]] under `Merge.applyScd2`: the day-0
    * `target`, the one-change-per-key `ch`, and the three output parts
    * `keep`, `closed` and `ins` of the versioned table. */
  private val scd2Ctes: String =
    """target AS (
      |  SELECT c_custkey, c_acctbal AS val,
      |    CAST(0 AS BIGINT) AS valid_from,
      |    CAST(NULL AS BIGINT) AS valid_to
      |  FROM customer),
      |ch0 AS (
      |  SELECT CASE WHEN o_orderkey % 100 = 0 THEN o_custkey + 1000000
      |    ELSE o_custkey END AS c_custkey,
      |    o_totalprice AS val, o_orderkey AS ts
      |  FROM orders WHERE o_orderkey % 50 = 0),
      |ch AS (
      |  SELECT c_custkey, val, ts FROM (
      |    SELECT *, row_number() OVER (PARTITION BY c_custkey
      |      ORDER BY ts DESC) AS rn FROM ch0) WHERE rn = 1),
      |keep AS (
      |  SELECT t.c_custkey, t.val, t.valid_from, t.valid_to
      |  FROM target t LEFT JOIN ch USING (c_custkey)
      |  WHERE ch.ts IS NULL OR t.val = ch.val),
      |closed AS (
      |  SELECT t.c_custkey, t.val, t.valid_from,
      |    CAST(ch.ts AS BIGINT) AS valid_to
      |  FROM target t JOIN ch USING (c_custkey)
      |  WHERE t.val <> ch.val),
      |ins AS (
      |  SELECT ch.c_custkey, ch.val, CAST(ch.ts AS BIGINT)
      |    AS valid_from, CAST(NULL AS BIGINT) AS valid_to
      |  FROM ch LEFT JOIN target t USING (c_custkey)
      |  WHERE t.c_custkey IS NULL OR t.val <> ch.val)""".stripMargin
}
