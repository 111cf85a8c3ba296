package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Exact per-group rank statistics (median, quantiles) at arbitrary scale
  * via a multi-level histogram.
  *
  * The naive exact median — `row_number()` over a window partitioned by the
  * group key — sorts every group in one task; with a 3-value key that is 3
  * tasks sorting N/3 rows each, the plan that dies at 100 TB. Even the
  * distinct-value compaction (group by (g, v), window over values) only
  * helps when values repeat; over a near-unique measure it IS the row sort.
  *
  * Histogram select instead: every stage is a parallel hash aggregate or a
  * window over a BOUNDED row count, independent of data size:
  *
  *   1. stats:   per group (min, max, n) — one hash agg.
  *   2. × levels: bucket the active value range into `nBuckets` fixed-width
  *      cells → per (key, bucket) count/min/max (hash agg, map-side
  *      combine) → running count over ≤ `nBuckets` rows per key (bounded
  *      window) → the buckets holding the target ranks become the next
  *      level's active range. Each level narrows the range ~`nBuckets`×.
  *      Level 1 builds ONE histogram per group (every target shares the
  *      group-wide range at entry) and locates all targets on it — the
  *      data never replicates per target; only deeper levels, whose
  *      active ranges diverge per target, bucket per (key, target).
  *   3. resolve: rank-select over the distinct values inside the final
  *      range — ~n/nBuckets^levels rows. The default level count is
  *      AUTO-SIZED from the input's estimated size ([[AutoLevels]]): one
  *      level up to ~1e9 rows, three at 10^13 — small inputs skip scans
  *      they don't need, huge ones keep every stage bounded.
  *
  * Bucket boundaries are never trusted for selection — each level's next
  * range is the located buckets' ACTUAL (min, max) values and membership is
  * an inclusive value-range predicate, so IEEE-754 edge rounding in the
  * bucket arithmetic cannot drop or duplicate a rank. (Any non-empty bucket
  * between two adjacent target buckets would itself hold a target rank, so
  * located buckets are contiguous over the data and the value range selects
  * exactly their rows.)
  *
  * Semantics notes: NULL and NaN values are excluded (NaN is a
  * missing-measurement sentinel, not an orderable value — a NaN max would
  * poison every bucket width). ±Infinity IS ranked, matching the window
  * form: infinite values are counted into per-group bands (every -Inf
  * sorts below every finite value, every +Inf above) and only the finite
  * values run the histogram, so an infinite bucket width never arises. A
  * NULL GROUP KEY is a group like any other
  * (all internal joins are null-safe). No broadcast hints: the per-(group ×
  * target) state is tiny for low-cardinality keys and AQE picks broadcast
  * itself; a hint would force high-cardinality-group states through the
  * driver.
  *
  * Cost: `levels + 2` scans of (group, value) — at cluster scale each scan
  * is a pruned parquet column read, which is the trade the reference's
  * single-node engines cannot make.
  */
object Percentiles {

  /** Shared core: for state rows keyed (__g, __q) with global rank target
    * __r over the group's ascending values, return (__g, __q, __v) — the
    * value at that rank. `rows` must have (__g, __v double, non-null/NaN);
    * `state0` must have (__g, __q, __lo, __hi, __off=0, __r), with every
    * target of a group carrying the SAME group-wide (__lo, __hi) and
    * __off = 0 (both callers derive state0 from [[groupStats]]). */
  private def rankSelect(rows: DataFrame, state0: DataFrame,
                         nBuckets: Int, levels: Int): DataFrame = {
    // null-safe group join: a NULL group key must keep matching its rows
    def joined(st: DataFrame): DataFrame =
      rows.join(st.withColumnRenamed("__g", "__gs"),
          col("__g") <=> col("__gs"))
        .drop("__gs")
        .filter(col("__v") >= col("__lo") && col("__v") <= col("__hi"))

    // LEVEL 1 runs a single histogram PER GROUP, not per (group, target):
    // at entry every target of a group shares the group-wide range (see
    // contract above), so the per-(g,q) histograms the generic level
    // would build are copies — the generic form replicated every data
    // row × |targets| through the join AND the histogram aggregate
    // (9 quantile targets = 9× aggregate input on q50's shape;
    // guide §2.3 "shuffle fewer bytes / aggregate before you shuffle").
    // Here rows join a ONE-ROW-PER-GROUP range dim, the (g, bucket)
    // histogram aggregates each row once, and the per-target rank
    // locate happens on the BOUNDED histogram (≤ nBuckets rows per
    // group), where the replication is free. Arithmetic is identical
    // expression-for-expression (same w, same bucket id, same running
    // count), so the located (lo, hi, off) state — and therefore every
    // downstream value — is unchanged.
    var state = state0
    if (levels >= 1) {
      val ranges = state0.groupBy(col("__g"))
        .agg(min(col("__lo")).as("__lo"), max(col("__hi")).as("__hi"))
      val w1 = (col("__hi") - col("__lo")) / nBuckets
      val bucketed1 = rows
        .join(ranges.withColumnRenamed("__g", "__gs"),
          col("__g") <=> col("__gs"))
        .drop("__gs")
        .filter(col("__v") >= col("__lo") && col("__v") <= col("__hi"))
        .withColumn("__b",
          when(w1 <= 0.0, 0).otherwise(least(
            floor((col("__v") - col("__lo")) / w1).cast("int"),
            lit(nBuckets - 1))))
      val hist1 = bucketed1
        .groupBy(col("__g"), col("__b"))
        .agg(count(lit(1)).as("__c"), min(col("__v")).as("__bmin"),
          max(col("__v")).as("__bmax"))
      val wb1 = Window.partitionBy(col("__g"))
        .orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, 0)
      val cum1 = hist1
        .withColumn("__ce", sum(col("__c")).over(wb1))
        .withColumn("__cs", col("__ce") - col("__c") + 1)
        .select(col("__g").as("__gh"), col("__bmin"), col("__bmax"),
          col("__cs"), col("__ce"))
      state = state0
        .select(col("__g"), col("__q"), col("__off"), col("__r"))
        .join(cum1, col("__g") <=> col("__gh"))
        .filter((col("__r") - col("__off"))
          .between(col("__cs"), col("__ce")))
        .select(col("__g"), col("__q"), col("__bmin").as("__lo"),
          col("__bmax").as("__hi"),
          (col("__off") + col("__cs") - 1).as("__off"), col("__r"))
    }
    var level = 1
    while (level < levels) {
      val w = (col("__hi") - col("__lo")) / nBuckets
      val bucketed = joined(state)
        .withColumn("__b",
          when(w <= 0.0, 0).otherwise(least(
            floor((col("__v") - col("__lo")) / w).cast("int"),
            lit(nBuckets - 1))))
      val hist = bucketed
        .groupBy(col("__g"), col("__q"), col("__b"))
        .agg(count(lit(1)).as("__c"), min(col("__v")).as("__bmin"),
          max(col("__v")).as("__bmax"),
          first(col("__off")).as("__off"), first(col("__r")).as("__r"))
      val wb = Window.partitionBy(col("__g"), col("__q"))
        .orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, 0)
      state = hist
        .withColumn("__ce", sum(col("__c")).over(wb))
        .withColumn("__cs", col("__ce") - col("__c") + 1)
        .filter((col("__r") - col("__off"))
          .between(col("__cs"), col("__ce")))
        .select(col("__g"), col("__q"), col("__bmin").as("__lo"),
          col("__bmax").as("__hi"),
          (col("__off") + col("__cs") - 1).as("__off"), col("__r"))
      level += 1
    }

    val vals = joined(state)
      .groupBy(col("__g"), col("__q"), col("__v")).agg(
        count(lit(1)).as("__c"), first(col("__off")).as("__off"),
        first(col("__r")).as("__r"))
    val wv = Window.partitionBy(col("__g"), col("__q")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    vals
      .withColumn("__ce", sum(col("__c")).over(wv) + col("__off"))
      .withColumn("__cs", col("__ce") - col("__c") + 1)
      .filter(col("__r").between(col("__cs"), col("__ce")))
      .select(col("__g"), col("__q"), col("__v"))
  }

  // The (group, value) working set is read levels+2 times (stats, each
  // histogram level, resolve). Deliberately NOT persisted here: an
  // operator-internal cache has no unpersist point (the returned plan
  // still needs it), leaks across invocations, and lets the CacheManager
  // silently share state between queries with the same projection —
  // misleading any benchmark. Callers doing repeated percentile work
  // over one input should persist that input at the call site, where
  // the lifecycle is theirs.
  // NULL and NaN are excluded (missing-measurement sentinels, not
  // orderable values). ±Infinity IS rankable — see [[infBands]]: infinite
  // values never enter the histogram (an infinite range would collapse
  // every level to one bucket), but they are COUNTED, and a rank target
  // landing inside the -Inf prefix or +Inf suffix of the ordered group
  // answers directly.
  private[graft] def cleanRows(df: DataFrame, grpCol: String, valCol: String)
      : DataFrame =
    df.select(col(grpCol).as("__g"), col(valCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))

  private def finite(c: Column): Column =
    c =!= Double.PositiveInfinity && c =!= Double.NegativeInfinity

  /** Per group: finite value range, total count `__n` (finite + infinite),
    * and the infinite bands — `__nneg` values of -Inf below every finite
    * value, `__npos` of +Inf above. `__lo`/`__hi` are null for a group
    * with no finite values (every target then answers from a band). */
  private[graft] def groupStats(rows: DataFrame): DataFrame =
    rows.groupBy(col("__g")).agg(
      min(when(finite(col("__v")), col("__v"))).as("__lo"),
      max(when(finite(col("__v")), col("__v"))).as("__hi"),
      count(lit(1)).as("__n"),
      sum(when(col("__v") === Double.NegativeInfinity, 1L).otherwise(0L))
        .as("__nneg"),
      sum(when(col("__v") === Double.PositiveInfinity, 1L).otherwise(0L))
        .as("__npos"))

  /** Sentinel for `levels`: choose the histogram depth from the input's
    * estimated size. */
  val AutoLevels: Int = -1

  /** Depth for [[AutoLevels]]: estimated input rows (Catalyst size stats
    * — no job runs) vs what one more level buys. With `l` levels the
    * final resolve rank-selects over ~n/nBuckets^l values per target; we
    * allow it ~64·nBuckets, so `l` grows only past 64·nBuckets^(l+1)
    * estimated rows (1.07e9 at the 4096 default — sf-scale inputs run
    * ONE level, a 10^13-row corpus runs three). The RESULT is
    * levels-invariant (exactness never depends on depth, only plan cost
    * does), so a coarse byte-based estimate is safe by construction. */
  private def autoLevels(rows: DataFrame, nBuckets: Int): Int = {
    val estRows = (rows.queryExecution.optimizedPlan.stats.sizeInBytes
      / 16).max(BigInt(1)) // (__g, __v) ≈ 16 bytes
    // stat-less sources (RDD-backed, JDBC) report defaultSizeInBytes =
    // Long.MaxValue — "estimate unknown", not "astronomically large".
    // No real input exceeds ~1e14 rows; past that, fall back to the
    // fixed depth rather than planning 4 levels for a possibly tiny df.
    if (estRows > BigInt("100000000000000")) 2
    else {
      var l = 1
      var cap = BigInt(nBuckets) * 64 * nBuckets
      while (estRows > cap && l < 4) { l += 1; cap *= nBuckets }
      l
    }
  }

  /** Split state rows (carrying `__r` over the FULL ordered group,
    * infinities included) into direct answers — targets inside the -Inf
    * prefix (`__r <= __nneg`) or +Inf suffix (`__r > __n - __npos`) —
    * and histogram work, whose rank shifts to be relative to the finite
    * values only. Returns the union'd (__g, __q, __v) result. */
  private def rankSelectWithInf(rows: DataFrame, state0: DataFrame,
                                nBuckets: Int, levels: Int): DataFrame = {
    val direct = state0
      .filter(col("__r") <= col("__nneg") ||
        col("__r") > col("__n") - col("__npos"))
      .select(col("__g"), col("__q"),
        when(col("__r") <= col("__nneg"), Double.NegativeInfinity)
          .otherwise(Double.PositiveInfinity).as("__v"))
    val finiteState = state0
      .filter(col("__r") > col("__nneg") &&
        col("__r") <= col("__n") - col("__npos"))
      .withColumn("__r", col("__r") - col("__nneg"))
      .select(col("__g"), col("__q"), col("__lo"), col("__hi"),
        lit(0L).as("__off"), col("__r"))
    rankSelect(rows.filter(finite(col("__v"))), finiteState,
      nBuckets, levels)
      .unionByName(direct)
  }

  /** Exact median per group. Returns (grpCol, median: double, n_mid) where
    * n_mid is how many rank targets were read (2 for even n, 1 for odd) —
    * median = avg of the values at ranks (n+1)/2 and n/2+1, the classic
    * definition. */
  /** `statsHint`: a caller-supplied stand-in for the internal per-group
    * stats pass — columns (__g, __lo, __hi, __n, __nneg, __npos) with
    * the SAME semantics as [[groupStats]] except that [__lo, __hi] may
    * be WIDER than the true finite range (the histogram only loses
    * bucket balance, never exactness: ranks come from counts, and a
    * wider range keeps every row). __n/__nneg/__npos must be exact over
    * the cleanRows row set. Lets a caller that already knows the
    * group's bounds (q122: the MAD pass, whose |v − med| is bounded by
    * max(hi − med, med − lo) from the first pass's stats) skip one full
    * scan + aggregate of the data. */
  def exactMedian(df: DataFrame, grpCol: String, valCol: String,
                  nBuckets: Int = 4096,
                  levels: Int = AutoLevels,
                  statsHint: Option[DataFrame] = None): DataFrame = {
    val rows = cleanRows(df, grpCol, valCol)
    val lv = if (levels < 0) autoLevels(rows, nBuckets) else levels
    // one state row per DISTINCT target rank (1 for odd n, 2 for even);
    // __q carries the rank itself so the core's keying stays unique
    val state0 = statsHint.getOrElse(groupStats(rows))
      .select(col("__g"), col("__lo"), col("__hi"), col("__n"),
        col("__nneg"), col("__npos"),
        explode(array_distinct(array(expr("(__n + 1) div 2"),
          expr("__n div 2 + 1")))).as("__r"))
      .withColumn("__q", col("__r").cast("double"))
    rankSelectWithInf(rows, state0, nBuckets, lv)
      .groupBy(col("__g"))
      .agg(avg(col("__v")).as("median"), count(lit(1)).as("n_mid"))
      .withColumnRenamed("__g", grpCol)
  }

  /** Exact discrete quantiles (type-1 / nearest-rank: the value at rank
    * ⌈q·n⌉, min 1) per group. Returns (grpCol, q: double, value: double),
    * one row per group × quantile; each quantile narrows its own active
    * range, so far-apart quantiles don't force one wide range. Cost: rows
    * replicate × |qs| through the histogram aggregates — the quantile
    * count is a constant, the data size is not. */
  def exactQuantiles(df: DataFrame, grpCol: String, valCol: String,
                     qs: Seq[Double], nBuckets: Int = 4096,
                     levels: Int = AutoLevels): DataFrame = {
    require(qs.nonEmpty && qs.forall(x => x > 0 && x <= 1))
    // duplicates MUST collapse: a repeated q would duplicate its
    // (__g, __q) state row, and the histogram join would then count
    // every data row twice for that key — silently wrong ranks
    val qd = qs.distinct
    val rows = cleanRows(df, grpCol, valCol)
    val lv = if (levels < 0) autoLevels(rows, nBuckets) else levels
    val state0 = groupStats(rows)
      .select(col("__g"), col("__lo"), col("__hi"), col("__n"),
        col("__nneg"), col("__npos"), explode(lit(qd.toArray)).as("__q"))
      .withColumn("__r", greatest(lit(1L),
        ceil(col("__q") * col("__n")).cast("long")))
    rankSelectWithInf(rows, state0, nBuckets, lv)
      .select(col("__g").as(grpCol), col("__q").as("q"),
        col("__v").as("value"))
  }

  /** Exact WEIGHTED median per group: the smallest value whose
    * cumulative weight reaches half the group's total — the estimator
    * behind duration-weighted latencies and quantity-weighted prices,
    * where a plain median over rows answers the wrong question.
    *
    * Same bounded-stage discipline as the unweighted family, with the
    * rank target generalized from row counts to WEIGHT MASS: one
    * histogram level buckets the value range and aggregates per-bucket
    * weight sums (hash agg with map-side combine), a window over
    * ≤ `nBuckets` rows per group locates the bucket where the running
    * weight crosses W/2, and the resolve stage rank-selects over the
    * DISTINCT VALUES inside that bucket's actual [min, max] — per-value
    * weight sums first, so repeated values collapse before the final
    * bounded window. Weight skew concentrating mass in one bucket only
    * widens the resolve input to that bucket's distinct-value count
    * (~n/nBuckets for a spread measure); the multi-level escalation of
    * [[exactMedian]] applies the same way if that ever dominates, and
    * is deliberately not pre-built here.
    *
    * NULL/NaN values and NULL or non-positive weights are excluded
    * (a zero weight cannot move the median; a negative one makes the
    * cumulative function non-monotone and the median ill-defined). */
  def weightedMedian(df: DataFrame, grpCol: String, valCol: String,
                     wCol: String, nBuckets: Int = 4096): DataFrame = {
    val rows = df.select(col(grpCol).as("__g"),
        col(valCol).cast("double").as("__v"),
        col(wCol).cast("double").as("__w"))
      .filter(col("__v").isNotNull && !isnan(col("__v")) &&
        col("__w").isNotNull && col("__w") > 0 && finite(col("__v")))
    val stats = rows.groupBy(col("__g"))
      .agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    // bucket by fixed width over the group's range; the located
    // bucket's ACTUAL min/max drive the resolve predicate (never the
    // bucket arithmetic — the IEEE discipline of the row family)
    val b = rows.join(stats, Seq("__g"))
      .withColumn("__b", least(lit(nBuckets - 1),
        greatest(lit(0), floor((col("__v") - col("__lo")) * nBuckets /
          (col("__hi") - col("__lo") + lit(Double.MinPositiveValue)))
          .cast("int"))))
      .groupBy(col("__g"), col("__b"))
      .agg(sum(col("__w")).as("__bw"), min(col("__v")).as("__bmin"),
        max(col("__v")).as("__bmax"))
    val wb = Window.partitionBy(col("__g")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // the half-mass target derives from the SAME windowed fold as the
    // running cumulative (not the stats-join total, which sums in a
    // different reduction order): the last bucket then satisfies
    // __before + __bw == __twb as an exact IEEE identity, so the
    // locate filter can never come up empty on fractional weights
    // landing an ulp short of an exact W/2 crossing
    val wall = Window.partitionBy(col("__g")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val located = b
      .withColumn("__twb", sum(col("__bw")).over(wall))
      .withColumn("__before", coalesce(sum(col("__bw")).over(wb), lit(0.0)))
      .filter(col("__before") < col("__twb") / 2 &&
        col("__before") + col("__bw") >= col("__twb") / 2)
      .select(col("__g"), col("__bmin"), col("__bmax"),
        (col("__twb") / 2 - col("__before")).as("__need"))
    // resolve over distinct values inside the located bucket
    val inRange = rows.join(located, Seq("__g"))
      .filter(col("__v") >= col("__bmin") && col("__v") <= col("__bmax"))
      .groupBy(col("__g"), col("__need"), col("__v"))
      .agg(sum(col("__w")).as("__vw"))
    val wv = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wvAll = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // clamp the threshold to the bucket's actual max cumulative: the
    // per-value sums fold in value order while __bw folded in row
    // order, so an exact-boundary crossing can differ by an ulp — the
    // clamp guarantees the last value matches instead of silently
    // dropping the whole group
    inRange
      .withColumn("__cum", sum(col("__vw")).over(wv))
      .withColumn("__mxc", max(col("__cum")).over(wvAll))
      .filter(col("__cum") >= least(col("__need"), col("__mxc")))
      .groupBy(col("__g"))
      .agg(min(col("__v")).as("weighted_median"))
      .withColumnRenamed("__g", grpCol)
  }

  /** MERGEABLE log-linear histogram sketch over positive integer
    * values (cents): bucket id = decade·1000 + the value's leading
    * two digits — the DDSketch/HDR-histogram idea with the log taken
    * as an integer DECADE LADDER (the q123 discipline: `log10` would
    * put each engine's libm in the hash path; nested integer division
    * keeps both engines on identical int64 ops). Bucket width is
    * ≤ 1/10 of the bucket's lower bound, so any rank statistic read
    * from bucket lower bounds carries a ≤ 10 % relative-error
    * GUARANTEE — the fixed-state alternative to [[exactQuantiles]]
    * when one pass + mergeability matter more than exactness
    * (cross-shard rollups, pre-aggregated tiers, streaming state:
    * sketches merge by SUMMING counts, nothing else).
    *
    * State per group is ≤ 90 buckets/decade × decades-in-range —
    * bounded regardless of row count, the [[graft.functions]] sketch
    * family's contract. Values ≥ 10⁸ cents saturate the top decade's
    * sub-bucket; extend the ladder before pointing this at values
    * past $1 M. */
  // TRUE int64 division (catalyst IntegralDivide — SQL's `div`, the
  // same op DuckDB's `//` lowers to): exact over the whole int64
  // domain. The previous floor(double) form was only exact for
  // |a| < 2^46 — fine for the documented < $1M cents ladder, but
  // logHistQuantiles also feeds it per-group ROW COUNTS, which at the
  // advertised 100 TB scale (n ≳ 7e11 rows, ×100 for the rank target)
  // can cross that bound and mis-round vs the oracle's exact `//`.
  // The Column API has no `div`, so bridge to the expression directly.
  private def idiv(a: Column, k: Long): Column =
    org.apache.spark.sql.graft.Bridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graft.Bridge.toCatalyst(a.cast("long")),
        org.apache.spark.sql.graft.Bridge.toCatalyst(lit(k))))

  def logBucket(cents: Column): Column = {
    val c = cents.cast("long")
    when(c >= 10000000L, lit(8000L) + idiv(c, 1000000L))
      .when(c >= 1000000L, lit(7000L) + idiv(c, 100000L))
      .when(c >= 100000L, lit(6000L) + idiv(c, 10000L))
      .when(c >= 10000L, lit(5000L) + idiv(c, 1000L))
      .when(c >= 1000L, lit(4000L) + idiv(c, 100L))
      .when(c >= 100L, lit(3000L) + idiv(c, 10L))
      .when(c >= 10L, lit(2000L) + c)
      .otherwise(lit(1000L) + c)
  }

  /** Lower bound (cents) of a [[logBucket]] id — the sketch's
    * quantile estimate for any rank landing in the bucket. */
  def logBucketLow(b: Column): Column = {
    val d = idiv(b, 1000L)
    val sub = b % 1000L
    when(d === 8, sub * 1000000L).when(d === 7, sub * 100000L)
      .when(d === 6, sub * 10000L).when(d === 5, sub * 1000L)
      .when(d === 4, sub * 100L).when(d === 3, sub * 10L)
      .otherwise(sub)
  }

  /** Build the sketch: one row per (group, bucket) with its count —
    * one hash aggregate, partials map-side, mergeable by summing. */
  def logHistSketch(df: DataFrame, grpCol: String, centsCol: String)
      : DataFrame =
    df.select(col(grpCol).as("__g"),
        logBucket(col(centsCol)).as("__b"))
      .groupBy(col("__g"), col("__b"))
      .agg(count(lit(1)).as("__cnt"))

  /** Read quantiles (integer percents, rank = ceil(q·n/100) — q50's
    * nearest-rank convention) off a [[logHistSketch]]: per group the
    * smallest bucket whose cumulative count reaches the target rank,
    * reported as the bucket's lower bound. The per-group window
    * orders ≤ a few hundred bucket rows — sketch-sized, never
    * data-sized. Returns (grpCol, n, n_buckets, p<q> per q). */
  def logHistQuantiles(sketch: DataFrame, grpCol: String,
                       qs: Seq[Int]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 100))
    val wc = Window.partitionBy(col("__g")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wall = Window.partitionBy(col("__g")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
    val cum = sketch
      .withColumn("__cum", sum(col("__cnt")).over(wc))
      .withColumn("__n", sum(col("__cnt")).over(wall))
    val ests = qs.map { q =>
      val t = idiv(col("__n") * q + 99L, 100L) // ceil(q·n/100)
      min(when(col("__cum") >= t && col("__cum") - col("__cnt") < t,
        logBucketLow(col("__b")))).as(s"p${q}_cents")
    }
    cum.groupBy(col("__g"))
      .agg(max(col("__n")).as("n"),
        count(lit(1)).as("n_buckets") +: ests: _*)
      .withColumnRenamed("__g", grpCol)
  }
}
