package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-shape regression guards: the scale properties ENGINE.md claims
  * (pushdown, broadcasts, bounded shuffles) asserted against the actual
  * physical plans, so a refactor that silently degrades a plan fails CI
  * rather than a future 100 TB run.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): SparkPlan = {
    val df: DataFrame = SparkEntry.queries(q)(spark, sf)
    df.queryExecution.executedPlan
  }

  private def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T])
      : Seq[T] = {
    // unwrap AQE wrapper; we assert on the initial physical plan
    val root = p match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    root.collect(pf) ++ root.collect {
      case s if s.subqueries.nonEmpty => s.subqueries.flatMap(collectAll(_)(pf))
    }.flatten
  }

  test("q02: filters and projection reach the parquet scan") {
    val scans = collectAll(plan("q02_filter_pushdown")) {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val scan = scans.head
    assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual"),
      scan.metadata("PushedFilters"))
    // column pruning: only the 6 needed columns, not the full 11
    assert(scan.schema.fieldNames.length <= 6,
      scan.schema.fieldNames.mkString(","))
  }

  test("q03: both dimension joins broadcast (fact never shuffles for joins)") {
    val p = plan("q03_join_agg")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    val smj = collectAll(p) { case j: SortMergeJoinExec => j }
    assert(bhj.length === 2, s"expected 2 broadcast joins, got:\n$p")
    assert(smj.isEmpty)
  }

  test("q13 flagship: exactly one fact shuffle (the group-by key)") {
    val shuffles = collectAll(plan("q13_tokenflow")) {
      case s: ShuffleExchangeExec => s
    }
    // fact agg + tiny dim-side aggs + final orderBy range exchange are
    // acceptable; the guard is that no unexpected join shuffle appears
    val bhj = collectAll(plan("q13_tokenflow")) {
      case j: BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, "flagship dims must broadcast")
    assert(shuffles.length <= 4, s"shuffle explosion:\n${shuffles.length}")
  }

  test("q33 median: windows only over histogram/distribution aggregates") {
    val wins = collectAll(plan("q33_percentiles")) { case w: WindowExec => w }
    // the guard: every window's input is a counted aggregate (__c from
    // the per-(group,bucket) histogram or the final distinct-value
    // resolve) — never raw lineitem rows. A row-level sort window
    // re-appearing here is the single-digit-partition plan that dies at
    // 100 TB.
    assert(wins.nonEmpty)
    assert(wins.forall(_.child.schema.fieldNames.contains("__c")),
      wins.map(_.child.schema.fieldNames.mkString(",")).mkString(" | "))
  }

  test("q35 near-dup: join keys carry the chunk pair (skew-distributed)") {
    val p = plan("q35_embed_neardup")
    // at sf0.001 the tiny side broadcasts; at scale the same 3-part key
    // hash-partitions. Either way the KEY must be (block, chunk_i,
    // chunk_j) — the property that spreads a hot block over chunk-pair
    // tasks instead of one reducer on the bare block key.
    val keys =
      collectAll(p) { case j: SortMergeJoinExec => j.leftKeys } ++
      collectAll(p) {
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          j.leftKeys
      } ++
      collectAll(p) { case j: BroadcastHashJoinExec => j.leftKeys }
    assert(keys.nonEmpty, s"expected an equi self-join:\n$p")
    assert(keys.exists(_.length >= 3), keys.map(_.length).mkString(","))
  }

  test("q49 CDC apply: hash-aggregated winner, no window sort") {
    val p = plan("q49_cdc_apply")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.isEmpty, s"MERGE must not window-sort changes:\n$p")
  }

  test("q50 quantiles: windows only over histogram aggregates") {
    val wins = collectAll(plan("q50_quantiles")) { case w: WindowExec => w }
    assert(wins.nonEmpty)
    assert(wins.forall(_.child.schema.fieldNames.contains("__c")),
      wins.map(_.child.schema.fieldNames.mkString(",")).mkString(" | "))
  }

  test("q56 packing: no window sort anywhere (prefix sum is two-phase)") {
    // the point of Packing.prefixSum: the cumulative sum must NOT appear
    // as a per-language WindowExec (5 groups → 5 tasks at any cluster
    // size); a window creeping back in is the scale regression
    val wins = collectAll(plan("q56_token_packing")) { case w: WindowExec => w }
    assert(wins.isEmpty, wins.mkString(" | "))
  }

  // every equi-join exec's input plans — shared by the narrow-join
  // guards so a new join exec variant only needs adding here
  private def joinChildren(q: String): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    val cs = collectAll(plan(q)) {
      case j: SortMergeJoinExec => j.children
      case j: BroadcastHashJoinExec => j.children
      case j: ShuffledHashJoinExec => j.children
    }.flatten
    assert(cs.nonEmpty, s"no equi-joins found in $q's plan")
    cs
  }

  test("q53 contamination: only 8-byte shingle keys reach its joins") {
    // the join input schemas must be (id/hash) longs only — a text or
    // shingle-string column in a join branch means the corpus is being
    // shuffled
    joinChildren("q53_contamination").foreach { c =>
      assert(c.schema.fields.forall(f =>
        f.dataType == org.apache.spark.sql.types.LongType ||
          f.dataType == org.apache.spark.sql.types.IntegerType),
        c.schema.fieldNames.mkString(","))
    }
  }

  test("q60 diff: join branches carry key+fingerprint+marker, no text") {
    joinChildren("q60_corpus_diff").foreach { c =>
      assert(c.schema.fields.length <= 3 &&
        c.schema.fieldNames.forall(n => n == "doc_id" ||
          n.startsWith("__fp") || n.startsWith("__in")),
        c.schema.fieldNames.mkString(","))
    }
  }

  test("q26 ANN: corpus scan reads only id + vector columns") {
    val scans = collectAll(plan("q26_embed_topk")) {
      case f: FileSourceScanExec => f
    }
    assert(scans.forall(_.schema.fieldNames.length <= 2),
      scans.map(_.schema.fieldNames.mkString(",")).mkString(" | "))
  }

  test("q61 split: assignment is a pure projection — no pre-agg shuffle") {
    // the split column must not cost a shuffle of its own: the only
    // exchanges are the (lang, split) rollup and the final order
    val shuffles = collectAll(plan("q61_stratified_split")) {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.length <= 2, s"split projection added shuffles:" +
      s" ${shuffles.length}")
  }

  test("q66 LM scoring: the model broadcasts — corpus never join-shuffles") {
    val p = plan("q66_lm_surprisal")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    val smj = collectAll(p) { case j: SortMergeJoinExec => j }
    assert(bhj.nonEmpty, s"probs model must broadcast:\n$p")
    assert(smj.isEmpty, s"corpus shuffled for a join:\n$p")
  }

  test("q76 shard layout: global rank runs the distributed scan, not a window") {
    // an unpartitioned row_number would serialize the corpus through one
    // task; prefixSum ranks with a range-partitioned two-phase scan
    val p = plan("q76_shard_layout")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      s"unpartitioned window in the rank path:\n$p")
  }

  test("q77 lexical stats: hash aggregates only — no window, no join") {
    val p = plan("q77_lexical_stats")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty, s"per-doc stats must not join:\n$p")
  }

  test("q78 truncation audit: norm math stays in the scan projection") {
    val p = plan("q78_embed_truncate")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    // one shuffle for the per-label aggregate, one for the final sort
    val ex = collectAll(p) { case s: ShuffleExchangeExec => s }
    assert(ex.length <= 2, s"expected <= 2 exchanges, got ${ex.length}:\n$p")
  }

  test("q79 BPE pairs: aggregate + bounded TakeOrdered — no join, no window") {
    val p = plan("q79_bpe_pairs")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty, s"pair counting must not join:\n$p")
  }

  test("q80 span provenance: joins move 8-byte hashes, never span text") {
    joinChildren("q80_span_provenance").foreach { c =>
      assert(c.schema.fields.forall(f =>
        f.dataType == org.apache.spark.sql.types.LongType ||
          f.dataType == org.apache.spark.sql.types.IntegerType),
        c.schema.fieldNames.mkString(","))
    }
  }

  test("q81 profile: one single-column pruned scan per profiled column") {
    // columnar storage: 4 one-column scans read the same bytes as one
    // 4-column scan, and each branch's shuffle is bounded by that
    // column's cardinality (the expand-based multi-distinct form
    // shuffles every row ×(k+1) instead)
    val scans = collectAll(plan("q81_table_profile")) {
      case f: FileSourceScanExec => f
    }
    assert(scans.length === 4, s"expected 4 scans, got ${scans.length}")
    scans.foreach { sc =>
      assert(sc.schema.fieldNames.length === 1,
        s"scan not pruned to one column: ${sc.schema.fieldNames.mkString(",")}")
    }
  }

  test("q82 funnel: per-user min chaining — no window, no event arrays") {
    val p = plan("q82_event_funnel")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(!p.toString.contains("collect_list"), "per-user array materialized")
  }

  test("q83 OHLC: one hash aggregate, no per-bar window sort") {
    val p = plan("q83_ohlc_bars")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      s"open/close must be min_by/max_by, not a window:\n$p")
    assert(collectAll(p) {
      case j: SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty)
  }

  test("q84 drain alerts: detection layer adds no window to the ledger") {
    val p = plan("q84_drain_alerts")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      s"alerting must stay filter + hash aggregate:\n$p")
  }

  test("q67 boilerplate: joins move 8-byte hashes, never shingle text") {
    // same property as q53: the (doc, shingle) rows entering any join
    // must be long/int hashes only — a string column means text shuffles
    joinChildren("q67_boilerplate_ngrams").foreach { c =>
      assert(c.schema.fields.forall(f =>
        f.dataType == org.apache.spark.sql.types.LongType ||
          f.dataType == org.apache.spark.sql.types.IntegerType ||
          f.dataType == org.apache.spark.sql.types.StringType &&
            f.name == "source"),
        c.schema.fieldNames.mkString(","))
    }
  }

  test("q68 RP-LSH: bucketing is a pure projection — aggregates only") {
    val p = plan("q68_embed_rp_lsh")
    // no joins, no windows: the signature computes in the scan's
    // projection and everything downstream is two hash aggregates + sort
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    assert(collectAll(p) {
      case j: SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty, s"bucket stats must not join:\n$p")
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    assert(shuffles.length <= 3, s"shuffles: ${shuffles.length}")
  }

  test("q72 chunking: pure projection — no joins, at most the sort") {
    val p = plan("q72_doc_chunking")
    assert(collectAll(p) {
      case j: SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty, s"chunking must not join:\n$p")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty)
    val shuffles = collectAll(p) { case s: ShuffleExchangeExec => s }
    assert(shuffles.length <= 1, s"chunking shuffled: ${shuffles.length}")
  }

  test("q73 anonymize: group counts broadcast — fact never sort-merges") {
    val p = plan("q73_anonymize")
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"quasi-group counts must broadcast:\n$p")
    assert(collectAll(p) { case j: SortMergeJoinExec => j }.isEmpty,
      s"customer shuffled for the suppression join:\n$p")
  }

  test("q75 span coverage: joins move integral keys, never span text") {
    joinChildren("q75_span_dedup").foreach { c =>
      assert(c.schema.fields.forall(f =>
        f.dataType == org.apache.spark.sql.types.LongType ||
          f.dataType == org.apache.spark.sql.types.IntegerType ||
          f.dataType == org.apache.spark.sql.types.DoubleType),
        c.schema.fieldNames.mkString(","))
    }
  }

  test("q87 trending: composite-key TopKPerKey, no window sort") {
    val p = plan("q87_trending")
    val topk = collectAll(p) {
      case t: graft.plans.TopKPerKeyExec => t
    }
    assert(topk.map(_.partial).sorted === Seq(false, true), s"$p")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      s"per-(type, hour) leaders selected via a window sort:\n$p")
  }

  test("q62/q63 sample+tfidf run the bounded-heap plan, not a window") {
    for (q <- Seq("q62_consistent_sample", "q63_tfidf_terms")) {
      val p = plan(q)
      val topk = collectAll(p) {
        case t: graft.plans.TopKPerKeyExec => t
      }
      assert(topk.map(_.partial).sorted === Seq(false, true), s"$q:\n$p")
      assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
        s"$q selects per-key rows via a window sort")
    }
  }

  test("q96 two-level ANN: assignment is broadcast-only (no SMJ)") {
    // both quantizer levels and the candidate funnel must stay
    // broadcast projections; a sort-merge join appearing here means a
    // quantizer table stopped broadcasting and the corpus shuffled
    val p = plan("q96_ann_two_level")
    assert(collectAll(p) { case j: SortMergeJoinExec => j }.isEmpty,
      s"two-level funnel sort-merges:\n$p")
    assert(collectAll(p) { case j: BroadcastHashJoinExec => j }.nonEmpty)
  }

  test("q97 span removal: corpus text never enters a join") {
    // occurrence counting and the coverage join move (id, hash, pos)
    // only; the doc's token array must meet its covered positions via
    // a join keyed on the integral id, never on strings
    val p = plan("q97_span_removal")
    val joins = collectAll(p) { case j: SortMergeJoinExec => j } ++
      collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty)
    joins.foreach { j =>
      val keyTypes = (j match {
        case s: SortMergeJoinExec => s.leftKeys
        case b: BroadcastHashJoinExec => b.leftKeys
      }).map(_.dataType.typeName)
      assert(keyTypes.forall(t => t == "long" || t == "integer"),
        s"span-removal join keys carry $keyTypes:\n$j")
    }
  }

  test("q98 training order: distributed rank, no unpartitioned window") {
    // the global permutation position must come from the two-phase
    // prefix-sum scan; a row_number window with an empty partition
    // spec is the one-task plan the query exists to avoid
    val wins = collectAll(plan("q98_training_order")) {
      case w: WindowExec => w
    }
    assert(wins.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned window in training order:\n${wins.mkString}")
  }

  test("q101 weighted sample runs the bounded-heap plan, not a window") {
    val p = plan("q101_weighted_sample")
    val topk = collectAll(p) { case t: graft.plans.TopKPerKeyExec => t }
    assert(topk.map(_.partial).sorted === Seq(false, true), s"$p")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "weighted sample fell back to a window sort")
  }

  test("q104 y4m: documents scan reads only doc_id (payloads synthesized)") {
    // the decode query synthesizes payloads from doc_id — if the scan
    // reads text/lang too, column pruning through the UDF projection
    // and mapPartitions boundary has regressed
    val scans = collectAll(plan("q104_y4m_decode")) {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.forall(_.schema.fieldNames.toSeq === Seq("doc_id")),
      scans.map(_.schema.fieldNames.mkString(",")).mkString(";"))
  }

  test("q106 IVM: one view join, hash-aggregated delta, no window") {
    // the maintenance identity: delta collapses to signed partials in
    // a hash aggregate (never a window sort), and the view is touched
    // by exactly ONE join — a second join would mean the base table
    // crept back into the incremental path
    val p = plan("q106_agg_delta")
    val joins = collectAll(p) { case j: SortMergeJoinExec => j } ++
      collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(joins.length === 1, s"expected exactly 1 join:\n$p")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "IVM plan picked up a window sort")
  }

  test("q107 attribution: as-of is union+window, no join operator") {
    // the credited touch comes from ONE per-user window over the
    // unioned stream — a join-shaped plan (per-purchase range probe)
    // is exactly what asOfJoin exists to avoid
    val p = plan("q107_attribution")
    assert(collectAll(p) { case j: SortMergeJoinExec => j }.isEmpty &&
      collectAll(p) { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"attribution plan contains a join:\n$p")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.length === 1 && wins.head.partitionSpec.nonEmpty,
      s"expected one user-partitioned window:\n$wins")
  }

  test("runtime bloom filter injects on a selective non-broadcast join") {
    // The engine-native sibling of the explicit Bloom operators in
    // Dedup: at the bench config (runtime.bloomFilter.enabled is
    // Spark's default true), a shuffle join against a selectively
    // filtered build side gets a runtime BloomFilterMightContain
    // predicate injected on the stream side — rows that can't join die
    // BEFORE the shuffle. This pins that the config keeps the
    // optimization live, so the library's big fact-dim joins get row
    // pruning for free where broadcasting is off the table.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    assert(spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.enabled") === "true")
    val restore = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    val dir = java.nio.file.Files.createTempDirectory("rbloom").toString
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // production default is 10GB — injection only pays off on a scan
      // big enough to beat the filter's cost. Zero it here so the
      // MECHANISM is testable on a toy scan; at the bench config the
      // default governs, which is exactly the right behavior at 100 TB
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter" +
        ".applicationSideScanSizeThreshold", "0")
      // parquet-backed (the injection needs size stats from the scan)
      spark.range(400000).selectExpr("id AS k", "id % 97 AS tag")
        .write.parquet(s"$dir/fact")
      spark.range(100000).selectExpr("id AS k", "id % 13 AS f")
        .write.parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter($"f" === 3)
      val j = fact.join(dim, "k")
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.toLowerCase.contains("bloom"),
        s"no runtime bloom filter injected:\n${opt.take(2000)}")
    } finally {
      restore.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("skew: AQE splits the plain join; the salted join needs no split") {
    // The two skew mechanisms must COMPOSE, not fight: AQE's
    // OptimizeSkewedJoin splits oversized shuffle partitions at runtime
    // (sort-merge/shuffled-hash only), while Joins.saltedJoin pre-spreads
    // the hot key in the logical plan. Under the bench config (AQE on,
    // skewJoin on — Spark's defaults, Bench.scala sets neither off):
    //  - a plain skewed SMJ gets the runtime split (skew=true in the
    //    final adaptive plan) — proof the runtime guard is live;
    //  - the SAME data through saltedJoin shows NO skew=true: the salt
    //    already uniformized the partitions, so AQE finds nothing to
    //    split and cannot double-apply. See ENGINE.md §config.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // force SMJ (no broadcast) and lower only the BYTE floors so the
      // tiny test partitions are legible to the detector. The relative
      // skewedPartitionFactor stays at its default (5× median): that
      // ratio is exactly what separates the two cases — the plain
      // join's hot partition is ~60× the median, the salted join's
      // partitions sit within ~2× of each other
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "2KB")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
      assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
      assert(
        spark.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
      // 20k-row fact, 95% on one hot key; 50-key dim
      val fact = spark.range(20000)
        .select((when($"id" % 20 =!= 0, lit(1L)).otherwise($"id" % 50))
          .as("k"), $"id".as("payload"))
      val dim = spark.range(50).select($"id".as("k"), ($"id" * 10).as("v"))
      def finalPlan(df: DataFrame): String = {
        df.collect() // AQE finalizes only on execution
        df.queryExecution.executedPlan.toString
      }
      val plain = fact.join(dim, "k")
      assert(finalPlan(plain).contains("skew=true"),
        "runtime skew handling never engaged on the hot-key join")
      val salted = operators.Joins.saltedJoin(fact, "k", $"payload",
        dim, "k", salts = 8)
      assert(!finalPlan(salted).contains("skew=true"),
        "AQE split a salted join — the mechanisms are double-applying")
      // and salting preserved the join's semantics
      assert(salted.count() === plain.count())
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q128 sweep line: running level is prefix-scan, not a window") {
    // the whole point of the sweep-line build: both the level and the
    // rank come from Packing.prefixSum two-phase scans, and the lead
    // is a rank equi-join — a global-order window would serialize the
    // timeline onto one task
    val wins = collectAll(plan("q128_concurrency_sweep")) {
      case w: WindowExec => w
    }
    assert(wins.isEmpty,
      s"sweep line fell back to a window:\n${wins.mkString}")
  }

  test("q129 skyline: the only unpartitioned window is the bin table") {
    // per-bin prefix max is partitioned by __b; the cross-bin cum-max
    // runs over the ≤1024-row bin aggregate — exactly ONE
    // unpartitioned window is the designed plan, and its input must
    // be post-aggregate (bounded), not the raw part scan
    val wins = collectAll(plan("q129_skyline")) { case w: WindowExec => w }
    val (global, perBin) = wins.partition(_.partitionSpec.isEmpty)
    assert(global.length === 1 && perBin.nonEmpty, s"$wins")
    val hasAgg = global.head.exists {
      case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
        true
      case _ => false
    }
    assert(hasAgg, "cross-bin window reads pre-aggregate (unbounded) rows")
  }

  test("q130 hybrid RRF: both modality top-50s run the bounded heap") {
    val p = plan("q130_hybrid_rrf")
    val topk = collectAll(p) { case t: graft.plans.TopKPerKeyExec => t }
    // two modalities × (partial, final)
    assert(topk.map(_.partial).count(identity) === 2 &&
      topk.map(_.partial).count(!_) === 2, s"heap execs: ${topk.length}")
    // windows remain only for ranking the ≤50-row survivors and the
    // ≤100-row fused list — all partitioned by query
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "unpartitioned window in the RRF chain")
  }

  test("q140 star join: every dimension broadcasts; one shuffle total") {
    // the canonical join-order property: region→nation prune, then
    // customer/supplier/nation hash maps ride the fact scan — the
    // ONLY exchange in the plan is the final per-nation aggregate.
    // (orders⋈lineitem also broadcasts at this SF; at cluster scale
    // that one becomes a shuffle join and the assert below pins just
    // the dimension joins + shuffle budget, not the orders side.)
    val p = plan("q140_star_join")
    val smj = collectAll(p) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"sort-merge join in the star plan:\n$smj")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.length >= 4, s"expected ≥4 broadcast joins, got ${bhj.length}")
    val shuffles = collectAll(p) { case e: ShuffleExchangeExec => e }
    assert(shuffles.length <= 2,
      s"star join shuffles ${shuffles.length}× (want ≤2: agg + sort)")
  }

  test("q131 triangles: wedge join is equi-hash, never nested-loop") {
    // degree orientation only bounds the wedge join if it IS an
    // equi-join on src; a planner fallback to nested-loop/cartesian
    // would be the quadratic plan the orientation exists to avoid
    val p = plan("q131_triangles")
    val bad = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        j.nodeName
      case j: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => j.nodeName
    }
    assert(bad.isEmpty, s"non-equi join in triangle plan: $bad")
  }

  test("q145/q153 deciles: bounded windows only — assignment is a fold") {
    // the gains table and PSI both derive decile bounds from the
    // exact-quantile histogram and assign rows via a 9-value broadcast
    // fold; a row-level sort window sneaking in would be the
    // single-task quantile plan the histogram replaces. Windows may
    // touch only post-aggregate inputs (histogram state / ≤10 decile
    // rows), never a raw table column like o_totalprice or c_acctbal.
    for ((q, rawCol) <- Seq("q145_gains_table" -> "c_acctbal",
        "q153_psi_drift" -> "o_totalprice")) {
      val wins = collectAll(plan(q)) { case w: WindowExec => w }
      assert(wins.forall(w =>
        !w.child.schema.fieldNames.contains(rawCol)),
        s"$q: window over raw $rawCol rows")
    }
  }

  test("q146 concentration: dims broadcast; ranks carry no window sort") {
    // supplier/nation must ride the lineitem scan as hash maps, and
    // the per-nation ranks come from the prefix-scan (avgRanks) — a
    // WindowExec over per-supplier revenue rows would be the
    // sort-per-nation plan avgRanks exists to avoid
    // (prefixSum's internal boundary window collects eagerly at build
    // time and never appears in the returned plan — window-free HERE
    // means the ranks really are the two-phase scan)
    val p = plan("q146_concentration")
    val smj = collectAll(p) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"sort-merge join in q146:\n$smj")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.isEmpty, "q146 rank fell back to a window sort")
  }

  test("q157 Pareto: descending cumulative is prefix-scan, not a window") {
    val wins = collectAll(plan("q157_pareto")) { case w: WindowExec => w }
    assert(wins.isEmpty, "q157 fell back to a revenue-row window")
  }

  // (q149's BFS rounds execute eagerly via localCheckpoint during
  // query construction, so its final plan is just the post-BFS
  // aggregate — the per-round join shape is exercised by GraphSpec
  // and the checkpoint-partitioning test below instead.)
  test("q148 Adamic-Adar: equi-joins only, never nested-loop") {
    val bad = collectAll(plan("q148_adamic_adar")) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        j.nodeName
      case j: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => j.nodeName
    }
    assert(bad.isEmpty, s"non-equi join in q148: $bad")
  }

  test("q178 local clustering: no wedge stream — the plan carries no " +
      "sort-merge join and no non-equi join") {
    // round 10 replaced the oriented wedge join (whose closing join
    // needed a shuffle_hash hint to avoid sorting tens of millions of
    // wedge rows — the 10x probe measured 16.9x growth from that
    // sort) with Graph.triangles' adjacency-intersect: the triangle
    // work is two equi-joins attaching neighbor arrays plus one
    // codegen intersect, so NO join in the plan may sort-merge (a
    // regression back to a sorting join shape must fail here, not in
    // a future bench).
    val p = plan("q178_local_clustering")
    val smj = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
        j.nodeName
    }
    assert(smj.isEmpty, s"q178 regressed to a sort-merge join:\n$p")
    val bad = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        j.nodeName
      case j: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => j.nodeName
    }
    assert(bad.isEmpty, s"non-equi join in q178: $bad")
  }

  test("q176 item-CF: top-20 cut runs the bounded heap, no window sort") {
    val p = plan("q176_item_cf")
    val topk = collectAll(p) { case t: graft.plans.TopKPerKeyExec => t }
    assert(topk.nonEmpty, "q176 lost its TopKPerKey cut")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.isEmpty, "q176 fell back to a window sort")
  }

  test("q177 cold customers: date filter reaches the orders scan; " +
      "average is a broadcast, not a re-scan") {
    val p = plan("q177_cold_customers")
    val orderScans = collectAll(p) { case f: FileSourceScanExec => f }
      .filter(_.schema.fieldNames.contains("o_custkey"))
    assert(orderScans.nonEmpty)
    assert(orderScans.forall(
        _.metadata("PushedFilters").contains("GreaterThanOrEqual")),
      orderScans.map(_.metadata("PushedFilters")).mkString(" | "))
    // the scalar average must arrive as a broadcast side, never as a
    // correlated per-row subquery re-scanning customer
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    val bnl = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => j
    }
    assert(bhj.nonEmpty || bnl.nonEmpty, s"no broadcast in q177:\n$p")
  }

  test("q173 ANOVA: one fact scan — the grand pass reduces the k group " +
      "rows, it does not re-read orders") {
    val scans = collectAll(plan("q173_anova_f")) {
      case f: FileSourceScanExec => f
    }
    assert(scans.length === 1,
      s"q173 scanned the fact ${scans.length} times")
  }

  test("q172 Welch t: both windows ride ONE conditional-projection scan") {
    val scans = collectAll(plan("q172_welch_ttest")) {
      case f: FileSourceScanExec => f
    }
    assert(scans.length === 1,
      s"q172 scanned orders ${scans.length} times")
  }

  test("q181 hierarchy rollup: per-level top-5 runs the bounded heap " +
      "over ONE lineitem scan") {
    val p = plan("q181_hierarchy_rollup")
    val topk = collectAll(p) { case t: graft.plans.TopKPerKeyExec => t }
    assert(topk.nonEmpty, "q181 lost its TopKPerKey cut")
    val scans = collectAll(p) { case f: FileSourceScanExec => f }
    assert(scans.length === 1,
      s"q181 scanned lineitem ${scans.length} times — the ancestor " +
        "explode exists so the tree never re-aggregates per level")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.isEmpty, "q181 fell back to a window sort")
  }

  test("q182 RFM: windows only over histogram state — scores fold " +
      "against broadcast quintile bounds") {
    // exactQuantiles' internal windows run over (__q, bucket) counted
    // aggregate state (the q33 convention); a window whose input is
    // the raw per-customer table would be the sort-based scorer this
    // query's broadcast fold replaces
    val wins = collectAll(plan("q182_rfm")) { case w: WindowExec => w }
    assert(wins.nonEmpty)
    assert(wins.forall(_.child.schema.fieldNames.contains("__c")),
      wins.map(_.child.schema.fieldNames.mkString(",")).mkString(" | "))
  }

  test("q184 PVM bridge: one fact scan for both periods; part " +
      "broadcasts") {
    val p = plan("q184_pvm_bridge")
    val scans = collectAll(p) { case f: FileSourceScanExec => f }
      .filter(_.schema.fieldNames.exists(_.startsWith("l_")))
    assert(scans.length === 1,
      s"q184 scanned lineitem ${scans.length} times — the periods " +
        "must ride one conditional-projection scan")
    assert(scans.head.metadata("PushedFilters")
      .contains("GreaterThanOrEqual"), scans.head.metadata("PushedFilters"))
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "part dim must broadcast")
  }

  test("q186/q187 dim stats: one Gram reduce, no joins, no explode " +
      "of the corpus") {
    // the whole point of DimStatsAgg is that the d×d surface comes
    // off ONE aggregate — a join or a pre-aggregate explode in the
    // plan means the N·d² posexplode shape crept back
    for (q <- Seq("q186_embed_dim_profile", "q187_embed_dim_corr")) {
      val p = plan(q)
      val joins = collectAll(p) {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(joins.isEmpty, s"$q grew a join:\n$p")
      val scans = collectAll(p) { case f: FileSourceScanExec => f }
      assert(scans.length === 1, s"$q scanned ${scans.length} times")
    }
  }

  test("q185 growth accounting: set algebra only — no windows, " +
      "equi-joins only") {
    val p = plan("q185_growth_accounting")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.isEmpty, "q185 grew a per-customer window")
    val bad = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        j.nodeName
      case j: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => j.nodeName
    }
    assert(bad.isEmpty, s"non-equi join in q185: $bad")
  }

  test("q190 geo radius join: grid equi-join, never the cartesian the " +
      "raw distance predicate would plan") {
    val p = plan("q190_geo_radius_join")
    val bad = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        j.nodeName
      case j: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => j.nodeName
    }
    assert(bad.isEmpty, s"non-equi join in q190: $bad")
  }

  test("q191 waiting suppliers: blame subqueries are hash semi/anti " +
      "joins keyed on the order (inequality stays residual)") {
    val p = plan("q191_waiting_suppliers")
    val bad = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        j.nodeName
      case j: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => j.nodeName
    }
    assert(bad.isEmpty, s"non-equi join in q191: $bad")
    val semiAnti = collectAll(p) {
      case j: BroadcastHashJoinExec
        if j.joinType.toString.matches("LeftSemi|LeftAnti") => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if j.joinType.toString.matches("LeftSemi|LeftAnti") => j
      case j: SortMergeJoinExec
        if j.joinType.toString.matches("LeftSemi|LeftAnti") => j
    }
    assert(semiAnti.length >= 2,
      s"expected semi+anti hash joins, got ${semiAnti.length}")
  }

  test("q192 min-cost supplier: every dimension broadcasts; argmin is " +
      "an aggregate, not a window sort") {
    val p = plan("q192_min_cost_supplier")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.isEmpty, "q192 argmin grew a window")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.length >= 3, s"expected ≥3 broadcast joins, got ${bhj.length}")
  }

  test("q196 ledger: both window passes share ONE exchange+sort on " +
      "(partkey, event order)") {
    // the nonlinear-clamp identity costs two stacked windows — but
    // they have identical partitioning and ordering, so a second
    // shuffle or sort would be pure waste at 100 TB
    val p = plan("q196_clamped_balance")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.length == 2, s"expected 2 window passes, got ${wins.length}")
    val exchanges = collectAll(p) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // one exchange for the window partitioning + one for the final
    // groupBy (same key — AQE may still plan it; ≤2 total)
    assert(exchanges.length <= 2,
      s"ledger shuffled ${exchanges.length}× — windows not sharing:\n$p")
    val sorts = collectAll(p) { case s: org.apache.spark.sql.execution.SortExec => s }
    assert(sorts.length <= 2, s"expected ≤2 sorts, got ${sorts.length}")
  }

  test("q202 small-qty: brand parts broadcast; the per-part stats join " +
      "is the only fact shuffle pair") {
    val p = plan("q202_small_qty_revenue")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "brand filter must broadcast onto lineitem")
    assert(collectAll(p) { case w: WindowExec => w }.isEmpty,
      "correlated avg decorrelated into an aggregate, not a window")
  }

  test("q208 interpolation: both ignore-nulls frames run in ONE window " +
      "pass over one exchange") {
    // forward and backward frames share (partition, order) — Spark
    // fuses same-spec window functions into a single WindowExec;
    // regressing to two passes doubles the sort at scale
    val p = plan("q208_interpolate")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.length <= 2,
      s"expected fused window passes (≤2 for the two frames), got ${wins.length}")
    val cartesian = collectAll(p) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(cartesian.isEmpty, "spine must broadcast, not cartesian")
  }

  test("q207 repair: mode ranks over the bounded aggregate and " +
      "broadcasts back — the fact never sort-merges") {
    val p = plan("q207_fd_repair")
    val smj = collectAll(p) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"repair join sort-merged:\n$p")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "mode table must broadcast")
  }

  test("q211 fuzzy linkage: candidates come from an EQUI-join on the " +
      "blocking keys — never a cartesian/nested-loop pair generation") {
    val p = plan("q211_fuzzy_linkage")
    val loops = collectAll(p) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        c.nodeName
      case j: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => j.nodeName
    }
    assert(loops.isEmpty, s"pair generation degenerated to $loops:\n$p")
  }

  test("q212 Mann-Whitney: rank machinery stays compacted — no window " +
      "over the pooled fact rows") {
    // Stats.avgRanks is the two-phase prefix scan; the only acceptable
    // windows are inside it (over the COMPACTED per-value table).
    // A rank() over the raw pooled rows would be a one-task sort.
    val p = plan("q212_mann_whitney")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.size <= 1, s"expected ≤1 compacted-scan window, got ${wins.size}")
  }

  test("q214 heavy hitters: candidates broadcast back onto the token " +
      "stream — the recount never sort-merges") {
    val p = plan("q214_heavy_hitters")
    val smj = collectAll(p) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"recount join sort-merged:\n$p")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "candidate set must broadcast")
  }

  test("q218 CUSUM: prefix machinery only — no window over the daily " +
      "series, no data-sized sort") {
    // both prefix sums ride Packing.prefixSum (range repartition +
    // per-partition scan); a sum() OVER (ORDER BY day) window here
    // would be the one-task pattern the operator exists to avoid
    val p = plan("q218_cusum_changepoint")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.isEmpty, s"expected no WindowExec, got ${wins.size}:\n$p")
  }

  test("q231 dominant suppliers: the part-type filter broadcasts onto " +
      "the fact scan and the qualifying set semi-joins") {
    val p = plan("q231_dominant_suppliers")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"small-part filter must broadcast:\n$p")
  }

  test("q236 FIFO: the matching join is keyed on (part, bucket) — " +
      "a bare-part key would enumerate R×I pairs on a hot part") {
    val p = plan("q236_fifo_match")
    val keys =
      collectAll(p) { case j: SortMergeJoinExec => j.leftKeys } ++
      collectAll(p) {
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          j.leftKeys
      } ++
      collectAll(p) { case j: BroadcastHashJoinExec => j.leftKeys }
    assert(keys.nonEmpty, s"expected an equi match join:\n$p")
    assert(keys.exists(_.length >= 2),
      s"match join must key on (part, bucket): ${keys.map(_.length)}")
  }

  test("q238 priority check: the EXISTS is a semi join keyed on the " +
      "order key — no join-then-distinct, no nested loop") {
    val p = plan("q238_priority_semi")
    val semis = collectAll(p) {
      case j: SortMergeJoinExec if j.joinType.sql == "LEFT SEMI" => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if j.joinType.sql == "LEFT SEMI" => j
      case j: BroadcastHashJoinExec if j.joinType.sql == "LEFT SEMI" => j
    }
    assert(semis.nonEmpty, s"expected a LEFT SEMI join:\n$p")
    val loops = collectAll(p) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(loops.isEmpty)
  }

  test("q241 returned items: top-20 is TakeOrdered (bounded heap), " +
      "and the returnflag filter reaches the lineitem scan") {
    val p = plan("q241_returned_items")
    val tops = collectAll(p) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(tops.nonEmpty, s"expected TakeOrderedAndProject:\n$p")
    val scans = collectAll(p) { case f: FileSourceScanExec => f }
    assert(scans.exists(_.metadata("PushedFilters").contains("l_returnflag")),
      scans.map(_.metadata("PushedFilters")).mkString("\n"))
  }

  test("q247 disjunctive revenue: the part-side brand/size conjuncts " +
      "prune the part scan before the join") {
    val p = plan("q247_disjunctive_revenue")
    val scans = collectAll(p) { case f: FileSourceScanExec => f }
    assert(scans.exists { f =>
      val pf = f.metadata("PushedFilters")
      pf.contains("p_brand") && pf.contains("p_size")
    }, scans.map(_.metadata("PushedFilters")).mkString("\n"))
  }

  test("q249 prefix-filter join: candidate generation is an equi-join " +
      "on the prefix token — never a cartesian all-pairs") {
    val p = plan("q249_prefix_filter_join")
    val loops = collectAll(p) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        c.nodeName
      case j: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => j.nodeName
    }
    assert(loops.isEmpty, s"candidate join degenerated to $loops:\n$p")
    // the per-doc prefix rank window partitions by doc id — a global
    // (unpartitioned) window here would be the one-task pattern
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned window in prefix rank:\n$p")
  }

  test("q250 KMV sketch: the k smallest hashes per group ride the " +
      "bounded TopKPerKey heap, never a per-group sort window") {
    val p = plan("q250_kmv_distinct")
    val topk = collectAll(p) {
      case t: graft.plans.TopKPerKeyExec => t
    }
    assert(topk.nonEmpty, s"expected TopKPerKeyExec:\n$p")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.isEmpty, s"unexpected window (per-group sort):\n$p")
  }

  test("q252 group mode: argmax is one hash aggregate — no window, " +
      "no per-group sort") {
    val p = plan("q252_group_mode")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.isEmpty, s"expected no WindowExec:\n$p")
  }

  test("q227 interval join: pair generation is an equi-join on the " +
      "bucket id — never a cartesian/nested-loop BETWEEN") {
    val p = plan("q227_interval_join")
    val loops = collectAll(p) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        c.nodeName
      case j: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => j.nodeName
    }
    assert(loops.isEmpty, s"interval join degenerated to $loops:\n$p")
  }

  test("q256 geofence: the polygon edge table rides a BROADCAST " +
      "nested loop (a dimension), never a shuffled cartesian") {
    val p = plan("q256_geofence")
    val cart = collectAll(p) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        c.nodeName
    }
    assert(cart.isEmpty, s"edge join shuffled a cartesian:\n$p")
    val bnl = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => j
    }
    assert(bnl.nonEmpty, s"expected broadcast nested loop on edges:\n$p")
  }

  test("q262 budget allocation: the greedy order is the distributed " +
      "prefix scan — no global (unpartitioned) data-sized window") {
    val p = plan("q262_budget_allocation")
    // prefixSum's windows are per-partition-id or per-group; any
    // window over the full item set with empty partitioning would be
    // the one-task pattern this query exists to avoid
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned window in greedy order:\n$p")
  }

  test("q265 PQ: codebook and LUT broadcast; both top-k cuts ride " +
      "TopKPerKeyExec, never a corpus-wide sort window") {
    val p = plan("q265_pq_adc")
    val topk = collectAll(p) {
      case t: graft.plans.TopKPerKeyExec => t
    }
    assert(topk.size >= 2, s"expected two TopKPerKeyExec cuts:\n$p")
    val bhj = collectAll(p) {
      case j: BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, s"expected broadcast joins on cb/lut:\n$p")
    // the only windows allowed are over the 64-row codebook build
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.size <= 2, s"unexpected data-sized window:\n$p")
  }

  test("q280 cube: all four grouping levels expand inside ONE " +
      "aggregate over one scan pair — no per-level rescan") {
    val p = plan("q280_cube_grouping")
    val scans = collectAll(p) { case f: FileSourceScanExec => f }
    // one lineitem scan + one orders scan; a union-of-levels plan
    // would read each table once per level
    assert(scans.size == 2, s"cube rescanned its inputs:\n$p")
  }

  test("q285 phrase search: the 1-row phrase joins BROADCAST onto the " +
      "pair stream — no shuffle of |pairs| rows on the bigram key") {
    val p = plan("q285_phrase_search")
    val smj = collectAll(p) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"phrase join sort-merged the pair table:\n$p")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected broadcast phrase join:\n$p")
  }

  test("q286 pivot: enumerated values fix the schema at plan time — " +
      "one scan pair, no distinct-discovery pass over the fact") {
    val p = plan("q286_pivot")
    val scans = collectAll(p) { case f: FileSourceScanExec => f }
    assert(scans.size == 2, s"pivot added a discovery scan:\n$p")
  }

  test("q289 running distinct: the prefix sum windows over the month " +
      "spine per segment — partitioned, never a global window") {
    val p = plan("q289_running_distinct")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned window:\n$p")
  }

  test("q290 Apriori: the frequent-pair prune rides BROADCAST " +
      "semi-joins — candidate triples never shuffle on pair keys") {
    val p = plan("q290_apriori_triples")
    val smj = collectAll(p) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"prune shuffled the triple stream:\n$p")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 3, s"expected three broadcast prunes:\n$p")
  }

  test("q293 geo k-NN: the per-customer cut is the bounded " +
      "TopKPerKey heap, not a per-key sort window") {
    val p = plan("q293_geo_knn")
    val topk = collectAll(p) { case t: graft.plans.TopKPerKeyExec => t }
    assert(topk.nonEmpty, s"expected TopKPerKeyExec:\n$p")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.isEmpty, s"unexpected window in the k-NN cut:\n$p")
  }

  test("q299 CIDR: the range dimension probes via broadcast nested " +
      "loop — the fact is never shuffled for a 12-row dimension") {
    val p = plan("q299_cidr_match")
    val cart = collectAll(p) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        c.nodeName
    }
    assert(cart.isEmpty, s"CIDR join shuffled a cartesian:\n$p")
    val bnl = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => j
    }
    assert(bnl.nonEmpty, s"expected broadcast nested loop:\n$p")
  }

  test("q284 multiclass eval: the nation→modal-segment dimension " +
      "broadcasts onto customers; mode is max(struct), no window") {
    val p = plan("q284_multiclass_eval")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.isEmpty, s"expected no WindowExec:\n$p")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected broadcast mode join:\n$p")
  }

  test("q308 URL canon: pure map-side canonicalization — the scan " +
      "reads ONLY doc_id, no join machinery at all") {
    val p = plan("q308_url_canon")
    val scans = collectAll(p) { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    // every canonicalization input derives from doc_id; a scan that
    // reads text/source would mean the projection stopped pruning
    assert(scans.head.schema.fieldNames.toSeq === Seq("doc_id"),
      scans.head.schema.fieldNames.mkString(","))
    val smj = collectAll(p) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"unexpected shuffle join:\n$p")
  }

  test("q309 winnowing: NO window, NO shuffle before the aggregates " +
      "(the native per-doc kernel) and a broadcast doc-count join") {
    val p = plan("q309_winnowing")
    // round 9 moved the fingerprint derivation into the native
    // WinnowFingerprints expression: the per-doc window sort (a full
    // shuffle of ~190 gram rows per doc — measured spilling at the
    // probe's second decade) must NOT reappear
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.isEmpty, s"gram-row window crept back into the plan:\n$p")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected broadcast n_docs join:\n$p")
    val smj = collectAll(p) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"unexpected shuffle join:\n$p")
  }

  test("q313 DSIR: the delta model joins BROADCAST (64 rows at any " +
      "corpus size) — no shuffle join anywhere in the scorer") {
    val p = plan("q313_dsir_weights")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected the broadcast model join:\n$p")
    val smj = collectAll(p) { case j: SortMergeJoinExec => j }
    assert(smj.isEmpty, s"model must never shuffle-join:\n$p")
  }

  test("q317 hard negatives: the anchor batch joins as a BROADCAST " +
      "nested loop (bounded side), never a cartesian product") {
    val p = plan("q317_hard_negatives")
    val cart = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        j.nodeName
    }
    assert(cart.isEmpty, s"cartesian product in plan:\n$p")
    val bnl = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec => j
    }
    assert(bnl.nonEmpty, s"expected broadcast anchor join:\n$p")
  }

  test("q318 merge-into: ONE join realizes the whole MERGE (full " +
      "outer on the merge key)") {
    val p = plan("q318_merge_into")
    val joins = collectAll(p) {
      case j: SortMergeJoinExec => j.nodeName
      case j: BroadcastHashJoinExec => j.nodeName
    }
    assert(joins.size === 1, s"MERGE INTO must be exactly one join:\n$p")
    val cart = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        j.nodeName
    }
    assert(cart.isEmpty, s"cartesian product in plan:\n$p")
  }

  test("q319 router: partition-local dispatch — no join, no window, " +
      "scan reads only doc_id") {
    val p = plan("q319_format_router")
    val joins = collectAll(p) {
      case j: SortMergeJoinExec => j.nodeName
      case j: BroadcastHashJoinExec => j.nodeName
    }
    assert(joins.isEmpty, s"router must not join:\n$p")
    val wins = collectAll(p) { case w: WindowExec => w }
    assert(wins.isEmpty, s"router must not window:\n$p")
    val scans = collectAll(p) { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    assert(scans.head.schema.fieldNames.toSeq === Seq("doc_id"),
      scans.head.schema.fieldNames.mkString(","))
  }

  test("disk-regime traversal: executed round plans keep the bucket-" +
      "set partition filter on __bk and the broadcast frontier " +
      "(force knob)") {
    // GraphSpec pins RESULT equality under AdjDiskForceKey; this pins
    // the MECHANICS the 100× economics rely on (round-13 verdict: a
    // regression here rots the disk regime into a full-scan-per-round
    // silently) — capture every query execution the traversal runs
    // and require at least one round whose plan scans the bucketed
    // layout WITH the frontier's bucket set as a partition filter and
    // joins a broadcast frontier. Writing this spec found TWO rots
    // already shipped: the long-typed __bk made every probe join key
    // `cast(__bk as bigint)` (DPP can't prune through a cast), and
    // even type-aligned, Spark's PartitionPruning rule never fires
    // for a filter-free checkpointed frontier — hence the explicit
    // static bucket-set filter the traversals now push.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(s"[$f]\n" + qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-adj-plan").toString
    spark.listenerManager.register(listener)
    spark.conf.set(operators.Graph.AdjScratchKey, scratch)
    spark.conf.set(operators.Graph.AdjDiskForceKey, "true")
    try {
      import spark.implicits._
      val edges = (0 until 64).map(i => (s"n$i", s"n${(i + 1) % 64}"))
        .toDF("src", "dst")
      operators.Graph.bfsHops(edges, "src", "dst",
        Seq("n0").toDF("node"), "node", 3).collect()
      // listener callbacks are async — poll for the round plan
      val deadline = System.nanoTime() + 30L * 1000000000L
      // the scan line must carry the bucket set INSIDE PartitionFilters
      // — e.g. `PartitionFilters: [isnotnull(__bk#5), __bk#5 IN (3,17)]`
      // or the INSET form past the In->InSet threshold
      val pf = ("PartitionFilters: \\[[^\\]]*__bk#\\d+ " +
        "(IN|INSET)\\b").r
      def roundPlan(): Option[String] = {
        import scala.jdk.CollectionConverters._
        plans.asScala.find(p => p.contains(scratch)
          && pf.findFirstIn(p).isDefined
          && p.contains("BroadcastHashJoin"))
      }
      var found = roundPlan()
      while (found.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(200); found = roundPlan()
      }
      if (found.isEmpty)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("/tmp/dpp_plans.txt"),
          scala.jdk.CollectionConverters.CollectionHasAsScala(plans)
            .asScala.mkString("\n========\n"))
      assert(found.isDefined,
        s"no executed round plan with scratch scan + bucket-set " +
          s"partition filter + broadcast among ${plans.size} captured " +
          s"plans (full dump: /tmp/dpp_plans.txt)")
    } finally {
      spark.conf.unset(operators.Graph.AdjScratchKey)
      spark.conf.unset(operators.Graph.AdjDiskForceKey)
      spark.listenerManager.unregister(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(scratch))
    }
  }

  test("q337 marginMine: AQE reuses the candidate-table stage across " +
      "all four consumers; every rank shuffle is WindowGroupLimit-" +
      "bounded") {
    // the no-persist contract (round-13 verdict): marginMine's four
    // consumers must not re-run the upstream scoring pipeline. The
    // candidate table arrives through the union-distinct's exchange;
    // after execution the final adaptive plan must show that exchange
    // materialized ONCE and referenced as ReusedExchange by the other
    // three consumers — a Spark upgrade that drops stage reuse here
    // would silently re-run both ivfTopK directions 4×.
    spark.catalog.clearCache() // isolate the no-leak assertion below
    val df = SparkEntry.queries("q337_bitext_margin_ivf")(spark, sf)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    val finalSection = s.substring(0, s.indexOf("+- == Initial Plan =="))
    // the distinct exchange: hashpartitioning on (src_id, tgt_id, s).
    // A ReusedExchange line re-prints the referenced exchange's
    // description, so partition the matches by line: exactly ONE
    // materialized, >= 3 reuse references.
    val distinctEx =
      "Exchange hashpartitioning\\(src_id#\\d+L, tgt_id#\\d+L, s#\\d+"
    val lines = finalSection.linesIterator
      .filter(_.matches(s".*$distinctEx.*")).toSeq
    val (reusedL, matL) = lines.partition(_.contains("ReusedExchange"))
    assert(matL.length === 1,
      s"expected exactly one materialized candidate exchange:\n$s")
    assert(reusedL.length >= 3,
      s"expected >=3 ReusedExchange (one per extra consumer), " +
        s"got ${reusedL.length}:\n$s")
    // the rank exchanges must sit above a partial WindowGroupLimit —
    // per-partition top-k BEFORE the shuffle, so no rank exchange
    // ever moves the full candidate table
    assert("WindowGroupLimit".r.findAllIn(finalSection).length >= 8,
      s"rank filters no longer push as WindowGroupLimit partials:\n$s")
    assert(org.apache.spark.sql.graft.Bridge.cacheIsEmpty(spark),
      "marginMine must not leave cached tables")
  }

  test("checkpoint partitioning: repartition(n, k).localCheckpoint() " +
      "built with AQE off keeps hash(k, n), so a shuffle_hash join " +
      "exchanges only the small side") {
    // the invariant Graph.planAdjacency's in-memory regime rests on:
    // every traversal round joins the checkpointed adjacency against a
    // small frontier, and only the frontier may move. A new session, so
    // the shared test session's AQE setting is never touched.
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.functions._
    val s = spark.newSession()
    val n = s.conf.get("spark.sql.shuffle.partitions").toInt
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val ck = s.range(100000)
      .select((col("id") % 5000).as("k"), col("id").as("v"))
      .repartition(n, col("k")).localCheckpoint()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    val recorded = ck.queryExecution.analyzed.collectFirst {
      case r: LogicalRDD => r.outputPartitioning
    }
    recorded match {
      case Some(h: HashPartitioning) =>
        assert(h.numPartitions === n)
        assert(h.expressions.collect { case a: Attribute => a.name } ===
          Seq("k"))
      case other => fail(s"checkpoint recorded no hash partitioning: $other")
    }
    val small = s.range(1000).select(col("id").as("k"),
      (col("id") * 2).as("w"))
    val j = ck.join(small.hint("shuffle_hash"), Seq("k"))
    val exchanges = collectAll(j.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.length === 1, exchanges.mkString("\n"))
    val cols = exchanges.head.child.output.map(_.name)
    assert(cols.contains("w") && !cols.contains("v"), cols)
  }
}
