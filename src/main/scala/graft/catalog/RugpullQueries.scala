package graft
package catalog

import org.apache.spark.sql.functions._

import graft.operators._
import graft.domain.TokenFlows

/** Rugpull queries: the reference's token-flow pipeline and the detection
  * signals built on it — the pre/post balance merge, the flagship ledger, drain
  * alerts, OHLC bars and the block-feed connector. */
object RugpullQueries {
  def specs: Seq[QuerySpec] = Seq(
    // O24+O25: pre/post FULL OUTER merge with last-write-wins, single hash
    // aggregate (mergeAgg) — view events are the 'pre' side, purchase the
    // 'post' side, latest per (user, side) wins.
    QuerySpec("q06_prepost_merge", (s, d) => {
      val e = Tables.events(s, d)
      val tagged = e
        .filter($"event_type".isin("view", "purchase"))
        .withColumn("side",
          when($"event_type" === "view", "pre").otherwise("post"))
      val merged = PrePostMerge.mergeAgg(tagged, Seq("user_id"), "side",
        "value", struct($"ts", $"event_id"))
      PrePostMerge.eitherPresent(merged)
        .orderBy($"user_id")
    }, Some(
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN event_type = 'view' THEN 'pre' ELSE 'post' END AS side
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |ranked AS (
        |  SELECT user_id, side, value, row_number() OVER (
        |    PARTITION BY user_id, side ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM tagged)
        |SELECT user_id,
        |  max(CASE WHEN side = 'pre' AND rn = 1 THEN value END) AS pre_value,
        |  max(CASE WHEN side = 'post' AND rn = 1 THEN value END) AS post_value
        |FROM ranked GROUP BY user_id
        |HAVING pre_value IS NOT NULL OR post_value IS NOT NULL
        |ORDER BY user_id""".stripMargin)),

    // Flagship: the SURVEY §7.2 token-flow slice (semi-join → pre/post
    // merge → tags → broadcast price attach → projection).
    QuerySpec("q13_tokenflow", (s, d) => TokenFlows.eventLedger(s, d),
      Some(TokenFlows.eventLedgerOracle)),

    // OHLC BARS — the market-data resample the reference's price feed
    // implies (SURVEY §3.3 price path): per (type, hour) open/high/
    // low/close/volume. Open/close are order-sensitive — min_by/max_by
    // over the total (ts, event_id) key keeps them ONE hash aggregate
    // (no per-bar sort, no window); a bar's state is five numbers
    // however many trades it holds. Streams.priceBars is the
    // watermarked streaming twin.
    QuerySpec("q83_ohlc_bars", (s, d) => {
      Tables.events(s, d)
        .groupBy($"event_type",
          window($"ts", "1 hour").getField("start").as("bar_start"))
        .agg(min_by($"value", struct($"ts", $"event_id")).as("open"),
          max($"value").as("high"), min($"value").as("low"),
          max_by($"value", struct($"ts", $"event_id")).as("close"),
          count(lit(1)).as("n_trades"),
          Fns.roundU(sum($"value"), 2).as("volume"))
        .orderBy($"event_type", $"bar_start")
    }, Some(
      """WITH r AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bar_start, value,
        |    row_number() OVER (PARTITION BY event_type,
        |      date_trunc('hour', ts) ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY event_type,
        |      date_trunc('hour', ts) ORDER BY ts DESC, event_id DESC)
        |      AS rd
        |  FROM events)
        |SELECT event_type, bar_start,
        |  max(CASE WHEN ra = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rd = 1 THEN value END) AS close,
        |  CAST(count(*) AS BIGINT) AS n_trades,
        |  floor((sum(value)) * 100 + 0.5) / 100.0 AS volume
        |FROM r GROUP BY event_type, bar_start
        |ORDER BY event_type, bar_start""".stripMargin)),

    // DRAIN ALERTS — the reference's actual detection signal as a
    // query: a watch-listed key whose post balance collapsed vs its
    // pre balance (the liquidity-pull signature, SURVEY §0) with the
    // USD impact priced through the ledger's dim join. Pure filter +
    // hash aggregate over the q13 ledger — the alerting layer costs
    // nothing beyond the pipeline it reads.
    QuerySpec("q84_drain_alerts", (s, d) => {
      val drained = TokenFlows.eventLedger(s, d)
        .filter($"pre_value" > 0 && $"post_value".isNotNull)
        .withColumn("drop_frac",
          ($"pre_value" - $"post_value") / $"pre_value")
        .filter($"drop_frac" >= 0.5)
      drained.groupBy($"user_id")
        .agg(count(lit(1)).as("n_drained"),
          Fns.roundU(max($"drop_frac"), 4).as("worst_drop"),
          Fns.roundU(sum(($"pre_value" - $"post_value") * $"price"), 2)
            .as("usd_impact"))
        .orderBy($"user_id")
    }, Some(
      s"""WITH drained AS (
        |  SELECT user_id,
        |    (pre_value - post_value) / pre_value AS drop_frac,
        |    (pre_value - post_value) * price AS impact
        |  FROM (
        |${TokenFlows.eventLedgerOracle.linesIterator
            .map("    " + _).mkString("\n")}
        |  ) ledger
        |  WHERE pre_value > 0 AND post_value IS NOT NULL
        |    AND (pre_value - post_value) / pre_value >= 0.5)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_drained,
        |  floor((max(drop_frac)) * 10000 + 0.5) / 10000.0 AS worst_drop,
        |  floor((sum(impact)) * 100 + 0.5) / 100.0 AS usd_impact
        |FROM drained GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // CUSTOM DATASOURCE V2 CONNECTOR — the reference's block feed as
    // a first-class TableProvider (graft.sources.BlocksSource) with
    // REAL filter pushdown (height ranges prune planned partitions —
    // BlocksSourceSpec asserts 1-of-8 shards planned) and column
    // pruning (the reader materializes only the projected schema).
    // Rows are a pure formula of height, so the connector query sits
    // under a DuckDB oracle that rebuilds the same rows from range()
    // — plumbing and semantics checked end-to-end. The height band
    // below lands entirely in the source as pushed bounds; the miner
    // rollup is one hash aggregate over 10k generated rows.
    QuerySpec("q234_blocks_connector", (s, d) => {
      s.read.format(classOf[graft.sources.BlocksSource].getName)
        .option("blocks", "20000").option("shards", "8").load()
        .filter($"height" >= 5000L && $"height" < 15000L)
        .groupBy($"miner")
        .agg(count(lit(1)).as("n_blocks"),
          sum($"n_tx").as("total_tx"),
          sum($"fee_cents").as("total_fee_cents"),
          max($"ts").as("last_ts"))
        .orderBy($"miner")
    }, Some(
      """WITH b AS (
        |  SELECT i AS height, 1600000000 + 12 * i AS ts,
        |    1 + (i * 7919) % 50 AS n_tx,
        |    (i * 104729) % 100000 AS fee_cents,
        |    'm' || CAST(i % 97 AS VARCHAR) AS miner
        |  FROM range(5000, 15000) t(i))
        |SELECT miner, CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(sum(n_tx) AS BIGINT) AS total_tx,
        |  CAST(sum(fee_cents) AS BIGINT) AS total_fee_cents,
        |  CAST(max(ts) AS BIGINT) AS last_ts
        |FROM b GROUP BY 1 ORDER BY miner""".stripMargin))
  )
}
