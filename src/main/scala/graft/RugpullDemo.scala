package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.domain.Rugpull
import graft.streaming.Streams

/** Runnable end-to-end demo of the rugpull domain pipeline on generated
  * fixture blocks: batch token-flow ledger, pool detection, and the
  * streaming variant with stateful price suppression. `sbt "runMain
  * graft.RugpullDemo"` — no external inputs.
  */
object RugpullDemo {

  private def block(blockTime: Long, txs: Seq[String]): String =
    s"""{"result":{"blockTime":$blockTime,"transactions":[${txs.mkString(",")}]}}"""

  private def tx(keys: Seq[String], pre: String, post: String,
                 logs: Seq[String]): String = {
    val ks = keys.map("\"" + _ + "\"").mkString(",")
    val ls = logs.map("\"" + _ + "\"").mkString(",")
    s"""{"transaction":{"message":{"accountKeys":[$ks]}},
       |"meta":{"loadedAddresses":{"writable":[],"readonly":[]},
       |"preTokenBalances":$pre,"postTokenBalances":$post,
       |"logMessages":[$ls]}}""".stripMargin.replaceAll("\n", "")
  }

  private def bal(idx: Int, mint: String, owner: String, amt: String) =
    s"""{"accountIndex":$idx,"mint":"$mint","owner":"$owner",
       |"uiTokenAmount":{"uiAmountString":"$amt"}}"""
      .stripMargin.replaceAll("\n", "")

  private def writeBlocks(dir: Path): Unit = {
    val b1 = block(1700000000L, Seq(
      tx(Seq("POOL_VAULT_A", "TRADER_1"),
        s"[${bal(1, "MINT_ROCK", "TRADER_1", "1000")}]",
        s"[${bal(1, "MINT_ROCK", "TRADER_1", "250")}]",
        Seq("Program RAY_AMM invoke", "Program log: Instruction: Swap")),
      tx(Seq("COLD_ADDR"), "[]", "[]", Seq("unrelated"))))
    val b2 = block(1700000001L, Seq(
      tx(Seq("POOL_VAULT_Q", "TRADER_2"),
        "[]",
        s"[${bal(1, "MINT_USD1", "TRADER_2", "9000")}]",
        Seq("Program RAY_AMM invoke",
          "Program log: Instruction: Initialize2"))))
    Files.writeString(dir.resolve("block1.json"), b1)
    Files.writeString(dir.resolve("block2.json"), b2)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    import spark.implicits._

    val dir = Files.createTempDirectory("rugpull-demo")
    writeBlocks(dir)

    val hot = Seq("POOL_VAULT_A", "POOL_VAULT_Q").toDF("addr")
    val watchlists = Seq(
      ("BASE_VAULTS", "POOL_VAULT_A"), ("QUOTE_VAULTS", "POOL_VAULT_Q"),
      ("BASE_MINTS", "MINT_ROCK"), ("QUOTE_MINTS", "MINT_USD1"))
      .toDF("kind", "addr")
    val prices = Seq(("POOL_VAULT_A", "base", 0.031),
      ("POOL_VAULT_Q", "quote", 1.0)).toDF("vault", "side", "price_usd")

    println("=== batch token-flow ledger (with exact decimal amounts) ===")
    val blocks = Rugpull.parseBlocks(spark, dir.toString)
    Rugpull.withDecimalBalances(
        Rugpull.tokenFlows(blocks, hot, watchlists, prices))
      .orderBy($"signature", $"wallet", $"mint")
      .show(20, truncate = false)

    println("=== detected pools -> resolved payload -> watch-lists ===")
    val pools = Rugpull.detectPools(blocks,
      Map("RAY_AMM" -> Seq("Initialize2", "InitializeInstruction2")))
    val payload = Rugpull.stubResolver(pools)
    payload.show(5, truncate = false)
    Rugpull.registryToWatchlists(payload).orderBy($"kind", $"addr")
      .show(10, truncate = false)

    println("=== streaming ledger (per micro-batch) ===")
    val q = Streams.tokenFlowsStream(spark, dir.toString, hot, watchlists,
      prices) { (ledger, id) =>
      println(s"--- micro-batch $id ---")
      ledger.orderBy($"signature").show(10, truncate = false)
    }
    q.awaitTermination(60000)

    println("=== stateful price change-suppression ===")
    val events = Seq(
      Streams.PriceEvent("ROCK/USD1", 1, 0.031, 1.0),
      Streams.PriceEvent("ROCK/USD1", 2, 0.0315, 1.0), // <10% → drop
      Streams.PriceEvent("ROCK/USD1", 3, 0.012, 1.0),  // rug: -61% → emit
      Streams.PriceEvent("ROCK/USD1", 4, 0.011, 1.0)   // <10% vs last emit
    ).toDS()
    Streams.suppressPrices(events, 0.1).orderBy($"ts").show()

    spark.stop()
  }
}
