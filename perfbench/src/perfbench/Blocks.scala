package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded synthetic Solana blocks in the `getBlock` JSON shape the flagship
  * parses, plus the dimensions it joins and a plain-Scala model of the
  * ledger it must produce.
  *
  * Shape (per transaction): 10 account keys drawn from a 50k-address pool,
  * empty loaded-address lists, 4 pre and 4 post token balances over a
  * 500-mint pool, no log messages. About 8 % of the transactions
  * carry one watch-listed vault address, placed in the account keys or in
  * the writable/readonly loaded addresses; transaction 0 of every block is
  * always hot, so every block has ledger rows. Balance entries exercise
  * the ledger's rules: positional override of the wallet by a hot address,
  * pre-only and post-only entries, and missing or empty amounts.
  */
final class Blocks(seed: Long) {
  private val hotShare = 0.08
  val hotAddrs: IndexedSeq[String] = (0 until 100).map(name("HOTVAULT", _, 4))
  private val hotSet = hotAddrs.toSet
  private val baseMints = (0 until 50).map(name("MINT", _, 5)).toSet
  private val quoteMints = (50 until 100).map(name("MINT", _, 5)).toSet
  private def price(i: Int): Double = 1.0 + i * 0.01

  val blockTime0 = 1700000000L

  /** A block's transactions, kept in model form for the reference ledger. */
  final case class Bal(accountIndex: Int, mint: String, owner: String,
                       amount: Option[String])
  final case class Tx(keys: Seq[String], writable: Seq[String],
                      readonly: Seq[String], pre: Seq[Bal], post: Seq[Bal]) {
    def allAddrs: Seq[String] = keys ++ writable ++ readonly
  }

  /** `prefix` followed by `n` zero-padded to `width` digits. */
  private def name(prefix: String, n: Int, width: Int): String = {
    val d = n.toString
    prefix + ("0" * (width - d.length)) + d
  }

  def txs(block: Int, nTx: Int): IndexedSeq[Tx] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + block)
    def addr() = name("ADDR", rnd.nextInt(50000), 8)
    def mint() = name("MINT", rnd.nextInt(500), 5)
    (0 until nTx).map { t =>
      val keys = mutable.ArrayBuffer.fill(10)(addr())
      var writable = Seq.empty[String]
      var readonly = Seq.empty[String]
      if (t == 0 || rnd.nextDouble() < hotShare) {
        val h = hotAddrs(rnd.nextInt(hotAddrs.size))
        rnd.nextInt(5) match {
          case 0 => writable = Seq(h)
          case 1 => readonly = Seq(h)
          case _ => keys(rnd.nextInt(keys.size)) = h
        }
      }
      val all = keys.toSeq ++ writable ++ readonly
      def amount(): Option[String] = rnd.nextInt(40) match {
        case 0 => None
        case 1 => Some("")
        case _ => Some(s"${rnd.nextInt(1000000)}.${rnd.nextInt(1000)}")
      }
      val owned = (0 until 4).map { _ =>
        Bal(rnd.nextInt(all.size), mint(), addr(), amount())
      }
      // Post side: the same holdings re-valued, with one dropped (pre-only)
      // or one opened (post-only) now and then.
      val post = owned.map(_.copy(amount = amount())).filter(_ =>
        rnd.nextInt(16) != 0) ++
        (if (rnd.nextInt(8) == 0) Seq(Bal(rnd.nextInt(all.size), mint(), addr(), amount()))
         else Nil)
      Tx(keys.toSeq, writable, readonly, owned, post)
    }
  }

  private def q(s: String) = "\"" + s + "\""
  private def arr(xs: Seq[String]) = xs.map(q).mkString("[", ",", "]")
  private def balJson(bs: Seq[Bal]) = bs.map { b =>
    val amt = b.amount.map(a => s""""uiAmountString":${q(a)}""").getOrElse("")
    s"""{"accountIndex":${b.accountIndex},"mint":${q(b.mint)},""" +
      s""""owner":${q(b.owner)},"uiTokenAmount":{$amt}}"""
  }.mkString("[", ",", "]")

  /** One line of block JSON (no trailing newline). */
  def json(block: Int, body: IndexedSeq[Tx]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(body.size * 1200)
    sb.append(s"""{"result":{"blockTime":${blockTime0 + block},"transactions":[""")
    body.iterator.zipWithIndex.foreach { case (tx, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"transaction":{"message":{"accountKeys":${arr(tx.keys)}}},""")
      sb.append(s""""meta":{"loadedAddresses":{"writable":${arr(tx.writable)},""")
      sb.append(s""""readonly":${arr(tx.readonly)}},""")
      sb.append(s""""preTokenBalances":${balJson(tx.pre)},""")
      sb.append(s""""postTokenBalances":${balJson(tx.post)},"logMessages":[]}}""")
    }
    sb.append("]}}")
    sb.toString.getBytes(UTF_8)
  }

  def hot(spark: SparkSession): DataFrame =
    spark.createDataFrame(hotAddrs.map(Row(_)).asJava,
      StructType(Seq(StructField("addr", StringType))))

  def watchlists(spark: SparkSession): DataFrame = {
    val rows = hotAddrs.zipWithIndex.map { case (a, i) =>
        Row(if (i % 2 == 0) "BASE_VAULTS" else "QUOTE_VAULTS", a) } ++
      baseMints.toSeq.sorted.map(Row("BASE_MINTS", _)) ++
      quoteMints.toSeq.sorted.map(Row("QUOTE_MINTS", _))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("kind", StringType), StructField("addr", StringType))))
  }

  def prices(spark: SparkSession): DataFrame =
    spark.createDataFrame(hotAddrs.zipWithIndex.map { case (a, i) =>
      Row(a, if (i % 2 == 0) "base" else "quote", price(i)) }.asJava,
      StructType(Seq(StructField("vault", StringType),
        StructField("side", StringType), StructField("price_usd", DoubleType))))

  /** Counts that describe the work a block set gives the ledger. */
  final case class Profile(txs: Long, hotTxs: Long, entries: Long)

  def profile(blocks: Seq[IndexedSeq[Tx]]): Profile = {
    val hotTxs = blocks.flatten.filter(_.allAddrs.exists(hotSet))
    Profile(blocks.map(_.size.toLong).sum, hotTxs.size.toLong,
      hotTxs.map(t => (t.pre.size + t.post.size).toLong).sum)
  }

  val ledgerSchema: StructType = StructType(Seq(
    StructField("timestamp", LongType), StructField("wallet", StringType),
    StructField("signature", StringType), StructField("mint", StringType),
    StructField("pre_balance", StringType),
    StructField("post_balance", StringType),
    StructField("baseVault", StringType), StructField("quoteVault", StringType),
    StructField("baseMint", StringType), StructField("quoteMint", StringType),
    StructField("base_price", DoubleType),
    StructField("quote_price", DoubleType)))

  /** The model ledger of blocks 0 until `bodies.size`, as a DataFrame. */
  def ledgerFrame(spark: SparkSession, bodies: IndexedSeq[IndexedSeq[Tx]]): DataFrame =
    spark.createDataFrame(bodies.indices.flatMap(b => ledger(b, bodies(b))).asJava, ledgerSchema)

  /** The ledger rows `Rugpull.tokenFlows` must emit for block `block`,
    * computed directly from the model: hot-address semi-join, positional
    * wallet override, last-write-wins pre/post merge per (wallet, mint),
    * empty amount as NULL, then the watch-list tags and vault prices. */
  def ledger(block: Int, body: IndexedSeq[Tx]): Seq[Row] = {
    val ts = blockTime0 + block
    val priceOf = hotAddrs.zipWithIndex.map { case (a, i) => a -> price(i) }.toMap
    body.zipWithIndex.flatMap { case (tx, txIdx) =>
      val all = tx.allAddrs
      val hotAt = all.zipWithIndex.collect { case (a, p) if hotSet(a) => p -> a }.toMap
      if (hotAt.isEmpty) Nil
      else {
        def wallet(b: Bal) = hotAt.get(b.accountIndex).filter(_.nonEmpty)
          .orElse(Option(b.owner).filter(_.nonEmpty))
        def last(bs: Seq[Bal]) = bs.flatMap(b => wallet(b).map(w => (w, b.mint) -> b))
          .groupBy(_._1).map { case (k, v) => k -> v.last._2.amount.getOrElse("") }
        val pre = last(tx.pre)
        val post = last(tx.post)
        (pre.keySet ++ post.keySet).toSeq.flatMap { case k @ (w, m) =>
          val p = pre.get(k).filter(_.nonEmpty).orNull
          val q = post.get(k).filter(_.nonEmpty).orNull
          if (p == null && q == null) None
          else {
            val i = hotAddrs.indexOf(w)
            Some(Row(ts, w, s"$ts-$txIdx-1", m, p, q,
              if (i >= 0 && i % 2 == 0) w else null,
              if (i >= 0 && i % 2 == 1) w else null,
              if (baseMints(m)) m else null, if (quoteMints(m)) m else null,
              if (i >= 0 && i % 2 == 0) priceOf(w) else null,
              if (i >= 0 && i % 2 == 1) priceOf(w) else null))
          }
        }
      }
    }
  }
}
