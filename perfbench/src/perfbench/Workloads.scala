package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.atomic.{AtomicInteger, AtomicLongArray}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, collect_set, count, lit, sum, xxhash64}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.domain.Rugpull
import graft.streaming.Streams

import Main.{Args, Outcome}

object Workloads {

  // The fixed shape of the runs; config.json holds what defines a workload.
  /** Open loop: rounds of blocks landed at once and awaited before the schedule. */
  private val WarmRounds = 2
  private val WarmRoundBlocks = 2
  /** Open loop: scheduled seconds at the start left out of the latency. */
  private val WarmupS = 2.0
  private val DrainS = 20.0
  /** The realtime target: tail latency at most this many seconds. */
  private val LatencyLimitS = 2.0
  private val KneeRates = Seq(1.0, 2.5, 5.0)
  private val KneeStepS = 5.0
  /** Backfill warm-up: passes over one block, then over the whole set. */
  private val BackfillWarmBlockPasses = 2
  private val BackfillWarmFullPasses = 1
  /** Closed loops: nominal seconds per timed pass (see [[timedPasses]]). */
  private val BackfillPassS = 2.0
  private val SuitePassS = 5.0

  private def mb(bytes: Long) = bytes / 1e6

  private def writeBlock(dir: Path, b: Int, bytes: Array[Byte]): Unit = {
    val tmp = dir.resolve(f".b$b%06d.json.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(f"b$b%06d.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Per block time: ledger row count and an order-independent digest of
    * the rows (sum of their 64-bit hashes). */
  private def digests(ledger: DataFrame): Map[Long, (Long, BigDecimal)] =
    ledger.groupBy("timestamp")
      .agg(count(lit(1)), sum(xxhash64(ledger.columns.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)")))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap

  /** Block times whose ledger rows differ from the reference's, or that
    * either side lacks. */
  private def differingBlocks(got: DataFrame, want: DataFrame): Set[Long] = {
    val (g, w) = (digests(got), digests(want))
    (g.keySet ++ w.keySet).filter(k => g.get(k) != w.get(k)).toSet
  }

  // ---------------------------------------------------------------------
  // flagship-realtime: open loop into Streams.tokenFlowsStream
  // ---------------------------------------------------------------------

  /** One open-loop feed: `n` blocks land at `rate` per second in a directory
    * the flagship stream watches; each block's latency runs from its due
    * time to the end of the sink write of the micro-batch that holds it. */
  final class Feed(spark: SparkSession, gen: Blocks, dir: Path,
                   blocks: IndexedSeq[Array[Byte]], rate: Double, warmRounds: Int) {
    val n: Int = blocks.size
    private val in = Files.createDirectories(dir.resolve("in"))
    private val out = dir.resolve("out").toString
    private val tick = (1e9 / rate).toLong
    private val done = new AtomicLongArray(n)
    private val landed = new AtomicInteger(0)
    @volatile private var consumed = 0
    val sinks = mutable.ArrayBuffer.empty[(Long, Long, Long, Int, Int)] // batch, start, end, blocks, backlog
    var lagMaxMs = 0.0
    var t0 = 0L
    /** The first block fed on the schedule; earlier ones were warm-up. */
    var first = 0

    def due(b: Int): Long = t0 + b * tick

    def run(drainS: Double): Unit = {
      val q = Streams.tokenFlowsStream(spark, in.toString, gen.hot(spark),
        gen.watchlists(spark), gen.prices(spark), blocksPerTrigger = 0,
        trigger = Trigger.ProcessingTime("200 milliseconds")) { (df: DataFrame, id: Long) =>
        val start = System.nanoTime()
        val waiting = landed.get
        val obs = Observation(s"blocks-$id")
        df.observe(obs, collect_set(col("timestamp")).as("ts"))
          .write.mode("append").parquet(out)
        val end = System.nanoTime()
        val ts = obs.get("ts").asInstanceOf[scala.collection.Seq[Long]]
        ts.foreach(t => done.set((t - gen.blockTime0).toInt, end))
        consumed += ts.size
        sinks += ((id, start, end, ts.size, waiting - consumed))
      }
      try {
        // Warm-up rounds: land `warmRounds` groups of blocks at once and
        // wait for each to pass through, so the cold first micro-batches
        // (class loading, JIT, code generation) stay out of the schedule.
        var b = 0
        (0 until warmRounds).foreach { _ =>
          val upTo = math.min(n, b + WarmRoundBlocks)
          while (b < upTo) { writeBlock(in, b, blocks(b)); landed.incrementAndGet(); b += 1 }
          while (consumed < b && q.isActive) Thread.sleep(10)
        }
        first = b
        t0 = System.nanoTime() + 300000000L - first * tick
        while (b < n) {
          var now = System.nanoTime()
          while (now < due(b)) {
            Thread.sleep(math.max(1L, (due(b) - now) / 2000000L)); now = System.nanoTime()
          }
          lagMaxMs = math.max(lagMaxMs, (now - due(b)) / 1e6)
          writeBlock(in, b, blocks(b))
          landed.incrementAndGet()
          b += 1
        }
        val deadline = due(n - 1) + (drainS * 1e9).toLong
        while (consumed < n && System.nanoTime() < deadline && q.isActive) Thread.sleep(20)
      } finally {
        q.stop()
        q.awaitTermination(60000)
      }
      q.exception.foreach(e => throw e)
    }

    /** Latency in seconds of every scheduled block that reached the sink. */
    def latencies: IndexedSeq[Option[Double]] = (first until n).map { b =>
      val d = done.get(b)
      if (d == 0L) None else Some((d - due(b)) / 1e9)
    }

    /** Blocks (all of them, warm-up included) that never reached the sink. */
    def missing: Seq[Int] = (0 until n).filter(done.get(_) == 0L)

    def ledger: DataFrame = spark.read.parquet(out)
  }

  /** Wall time of each preparation and measurement phase of a run. */
  final class Phases {
    val s = mutable.LinkedHashMap.empty[String, Double]
    def apply[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally s(name) = s.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    }
  }

  def realtime(spark: SparkSession, args: Args, dir: Path, check: Boolean,
               probe: Option[Probe]): Outcome = {
    val phase = new Phases
    val gen = new Blocks(args("seed").toLong)
    val rate = args.dbl("rate")
    val nTx = args.int("block-tx")
    val n = WarmRounds * WarmRoundBlocks +
      math.ceil(rate * (WarmupS + args("seconds").toDouble)).toInt
    val bodies = phase("generate")((0 until n).map(b => gen.txs(b, nTx)))
    val blocks = phase("generate")(bodies.zipWithIndex.map { case (t, b) => gen.json(b, t) })
    val profile = gen.profile(bodies)

    Probe.scope(spark, "stream")
    val feed = new Feed(spark, gen, dir, blocks, rate, WarmRounds)
    phase("feed")(feed.run(DrainS))
    val lat = feed.latencies
    val measured = lat.drop(math.ceil(WarmupS * rate).toInt).flatten

    // A block fails once, whether it never reached the sink by the drain
    // deadline or its ledger rows differ from the reference.
    Probe.scope(spark, "_check")
    val missing = feed.missing.map(gen.blockTime0 + _).toSet
    val wrong = if (!check) Set.empty[Long]
      else phase("check")(differingBlocks(feed.ledger, gen.ledgerFrame(spark, bodies)))

    val (tailP, tail) = Stats.tail(measured)
    val layer = mutable.LinkedHashMap[String, Double](
      "generator_lag_max_ms" -> feed.lagMaxMs,
      "source_backlog_max_blocks" -> feed.sinks.map(_._5.toDouble).maxOption.getOrElse(0.0),
      "sink_ms_p50" -> Stats.median(feed.sinks.map(s => (s._3 - s._2) / 1e6).toSeq))
    probe.foreach { p =>
      p.settle()
      val events = p.progress.asScala.toSeq.map(_.progress)
      def d(e: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
        Option(e.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val sinkOf = feed.sinks.map(s => s._1 -> s).toMap
      // Trigger phases become spans: Spark reports each phase's duration;
      // they run in this order within the trigger.
      val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
      events.foreach { e =>
        val start = Instant.parse(e.timestamp).toEpochMilli * 1000000L + offsetNs
        val trig = Spans.record("trigger", e.batchId.toString, 0, start,
          start + (d(e, "triggerExecution") * 1e6).toLong)
        var at = start
        Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets").foreach { k =>
          val end = at + (d(e, k) * 1e6).toLong
          val id = Spans.record(k, e.batchId.toString, trig, at, end)
          if (k == "addBatch") sinkOf.get(e.batchId).foreach(s =>
            Spans.record("sink", e.batchId.toString, id, s._2, s._3))
          at = end
        }
      }
      layer ++= Seq(
        "trigger_ms_p50" -> Stats.median(events.map(d(_, "triggerExecution"))),
        "latest_offset_ms_p50" -> Stats.median(events.map(d(_, "latestOffset"))),
        "commit_ms_p50" -> Stats.median(events.map(e => d(e, "walCommit") + d(e, "commitOffsets"))),
        "add_batch_ms_p50" -> Stats.median(events.map(d(_, "addBatch"))),
        "tokenflows_build_ms_p50" -> Stats.median(events.flatMap(e => sinkOf.get(e.batchId)
          .map(s => d(e, "addBatch") - (s._3 - s._2) / 1e6))),
        "blocks_per_batch_p50" -> Stats.median(feed.sinks.collect { case s if s._4 > 0 => s._4.toDouble }.toSeq),
        "broadcasts_per_batch" -> p.total.broadcasts.toDouble / math.max(1, events.size))
    }
    val bytes = blocks.map(_.length.toLong).sum
    Outcome(measured, attempted = n, failed = (missing ++ wrong).size,
      headline = Map("block_latency_p50_s" -> Stats.median(measured),
        s"block_latency_p${tailP.round}_s" -> tail),
      layer = layer.toMap,
      detail = Map("units" -> feed.sinks.size, "blocks" -> n, "measured_blocks" -> measured.size,
        "missing_blocks" -> missing.size, "wrong_blocks" -> wrong.size,
        "mb_per_block" -> mb(bytes) / n, "tx_per_block" -> nTx,
        "hot_tx_share" -> profile.hotTxs.toDouble / profile.txs, "rate_blocks_per_s" -> rate,
        "batches" -> feed.sinks.size, "phase_s" -> phase.s,
        "sink_ms" -> feed.sinks.map(s => ((s._3 - s._2) / 1e6).round),
        "batch_blocks" -> feed.sinks.map(_._4),
        "latency_s" -> lat.map(_.getOrElse(Double.NaN)),
        "blocks_per_batch_max" -> feed.sinks.map(_._4).maxOption.getOrElse(0)))
  }

  /** Highest of a few fixed arrival rates at which the stream keeps its
    * tail latency within the limit without a growing backlog. */
  def knee(spark: SparkSession, args: Args, dir: Path): Double = {
    val gen = new Blocks(args("seed").toLong)
    val nTx = args.int("block-tx")
    val pool = (0 until 8).map(b => gen.txs(b, nTx))
    var best = 0.0
    var ok = true
    KneeRates.foreach { rate =>
      if (ok) {
        val n = math.ceil(rate * KneeStepS).toInt
        val feed = new Feed(spark, gen, dir.resolve(s"rate-$rate"),
          (0 until n).map(b => gen.json(b, pool(b % pool.size))), rate, warmRounds = 0)
        feed.run(LatencyLimitS * 2)
        val lat = feed.latencies
        val backlog = feed.sinks.map(_._5)
        val growing = backlog.size >= 4 &&
          backlog.takeRight(backlog.size / 2).max > backlog.take(backlog.size / 2).max + 1
        ok = lat.forall(_.isDefined) && Stats.tail(lat.flatten)._2 <= LatencyLimitS && !growing
        if (ok) best = rate
      }
    }
    best
  }

  /** Timed passes of a closed loop: as many as fill the window at a
    * nominal pass time. The count depends on the window only, not
    * on how fast the program runs: a faster program given more passes would
    * also get more JIT warm-up, and its median would move for that reason. */
  private def timedPasses(args: Args, nominalS: Double): Int =
    math.max(1, math.round(args("seconds").toDouble / nominalS).toInt)

  // ---------------------------------------------------------------------
  // flagship-backfill: closed loop through Rugpull.parseBlocks/tokenFlows
  // ---------------------------------------------------------------------

  def backfill(spark: SparkSession, args: Args, dir: Path, check: Boolean,
               probe: Option[Probe], singleCore: Boolean = false): Outcome = {
    val phase = new Phases
    val gen = new Blocks(args("seed").toLong)
    val nBlocks = args.int("blocks")
    val nTx = args.int("block-tx")
    val in = Files.createDirectories(dir.resolve("in"))
    val bodies = phase("generate")((0 until nBlocks).map(b => gen.txs(b, nTx)))
    var bytes = 0L
    phase("generate")(bodies.zipWithIndex.foreach { case (t, b) =>
      val j = gen.json(b, t); bytes += j.length; writeBlock(in, b, j)
    })
    val hot = gen.hot(spark); val wl = gen.watchlists(spark); val px = gen.prices(spark)
    def ledger(from: Path = in): DataFrame =
      Rugpull.tokenFlows(Rugpull.parseBlocks(spark, from.toString), hot, wl, px)

    val build = mutable.ArrayBuffer.empty[Double]
    val exec = mutable.ArrayBuffer.empty[Double]
    def pass(i: Int, from: Path = in): Double = Spans("ledger_pass", i.toString) {
      val t0 = System.nanoTime()
      val df = Spans("tokenflows_build", i.toString)(ledger(from))
      val t1 = System.nanoTime()
      Spans("ledger_exec", i.toString)(df.write.format("noop").mode("overwrite").save())
      val t2 = System.nanoTime()
      build += (t1 - t0) / 1e6; exec += (t2 - t1) / 1e9
      (t2 - t0) / 1e9
    }
    // The single-core baseline is one cold pass. Otherwise the JIT warms up
    // first: on one block (the cold first pass costs about the same on one
    // block as on all of them), then on the whole set.
    val warmed = if (singleCore) 0 else BackfillWarmBlockPasses + BackfillWarmFullPasses
    if (!singleCore) {
      val warm = Files.createDirectories(dir.resolve("warm"))
      Files.copy(in.resolve(f"b${0}%06d.json"), warm.resolve("b.json"))
      Probe.scope(spark, "_warmup")
      phase("warmup") {
        (0 until BackfillWarmBlockPasses).foreach(pass(_, warm))
        (BackfillWarmBlockPasses until warmed).foreach(pass(_))
      }
    }
    build.clear(); exec.clear()
    Probe.scope(spark, "ledger")
    val passes = if (singleCore) 1 else timedPasses(args, BackfillPassS)
    val times = phase("measure")((0 until passes).map(i => pass(warmed + i)))
    val perPass = Stats.median(times.toSeq)
    if (singleCore) return Outcome(times.toSeq, times.size, 0, Map("ledger_mb_per_s" -> mb(bytes) / perPass))

    // Output check against the ledger the block model implies.
    Probe.scope(spark, "_check")
    val wrong = if (!check) 0L
      else phase("check")(differingBlocks(ledger(), gen.ledgerFrame(spark, bodies)).size.toLong)
    val profile = gen.profile(bodies)

    val layer = mutable.LinkedHashMap("tokenflows_build_ms_p50" -> Stats.median(build.toSeq),
      "ledger_exec_s" -> Stats.median(exec.toSeq))
    if (probe.isDefined) {
      Probe.scope(spark, "_parse")
      val parse = Spans("parse", "parse") {
        val t = System.nanoTime()
        Rugpull.parseBlocks(spark, in.toString).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      layer ++= Seq("parse_s" -> parse, "parse_mb_per_s" -> mb(bytes) / parse)
    }
    Outcome(times.toSeq, attempted = warmed + times.size + nBlocks,
      failed = wrong,
      headline = Map("ledger_mb_per_s" -> mb(bytes) / perPass),
      layer = layer.toMap,
      detail = Map("units" -> times.size, "passes_s" -> times.toSeq,
        "blocks" -> nBlocks, "mb" -> mb(bytes), "mb_per_block" -> mb(bytes) / nBlocks,
        "tx_per_block" -> nTx, "txs" -> profile.txs, "hot_txs" -> profile.hotTxs,
        "hot_tx_ratio" -> profile.hotTxs.toDouble / profile.txs,
        "balance_entries" -> profile.entries,
        "wrong_blocks" -> wrong, "phase_s" -> phase.s))
  }

  // ---------------------------------------------------------------------
  // suite-heavy: catalog queries through SparkEntry
  // ---------------------------------------------------------------------

  /** Run a fixed query list. With `check`, the first (untimed) pass writes
    * every result (and its oracle SQL) for `run.py` to compare against
    * DuckDB; otherwise it writes to `noop`. The timed passes write to `noop`. */
  def suite(spark: SparkSession, args: Args, dir: Path, check: Boolean): Outcome = {
    val phase = new Phases
    val data = args("data")
    val names = args("queries").split(",").toSeq
    val catalog = SparkEntry.queries
    val failed = mutable.LinkedHashSet.empty[String]
    var attempted = 0L

    def one(pass: Int, name: String)(sink: DataFrame => Unit): Double = {
      Probe.scope(spark, if (pass == 0) "_warmup" else name)
      attempted += 1
      val t0 = System.nanoTime()
      try {
        Spans("query", s"$name/$pass")(sink(catalog(name)(spark, data)))
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          failed += name
          Double.NaN
      } finally {
        SparkEntry.releaseScopedCaches()
        spark.catalog.clearCache()
        System.gc()
      }
    }

    def noopPass(p: Int): Map[String, Double] =
      names.map(n => n -> one(p, n)(_.write.format("noop").mode("overwrite").save())).toMap
    phase("warmup") {
      if (check) {
        names.foreach(n => one(0, n)(_.coalesce(1).write.mode("overwrite")
          .parquet(dir.resolve("out").resolve(n).toString)))
        Json.write(dir.resolve("oracle.json"),
          names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
      } else noopPass(0)
    }

    val passes = (1 to timedPasses(args, SuitePassS)).map(p =>
      phase("measure")(Spans("suite_pass", p.toString)(noopPass(p))))
    Probe.scope(spark, "default")
    val totals = passes.map(_.values.sum).toSeq
    val perQuery = names.map(n => n -> Stats.median(passes.map(_(n)).toSeq)).toMap
    Outcome(totals, attempted, failed.size.toLong,
      headline = Map("suite_total_s" -> Stats.median(totals)),
      layer = perQuery.map { case (n, v) => s"${n}_s" -> v },
      detail = Map("units" -> passes.size, "passes_s" -> totals, "query_s" -> perQuery,
        "failed_queries" -> failed.toSeq, "phase_s" -> phase.s))
  }
}
