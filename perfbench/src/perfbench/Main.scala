package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.GraftFunctions

/** The benchmark's JVM side: builds the session, runs one workload through
  * the library's public entry points, and writes its measurements as JSON
  * for `run.py`, which checks suite outputs and prints the result line.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE --cpus C --launched-ns T
  *                  [--data DIR] [--queries q1,q2,...] [workload parameters]
  *
  * With `--trace 1` the workload first runs on half the window as
  * untraced (with the output checks), then three times on a third of it:
  * untraced, with the listeners of [[Probe]] registered and [[Spans]] on,
  * and untraced again. The per-layer numbers come from the traced run.
  */
object Main {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def dbl(k: String): Double = apply(k).toDouble
  }

  object Args {
    def parse(argv: Array[String]): Args = Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
  }

  /** What one pass of a workload measured. `ops` are the latencies the
    * end-to-end metrics are taken from: one per block for the open loop,
    * one per pass for the closed loops. */
  final case class Outcome(ops: Seq[Double], attempted: Long, failed: Long,
                           headline: Map[String, Double],
                           layer: Map[String, Double] = Map.empty,
                           detail: Map[String, Any] = Map.empty)

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val work = Paths.get(args("work"))
    val cpus = args.int("cpus")
    val trace = args("trace") == "1"

    val (spark0, setup) = Setup.measure(cpus, work, args("launched-ns").toLong)
    var spark = spark0
    val workload = args("workload")
    def withSeconds(share: Double) =
      args.copy(m = args.m + ("seconds" -> (args("seconds").toDouble * share).toString))
    def runOnce(s: SparkSession, tag: String, a: Args, check: Boolean,
                probe: Option[Probe]): Outcome = workload match {
      case "flagship-realtime" => Workloads.realtime(s, a, work.resolve(tag), check, probe)
      case "flagship-backfill" => Workloads.backfill(s, a, work.resolve(tag), check, probe)
      case "suite-heavy" => Workloads.suite(s, a, work.resolve(tag), check)
      case other => sys.error(s"unknown workload $other")
    }

    val plain = runOnce(spark, "plain", if (trace) withSeconds(0.5) else args, check = true, None)
    val layer = mutable.LinkedHashMap.empty[String, Double]
    var traceDetail = Map.empty[String, Any]
    if (trace) {
      // Untraced, traced, untraced again, each on a third of the window:
      // the overhead compares the traced run with the mean of the two
      // around it, so the JVM still warming up does not read as overhead.
      val off1 = runOnce(spark, "off1", withSeconds(1.0 / 3), check = false, None)
      Spans.enable()
      setup.spans.foreach { case (n, s, e) => Spans.record(n, "setup", 0, s, e) }
      val probe = new Probe(spark)
      val gc0 = gcMs()
      val cg0 = codegenMs()
      val traced = runOnce(spark, "traced", withSeconds(1.0 / 3), check = false, Some(probe))
      probe.settle()
      probe.detach()
      Spans.disable()
      val gcOn = gcMs() - gc0
      val cgOn = codegenMs() - cg0
      val off2 = runOnce(spark, "off2", withSeconds(1.0 / 3), check = false, None)
      val ops = math.max(1, traced.detail.getOrElse("units", 1).asInstanceOf[Int]).toDouble
      val t = probe.total
      layer ++= Seq(
        "jobs" -> t.jobs / ops, "stages" -> t.stages / ops, "tasks" -> t.tasks / ops,
        "task_time_s" -> t.taskTimeMs / 1e3 / ops, "task_skew_max" -> t.worstSkew,
        "shuffle_write_mb" -> t.shuffleWriteBytes / 1e6 / ops,
        "spill_mb" -> t.spillBytes / 1e6 / ops,
        "gc_s" -> gcOn / 1e3 / ops,
        "analysis_ms" -> t.analysisMs / ops, "optimization_ms" -> t.optimizationMs / ops,
        "planning_ms" -> t.planningMs / ops,
        "codegen_compile_ms" -> cgOn / ops,
        "tracing_overhead_pct" -> (Stats.median(traced.ops) /
          ((Stats.median(off1.ops) + Stats.median(off2.ops)) / 2) - 1) * 100)
      layer ++= plain.layer ++ traced.layer
      val extra = workload match {
        case "flagship-realtime" =>
          Map("knee_blocks_per_s" -> Workloads.knee(spark, args, work.resolve("knee")))
        case "flagship-backfill" =>
          spark.stop()
          val (one, _) = Setup.build(1, work)
          spark = one
          Map("backfill_1core_mb_per_s" ->
            Workloads.backfill(one, args, work.resolve("one-core"), check = false, None,
              singleCore = true)
              .headline("ledger_mb_per_s"))
        case _ => Map.empty[String, Double]
      }
      layer ++= extra
      traceDetail = Map(
        "scopes" -> probe.scopes.map { case (k, c) => k -> Map(
          "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_time_s" -> c.taskTimeMs / 1e3, "shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
          "spill_mb" -> c.spillBytes / 1e6, "task_skew_max" -> c.worstSkew,
          "analysis_ms" -> c.analysisMs, "optimization_ms" -> c.optimizationMs,
          "planning_ms" -> c.planningMs, "executions" -> c.executions,
          "broadcasts" -> c.broadcasts) },
        "self_time_s" -> Spans.selfTimes.map { case (k, (n, total, self)) =>
          k -> Map("count" -> n, "total_s" -> total, "self_s" -> self) },
        "traced" -> traced.detail)
      Json.write(work.resolve("spans.json"), Spans.all.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    }

    val (tailP, tail) = Stats.tail(plain.ops)
    val result = Map(
      "workload" -> workload, "seed" -> args("seed").toLong, "cpus" -> cpus,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20), "trace" -> (if (trace) 1 else 0),
      "attempted" -> plain.attempted, "failed" -> plain.failed,
      "setup" -> setup.asMap,
      "metrics" -> Map(
        "latency_p50_s" -> Stats.median(plain.ops),
        "latency_tail_s" -> tail),
      "headline" -> plain.headline,
      "layer" -> layer.toMap,
      "detail" -> (plain.detail ++ Map(
        "ops" -> plain.ops.size, "tail_percentile" -> tailP, "peak_rss_mb" -> peakRssMb())
        ++ traceDetail))
    Json.write(Paths.get(args("out")), result)
    spark.stop()
    sys.exit(0)
  }

  /** Total of Spark's codegen compile-time histogram, in ms: exact while
    * its reservoir still holds every sample (up to 1028), past that
    * estimated as compiles × the reservoir's mean. */
  def codegenMs(): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    if (s.size >= h.getCount) s.getValues.map(_.toDouble).sum else h.getCount * s.getMean
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** The JVM's high-water resident set (VmHWM), in MB. */
  def peakRssMb(): Double = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** Session set-up, timed as a user pays it: from the JVM's launch until the
  * session is built and the library's SQL functions are registered. The
  * launcher passes the launch time (`--launched-ns`, wall clock in ns since
  * the epoch).
  *
  *   perfbench.Setup --launched-ns T --cpus C --work DIR --out FILE
  *
  * is a run that only sets up and writes its timing: the launcher starts
  * one before the workload's JVM and reports the median of the two cold
  * set-ups. */
object Setup {
  final case class Timing(setupS: Double, buildS: Double, registerS: Double,
                          spans: Seq[(String, Long, Long)]) {
    def asMap: Map[String, Double] = Map("setup_s" -> setupS, "session_build_s" -> buildS,
      "register_functions_s" -> registerS)
  }

  def build(cpus: Int, work: Path): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    (s, (System.nanoTime() - t0) / 1e9)
  }

  def measure(cpus: Int, work: Path, launchedNs: Long): (SparkSession, Timing) = {
    val t0 = System.nanoTime()
    val (s, buildS) = build(cpus, work)
    val t1 = System.nanoTime()
    GraftFunctions.register(s)
    val t2 = System.nanoTime()
    val now = Instant.now()
    val sinceLaunch = (now.getEpochSecond * 1000000000L + now.getNano - launchedNs) / 1e9
    (s, Timing(sinceLaunch, buildS, (t2 - t1) / 1e9,
      Seq(("session_build", t0, t1), ("register_functions", t1, t2))))
  }

  def main(argv: Array[String]): Unit = {
    val args = Main.Args.parse(argv)
    val (spark, t) = measure(args.int("cpus"), Paths.get(args("work")), args("launched-ns").toLong)
    Json.write(Paths.get(args("out")), t.asMap)
    spark.stop()
    sys.exit(0)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile that leaves at least ten samples beyond it,
    * and its value; the maximum when there are fewer than eleven. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (100.0, s.lastOption.getOrElse(Double.NaN))
    else {
      val i = s.size - 11
      (100.0 * (i + 1) / s.size, s(i))
    }
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def write(p: Path, v: Any): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.writeString(p, render(v))
  }
}
