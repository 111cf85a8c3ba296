package graft
import graft.catalog.QuerySpec
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    // Warm-up: pay JVM/codegen/scan-setup cost outside the timed region
    // so the first query's number isn't session startup. Uses only the
    // configured sfDir (no hardcoded dataset path).
    spark.range(100000).selectExpr("sum(id % 7)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    // Sink via the noop data source: every projection/expression executes
    // (a bare count() lets Catalyst prune unused deterministic projections,
    // so projection-heavy queries would never run their hot loops).
    // Best-of-2 per query: the min strips JIT/page-cache cold-start noise
    // (single-run numbers on this box swing ±30%) and approximates the
    // plan's steady-state cost, which is what matters for comparisons.
    // A failed query records -1.0 (never its elapsed time): a query that
    // throws immediately must read as a FAILURE in the JSON, not a
    // near-zero "speedup". Failed names are also listed under "errors".
    def once(q: QuerySpec): Double = {
      val t0 = System.nanoTime()
      try {
        q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
          -1.0
      } finally {
        // Queries persist multi-consumer intermediates through
        // SparkEntry's scoped registry (a lambda can't unpersist what its
        // lazy result still reads) — release them here, outside the timed
        // region, so every run is independent: no cross-query cache
        // accumulation evicting a later query's working set, and no run-2
        // reuse of run-1's caches flattering the min. clearCache stays as
        // the backstop for operator-internal persists.
        SparkEntry.releaseScopedCaches()
        spark.catalog.clearCache()
        // localCheckpoint blocks (the dedup-cluster loops) are freed by
        // the ContextCleaner only after driver GC collects the dropped
        // RDD references — without this, blocks from one query squat in
        // storage memory through later queries' timed runs.
        System.gc()
      }
    }
    // Fixed name order, not catalog (family) order: moving a query between
    // family files must not move it relative to session warmup — sorted
    // order keeps per-query numbers comparable across rounds.
    val results = SparkEntry.catalog.sortBy(_.name).map { q =>
      val (a, b) = (once(q), once(q))
      q.name -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    // The driver captures only the tail of the sbt log; with 75 queries a
    // full-name, full-precision line (~3.5 KB) overflows that window and
    // the summary JSON arrives truncated (unparseable). Keys are therefore
    // the qNN prefix (unique: CatalogSpec checks every name starts with
    // its own qNN_) and seconds are rounded to ms, keeping the line ~1 KB.
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def short(name: String): String = name.takeWhile(_ != '_')
    val qs = results.map { case (k, v) => s"\"" + short(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val errs = failed.map("\"" + short(_) + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // cpus rides every artifact: an 8-core and a 32-core run must never
    // be compared as if they were the same configuration
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","cpus":$cpus}"""
    println(line)
    // The driver captures only the tail of the sbt log, so with ~200
    // queries the per-query map can be truncated in BENCH_r{N}.json.
    // Persist the full artifact (long names, all timings) in the repo so
    // round-over-round regression checks never depend on the log window.
    try {
      val full = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val payload =
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$full,"errors":$errs,"sf":"$sfDir","cpus":$cpus}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_last.json"),
        payload.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench_last.json write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
