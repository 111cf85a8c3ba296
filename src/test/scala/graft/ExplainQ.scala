package graft

/** Plan-dump tool (test scope — not part of the library surface); the
  * `plans/` dumps are made with it. Writes `.explain("formatted")` of each
  * named declared query to `<outDir>/<query>_<tag>.txt`.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "Test/runMain graft.ExplainQ <outDir> <tag> q122_mad_outliers,..."
  * With query list "all", dumps every declared query.
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ExplainQ <outDir> <tag> <q1,q2|all>")
    val Array(outDir, tag, qlist) = args
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark =
      GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val catalog = SparkEntry.catalog
    val specs =
      if (qlist == "all") catalog.sortBy(_.name)
      else qlist.split(",").map(_.trim).toSeq.map(n =>
        catalog.find(_.name == n).getOrElse(sys.error(s"unknown query $n")))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (q <- specs; n = q.name) {
      try {
        val plan = q.build(spark, d).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"),
          plan.getBytes("UTF-8"))
        println(s"[explainq] wrote $outDir/${n}_$tag.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[explainq] $n FAILED: ${e.getMessage}")
      } finally {
        SparkEntry.releaseScopedCaches()
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
