package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. Bench, Verify, Smoke,
  * RugpullDemo, ExplainQ and the shared test session all build through
  * [[local]], so their settings cannot drift apart. (perfbench keeps its
  * own build: it times the build and the registration separately.)
  */
object GraftSession {

  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * time, no UI, WARN logging and the graft SQL functions, planner
    * strategy and optimizer rule registered. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf, default 100: the full query suite generates several
      // hundred codegen classes, so the default LRU recompiles hot
      // stages mid-suite — later queries pay Janino time that isolated
      // runs of the same query don't
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark
  }
}
