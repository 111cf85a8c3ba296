package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided star schema (TESTDATA.md).
  *
  * All catalog queries (`graft/catalog/`) read through here so the scan
  * path is uniform: parquet scans get column pruning + predicate pushdown
  * from Catalyst for free. At cluster scale the same call works on a directory of many files;
  * nothing here assumes single-file inputs.
  */
object Tables {
  /** Per-(session, path) cache of the RESOLVED relation. `spark.read
    * .parquet(path)` re-lists the directory and re-infers the schema from
    * file footers on EVERY call — measured 57–84 ms per call on this box
    * (vs 5.9 ms with the resolution skipped), and every declared query
    * rebuilds its table frames inside the timed region, so the suite paid
    * that metadata work ~2× per query per run. Caching the resolved
    * DataFrame (a logical plan — never row data; every execution still
    * scans the parquet) is what Spark's own session catalog does for named
    * tables, and at cluster scale it is the same win the guide's
    * file-listing cache buys: object-store listings and footer reads
    * happen once per session, not once per query.
    *
    * Contract (unchanged in practice): a path's files are immutable while
    * a session uses it — true for the driver's fixed testdata and the
    * deployment story (snapshot dirs). A session that rewrites a path
    * mid-life must call [[invalidate]] (mirrors Spark's REFRESH TABLE).
    * Keys hold the session WEAKLY so stopped test sessions free their
    * entries. */
  private val relCache = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, DataFrame]]

  def invalidate(): Unit = relCache.synchronized(relCache.clear())

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = relCache.synchronized {
      var m = relCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]
        relCache.put(spark, m)
      }
      m
    }
    perSession.computeIfAbsent(s"$dir/$name.parquet",
      p => spark.read.parquet(p))
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts has shipped in two physical layouts across generator
    * versions: TIMESTAMP(NANOS) (which Spark's vectorized reader rejects —
    * read as a long via the legacy conf and convert losslessly; integer
    * `div`, not `/`, so epoch-nanos never round through a double) and
    * TIMESTAMP(MICROS) without UTC adjustment (which Spark reads as
    * TIMESTAMP_NTZ — cast to TimestampType so downstream time arithmetic
    * sees ONE type; sessions run UTC, so the cast is value-identity).
    * Dispatch on the LOADED dtype rather than pinning a layout: the same
    * query code must run against either vintage of the dataset.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => df
      case org.apache.spark.sql.types.TimestampNTZType =>
        // value-identity under the pinned UTC sessions
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case other =>
        // an unknown vintage must fail LOUDLY: a blind cast would turn
        // malformed values into NULLs (or reinterpret integers as epoch
        // seconds) and every downstream time computation would be
        // silently wrong — the exact failure this dispatch exists to
        // prevent
        sys.error(s"events.ts: unsupported parquet vintage $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
