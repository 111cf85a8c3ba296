package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.domain.TokenFlows
import graft.catalog.{GraphQueries, MultimodalQueries, QuerySpec,
  RelationalQueries, RugpullQueries, StatsQueries, StreamingQueries,
  TextQueries}

/** Driver contract: the flagship [[entry]] and the query catalog.
  *
  * Every query is one [[QuerySpec]] (build plus DuckDB oracle) in its
  * family's file under `graft/catalog/`. Names are stable ids matched
  * against SURVEY.md §2.
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.2 token-flow slice) on sf0.001; driver
    * smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TokenFlows.eventLedger(spark, "/root/testdata/sf0.001")

  // Query-scoped persisted intermediates. A query lambda cannot unpersist
  // what its (still lazy) result reads, so multi-consumer intermediates
  // persist through [[scoped]] and the CONSUMER releases them once the
  // result is materialized — Bench and Verify call [[releaseScopedCaches]]
  // after every query; external callers should do the same. A queue, not a
  // set: best-of-2 bench runs build the same query twice, registering two
  // independent cache handles.
  private val scopedCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
  private[graft] def scoped(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scopedCaches.add(p)
    p
  }
  /** Unpersist every intermediate registered by query builders since the
    * last call. Safe to call at any time: queries re-persist on rebuild. */
  def releaseScopedCaches(): Unit = {
    var d = scopedCaches.poll()
    while (d != null) { d.unpersist(blocking = false); d = scopedCaches.poll() }
  }

  /** Every query, family by family. A def, not a val: q332's oracle embeds
    * the MPEG-1 window table currently installed (`Mpeg1Audio.windowTable`),
    * so its text must be rebuilt after an install. */
  def catalog: Seq[QuerySpec] =
    RelationalQueries.specs ++ TextQueries.specs ++ GraphQueries.specs ++
      StatsQueries.specs ++ MultimodalQueries.specs ++
      StreamingQueries.specs ++ RugpullQueries.specs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.build).toMap
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
