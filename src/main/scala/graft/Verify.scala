package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each catalog query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark =
      GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val catalog = SparkEntry.catalog
    catalog.foreach { q =>
      try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      } finally {
        // release query-scoped persists (registry), then any
        // operator-internal leftovers (catalog backstop)
        SparkEntry.releaseScopedCaches()
        spark.catalog.clearCache()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = catalog
      .flatMap(c => c.oracle.map(sql => s"${q(c.name)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
