package graft

/** Local smoke: replicates the driver's t1 check (entry() rows > 0 on
  * sf0.001) and prints the result head so a human can eyeball it. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"[smoke] entry rows=$n (driver requires > 0)")
    assert(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
