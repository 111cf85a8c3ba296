package graft
package catalog

import java.nio.file.Files

class StatsQueriesSpec extends SparkSpec {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    (s((n + 1) / 2 - 1) + s(n / 2)) / 2
  }
  private def roundU(x: Double): Double = math.floor(x * 100 + 0.5) / 100

  test("q122_mad_outliers ranks ±Infinity prices in the median and MAD") {
    // a minority of ±Inf prices per flag: the median stays finite, every
    // infinite price deviates by +Inf and counts as an outlier
    val finite = (0 until 60).map(i => (i * 37 % 101) * 10.5 + i)
    val rows: Seq[(String, Double)] =
      finite.take(40).map("A" -> _) ++
        Seq.fill(3)("A" -> Double.NegativeInfinity) ++
        Seq.fill(2)("A" -> Double.PositiveInfinity) ++
        finite.slice(40, 51).map("N" -> _) :+
        ("N" -> Double.PositiveInfinity) :+
        ("N" -> 1e6) // a finite outlier beside the infinite one
    val dir = Files.createTempDirectory("graft-q122").toFile
    try {
      import spark.implicits._
      rows.toDF("l_returnflag", "l_extendedprice")
        .write.parquet(s"$dir/lineitem.parquet")
      val got = SparkEntry.queries("q122_mad_outliers")(spark, dir.toString)
        .collect().map(r => r.getString(0) ->
          ((r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4))))
        .toMap
      val want = rows.groupBy(_._1).map { case (flag, vs) =>
        val xs = vs.map(_._2)
        val med = median(xs)
        val mad = median(xs.map(x => math.abs(x - med)))
        flag -> ((roundU(med), roundU(mad),
          xs.count(x => math.abs(x - med) > 3.0 * mad).toLong,
          xs.length.toLong))
      }
      assert(got === want)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
