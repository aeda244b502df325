package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Closed-form fixtures for the round-12 tranche eight (q287–q291). */
class AnalyticsOps20Spec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeEvents(dir: String,
      rows: Seq[(Long, Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.map { case (id, ms, t, v) =>
      (id, new java.sql.Timestamp(ms), 1L, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private val day = 86400000L
  private val hour = 3600000L

  test("q287: [1,1,1,10] has G = 1.5 on the high side; constant p = 1") {
    val dir = tmp("graft-grubbs")
    writeEvents(dir, Seq(
      (1L, 1 * day, "view", 1.0), (2L, 2 * day, "view", 1.0),
      (3L, 3 * day, "view", 1.0), (4L, 4 * day, "view", 10.0),
      (5L, 1 * day, "click", 7.0), (6L, 2 * day, "click", 7.0),
      (7L, 3 * day, "click", 7.0)))
    val out = StatsOps.q287Grubbs.fn(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val v = out("view")
    assert(v.getAs[Long]("extreme_cents") == 1000L)
    assert(v.getAs[Double]("g_stat") == 1.5)
    assert(v.getAs[Double]("p_bonf") == 0.534457848) // python A&S recompute
    val c = out("click")
    assert(c.getAs[Double]("g_stat") == 0.0 &&
      c.getAs[Double]("p_bonf") == 1.0)
  }

  test("q288: a pure 2x rescale fits slope 2, intercept 0, r2 1") {
    val dir = tmp("graft-qq")
    // days 1,2 -> mid 1; late value = 2 * early value
    writeEvents(dir, Seq(
      (1L, 1 * day, "view", 1.0), (2L, 1 * day, "view", 3.0),
      (3L, 2 * day, "view", 2.0), (4L, 2 * day, "view", 6.0)))
    val r = StatsOps.q288QqDriftFit.fn(spark, dir).head()
    assert(r.getAs[Long]("n_early") == 2L && r.getAs[Long]("n_late") == 2L)
    assert(r.getAs[Double]("qq_slope") == 2.0)
    assert(r.getAs[Double]("qq_intercept") == 0.0)
    assert(r.getAs[Double]("qq_r2") == 1.0)
  }

  test("q289: near-alternating series mean-reverts with beta < 0") {
    val dir = tmp("graft-df")
    val vals = Seq(1.0, 3.0, 1.0, 3.0, 1.0, 3.0, 1.0, 5.0, 1.0)
    writeEvents(dir, vals.zipWithIndex.map { case (v, i) =>
      ((i + 1).toLong, (i + 1) * day, "view", v) })
    val r = SeriesOps.q289DickeyFuller.fn(spark, dir).head()
    assert(r.getAs[Long]("n_obs") == 8L)
    assert(r.getAs[Double]("beta") == -1.806452) // python recompute
    assert(r.getAs[Double]("df_stat") == -7.483315)
  }

  test("q289: a calendar gap drops the straddling pair") {
    val dir = tmp("graft-dfgap")
    // days 1,2,4,5: pairs (1,2) and (4,5) only
    writeEvents(dir, Seq((1L, 1 * day, "view", 1.0),
      (2L, 2 * day, "view", 3.0), (3L, 4 * day, "view", 1.0),
      (4L, 5 * day, "view", 3.0)))
    assert(SeriesOps.q289DickeyFuller.fn(spark, dir).head()
      .getAs[Long]("n_obs") == 2L)
  }

  test("q290: a pure weekly pattern scores F_S = 1, F_T = 0") {
    val dir = tmp("graft-stl")
    writeEvents(dir, (1 to 21).map { dd =>
      val v = if ((dd + 4) % 7 == 0) 13.0 else 10.0
      (dd.toLong, dd * day, "view", v) })
    val r = SeriesOps.q290SeasonalStrength.fn(spark, dir).head()
    assert(r.getAs[Long]("n_days_used") == 15L) // 21 minus 3 each edge
    assert(r.getAs[Double]("f_seasonal") == 1.0)
    assert(r.getAs[Double]("f_trend") == 0.0) // deseasonalized is flat
  }

  test("q291: strict alternation gives R/S = 1 at all sizes, H = 0") {
    val dir = tmp("graft-hurst")
    writeEvents(dir,
      (0 until 32).map { h =>
        ((h + 1).toLong, h * hour, "view",
          if (h % 2 == 0) 1.0 else 3.0) } ++
      (0 until 32).map { h => // constant stream: all blocks sd 0
        ((h + 100).toLong, h * hour, "click", 5.0) })
    val rows = SeriesOps.q291HurstRs.fn(spark, dir).collect()
    assert(rows.length == 1) // click has no scoreable block
    val r = rows.head
    assert(r.getAs[String]("event_type") == "view")
    assert(r.getAs[Double]("rs8") == 1.0)
    assert(r.getAs[Double]("rs16") == 1.0)
    assert(r.getAs[Double]("rs32") == 1.0)
    assert(r.getAs[Double]("hurst") == 0.0)
  }
}
