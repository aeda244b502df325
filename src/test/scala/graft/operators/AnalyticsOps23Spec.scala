package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Closed-form fixtures for the round-12 tranche eleven (q299–q302). */
class AnalyticsOps23Spec extends SparkSpec {

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

  private def writeOrders(dir: String,
      rows: Seq[(Long, Double)]): Unit = {
    import spark.implicits._
    rows.map { case (dayIdx, total) =>
      (new java.sql.Timestamp(dayIdx * 86400000L), total) }
      .toDF("o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  private val day = 86400000L

  test("q299: a perfect knee fits SSE 0 with slopes 10 and 50") {
    val dir = tmp("graft-seg")
    // v(d) = 10d for d <= 6, then 60 + 50(d-6); day 6 sits on BOTH
    // lines, so splits i=5 and i=6 are exact ties at SSE 0 and the
    // earliest-day tiebreak picks day 5
    writeOrders(dir, (1 to 12).map { dd =>
      val v = if (dd <= 6) 10.0 * dd else 60.0 + 50.0 * (dd - 6)
      (dd.toLong, v) })
    val r = SeriesOps.q299SegmentedFit.fn(spark, dir).head()
    assert(r.getAs[Long]("break_day") == 5L)
    assert(r.getAs[Long]("n_days_left") == 5L)
    assert(r.getAs[Long]("n_days_right") == 7L)
    assert(r.getAs[Double]("slope_left") == 10.0)
    assert(r.getAs[Double]("slope_right") == 50.0)
    assert(r.getAs[Double]("sse_scaled") == 0.0)
  }

  test("q300: a perfect weekly pattern backtests to MASE 0") {
    val dir = tmp("graft-mase")
    writeEvents(dir, (1 to 15).map { dd =>
      (dd.toLong, dd * day, "view", (dd % 7 + 1).toDouble) })
    val r = SeriesOps.q300MaseBacktest.fn(spark, dir).head()
    assert(r.getAs[Long]("n_eval_days") == 8L) // days 8..15
    assert(r.getAs[Double]("mae_seasonal") == 0.0)
    assert(r.getAs[Double]("mae_naive1") > 0.0)
    assert(r.getAs[Double]("mase") == 0.0)
  }

  test("q301: a spike floats its whole MA neighborhood over the fence") {
    val dir = tmp("graft-stlo")
    writeEvents(dir, (1 to 28).map { dd =>
      val v = 10.0 + (dd % 2) + (if (dd == 14) 50.0 else 0.0)
      (dd.toLong, dd * day, "view", v) })
    val rows = SeriesOps.q301StlOutlierDays.fn(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r =>
      math.abs(r.getAs[Double]("residual")) > r.getAs[Double]("fence")))
    val top = rows.maxBy(r => math.abs(r.getAs[Double]("residual")))
    assert(top.getAs[Long]("day") == 14L)
  }

  test("q301: a pure weekly pattern flags nothing") {
    val dir = tmp("graft-stlo0")
    writeEvents(dir, (1 to 21).map { dd =>
      val v = if ((dd + 4) % 7 == 0) 13.0 else 10.0
      (dd.toLong, dd * day, "view", v) })
    assert(SeriesOps.q301StlOutlierDays.fn(spark, dir).count() == 0L)
  }

  test("q302: a strict alternation is AR(1)-shaped: pacf1 = -0.9") {
    val dir = tmp("graft-pacf")
    writeEvents(dir, (1 to 10).map { dd =>
      (dd.toLong, dd * day, "view", if (dd % 2 == 0) 3.0 else 1.0) })
    val r = SeriesOps.q302Pacf.fn(spark, dir).head()
    assert(r.getAs[Long]("n_days") == 10L)
    assert(r.getAs[Double]("pacf1") == -0.9) // python recompute
    assert(r.getAs[Double]("pacf2") == -0.052632)
    assert(r.getAs[Double]("pacf3") == 0.055556)
  }
}
