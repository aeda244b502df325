package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SilverToGoldSpec extends SparkSpec {

  private lazy val cfg = EtlConfig(
    referenceInstant = Some(Fixtures.DefaultStart.plusSeconds(6 * 3600)))
  private lazy val silver = BronzeToSilver.run(
    Fixtures.bronzeTelemetry(spark, nDevices = 5, rowsPerDevice = 100),
    Fixtures.deviceCatalog(spark, 5), cfg).cache()
  private lazy val daily = SilverToGold.dailyEnergyConsumption(silver, cfg)
  private lazy val health = SilverToGold.deviceHealthMetrics(silver, cfg)
  private lazy val summary =
    SilverToGold.dailyBusinessSummary(daily, health, cfg)

  test("A1: one row per (device, type, user, date); sums reconcile") {
    assert(daily.count() == 5) // 5 devices × 1 date
    val wh = daily.agg(sum("energy_consumption_wh_sum")).head().getDouble(0)
    val silverWh = silver.agg(sum("energy_consumption_wh")).head().getDouble(0)
    assert(math.abs(wh - silverWh) < 0.01)
    assert(daily.filter(col("total_readings") === 100).count() == 5)
  }

  test("A2: cost estimate = sum_wh/1000 × 0.12, rounded 2") {
    daily.select("energy_consumption_wh_sum", "energy_cost_estimate")
      .collect().foreach { r =>
        val expect = BigDecimal(r.getDouble(0) / 1000 * 0.12)
          .setScale(2, BigDecimal.RoundingMode.HALF_EVEN).toDouble
        assert(math.abs(r.getDouble(1) - expect) < 1e-9)
      }
  }

  test("A4: health formulas bounded and consistent") {
    health.collect().foreach { r =>
      val h = r.getAs[Double]("health_score")
      val f = r.getAs[Double]("failure_probability")
      val rel = r.getAs[Double]("data_reliability")
      assert(h >= 0 && h <= 1, s"health $h")
      assert(f >= 0 && f <= 1, s"failure $f")
      assert(rel >= 0 && rel <= 1, s"reliability $rel")
      assert(r.getAs[Double]("uptime_percentage") <= 100.0)
    }
    // clean fixture: all rows valid, none late → health ≥ 0.7·1 formula floor
    assert(health.filter(col("health_score") < 0.7).count() == 0)
  }

  test("A4: uptime = count/elapsed-minutes × 100, capped at 100") {
    // 100 readings at 1/s → elapsed 99 s = 1.65 min → way over 100 → capped
    assert(health.filter(col("uptime_percentage") === 100.0).count() == 5)
  }

  test("A5/A6/J2: business summary attaches global health constants") {
    assert(summary.count() == 1)
    val r = summary.head()
    assert(r.getAs[Long]("active_devices") == 5)
    assert(r.getAs[Long]("active_users") == 2)
    val kwh = r.getAs[Double]("total_energy_kwh")
    val wh = r.getAs[Double]("total_energy_wh")
    assert(math.abs(kwh - BigDecimal(wh / 1000)
      .setScale(3, BigDecimal.RoundingMode.HALF_EVEN).toDouble) < 1e-9)
    // J2 constants equal the device_health global means
    val gh = health.agg(bround(avg("health_score"), 3)).head().getDouble(0)
    assert(r.getAs[Double]("avg_device_health") == gh)
    // cost_per_kwh = round(total_cost/total_kwh, 3) — note it deviates
    // from the raw rate because per-device costs round at 2dp first
    val expectCpk = BigDecimal(r.getAs[Double]("total_cost_estimate") / kwh)
      .setScale(3, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    assert(math.abs(r.getAs[Double]("cost_per_kwh") - expectCpk) < 1e-9)
  }

  test("gold roundtrip through the lake preserves rows and partitions") {
    val root = java.nio.file.Files.createTempDirectory("graft-lake").toString
    Lake.writeSilver(silver, root)
    val back = Lake.readSilver(spark, root, daysBack = 7, cfg)
    assert(back.count() == silver.count())
    // date is a partition column and pruning predicate works
    assert(back.select("date").distinct().count() == 1)
    Lake.writeGold(daily, health, summary, root)
    assert(spark.read.parquet(s"$root/gold/daily_energy_consumption")
      .count() == 5)
    // daily energy is date-partitioned like the refinery writes it:
    // one date= directory per date, no flat files beside them
    val dailyDir = new java.io.File(s"$root/gold/daily_energy_consumption")
    val dateDirs = dailyDir.listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dateDirs == daily.select("date").distinct().collect()
      .map(r => s"date=${r.getDate(0)}").sorted.toSeq)
    assert(!dailyDir.listFiles().exists(_.getName.endsWith(".parquet")))
  }

  test("A8 KPI fallback chain: gold-today, silver-24h, business-summary branches") {
    import spark.implicits._
    val empty = Seq.empty[(String, java.sql.Date, Double, Double, Long)]
      .toDF("device_id", "date", "energy_consumption_wh_sum",
        "energy_cost_estimate", "total_readings")
    val emptySilver = silver.filter(lit(false))
    val emptySummary = summary.filter(lit(false))
    val emptyHealth = health.filter(lit(false))

    // branch 1: gold has today's rows → gold KPIs
    val fromGold = DashboardQueries.kpis(daily, emptySilver, summary, health, cfg).head()
    val goldExpect = DashboardQueries.todayKpis(daily, cfg).head()
    assert(fromGold.getDouble(0) == goldExpect.getDouble(0))
    assert(fromGold.getLong(2) == goldExpect.getLong(2))
    assert(fromGold.getDouble(3) > 0) // health gauge attached

    // branch 2: no gold → silver last-24h
    val fromSilver = DashboardQueries.kpis(empty, silver, summary, health, cfg).head()
    val silverExpect = DashboardQueries.last24hKpis(silver, cfg).head()
    assert(fromSilver.getDouble(0) == silverExpect.getDouble(0))
    assert(fromSilver.getDouble(1) == silverExpect.getDouble(1))

    // branch 3: no gold, no silver → latest business summary row
    val fromSummary = DashboardQueries.kpis(empty, emptySilver, summary, health, cfg).head()
    val summaryExpect = DashboardQueries.latestBusinessSummary(summary).head()
    assert(fromSummary.getDouble(0) ==
      summaryExpect.getAs[Double]("total_energy_kwh"))
    assert(fromSummary.getDouble(1) ==
      summaryExpect.getAs[Double]("total_cost_estimate"))

    // everything empty → zeros (reference's zeroed dict)
    val zeros = DashboardQueries.kpis(empty, emptySilver, emptySummary,
      emptyHealth, cfg).head()
    assert(zeros.getDouble(0) == 0.0 && zeros.getLong(2) == 0L &&
      zeros.getDouble(3) == 0.0)
  }

  test("dashboard queries return coherent panels") {
    val kpi = DashboardQueries.todayKpis(daily, cfg).head()
    assert(kpi.getAs[Long]("active_devices") == 5)
    assert(DashboardQueries.energyByDeviceType(daily).count() == 5)
    val gauge = DashboardQueries.healthGauge(health).head()
    assert(gauge.getAs[Double]("avg_health_score") > 0.7)
    val live = DashboardQueries.liveTelemetry(silver, hoursBack = 24,
      limit = 100, cfg = cfg)
    assert(live.count() == 100)
    // approx KPI variant agrees with exact at tiny cardinality
    val approx = DashboardQueries.todayKpisApprox(daily, cfg).head()
    assert(approx.getAs[Long]("active_devices") == 5)
    assert(approx.getAs[Double]("total_cost") == kpi.getAs[Double]("total_cost"))
    // scatter: one point per device, all columns present
    val scatter = DashboardQueries.deviceHealthScatter(health)
    assert(scatter.count() == 5)
    assert(scatter.columns.contains("failure_probability"))
  }
}
