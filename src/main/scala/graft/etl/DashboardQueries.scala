package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference dashboard's analytic queries (dashboard/app.py:
  * 277-677) as a DataFrame API — the platform's "real queries"
  * (SURVEY §3.3, M5). Each takes the gold/silver frames as inputs and
  * returns a DataFrame; callers decide materialization.
  */
object DashboardQueries {

  /** app.py:290-304 headline KPI row: today's energy (kWh), cost,
    * active devices from gold daily_energy (F9 date filter + A8
    * scalar aggregation). */
  def todayKpis(dailyEnergy: DataFrame, cfg: EtlConfig = EtlConfig()): DataFrame = {
    val today = java.sql.Date.valueOf(
      cfg.now.atZone(java.time.ZoneOffset.UTC).toLocalDate)
    dailyEnergy.filter(col("date") === lit(today)).agg(
      bround(sum(col("energy_consumption_wh_sum")) / 1000, 2).as("total_energy_kwh"),
      bround(sum(col("energy_cost_estimate")), 2).as("total_cost"),
      countDistinct(col("device_id")).as("active_devices"))
  }

  /** app.py:310-317 24 h fallback KPIs straight from Silver (F8 time
    * cut + A8): used when gold has no row for today. */
  def last24hKpis(silver: DataFrame, cfg: EtlConfig = EtlConfig()): DataFrame = {
    val cutoff = java.sql.Timestamp.from(cfg.now.minusSeconds(24 * 3600))
    silver.filter(col("timestamp") >= lit(cutoff)).agg(
      bround(sum(col("energy_consumption_wh")) / 1000, 2).as("total_energy_kwh"),
      bround(sum(col("energy_consumption_wh")) / 1000 * cfg.energyRatePerKwh, 2)
        .as("total_cost"),
      countDistinct(col("device_id")).as("active_devices"))
  }

  /** app.py:277-357 headline KPI row with the full A8 fallback chain:
    * gold daily rows for today → silver last-24h → latest business
    * summary → zeros; device health gauge attached independently.
    *
    * Control flow mirrors the reference's driver-side emptiness
    * branches (a probe on the date-pruned gold frame, not a data
    * scan): gold-empty and gold-without-today both land on the silver
    * 24 h computation, and the summary override fires only when the
    * chain still reads 0 kWh — exactly create_kpi_metrics' logic. */
  def kpis(dailyEnergy: DataFrame, silver: DataFrame,
      businessSummary: DataFrame, deviceHealth: DataFrame,
      cfg: EtlConfig = EtlConfig()): DataFrame = {
    val today = java.sql.Date.valueOf(
      cfg.now.atZone(java.time.ZoneOffset.UTC).toLocalDate)
    val base =
      if (!dailyEnergy.filter(col("date") === lit(today)).isEmpty)
        todayKpis(dailyEnergy, cfg)
      else last24hKpis(silver, cfg) // empty silver → null aggs → zeros below
    val summaryLatest = latestBusinessSummary(businessSummary).select(
      col("total_energy_kwh").as("__s_kwh"),
      col("total_cost_estimate").as("__s_cost"),
      col("active_devices").as("__s_dev"))
    val healthRow = deviceHealth
      .agg((avg(col("health_score")) * 100).as("__h")) // app.py:351 gauge
    val summaryFallback = col("total_energy_kwh") === 0.0 &&
      col("__s_kwh").isNotNull
    base.select(
      coalesce(col("total_energy_kwh"), lit(0.0)).as("total_energy_kwh"),
      coalesce(col("total_cost"), lit(0.0)).as("total_cost"),
      coalesce(col("active_devices"), lit(0L)).as("active_devices"))
      .join(broadcast(summaryLatest), lit(true), "left")
      .join(broadcast(healthRow), lit(true), "left")
      .select(
        when(summaryFallback, col("__s_kwh"))
          .otherwise(col("total_energy_kwh")).as("total_energy_kwh"),
        when(summaryFallback, col("__s_cost"))
          .otherwise(col("total_cost")).as("total_cost"),
        when(summaryFallback, col("__s_dev"))
          .otherwise(col("active_devices")).as("active_devices"),
        coalesce(col("__h"), lit(0.0)).as("avg_health"))
  }

  /** app.py:365-367 energy by device type (A7 bar chart). */
  def energyByDeviceType(dailyEnergy: DataFrame): DataFrame =
    dailyEnergy.groupBy(col("device_type"))
      .agg(bround(sum(col("energy_consumption_wh_sum")) / 1000, 3)
        .as("total_energy_kwh"))

  /** app.py:418-419 daily energy + cost trend (A7 line charts). */
  def dailyTrend(dailyEnergy: DataFrame): DataFrame =
    dailyEnergy.groupBy(col("date"))
      .agg(
        bround(sum(col("energy_consumption_wh_sum")) / 1000, 3)
          .as("total_energy_kwh"),
        bround(sum(col("energy_cost_estimate")), 2).as("total_cost"))
      .orderBy(col("date"))

  /** app.py:506-543 device-health scatter: one point per device,
    * health vs failure probability, sized by alerts. */
  def deviceHealthScatter(deviceHealth: DataFrame): DataFrame =
    deviceHealth.select("device_id", "device_type", "health_score",
      "failure_probability", "total_alerts", "uptime_percentage")
      .orderBy(col("health_score"))

  /** app.py:351 global device-health gauge (mean health score). */
  def healthGauge(deviceHealth: DataFrame): DataFrame =
    deviceHealth.agg(
      bround(avg(col("health_score")), 3).as("avg_health_score"),
      bround(avg(col("failure_probability")), 3).as("avg_failure_risk"),
      sum(col("total_alerts")).cast("long").as("total_alerts"))

  /** app.py:563-567,614-618 live telemetry: last `limit` readings
    * within `hoursBack`, most recent first (O2 top-k —
    * TakeOrderedAndProject, no global sort). */
  def liveTelemetry(silver: DataFrame, hoursBack: Int = 2, limit: Int = 100,
      cfg: EtlConfig = EtlConfig()): DataFrame = {
    val cutoff = java.sql.Timestamp.from(cfg.now.minusSeconds(hoursBack * 3600L))
    silver.filter(col("timestamp") >= lit(cutoff))
      .orderBy(col("timestamp").desc, col("device_id"))
      .select("device_id", "device_type", "timestamp", "temperature",
        "power_usage", "energy_consumption_wh", "alert")
      .limit(limit)
  }

  /** app.py:334 latest business-summary row (W4 latest-row pick). */
  def latestBusinessSummary(businessSummary: DataFrame): DataFrame =
    businessSummary.orderBy(col("date").desc).limit(1)

  /** Alert distribution over silver (app.py alerts panel shape). */
  def alertDistribution(silver: DataFrame): DataFrame =
    silver.filter(col("alert") =!= "none")
      .groupBy(col("alert"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("device_id")).as("n_devices"))
}
