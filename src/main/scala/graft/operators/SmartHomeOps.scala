package graft.operators

import graft.QueryDef
import graft.etl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end smart-home medallion pipeline exposed through the query
  * gate: deterministic bronze fixtures (seeded, wall-clock-free) →
  * BronzeToSilver → SilverToGold → dashboard queries. The inputs are
  * generated, not the sfDir tables; each query's DuckDB oracle
  * (SmartHomeOracle) re-derives it from the fixture parquet that
  * Verify dumps, and the ScalaTest suites assert exact numeric
  * semantics against hand-computed values.
  */
object SmartHomeOps {

  private val cfg = EtlConfig(
    referenceInstant = Some(Fixtures.DefaultStart.plusSeconds(6 * 3600)))

  /** Silver of the dirty fixture, once per session through the
    * session memo: the q6x queries all consume the same deterministic
    * fixture pipeline, and rebuilding it per query would just re-run
    * identical generation + windows (mirrors the reference's one-load /
    * many-aggregates shape). A localCheckpoint leaf, so the runners'
    * cache sweeps leave it in place. */
  private def silver(s: SparkSession): DataFrame =
    graft.CacheHygiene.memo(s, "smarthome.silver") {
      BronzeToSilver.run(
        Fixtures.bronzeTelemetry(s, nDevices = 10, rowsPerDevice = 200,
          dirty = true),
        Fixtures.deviceCatalog(s), cfg).localCheckpoint()
    }

  /** Session-memoized pinned frames shared by q63/q64/q65: silver, the
    * daily rollup, and device health, each coalesced to ONE partition
    * sorted by its unique key so every float fold over them is
    * deterministic and matches the oracles' ORDER BY. A localCheckpoint
    * keeps the single sorted partition.
    *
    * The pin is ORACLE tooling, not the scale path: it buys bitwise
    * float-fold reproducibility for the hash gate on the tiny fixture
    * frames. A production dashboard over a large lake runs the same
    * aggregates unpinned and accepts association-order float noise
    * (last-bit), which no downstream consumer of 2-3dp KPIs can see. */
  private def pinned(s: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    val sil = silver(s)
    def pin(key: String)(df: => DataFrame): DataFrame =
      graft.CacheHygiene.memo(s, s"smarthome.pin.$key")(df.localCheckpoint())
    (pin("silver")(sil.coalesce(1).sortWithinPartitions("device_id", "timestamp")),
      pin("daily")(SilverToGold.dailyEnergyConsumption(sil, cfg)
        .coalesce(1).sortWithinPartitions("device_id", "date")),
      pin("health")(SilverToGold.deviceHealthMetrics(sil, cfg)
        .coalesce(1).sortWithinPartitions("device_id")))
  }

  /** Bronze→Silver refinement (F2-F7, J1, ST4, W1-W3) on the dirty
    * fixture: 2009 raw rows → 2003 clean silver rows (6 dirty drops:
    * null-user, bad-ts, 3 out-of-range, 1 duplicate). DuckDB oracle
    * re-derives the refinement from the bronze fixture parquet
    * (SmartHomeOracle.q60Sql). */
  val q60Silver: QueryDef = QueryDef.withOracle(SmartHomeOracle.q60Sql) {
    (s, _) =>
      silver(s).select("device_id", "timestamp", "temperature", "power_usage",
        "quality_score", "is_valid", "device_age_days",
        "processing_delay_hours", "is_late_event", "temp_1h_avg",
        "power_1h_avg", "energy_efficiency", "alert_frequency_1h")
  }

  /** Gold table 1: daily_energy_consumption (A1+A2). */
  val q61GoldDailyEnergy: QueryDef =
    QueryDef.withOracle(SmartHomeOracle.q61Sql) { (s, _) =>
      SilverToGold.dailyEnergyConsumption(silver(s), cfg)
    }

  /** Gold table 2: device_health_metrics (A3+A4). */
  val q62GoldDeviceHealth: QueryDef =
    QueryDef.withOracle(SmartHomeOracle.q62Sql) { (s, _) =>
      SilverToGold.deviceHealthMetrics(silver(s), cfg)
    }

  /** Gold table 3: daily_business_summary (A5+A6+J2), consuming the
    * other two gold frames in memory like the reference
    * (silver_to_gold.py:326-339).
    *
    * The inputs are 10-row frames whose global/date aggregates would
    * otherwise merge per-partition partials in nondeterministic fetch
    * order — harmless semantically, but the oracle must reproduce the
    * float fold bit-for-bit, so pin a single partition sorted by
    * device_id (the order SmartHomeOracle.q63Sql folds in). */
  val q63GoldBusinessSummary: QueryDef =
    QueryDef.withOracle(SmartHomeOracle.q63Sql) { (s, _) =>
      val (_, daily, health) = pinned(s)
      SilverToGold.dailyBusinessSummary(daily, health, cfg)
    }

  /** Dashboard query layer (A7/A8/F8/F9/O2/W4) over the gold frames:
    * every panel unpivoted to (panel, metric, value) rows so the whole
    * layer is one hash-comparable frame the DuckDB oracle re-derives
    * (SmartHomeOracle.q64Sql). Inputs are pinned to single sorted
    * partitions so the panel aggregates' float folds are
    * deterministic (same rationale as q63/q65). */
  val q64Dashboard: QueryDef = QueryDef.withOracle(SmartHomeOracle.q64Sql) {
    (s, _) =>
      val (silP, daily, health) = pinned(s)
      val summary = SilverToGold.dailyBusinessSummary(daily, health, cfg)
      def unpivot(panel: String, df: org.apache.spark.sql.DataFrame,
          metrics: (String, org.apache.spark.sql.Column)*): org.apache.spark.sql.DataFrame =
        df.select(explode(map(metrics.flatMap { case (m, c) =>
          Seq(lit(m), c.cast("double")) }: _*)).as(Seq("metric", "value")))
          .select(lit(panel).as("panel"), col("metric"), col("value"))
      val kpiCols = Seq(
        "total_energy_kwh" -> col("total_energy_kwh"),
        "total_cost" -> col("total_cost"),
        "active_devices" -> col("active_devices"))
      Seq(
        unpivot("kpi_chain",
          DashboardQueries.kpis(daily, silP, summary, health, cfg),
          kpiCols :+ ("avg_health" -> col("avg_health")): _*),
        unpivot("today_kpis", DashboardQueries.todayKpis(daily, cfg), kpiCols: _*),
        unpivot("last24h_kpis", DashboardQueries.last24hKpis(silP, cfg), kpiCols: _*),
        DashboardQueries.energyByDeviceType(daily)
          .select(lit("energy_by_type").as("panel"),
            col("device_type").as("metric"),
            col("total_energy_kwh").cast("double").as("value")),
        unpivot("health_gauge", DashboardQueries.healthGauge(health),
          "avg_health_score" -> col("avg_health_score"),
          "avg_failure_risk" -> col("avg_failure_risk"),
          "total_alerts" -> col("total_alerts")),
        DashboardQueries.alertDistribution(silP)
          .select(col("alert"), col("n"), col("n_devices"))
          .select(lit("alerts").as("panel"),
            explode(map(
              concat(col("alert"), lit("/n")), col("n").cast("double"),
              concat(col("alert"), lit("/n_devices")),
              col("n_devices").cast("double"))).as(Seq("metric", "value")))
      ).reduce(_ unionByName _)
  }

  /** J3 billing reconciliation — the join the reference declares but
    * never wires up (SURVEY §2.3): gold energy vs billed totals per
    * (user, month). Daily input pinned to one device_id-sorted
    * partition so the per-user float fold matches the oracle's
    * ORDER BY device_id (same rationale as q63). */
  val q65Billing: QueryDef = QueryDef.withOracle(SmartHomeOracle.q65Sql) {
    (s, _) =>
      val (_, daily, _) = pinned(s)
      BillingJoin.reconcile(daily, BillingJoin.billingFixture(s))
  }

  /** Multimodal plumbing: binary payload column → batched decode
    * (real for images, fake seam for audio/video) → resize → video
    * frame sampling (graft.multimodal). The decode output is the
    * engine-specific piece; Verify dumps it so the oracle re-derives
    * the resize arithmetic, frame sampling, and rollup in DuckDB
    * (SmartHomeOracle.q66Sql). */
  val q66Multimodal: QueryDef = QueryDef.withOracle(SmartHomeOracle.q66Sql) {
    (s, d) =>
      val media = graft.multimodal.Multimodal.mediaFromDocuments(
        s, graft.Tables.documents(s, d))
      val decoded = graft.multimodal.Multimodal.decode(media, batchSize = 64)
      val resized = graft.multimodal.Multimodal.resize(decoded, maxSide = 256)
      val frames = graft.multimodal.Multimodal.sampleFrames(resized, everyMs = 5000)
      frames.groupBy(col("media_id"), col("width"), col("height"))
        .agg(count(lit(1)).as("n_frames"), max(col("frame_ms")).as("last_frame_ms"))
  }

  val all: Map[String, QueryDef] = Map(
    "q60_smarthome_silver" -> q60Silver,
    "q61_gold_daily_energy" -> q61GoldDailyEnergy,
    "q62_gold_device_health" -> q62GoldDeviceHealth,
    "q63_gold_business_summary" -> q63GoldBusinessSummary,
    "q64_dashboard_panels" -> q64Dashboard,
    "q65_billing_reconciliation" -> q65Billing,
    "q66_multimodal_pipeline" -> q66Multimodal
  )
}
