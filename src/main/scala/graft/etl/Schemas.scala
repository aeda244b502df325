package graft.etl

import org.apache.spark.sql.types._

/** Explicit schemas for every layer of the smart-home telemetry lake.
  *
  * The reference infers schemas dynamically from JSON/parquet
  * (SURVEY.md §1.2); declaring them is a strict improvement that
  * preserves semantics: `from_json` yields null on type mismatch,
  * which downstream validation drops exactly like the reference's
  * field checks (ingest_bronze.py:67-97).
  */
object Schemas {

  /** Bronze telemetry — 13 columns, timestamps as ISO-8601 strings
    * exactly as produced (telemetry_sim.py:138-151, observed parquet). */
  val bronzeTelemetry: StructType = StructType(Seq(
    StructField("device_id", StringType),
    StructField("device_type", StringType),
    StructField("user_id", StringType),
    StructField("timestamp", StringType),
    StructField("temperature", DoubleType),
    StructField("power_usage", DoubleType),
    StructField("energy_consumption_wh", DoubleType),
    StructField("status", StringType),
    StructField("alert", StringType),
    StructField("location", StringType),
    StructField("manufacturer", StringType),
    StructField("model", StringType),
    StructField("ingestion_time", StringType)
  ))

  /** Silver energy usage: what `BronzeToSilver.run` emits, in its
    * order — Bronze's columns with a parsed timestamp, then the quality
    * score, the catalog enrichment, the late-event flag and the rolling
    * metrics. MedallionSinksSpec checks it against a Silver table read
    * back. */
  val silverEnergyUsage: StructType = StructType(Seq(
    StructField("device_id", StringType),
    StructField("device_type", StringType),
    StructField("user_id", StringType),
    StructField("timestamp", TimestampType),
    StructField("temperature", DoubleType),
    StructField("power_usage", DoubleType),
    StructField("energy_consumption_wh", DoubleType),
    StructField("status", StringType),
    StructField("alert", StringType),
    StructField("location", StringType),
    StructField("manufacturer", StringType),
    StructField("model", StringType),
    StructField("ingestion_time", StringType),
    StructField("quality_score", DoubleType),
    StructField("is_valid", BooleanType),
    StructField("installation_date", DateType),
    StructField("device_age_days", IntegerType),
    StructField("processing_delay_hours", DoubleType),
    StructField("is_late_event", BooleanType),
    StructField("temp_1h_avg", DoubleType),
    StructField("power_1h_avg", DoubleType),
    StructField("energy_efficiency", DoubleType),
    StructField("has_alert", BooleanType),
    StructField("alert_frequency_1h", DoubleType)
  ))

  /** Device catalog dimension (config/device_catalog.csv:1-11). */
  val deviceCatalog: StructType = StructType(Seq(
    StructField("device_id", StringType),
    StructField("device_type", StringType),
    StructField("user_id", StringType),
    StructField("location", StringType),
    StructField("installation_date", DateType),
    StructField("manufacturer", StringType),
    StructField("model", StringType)
  ))

  /** Billing dimension (config/billing_data.csv — declared by the
    * reference, never read; we load it for the billing join the
    * reference left unimplemented, SURVEY §2.3 J3). */
  val billingData: StructType = StructType(Seq(
    StructField("user_id", StringType),
    StructField("billing_period", StringType),
    StructField("energy_rate_kwh", DoubleType),
    StructField("base_charge", DoubleType),
    StructField("total_usage_kwh", DoubleType),
    StructField("total_cost", DoubleType)
  ))

  /** Fields whose absence invalidates a Bronze message
    * (ingest_bronze.py:75-80). */
  val requiredFields: Seq[String] = Seq(
    "device_id", "device_type", "user_id", "timestamp",
    "temperature", "power_usage", "energy_consumption_wh",
    "status", "alert")
}
