package graft.streaming

import graft.etl.{EtlConfig, SilverToGold}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous Silver→Gold refinement: the SilverRefinery pattern one
  * hop downstream, replacing the reference's full gold recompute every
  * scheduler tick (run_etl.py:54,80) with work proportional to what
  * each micro-batch touched. Output equals the batch `SilverToGold`
  * over the same silver, row for row (GoldRefinerySpec asserts it
  * across a micro-batch split) — each gold table is recomputed at the
  * granularity its semantics require, never finer:
  *
  *   - daily_energy_consumption groups by (device, type, user, DATE):
  *     only the batch's event dates are recomputed, from a
  *     partition-pruned silver read, and dynamically overwritten —
  *     cost tracks the batch's date span, not lake size.
  *   - device_health_metrics is a whole-history per-DEVICE metric
  *     (min/max timestamp, lifetime means): rows for the batch's
  *     devices are recomputed from those devices' full silver history
  *     and merged over the previous snapshot. The history scan is the
  *     metric's inherent cost (date partitions can't prune a lifetime
  *     aggregate; parquet row-group stats on device_id still skip);
  *     untouched devices keep their rows byte-identically.
  *   - daily_business_summary consumes the OTHER TWO GOLD TABLES (a
  *     per-date rollup of daily energy plus the global health means —
  *     which shift whenever ANY device's health does), so it is
  *     recomputed from gold, which is already aggregate-sized:
  *     reading it back is cheap at any lake size.
  *
  * Idempotence matches the batch sinks: reprocessing a batch rewrites
  * the same partitions/rows to the same values (cfg.now pins
  * created_at). That is also what lets [[start]] run beside
  * `SilverRefinery.start`: a slice read while Silver rewrote it is
  * recomputed by a later micro-batch (see `refineBatch`), and
  * RefineryStreamsSpec asserts the converged tables.
  */
object GoldRefinery {

  /** Recompute the gold slices affected by one micro-batch of silver
    * rows. The batch rows are already in the silver lake (the stream
    * source IS the lake), so the pruned re-reads cover them.
    *
    * No read here infers a schema: the silver re-reads take the
    * stream's (the batch's own schema), and each gold table is read
    * back with the schema of the frame that wrote it.
    *
    * Concurrent with [[SilverRefinery.start]], a silver file listed
    * here can vanish before it is read: Silver's dynamic partition
    * overwrite is rewriting its partition. The stream source and the
    * re-reads skip such files (`ignoreMissingFiles`). The rewrite's
    * new files reach a later micro-batch, which recomputes their
    * dates and devices, so gold converges once silver is idle. */
  private[streaming] def refineBatch(spark: SparkSession, lakeRoot: String,
      cfg: EtlConfig)(batch: DataFrame): Unit = {
    // affected partition METADATA — bounded by the batch's date span ×
    // device fleet, not its row count; one collect serves both sets
    val pairs = batch
      .select(to_date(col("timestamp")), col("device_id")).distinct()
      .collect()
    val dates = pairs.filterNot(_.isNullAt(0)).map(_.getDate(0)).distinct
    if (dates.isEmpty) return
    val devices = pairs.map(_.getString(1)).distinct.toSeq

    def silver = spark.read.schema(batch.schema)
      .option("ignoreMissingFiles", "true")
      .parquet(s"$lakeRoot/silver/energy_usage")

    // 1. daily energy: recompute ONLY the affected dates (pruned scan),
    // dynamic-overwrite their partitions
    val dailyPath = s"$lakeRoot/gold/daily_energy_consumption"
    val daily = SilverToGold.dailyEnergyConsumption(
      silver.filter(col("date").isin(dates.toSeq: _*)).drop("date"), cfg)
    daily
      .repartition(col("date"))
      .write
      .partitionBy("date")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(dailyPath)

    // 2. device health: recompute the affected devices over their FULL
    // history, merge over the previous snapshot. localCheckpoint
    // materializes the merge before the overwrite truncates the input.
    val healthPath = s"$lakeRoot/gold/device_health_metrics"
    val fresh = SilverToGold.deviceHealthMetrics(
      silver.filter(col("device_id").isin(devices: _*)).drop("date"), cfg)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(healthPath), spark.sparkContext.hadoopConfiguration)
    val merged =
      if (!fs.exists(new org.apache.hadoop.fs.Path(healthPath))) fresh
      else spark.read.schema(fresh.schema).parquet(healthPath)
        .filter(!col("device_id").isin(devices: _*))
        .unionByName(fresh)
    merged.localCheckpoint(true)
      .write.mode("overwrite").parquet(healthPath)

    // 3. business summary: per-date rollup of gold daily energy plus
    // the GLOBAL health means — any device change staleness-taints
    // every date's row, so recompute from the (aggregate-sized) gold
    // tables and dynamically overwrite every date present
    SilverToGold.dailyBusinessSummary(
        spark.read.schema(daily.schema).parquet(dailyPath),
        spark.read.schema(fresh.schema).parquet(healthPath), cfg)
      .repartition(col("date"))
      .write
      .partitionBy("date")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(s"$lakeRoot/gold/daily_business_summary")
  }

  private def refine(spark: SparkSession, lakeRoot: String, cfg: EtlConfig,
      trigger: Trigger): StreamingQuery = {
    val path = s"$lakeRoot/silver/energy_usage"
    // silver's schema is derived (BronzeToSilver output); a streaming
    // source needs it declared, so lift it from the lake's footers once
    val schema = spark.read.parquet(path).schema
    spark.readStream.schema(schema)
      .option("ignoreCorruptFiles", "true")
      // a file Silver's partition overwrite deleted after the listing
      // (see refineBatch)
      .option("ignoreMissingFiles", "true")
      .parquet(path)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        refineBatch(spark, lakeRoot, cfg)(batch)
      }
      .option("checkpointLocation", s"$lakeRoot/_checkpoints/gold_refinery")
      .trigger(trigger)
      .start()
  }

  def start(spark: SparkSession, lakeRoot: String,
      cfg: EtlConfig = EtlConfig(),
      triggerInterval: String = "2 minutes"): StreamingQuery =
    refine(spark, lakeRoot, cfg, Trigger.ProcessingTime(triggerInterval))

  /** One-shot drain (Trigger.AvailableNow) for tests/backfill. Blocks
    * until the drain completes — a large backfill takes as long as it
    * takes; returning early with the query still overwriting gold
    * partitions would hand the caller torn tables. */
  def runOnce(spark: SparkSession, lakeRoot: String,
      cfg: EtlConfig = EtlConfig()): Unit = {
    val q = refine(spark, lakeRoot, cfg, Trigger.AvailableNow())
    try q.awaitTermination()
    catch { case e: Throwable => q.stop(); throw e }
  }
}
