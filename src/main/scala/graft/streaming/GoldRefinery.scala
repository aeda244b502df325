package graft.streaming

import graft.etl.{EtlConfig, Lake, SilverToGold}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

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
  *     (min/max timestamp, lifetime means): it is recomputed from all
  *     of silver and overwritten, as the batch pass does. Silver is
  *     rewritten a whole date partition at a time, so a micro-batch
  *     already holds every device active on its dates; recomputing
  *     only those devices would scan the same rows.
  *   - daily_business_summary consumes the OTHER TWO GOLD TABLES (a
  *     per-date rollup of daily energy plus the global health means —
  *     which shift whenever ANY device's health does), so it is
  *     recomputed from gold, which is already aggregate-sized:
  *     reading it back is cheap at any lake size.
  *
  * Every table is written through `Lake`'s sinks, the same ones the
  * batch pass uses. Idempotence matches them: reprocessing a batch
  * rewrites the same partitions/rows to the same values (cfg.now pins
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
    * dates and every device, so gold converges once silver is idle. */
  private[streaming] def refineBatch(spark: SparkSession, lakeRoot: String,
      cfg: EtlConfig)(batch: DataFrame): Unit = {
    // affected partition METADATA — bounded by the batch's date span,
    // not its row count
    val dates = batch.select(to_date(col("timestamp"))).distinct().collect()
      .filterNot(_.isNullAt(0)).map(_.getDate(0)).toSeq
    if (dates.isEmpty) return

    val silver = spark.read.schema(batch.schema)
      .option("ignoreMissingFiles", "true")
      .parquet(Lake.silverPath(lakeRoot))
    val daily = SilverToGold.dailyEnergyConsumption(
      silver.filter(col("date").isin(dates: _*)).drop("date"), cfg)
    Lake.writeDailyEnergy(daily, lakeRoot)
    val health = SilverToGold.deviceHealthMetrics(silver.drop("date"), cfg)
    Lake.writeDeviceHealth(health, lakeRoot)
    // the summary's GLOBAL health means taint every date's row, so it
    // is recomputed from the (aggregate-sized) gold tables
    Lake.writeBusinessSummary(SilverToGold.dailyBusinessSummary(
      spark.read.schema(daily.schema).parquet(Lake.dailyEnergyPath(lakeRoot)),
      spark.read.schema(health.schema).parquet(Lake.deviceHealthPath(lakeRoot)),
      cfg), lakeRoot)
  }

  /** The Silver file stream. Silver's schema is derived (BronzeToSilver
    * output); a streaming source needs it declared, so it is lifted
    * from the lake's footers once. */
  private def silverStream(spark: SparkSession, lakeRoot: String): DataFrame = {
    val path = Lake.silverPath(lakeRoot)
    spark.readStream.schema(spark.read.parquet(path).schema)
      .option("ignoreCorruptFiles", "true")
      // a file Silver's partition overwrite deleted after the listing
      // (see refineBatch)
      .option("ignoreMissingFiles", "true")
      .parquet(path)
  }

  def start(spark: SparkSession, lakeRoot: String,
      cfg: EtlConfig = EtlConfig(),
      triggerInterval: String = "2 minutes"): StreamingQuery =
    LakeTail.start(silverStream(spark, lakeRoot), lakeRoot, "gold_refinery",
      triggerInterval)(refineBatch(spark, lakeRoot, cfg))

  /** One-shot drain; blocks until done (see `LakeTail.runOnce`). */
  def runOnce(spark: SparkSession, lakeRoot: String,
      cfg: EtlConfig = EtlConfig()): Unit =
    LakeTail.runOnce(silverStream(spark, lakeRoot), lakeRoot, "gold_refinery")(
      refineBatch(spark, lakeRoot, cfg))
}
