package graft.streaming

import graft.etl.{EtlConfig, Lake}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous Silver→Gold refinement: the SilverRefinery pattern one
  * hop downstream, replacing the reference's full Gold recompute every
  * scheduler tick (run_etl.py:54,80). Each micro-batch of Silver rows
  * hands the event dates it touched to `Lake.refreshGold`.
  * GoldRefinerySpec asserts the result equals `SilverToGold` over the
  * same Silver across a micro-batch split, and RefineryStreamsSpec that
  * [[start]] converges beside `SilverRefinery.start`.
  */
object GoldRefinery {

  /** The micro-batch's event dates → `Lake.refreshGold`, with the
    * stream's schema as Silver's. The dates are partition metadata,
    * bounded by the batch's date span. */
  private def refineBatch(spark: SparkSession, lakeRoot: String,
      cfg: EtlConfig)(batch: DataFrame): Unit = {
    val dates = batch.select(to_date(col("timestamp"))).distinct().collect()
      .filterNot(_.isNullAt(0)).map(_.getDate(0).toLocalDate).toSeq
    Lake.refreshGold(spark, lakeRoot, cfg, dates, batch.schema)
  }

  /** The Silver file stream. Silver's schema is derived (BronzeToSilver
    * output); a streaming source needs it declared, so it is lifted
    * from the lake's footers once. */
  private def silverStream(spark: SparkSession, lakeRoot: String): DataFrame = {
    val path = Lake.silverPath(lakeRoot)
    spark.readStream.schema(spark.read.parquet(path).schema)
      .option("ignoreCorruptFiles", "true")
      // a file a concurrent Silver refresh deleted after the listing
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
