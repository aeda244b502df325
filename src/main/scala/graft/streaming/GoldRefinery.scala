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
  * same Silver across a micro-batch split and when the stream starts
  * before Silver exists, and RefineryStreamsSpec that [[start]]
  * converges beside `SilverRefinery.start`.
  */
object GoldRefinery {

  /** The micro-batch's event dates, from Silver's `date` partition
    * column, → `Lake.refreshGold`. The date step is one small job over
    * the batch (see `LakeTail.dates`: the job is what counts the
    * stream's input rows, and stays small because it compiles anew
    * every cycle). */
  private def refineBatch(spark: SparkSession, lakeRoot: String,
      cfg: EtlConfig)(batch: DataFrame): Unit =
    Lake.refreshGold(spark, lakeRoot, cfg, LakeTail.dates(batch, col("date")))

  /** The Silver file stream, with Silver's declared schema. */
  private def silverStream(spark: SparkSession, lakeRoot: String): DataFrame =
    Lake.tail(spark, Lake.silverPath(lakeRoot), Lake.SilverSchema)

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
