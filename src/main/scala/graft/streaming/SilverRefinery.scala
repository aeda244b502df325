package graft.streaming

import java.time.LocalDate

import graft.etl.{EtlConfig, Lake}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous Bronze→Silver refinement: the streaming replacement for
  * the reference's 2-minute batch rerun loop (run_etl.py:45,77, SURVEY
  * ST7). A file-source stream tails the Bronze lake (exactly-once file
  * tracking replaces the reference's mtime window), and each
  * micro-batch hands the event dates it touched to `Lake.refreshSilver`.
  * SilverRefinerySpec asserts the result equals `BronzeToSilver` over
  * the same Bronze across batch and midnight boundaries.
  * `GoldRefinery.start` may tail this sink while it runs. The stream
  * may start before Bronze exists (it sees no files until then).
  */
object SilverRefinery {

  /** The micro-batch's event dates, in one small job over the batch
    * (see `LakeTail.dates`: the job is what counts the stream's input
    * rows, and stays small because it compiles anew every cycle). An
    * unparseable timestamp has no date and refreshes none. */
  private[streaming] def batchDates(batch: DataFrame): Seq[LocalDate] =
    LakeTail.dates(batch, to_date(try_to_timestamp(col("timestamp"))))

  private def refineBatch(spark: SparkSession, lakeRoot: String,
      catalog: DataFrame, cfg: EtlConfig)(batch: DataFrame): Unit =
    Lake.refreshSilver(spark, lakeRoot, catalog, cfg, batchDates(batch))

  /** The Bronze file stream; `date` is re-derived by the Silver sink. */
  private def bronzeStream(spark: SparkSession, lakeRoot: String): DataFrame =
    Lake.tail(spark, Lake.bronzePath(lakeRoot), Lake.BronzeSchema).drop("date")

  def start(spark: SparkSession, lakeRoot: String, catalog: DataFrame,
      cfg: EtlConfig = EtlConfig(), triggerInterval: String = "2 minutes"): StreamingQuery =
    LakeTail.start(bronzeStream(spark, lakeRoot), lakeRoot, "silver_refinery",
      triggerInterval)(refineBatch(spark, lakeRoot, catalog, cfg))

  /** One-shot drain; blocks until done (see `LakeTail.runOnce`). */
  def runOnce(spark: SparkSession, lakeRoot: String, catalog: DataFrame,
      cfg: EtlConfig = EtlConfig()): Unit =
    LakeTail.runOnce(bronzeStream(spark, lakeRoot), lakeRoot, "silver_refinery")(
      refineBatch(spark, lakeRoot, catalog, cfg))
}
