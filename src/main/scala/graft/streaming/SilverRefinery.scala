package graft.streaming

import graft.etl.{EtlConfig, Lake}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous Bronze→Silver refinement: the streaming replacement for
  * the reference's 2-minute batch rerun loop (run_etl.py:45,77, SURVEY
  * ST7). A [[LakeTail]] over Bronze (exactly-once file tracking
  * replaces the reference's mtime window) hands each micro-batch's
  * Bronze `date` partitions to `Lake.refreshSilver`, which prunes
  * Bronze on those same values. SilverRefinerySpec asserts the result
  * equals `BronzeToSilver` over the same Bronze across batch and
  * midnight boundaries. `GoldRefinery.start` may tail this sink while
  * it runs. The stream may start before Bronze exists (it sees no
  * files until then).
  */
object SilverRefinery {

  private val tail = LakeTail("silver_refinery", Lake.bronzePath, Lake.BronzeSchema)

  def start(spark: SparkSession, lakeRoot: String, catalog: DataFrame,
      cfg: EtlConfig = EtlConfig(), triggerInterval: String = "2 minutes"): StreamingQuery =
    tail.start(spark, lakeRoot, triggerInterval)(
      Lake.refreshSilver(spark, lakeRoot, catalog, cfg, _))

  /** One-shot drain; blocks until done (see `LakeTail.runOnce`). */
  def runOnce(spark: SparkSession, lakeRoot: String, catalog: DataFrame,
      cfg: EtlConfig = EtlConfig()): Unit =
    tail.runOnce(spark, lakeRoot)(Lake.refreshSilver(spark, lakeRoot, catalog, cfg, _))
}
