package graft.streaming

import graft.etl.{EtlConfig, Lake}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous Silver→Gold refinement: the SilverRefinery pattern one
  * hop downstream, replacing the reference's full Gold recompute every
  * scheduler tick (run_etl.py:54,80). A [[LakeTail]] over Silver hands
  * each micro-batch's Silver `date` partitions to `Lake.refreshGold`.
  * GoldRefinerySpec asserts the result equals `SilverToGold` over the
  * same Silver across a micro-batch split and when the stream starts
  * before Silver exists, and RefineryStreamsSpec that [[start]]
  * converges beside `SilverRefinery.start`.
  */
object GoldRefinery {

  private val tail = LakeTail("gold_refinery", Lake.silverPath, Lake.SilverSchema)

  def start(spark: SparkSession, lakeRoot: String,
      cfg: EtlConfig = EtlConfig(),
      triggerInterval: String = "2 minutes"): StreamingQuery =
    tail.start(spark, lakeRoot, triggerInterval)(Lake.refreshGold(spark, lakeRoot, cfg, _))

  /** One-shot drain; blocks until done (see `LakeTail.runOnce`). */
  def runOnce(spark: SparkSession, lakeRoot: String,
      cfg: EtlConfig = EtlConfig()): Unit =
    tail.runOnce(spark, lakeRoot)(Lake.refreshGold(spark, lakeRoot, cfg, _))
}
