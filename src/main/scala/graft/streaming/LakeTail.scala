package graft.streaming

import graft.etl.Lake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The refineries' stream plumbing: tail a lake table's file stream
  * and hand each micro-batch to a refine step, checkpointed under
  * `_checkpoints/<name>` in the lake. */
private[streaming] object LakeTail {

  private def run(source: DataFrame, lakeRoot: String, name: String,
      trigger: Trigger)(refine: DataFrame => Unit): StreamingQuery =
    source.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => refine(batch) }
      .option("checkpointLocation", Lake.checkpointPath(lakeRoot, name))
      .trigger(trigger)
      .start()

  /** The tail on a processing-time cadence. */
  def start(source: DataFrame, lakeRoot: String, name: String,
      triggerInterval: String)(refine: DataFrame => Unit): StreamingQuery =
    run(source, lakeRoot, name, Trigger.ProcessingTime(triggerInterval))(refine)

  /** One-shot drain (Trigger.AvailableNow) for tests/backfill. Blocks
    * until the drain completes — a large backfill takes as long as it
    * takes; returning early would leave the query still overwriting
    * partitions under the caller. */
  def runOnce(source: DataFrame, lakeRoot: String, name: String)(
      refine: DataFrame => Unit): Unit = {
    val q = run(source, lakeRoot, name, Trigger.AvailableNow())(refine)
    try q.awaitTermination()
    catch { case e: Throwable => q.stop(); throw e }
  }
}
