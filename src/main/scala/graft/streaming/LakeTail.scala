package graft.streaming

import java.time.LocalDate

import graft.etl.Lake
import org.apache.spark.sql.{Column, DataFrame}
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

  /** The distinct non-null values of `date`, a date-typed column, over
    * a micro-batch, in one Spark job without a shuffle: each
    * partition's distinct dates, collected and merged.
    *
    * The job scans the batch, and must: the stream counts its progress
    * (`numInputRows`) from that scan, so dates taken from the batch's
    * file listing alone would report no input rows. It is kept to one
    * projection because every drain runs on a fresh clone of the
    * session, with its own classloader, and Spark caches generated
    * code per classloader: whatever runs on the batch compiles anew
    * each cycle. A `distinct()` would add a shuffle, a second job
    * under AQE and about 7 generated classes; this step compiles 2-3. */
  def dates(batch: DataFrame, date: Column): Seq[LocalDate] =
    batch.select(date).queryExecution.toRdd
      .mapPartitions(rows =>
        Iterator.single(rows.filterNot(_.isNullAt(0)).map(_.getInt(0)).toSet.toArray))
      .collect().flatten.distinct.sorted.toSeq
      .map(d => LocalDate.ofEpochDay(d.toLong))
}
