package graft.streaming

import java.time.LocalDate

import graft.etl.Lake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one refinery definition: tail a date-partitioned lake table's
  * file stream (`path` under the lake root, read with its declared
  * `schema`, `date` included) and hand each micro-batch's event dates,
  * taken from the table's `date` partition column, to a refresh,
  * checkpointed under `_checkpoints/<name>` in the lake. A row in the
  * null date partition has no date and refreshes none. */
private[streaming] final case class LakeTail(name: String,
    path: String => String, schema: StructType) {

  private def run(spark: SparkSession, lakeRoot: String, trigger: Trigger)(
      refresh: Seq[LocalDate] => Unit): StreamingQuery =
    Lake.tail(spark, path(lakeRoot), schema).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => refresh(LakeTail.dates(batch)) }
      .option("checkpointLocation", Lake.checkpointPath(lakeRoot, name))
      .trigger(trigger)
      .start()

  /** The tail on a processing-time cadence. */
  def start(spark: SparkSession, lakeRoot: String, triggerInterval: String)(
      refresh: Seq[LocalDate] => Unit): StreamingQuery =
    run(spark, lakeRoot, Trigger.ProcessingTime(triggerInterval))(refresh)

  /** One-shot drain (Trigger.AvailableNow) for tests/backfill. Blocks
    * until the drain completes — a large backfill takes as long as it
    * takes; returning early would leave the query still overwriting
    * partitions under the caller. */
  def runOnce(spark: SparkSession, lakeRoot: String)(
      refresh: Seq[LocalDate] => Unit): Unit = {
    val q = run(spark, lakeRoot, Trigger.AvailableNow())(refresh)
    try q.awaitTermination()
    catch { case e: Throwable => q.stop(); throw e }
  }
}

private[streaming] object LakeTail {

  /** The distinct non-null values of a micro-batch's `date` column, in
    * one Spark job without a shuffle: each partition's distinct dates,
    * collected and merged.
    *
    * The job scans the batch, and must: the stream counts its progress
    * (`numInputRows`) from that scan, so dates taken from the batch's
    * file listing alone would report no input rows. It is kept to one
    * projection because every drain runs on a fresh clone of the
    * session, with its own classloader, and Spark caches generated
    * code per classloader: whatever runs on the batch compiles anew
    * each cycle. A `distinct()` would add a shuffle, a second job
    * under AQE and about 7 generated classes; this step compiles 2-3. */
  def dates(batch: DataFrame): Seq[LocalDate] =
    batch.select("date").queryExecution.toRdd
      .mapPartitions(rows =>
        Iterator.single(rows.filterNot(_.isNullAt(0)).map(_.getInt(0)).toSet.toArray))
      .collect().flatten.distinct.sorted.toSeq
      .map(d => LocalDate.ofEpochDay(d.toLong))
}
