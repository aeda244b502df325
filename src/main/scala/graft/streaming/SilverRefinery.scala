package graft.streaming

import graft.etl.{BronzeToSilver, EtlConfig, Lake}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous Bronze→Silver refinement: the streaming replacement for
  * the reference's 2-minute batch rerun loop (run_etl.py:45,77, SURVEY
  * ST7).
  *
  * Shape: a file-source stream tails the Bronze lake (exactly-once
  * file tracking — replaces the reference's mtime window); each
  * micro-batch triggers a recompute of every event-date partition the
  * batch touches, reading those partitions PLUS `contextDays` of
  * preceding bronze so the per-device rolling windows of early-in-batch
  * rows see their full frames (the reference gets this from its
  * overlapping 2 h lookback re-read — bronze_to_silver.py:38-80 — but
  * silently truncates frames at the lookback edge; recomputing whole
  * date partitions with a context day is both idempotent and
  * frame-exact). Streaming output therefore equals the batch refinery
  * (`BronzeToSilver.run` over the same bronze) row for row, asserted
  * by SilverRefinerySpec across batch and midnight boundaries.
  *
  * Exactness bound: a frame may reach at most `contextDays` back —
  * with the default 60-row frame that holds whenever a device emits
  * ≥60 rows/day (any cadence of 1/min or faster); raise `contextDays`
  * for sparser fleets. At 100 TB the recompute stays proportional to
  * the batch's affected dates (partition-pruned scan), not lake size.
  * `GoldRefinery.start` may tail this sink while it runs.
  */
object SilverRefinery {

  /** Recompute + overwrite the silver date partitions touched by one
    * micro-batch, reading bronze with `contextDays` of lookback for
    * window continuity. The micro-batch rows themselves are already in
    * the bronze lake (the stream source IS the lake), so the pruned
    * re-read covers them. */
  private[streaming] def refineBatch(spark: SparkSession, lakeRoot: String,
      catalog: DataFrame, cfg: EtlConfig, contextDays: Int)(
      batch: DataFrame): Unit = {
    // Affected event-date partitions: partition METADATA (a handful of
    // dates), not data — the collect is bounded by the batch's date
    // span. Unparseable timestamps yield a null date; those rows die
    // in Silver validation and refine no partition.
    val batchDates = batch
      .select(to_date(try_to_timestamp(col("timestamp"))).as("d"))
      .filter(col("d").isNotNull).distinct()
      .collect().map(_.getDate(0).toLocalDate)
    if (batchDates.nonEmpty) {
      // A late row for day D also stales day D+1..D+contextDays rows
      // whose frames reach back into D, so the rewrite set extends
      // FORWARD to those dates — but only where the lake already holds
      // them (a forward date with no bronze yet has nothing to fix).
      // The Bronze listing's date= directories answer that without a
      // job; a directory without rows only widens the recompute, which
      // then writes nothing for it.
      val forward = batchDates
        .flatMap(d => (1 to contextDays).map(d.plusDays(_)))
        .distinct.diff(batchDates)
      val existingForward =
        if (forward.isEmpty) Seq.empty
        else forward.intersect(bronzeDates(spark, lakeRoot)).toSeq
      val dates = batchDates ++ existingForward
      val ctx = dates
        .flatMap(d => (0 to contextDays).map(b => d.minusDays(b)))
        .distinct.map(d => java.sql.Date.valueOf(d))
      val bronze = Lake.bronzeScan(spark, lakeRoot)
        .filter(col("date").isin(ctx: _*)) // partition pruning
        .drop("date")
      val silver = BronzeToSilver.run(bronze, catalog, cfg)
      val affected = dates.map(d => java.sql.Date.valueOf(d))
      // backward-context rows are recomputed for frame context only —
      // their own (possibly edge-truncated) values are NOT written back
      Lake.writeSilver(
        silver.filter(to_date(col("timestamp")).isin(affected: _*)), lakeRoot)
    }
  }

  /** Event dates with a `date=` directory under the Bronze root. */
  private def bronzeDates(spark: SparkSession,
      lakeRoot: String): Seq[java.time.LocalDate] = {
    val root = new org.apache.hadoop.fs.Path(Lake.bronzePath(lakeRoot))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .collect { case s"date=$d" => scala.util.Try(java.time.LocalDate.parse(d)) }
      .flatMap(_.toOption)
  }

  /** The Bronze file stream; `date` is re-derived by the Silver sink. */
  private def bronzeStream(spark: SparkSession, lakeRoot: String): DataFrame =
    spark.readStream
      .schema(Lake.BronzeSchema)
      .option("ignoreCorruptFiles", "true")
      .parquet(Lake.bronzePath(lakeRoot))
      .drop("date")

  def start(spark: SparkSession, lakeRoot: String, catalog: DataFrame,
      cfg: EtlConfig = EtlConfig(), triggerInterval: String = "2 minutes",
      contextDays: Int = 1): StreamingQuery =
    LakeTail.start(bronzeStream(spark, lakeRoot), lakeRoot, "silver_refinery",
      triggerInterval)(refineBatch(spark, lakeRoot, catalog, cfg, contextDays))

  /** One-shot drain; blocks until done (see `LakeTail.runOnce`). */
  def runOnce(spark: SparkSession, lakeRoot: String, catalog: DataFrame,
      cfg: EtlConfig = EtlConfig(), contextDays: Int = 1): Unit =
    LakeTail.runOnce(bronzeStream(spark, lakeRoot), lakeRoot, "silver_refinery")(
      refineBatch(spark, lakeRoot, catalog, cfg, contextDays))
}
