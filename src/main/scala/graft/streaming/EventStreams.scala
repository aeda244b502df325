package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming analytics over the generic events stream — the streaming
  * counterparts of the batch event operators (q2j interval join,
  * q77 funnel) where incremental semantics change the execution
  * story: a stream-stream join holds bounded per-key state instead of
  * re-scanning a lookback window per tick.
  */
object EventStreams {

  /** Watermarked hopping-window rollup over (ts, event_type, value):
    * the streaming execution of the batch q95 — the SAME declarative
    * aggregate serves both modes (the watermark node is a no-op in
    * batch). In append-mode streaming a (window, type) group emits
    * once, when the watermark passes window end; state holds only the
    * duration/slide open windows per type inside the watermark
    * horizon. EventStreamsSpec proves split parity: a stream fed in
    * two batches emits exactly the batch aggregate. */
  def hoppingCounts(events: DataFrame, duration: String = "10 minutes",
      slide: String = "5 minutes", watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), duration, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n"), col("value_cents"))

  /** Watermarked stream-stream interval join: click → purchase
    * conversions within `windowDur` per user (streaming analog of the
    * batch q2j bucketed interval join). Both sides carry a watermark
    * and the join predicate bounds purchase_ts to
    * (click_ts, click_ts + windowDur], so Spark derives state
    * eviction: a buffered click is dropped once the purchase-side
    * watermark passes click_ts + windowDur — state is bounded by
    * in-flight rows inside the watermark horizon, not the stream
    * history. Scale shape: one hash shuffle per side keyed by
    * user_id, identical to the batch equi-join profile.
    *
    * Inputs need columns (user_id, event_id, ts); both frames may be
    * streaming, or bounded for a batch parity check — the plan is the
    * same declarative join either way. */
  def conversionJoin(clicks: DataFrame, purchases: DataFrame,
      windowDur: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val c = clicks
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"interval $windowDur"))
      .select(col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("gap_us"))
  }
}
