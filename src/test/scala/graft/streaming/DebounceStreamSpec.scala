package graft.streaming

import java.sql.Timestamp
import java.time.Instant

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Batch↔stream parity for the debounce: the streaming filter's
  * per-type suppression counts must equal the batch q156 report on
  * the same events, including decisions that straddle micro-batch
  * boundaries (state carries the last timestamp across batches). */
class DebounceStreamSpec extends SparkSpec {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("stream decisions match the batch q156 report across batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Instant.parse("2026-01-01T00:00:00Z")
    def ev(id: Long, user: Long, tpe: String, s: Int) = DebounceStream.Ev(
      user, tpe, id, Timestamp.from(base.plusSeconds(s.toLong)))

    // user 1 X: 0s, 3s | batch boundary | 6s, 20s
    //   → 3s suppressed (3 < 5), 6s suppressed (3s → 6s gap 3 < 5,
    //     ACROSS the boundary — the state must carry), 20s kept
    // user 2 X: 7s, 8s in ONE batch but fed out of order
    //   → the per-batch sort must still keep 7s and suppress 8s
    // user 1 Y: 0s, 30s → both kept (different type key)
    // (all times within 10 s of each other so batch 1's watermark —
    // max event time − 10 s — never drops batch 2's rows as late)
    val batch1 = Seq(ev(1, 1, "X", 0), ev(2, 1, "X", 3),
      ev(10, 1, "Y", 0), ev(20, 2, "X", 8), ev(21, 2, "X", 7))
    val batch2 = Seq(ev(3, 1, "X", 6), ev(4, 1, "X", 20), ev(11, 1, "Y", 30))

    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksDb)
    val source = MemoryStream[DebounceStream.Ev]
    val q = DebounceStream.decisions(source.toDS())
      .writeStream.format("memory").queryName("debounce")
      .outputMode("append").start()
    try {
      source.addData(batch1: _*)
      q.processAllAvailable()
      source.addData(batch2: _*)
      q.processAllAvailable()
      val got = spark.table("debounce")
        .select("event_id", "suppressed").as[(Long, Boolean)]
        .collect().toMap
      val want = Map(1L -> false, 2L -> true, 3L -> true, 4L -> false,
        10L -> false, 11L -> false, 21L -> false, 20L -> true)
      assert(got == want, got)

      // parity with the batch report on the same rows
      val dir = java.nio.file.Files.createTempDirectory("graft-dbq").toString
      (batch1 ++ batch2)
        .map(e => (e.event_id, e.user_id, e.event_type, e.event_ts))
        .toDF("event_id", "user_id", "event_type", "ts")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = graft.operators.SeriesOps.q156Debounce.fn(spark, dir)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val streamAgg = spark.table("debounce")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("suppressed"), 1L).otherwise(0L)).as("n_suppressed"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
      assert(batch.keySet == streamAgg.keySet, (batch, streamAgg))
      batch.foreach { case (tpe, (total, supp, _)) =>
        assert(streamAgg(tpe) == ((total, supp)),
          s"$tpe: batch=$total/$supp stream=${streamAgg(tpe)}")
      }
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(ProviderKey, v)
        case None => spark.conf.unset(ProviderKey)
      }
    }
  }

  test("sub-millisecond gap components decide exactly like the batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Instant.parse("2026-01-01T00:00:00Z")
    // first event at +700µs, second at +5.0001s: the TRUE gap is
    // 4_999_400µs < 5s -> must be suppressed. A ms-truncated stream
    // clock would compute exactly 5_000_000µs and keep it.
    val evs = Seq(
      DebounceStream.Ev(1, "X", 1,
        Timestamp.from(base.plusNanos(700000L))),
      DebounceStream.Ev(1, "X", 2,
        Timestamp.from(base.plusNanos(5000100000L))))
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksDb)
    try {
      val source = MemoryStream[DebounceStream.Ev]
      val q = DebounceStream.decisions(source.toDS())
        .writeStream.format("memory").queryName("debounce_us")
        .outputMode("append").start()
      try {
        source.addData(evs: _*)
        q.processAllAvailable()
        val got = spark.table("debounce_us")
          .select("event_id", "suppressed")
          .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
        assert(got == Map(1L -> false, 2L -> true), got)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(ProviderKey, v)
        case None => spark.conf.unset(ProviderKey)
      }
    }
  }
}
