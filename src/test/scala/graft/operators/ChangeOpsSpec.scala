package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Null-semantics contracts for the change-data helpers — the cases
  * the q79 oracle can't reach because its value columns are never
  * null. */
class ChangeOpsSpec extends SparkSpec {

  test("q87 scd2: intervals chain gaplessly and partition the event count") {
    val d = sf("sf0.001")
    val out = ChangeOps.q87Scd2.fn(spark, d).cache()
    // versions are dense from 1 per user
    val dense = out.groupBy("user_id")
      .agg(min("version").as("lo"), max("version").as("hi"),
        count(lit(1)).as("k"))
    assert(dense.filter(col("lo") =!= 1 || col("hi") =!= col("k")).count() == 0)
    // valid_to == next version's valid_from (gapless chain, last open)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("version")
    val chained = out.withColumn("next_from", lead("valid_from_us", 1).over(w))
    assert(chained.filter(!(col("valid_to_us") <=> col("next_from")))
      .count() == 0)
    // intervals cover every event exactly once
    val total = graft.Tables.events(spark, d).count()
    assert(out.agg(sum("n_events")).head().getLong(0) == total)
    // a version's type always differs from its predecessor's
    val flip = out.withColumn("prev_type", lag("event_type", 1).over(w))
    assert(flip.filter(col("prev_type").isNotNull &&
      col("prev_type") === col("event_type")).count() == 0)
    out.unpersist()
  }

  test("mergeInto: a source NULL overwrites the target value") {
    import spark.implicits._
    val target = Seq((1L, Some(10L)), (2L, Some(20L))).toDF("k", "v")
    val source = Seq((1L, Option.empty[Long]), (3L, Some(30L))).toDF("k", "v")
    val out = ChangeOps.mergeInto(target, source, Seq("k"), Seq("v"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1))), r.getBoolean(2)))
      .toMap
    assert(out(1L) == ((None, true)), "NULL update must propagate")
    assert(out(2L) == ((Some(20L), false)), "unmatched target passes through")
    assert(out(3L) == ((Some(30L), true)), "new key inserts")
  }

  test("q103 pit join: interval pick, pre-history null, same-tier collapse, tie") {
    import spark.implicits._
    val base = java.time.Instant.parse("2025-07-15T00:00:00Z")
    def t(s: Int) = java.sql.Timestamp.from(base.plusSeconds(s.toLong))
    def us(s: Int) = base.toEpochMilli * 1000L + s * 1000000L
    val ev = Seq(
      // user 1: tier 1 at t10, tier 1 again at t20 (collapses into
      // version 1), tier 2 at t30
      (1L, t(10), 100L, "signup", 150.0),
      (1L, t(20), 101L, "signup", 199.0),
      (1L, t(30), 102L, "signup", 250.0),
      (1L, t(5), 103L, "purchase", 9.0),   // before history → null tier
      (1L, t(25), 104L, "purchase", 9.0),  // inside version 1
      (1L, t(30), 105L, "purchase", 9.0),  // AT a boundary → new version
      // user 2: two signups in the SAME microsecond with different
      // tiers — the collapse keeps the later version (event_id order)
      (2L, t(0), 200L, "signup", 100.0),
      (2L, t(0), 201L, "signup", 300.0),
      (2L, t(1), 202L, "purchase", 9.0)
    ).toDF("user_id", "ts", "event_id", "event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft-pit").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = ChangeOps.q103PitJoin.fn(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(4)) None else Some(r.getLong(4))),
         (if (r.isNullAt(5)) None else Some(r.getLong(5))),
         (if (r.isNullAt(6)) None else Some(r.getLong(6))))).toMap
    assert(out(103L) == ((None, None, None)), "pre-history purchase")
    assert(out(104L) == ((Some(1L), Some(1L), Some(us(10)))),
      "same-tier re-signup must not open a new version")
    assert(out(105L) == ((Some(2L), Some(2L), Some(us(30)))),
      "a purchase at the boundary instant sees the new version")
    assert(out(202L) == ((Some(3L), Some(2L), Some(us(0)))),
      "same-µs tie collapses to the later version's tier")
  }

  test("q103 on sf0.001: every purchase appears once; containment holds") {
    val d = sf("sf0.001")
    val ev = graft.Tables.events(spark, d)
    val out = ChangeOps.q103PitJoin.fn(spark, d).cache()
    assert(out.count() ==
      ev.filter(col("event_type") === "purchase").count())
    // matched rows: the joined interval starts at or before the purchase
    assert(out.filter(col("tier").isNotNull &&
      col("valid_from_us") > col("ts_us")).count() == 0)
    // null rows are exactly the purchases before the user's first signup
    val firstSignup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("fs"))
    val nulls = out.filter(col("tier").isNull)
      .join(firstSignup, Seq("user_id"), "left")
    assert(nulls.filter(col("fs").isNotNull && col("ts_us") >= col("fs"))
      .count() == 0)
    out.unpersist()
  }

  test("q152: two change timelines align on their union of boundaries") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-align").toString
    // cust 1: priority changes at d1 (P1) and d5 (P2); status changes
    // at d1 (O) and d3 (F). Day 5 has TWO orders — the max-orderkey
    // row (P2/F) must win the per-day dedup over the decoy (P9/X).
    Seq(
      (1L, 1L, "2026-01-01", "P1", "O"),
      (2L, 1L, "2026-01-03", "P1", "F"),
      (3L, 1L, "2026-01-05", "P9", "X"), // decoy, lower orderkey
      (4L, 1L, "2026-01-05", "P2", "F"))
      .toDF("o_orderkey", "o_custkey", "dd", "o_orderpriority",
        "o_orderstatus")
      .withColumn("o_orderdate", to_date(col("dd"))).drop("dd")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = ChangeOps.q152IntervalAlign.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString,
        r.getDate(2).toString, r.getString(3), r.getString(4)))
      .sortBy(_._2)
    assert(out.toSeq == Seq(
      (1L, "2026-01-01", "2026-01-03", "P1", "O"),
      (1L, "2026-01-03", "2026-01-05", "P1", "F"),
      (1L, "2026-01-05", "9999-12-31", "P2", "F")), out.toSeq)
  }
}
