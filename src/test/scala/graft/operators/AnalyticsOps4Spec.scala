package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Closed-form contracts for the fourth analytics batch — the exact
  * Gini/weighted-median/stickiness/Wilson arithmetic the SF gate's
  * hash-match can't explain on its own. */
class AnalyticsOps4Spec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("q134: hand-computed Gini per segment, singleton is exactly zero") {
    import spark.implicits._
    val dir = tmp("graft-gini")
    // segment A spends (dollars): c1=1.00 (two 0.50 orders), c2=1.00,
    // c3=2.00 → x=[100,100,200] cents asc, i=1..3:
    //   Σi·x = 100 + 200 + 600 = 900, Σx = 400, n = 3
    //   G = (2·900 − 4·400)/(3·400) = 200/1200 = 1/6
    // segment B: single customer → G = (2·S − 2·S)/S = 0 exactly
    Seq((1L, 1L, 0.50), (2L, 1L, 0.50), (3L, 2L, 1.00),
      (4L, 3L, 2.00), (5L, 4L, 7.77))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"))
      .toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = StatsOps.q134Gini.fn(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.size == 2, out)
    assert(out("A") == ((3L, 400L, 200.0 / 1200.0)), out)
    assert(out("B") == ((1L, 777L, 0.0)), out)
  }

  test("q135: weighted median is the integer-threshold crossing element") {
    import spark.implicits._
    val dir = tmp("graft-wmed")
    // flag A: (price 1.00, w 1), (2.00, w 2), (3.00, w 3) → W=6,
    //   T=(6+1) div 2 = 3; cum = 1, 3, 6 → crossing at price 2.00
    // flag B: single line, any weight → its own price
    Seq(("A", 1.00, 1.0), ("A", 2.00, 2.0), ("A", 3.00, 3.0),
      ("B", 9.00, 5.0))
      .toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = StatsOps.q135WeightedMedian.fn(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("A") == ((6L, 200L, 2.00)), out)
    assert(out("B") == ((5L, 900L, 9.00)), out)
  }

  test("q136: stickiness is day-actives over calendar-month actives") {
    import spark.implicits._
    val dir = tmp("graft-dau")
    // month 2026-01: users {1,2} on the 1st, {1} on the 2nd → mau 2
    // month 2026-02: user {3} on the 1st → mau 1
    Seq((1L, 1L, "2026-01-01 10:00:00"), (2L, 2L, "2026-01-01 11:00:00"),
      (3L, 1L, "2026-01-01 12:00:00"), // same user+day → one DAU row
      (4L, 1L, "2026-01-02 10:00:00"),
      (5L, 3L, "2026-02-01 10:00:00"))
      .toDF("event_id", "user_id", "tss")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = BusinessOps.q136DauMau.fn(spark, dir).collect()
      .map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(
      "2026-01-01" -> ((2L, 2L, 1.0)),
      "2026-01-02" -> ((1L, 2L, 0.5)),
      "2026-02-01" -> ((1L, 1L, 1.0))), out)
  }

  test("q151: deciles are exact global-rank cuts with hand-computed rates") {
    import spark.implicits._
    val dir = tmp("graft-calib")
    // 20 events, scores 1..20 — decile k holds ranks 2k+1, 2k+2.
    // Purchases at scores 19 and 20 → only decile 9 converts (rate 1)
    val rows = (1 to 20).map { i =>
      (i.toLong, if (i >= 19) "purchase" else "view", i.toDouble)
    }
    rows.toDF("event_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = EvalOps.q151ScoreCalibration.fn(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(4), r.getDouble(5)))).toMap
    assert(out.size == 10, out)
    // decile 0: scores 1,2 → mean 1.5, rate 0
    assert(out(0L) == ((2L, 0L, 1.5, 0.0)), out)
    // decile 9: scores 19,20 → mean 19.5, rate 1
    assert(out(9L) == ((2L, 2L, 19.5, 1.0)), out)
    assert((1L to 8L).forall(k => out(k)._2 == 0L), out)
  }

  test("q153: KS is the exact max CDF gap; identical halves give zero") {
    import spark.implicits._
    val dir = tmp("graft-ks")
    // even ids (grp A): scores 1, 2, 3; odd ids (grp B): scores 3, 4
    //   distinct scores: 1, 2, 3, 4; NA=3, NB=2
    //   c1: 1, 2, 3, 3 | c2: 0, 0, 1, 2
    //   |c1·NB − c2·NA|: 2, 4, 3, 0 → max 4 → KS = 4/6 = 2/3
    Seq((2L, 1.0), (4L, 2.0), (6L, 3.0), (1L, 3.0), (3L, 4.0))
      .toDF("event_id", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = StatsOps.q153KsDrift.fn(spark, dir).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 2L, 4L)), r)
    assert(r.getDouble(3) == 4.0 / 3.0 / 2.0, r)

    val dir2 = tmp("graft-ks0")
    // identical distributions in both halves → every gap is exactly 0
    Seq((2L, 5.0), (4L, 7.0), (1L, 5.0), (3L, 7.0))
      .toDF("event_id", "value")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val z = StatsOps.q153KsDrift.fn(spark, dir2).head()
    assert(z.getLong(2) == 0L && z.getDouble(3) == 0.0, z)
  }

  test("q137: Wilson bounds bracket p_hat and match a local recomputation") {
    import spark.implicits._
    val dir = tmp("graft-wilson")
    val rows = (1 to 30).map(i => (i.toLong, "click")) ++
      (31 to 40).map(i => (i.toLong, "purchase"))
    rows.toDF("event_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = StatsOps.q137WilsonCi.fn(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    val (k, n) = (out("purchase")._1, out("purchase")._2)
    assert((k, n) == ((10L, 40L)))
    assert(out("purchase")._3 == 0.25)
    val (lo, hi) = (out("purchase")._4, out("purchase")._5)
    // the interval brackets p̂ and matches the closed form to 1e-12
    val p = 0.25; val z = 1.96; val nn = 40.0
    val denom = 1 + z * z / nn
    val center = (p + z * z / (2 * nn)) / denom
    val half = z * math.sqrt(p * (1 - p) / nn + z * z / (4.0 * nn * nn)) / denom
    assert(lo < 0.25 && 0.25 < hi, (lo, hi))
    assert(math.abs(lo - (center - half)) < 1e-12, lo)
    assert(math.abs(hi - (center + half)) < 1e-12, hi)
  }
}
