package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Closed-form contracts for the unpivot and streak queries
  * (RelationalOps) and the gram-matrix and eigenvector queries
  * (ClusteringOps). */
class Relational4Spec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("q142: melt emits one row per (flag, measure) with exact fp sums") {
    import spark.implicits._
    val dir = tmp("graft-melt")
    Seq(("A", 1.0, 10.00, 0.05, 0.01), ("A", 2.0, 20.00, 0.10, 0.02),
      ("B", 5.0, 50.00, 0.00, 0.08))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = RelationalOps.q142Unpivot.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out.size == 8, out)
    assert(out(("A", "quantity")) == ((2L, 300L, 100L, 200L)), out)
    assert(out(("A", "price")) == ((2L, 3000L, 1000L, 2000L)), out)
    assert(out(("A", "discount")) == ((2L, 1500L, 500L, 1000L)), out)
    assert(out(("B", "tax")) == ((1L, 800L, 800L, 800L)), out)
  }

  test("q143: islands split exactly at day gaps; longest streak wins") {
    import spark.implicits._
    val dir = tmp("graft-streak")
    def ev(id: Long, u: Long, day: Int) =
      (id, u, s"2026-01-${"%02d".format(day)} 12:00:00")
    // u1: days 1,2,3 then 5 → best streak 3 starting day 1
    // u2: days 10, 11 → streak 2; u3: day 20 only → streak 1
    Seq(ev(1, 1, 1), ev(2, 1, 2), ev(3, 1, 3), ev(4, 1, 5),
      ev(5, 1, 1), // duplicate (user, day) must not inflate the streak
      ev(6, 2, 10), ev(7, 2, 11), ev(8, 3, 20))
      .toDF("event_id", "user_id", "tss")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val day0 = java.time.LocalDate.parse("2026-01-01").toEpochDay
    val out = RelationalOps.q143Streaks.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, 3L, day0), (2L, 2L, day0 + 9), (3L, 1L, day0 + 19)), out.toSeq)
  }

  test("q145: aligned corpus gives the axis eigenvector with exact lambda") {
    import spark.implicits._
    val dir = tmp("graft-eig")
    // both vectors along e0 → mean gram = diag(1, 0): the dominant
    // direction is exactly e0 with λ = 1, reached in one step and
    // stable through all 12 — every value closed-form
    Seq((1L, Array(1f, 0f)), (2L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = ClusteringOps.q145TopEigenvector.fn(spark, dir).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out == Map(
      0 -> ((100000L, 1.0, 1.0)),
      1 -> ((0L, 0.0, 1.0))), out)
  }

  test("q145: on real data the component is unit-infinity-norm, 64 dims") {
    val rows = ClusteringOps.q145TopEigenvector.fn(spark, sf("sf0.001"))
      .collect()
    assert(rows.length == 64)
    assert(rows.map(r => math.abs(r.getLong(1))).max == 100000L,
      "infinity-norm normalization must pin max |comp_fp| to Q")
    assert(rows.head.getDouble(3) > 0, "gram of real vectors has λ > 0")
  }

  test("q144: hand-computed 2x2 gram matrix, exact fp sums") {
    import spark.implicits._
    val dir = tmp("graft-gram")
    Seq((1L, Array(1f, 2f)), (2L, Array(3f, 4f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = ClusteringOps.q144GramMatrix.fn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.size == 3, out)
    // (0,0): 1·1 + 3·3 = 10; (0,1): 1·2 + 3·4 = 14; (1,1): 4 + 16 = 20
    assert(out((0, 0)) == ((2L, 10000000000L, 5.0)), out)
    assert(out((0, 1)) == ((2L, 14000000000L, 7.0)), out)
    assert(out((1, 1)) == ((2L, 20000000000L, 10.0)), out)
  }
}
