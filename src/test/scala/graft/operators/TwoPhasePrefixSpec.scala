package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

/** Property-based invariants for the two-phase range-partitioned
  * prefix idioms (Kernels.globalRowNumber / groupedPrefixSum) —
  * the load-bearing primitives behind q91/q112/q115/q121/q132/q134/
  * q135/q151/q153: on ANY input the distributed result must equal the
  * single-partition window reference exactly, regardless of where the
  * range boundaries land (empty partitions, all-one-group skew,
  * duplicate sort keys with unique tiebreaks). Fixed seeds, the
  * ChangePropertySpec offline-scalacheck convention. */
class TwoPhasePrefixSpec extends SparkSpec {

  private case class R(g: String, v: Long, w: Long)

  private val rowGen: Gen[R] = for {
    g <- Gen.oneOf("a", "b", "c")
    v <- Gen.choose(-50L, 50L)
    w <- Gen.choose(1L, 9L)
  } yield R(g, v, w)

  private def draw(seed: Long): Seq[(String, Long, Long, Long)] = {
    val n = 1 + (seed * 37 % 120).toInt
    Gen.listOfN(n, rowGen)(Gen.Parameters.default, rng.Seed(seed))
      .getOrElse(fail(s"generator exhausted at seed $seed"))
      .zipWithIndex.map { case (r, i) => (r.g, r.v, r.w, i.toLong) }
  }

  test("groupedPrefixSum equals the per-group window reference (12 seeds)") {
    import spark.implicits._
    for (seed <- 1L to 12L) {
      val df = draw(seed).toDF("g", "v", "w", "id").repartition(7)
      val got = Kernels.groupedPrefixSum(df, Seq("g"),
          Seq(col("v"), col("id")), col("w"), "cum", "tot")
        .select("g", "v", "id", "cum", "tot")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
          ((r.getLong(3), r.getLong(4)))).toMap
      val want = df.coalesce(1)
        .withColumn("cum", sum(col("w")).over(
          Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("tot", sum(col("w")).over(Window.partitionBy(col("g"))))
        .select("g", "v", "id", "cum", "tot")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
          ((r.getLong(3), r.getLong(4)))).toMap
      assert(got == want, s"seed $seed")
      graft.CacheHygiene.sweep(spark) // each call pins a cache
    }
  }

  test("groupedPrefixSums carries N measures exactly (q153/q132 shapes, 12 seeds)") {
    import spark.implicits._
    for (seed <- 40L to 51L) {
      val df = draw(seed).toDF("g", "v", "w", "id").repartition(6)
      // two measures over one pass: a weighted prefix (w) and a pure
      // rank (1) — the q153 dual-CDF and q132 rank+total shapes at once;
      // empty groups = pure global prefix (the q153 case)
      val got = Kernels.groupedPrefixSums(df, Seq.empty,
          Seq(col("v"), col("id")),
          Seq((col("w"), "cw", Some("tw")), (lit(1L), "rn", None)))
        .select("id", "cw", "tw", "rn")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val ref = Window.orderBy(col("v"), col("id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val want = df.coalesce(1)
        .withColumn("cw", sum(col("w")).over(ref))
        .withColumn("tw", sum(col("w")).over(
          Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("v"), col("id"))).cast("long"))
        .select("id", "cw", "tw", "rn")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == want, s"seed $seed")
      graft.CacheHygiene.sweep(spark)
    }
  }

  test("globalRowNumber equals the single-window reference (12 seeds)") {
    import spark.implicits._
    for (seed <- 20L to 31L) {
      val df = draw(seed).toDF("g", "v", "w", "id").repartition(5)
      val got = Kernels.globalRowNumber(df,
          Seq(col("v"), col("id")), "rn")
        .select("id", "rn").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = df.coalesce(1)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("v"), col("id"))).cast("long"))
        .select("id", "rn").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed $seed")
      graft.CacheHygiene.sweep(spark)
    }
  }
}
