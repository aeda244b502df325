package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

/** Property-based lock of the (group, value) CELL-COLLAPSE rank-pick
  * argument — the load-bearing move behind q166/q176/q187 (and the
  * r10 sf100 wins): because equal-value rows are contiguous under a
  * (value, id) total order, the rank-r VALUE is the unique value run
  * whose cumulative count straddles r — the row-level tiebreak can
  * decide WHICH row sits at rank r but never WHAT value it carries.
  * So picking through the collapsed cell frame must equal the
  * row-level row_number pick for EVERY rank, on any distribution
  * (heavy ties, unique values, single-row groups). Fixed seeds, the
  * ChangePropertySpec offline-scalacheck convention. */
class CellRankSpec extends SparkSpec {

  private case class R(g: String, v: Long)

  private val rowGen: Gen[R] = for {
    g <- Gen.oneOf("a", "b", "c")
    // small domain → heavy ties (the case the argument is FOR)
    v <- Gen.frequency(3 -> Gen.choose(0L, 6L), 1 -> Gen.choose(0L, 500L))
  } yield R(g, v)

  private def draw(seed: Long): Seq[(String, Long, Long)] = {
    val n = 1 + (seed * 41 % 90).toInt
    Gen.listOfN(n, rowGen)(Gen.Parameters.default, rng.Seed(seed))
      .getOrElse(fail(s"generator exhausted at seed $seed"))
      .zipWithIndex.map { case (r, i) => (r.g, r.v, i.toLong) }
  }

  test("cell-frame rank pick equals the row-level pick at every rank (10 seeds)") {
    import spark.implicits._
    for (seed <- 1L to 10L) {
      val df = draw(seed).toDF("g", "v", "id").repartition(7).cache()
      // row-level reference: rank over the (v, id) total order
      val byG = Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
      val rowPick = df.withColumn("r", row_number().over(byG).cast("long"))
        .select("g", "r", "v").collect()
        .map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2)).toMap
      // cell method: collapsed counts + grouped prefix, straddle test
      val cells = df.groupBy(col("g"), col("v"))
        .agg(count(lit(1)).as("cnt"))
      val cum = Kernels.groupedPrefixSums(cells, Seq("g"),
        Seq(col("v")), Seq((col("cnt"), "cum", None)))
        .select("g", "v", "cnt", "cum").collect()
        .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      val byGroup = cum.groupBy(_._1)
      rowPick.foreach { case ((g, r), wantV) =>
        val run = byGroup(g).filter { case (_, _, cnt, c) =>
          c >= r && c - cnt < r
        }
        assert(run.length == 1, s"seed $seed: rank $r in $g has ${run.length} runs")
        assert(run.head._2 == wantV,
          s"seed $seed: rank $r in $g cell=${run.head._2} row=$wantV")
      }
    }
  }
}
