package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

/** Property-based invariants for the change-data and resampling
  * operators: randomized snapshots through the REAL operators, fixed
  * seeds (PropertySpec's offline-scalacheck convention). */
class ChangePropertySpec extends SparkSpec {

  private case class Kv(k: Long, v: Option[Long])

  private val kvGen: Gen[Kv] = for {
    k <- Gen.choose(1L, 60L)
    nullV <- Gen.prob(0.15)
    v <- Gen.choose(-100L, 100L)
  } yield Kv(k, if (nullV) None else Some(v))

  private def draw(n: Int, seed: Long): List[Kv] =
    Gen.listOfN(n, kvGen)(Gen.Parameters.default, rng.Seed(seed))
      .getOrElse(fail(s"generator exhausted at seed $seed"))
      // one row per key (diff/merge operate on keyed snapshots)
      .groupBy(_.k).map(_._2.head).toList

  private def toDf(rows: Seq[Kv]) = {
    import spark.implicits._
    rows.map(r => (r.k, r.v)).toDF("k", "v")
  }

  test("mergeInto: output keys = target ∪ source; values follow MERGE semantics") {
    for (seed <- 11L to 15L) {
      val t = draw(40, seed)
      val s = draw(40, seed + 100)
      val out = ChangeOps.mergeInto(toDf(t), toDf(s), Seq("k"), Seq("v"))
        .collect()
        .map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) None else Some(r.getLong(1))), r.getBoolean(2)))
        .toMap
      val tMap = t.map(r => r.k -> r.v).toMap
      val sMap = s.map(r => r.k -> r.v).toMap
      assert(out.keySet == tMap.keySet ++ sMap.keySet)
      out.foreach { case (k, (v, fromSource)) =>
        if (sMap.contains(k)) {
          assert(fromSource && v == sMap(k), s"seed=$seed k=$k source wins")
        } else {
          assert(!fromSource && v == tMap(k), s"seed=$seed k=$k target kept")
        }
      }
    }
  }

  test("resample shape: contiguous grid per user, gaps forward-filled") {
    // the q82 operator over real testdata: per user the grid must be
    // contiguous from first to last bucket, every non-gap bucket's
    // value must equal some event value, and no value may be null
    // after the first observation
    val out = graft.SparkEntry.queries("q82_resample_ffill")(
      spark, sf("sf0.001")).cache()
    val du = 21600000000L
    val spanCheck = out.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        ((max(col("bucket_us")) - min(col("bucket_us"))) / du + 1).as("span"))
      .filter(col("n") =!= col("span"))
    assert(spanCheck.count() == 0, "grid must be contiguous per user")
    assert(out.filter(col("value").isNull).count() == 0,
      "first bucket is always observed, so fill leaves no nulls")
    assert(out.filter(!col("is_gap")).count() > 0 &&
      out.filter(col("is_gap")).count() > 0,
      "fixture must exercise both observed and gap buckets")
    out.unpersist()
  }
}
