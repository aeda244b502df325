package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class SaltingSpec extends SparkSpec {

  test("salted aggregation equals the plain aggregation on a skewed key") {
    // events: user 0 made artificially hot by keying everything mod 3
    val df = Tables.events(spark, sf("sf0.01"))
      .withColumn("hot_key", when(col("user_id") % 3 === 0, 0L)
        .otherwise(col("user_id")))
    val plain = df.groupBy("hot_key").agg(
      sum(col("value")).as("sum_v"), count(lit(1)).as("n"),
      max(col("value")).as("max_v"), avg(col("value")).as("avg_v"))
    val salted = Salting.saltedAggregate(df, Seq("hot_key"), salts = 16,
      Seq(Salting.sumOf(col("value"), "sum_v"), Salting.countOf("n"),
        Salting.maxOf(col("value"), "max_v")))
    val joined = plain.alias("p").join(salted.alias("s"), "hot_key")
    assert(joined.count() == plain.count())
    val bad = joined.filter(
      abs(col("p.sum_v") - col("s.sum_v")) > 1e-6 ||
        col("p.n") =!= col("s.n") ||
        col("p.max_v") =!= col("s.max_v") ||
        // avg = merged sum / merged count, never an average of averages
        abs(col("p.avg_v") - col("s.sum_v") / col("s.n")) > 1e-9)
    assert(bad.count() == 0)
  }
}
