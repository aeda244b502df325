package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Bucketed co-located joins: pre-shuffling both fact tables into the
  * same bucket layout on the join key removes the per-query exchange
  * entirely — the 100 TB lever for repeated fact-fact joins
  * (lineitem ⋈ orders on every analytical query).
  */
class BucketingSpec extends SparkSpec {

  private def countShuffles(df: DataFrame): Int = {
    val plan: SparkPlan = df.queryExecution.executedPlan
    plan.collect { case e: ShuffleExchangeLike => e }.size
  }

  /** Remove ONLY this spec's table directories from the shared
    * warehouse — a recursive delete of spark-warehouse itself would
    * clobber tables any other (or concurrent) spec created there. */
  private def dropTables(names: String*): Unit = names.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val dir = new java.io.File("spark-warehouse", t)
    if (dir.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("bucketed fact-fact join plans without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")

    Tables.lineitem(spark, sf("sf0.001"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    Tables.orders(spark, sf("sf0.001"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("o_b")

    // disable broadcast (the join must exercise the bucket layout) and
    // AQE (so executedPlan is final and shuffle nodes are countable)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def query(li: DataFrame, o: DataFrame): DataFrame =
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))

      val bucketed = query(spark.table("li_b"), spark.table("o_b"))
      val unbucketed = query(Tables.lineitem(spark, sf("sf0.001")),
        Tables.orders(spark, sf("sf0.001")))

      assert(bucketed.queryExecution.executedPlan.toString
        .contains("SortMergeJoin"), bucketed.queryExecution.executedPlan)
      // co-bucketed: only the groupBy shuffles (1); unbucketed: both
      // join sides shuffle too (3)
      assert(countShuffles(bucketed) == 1,
        bucketed.queryExecution.executedPlan)
      assert(countShuffles(unbucketed) == 3,
        unbucketed.queryExecution.executedPlan)
      // and results agree
      assert(bucketed.exceptAll(unbucketed).count() == 0 &&
        unbucketed.exceptAll(bucketed).count() == 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      dropTables("li_b", "o_b")
    }
  }

  test("q191 on the bucketed lake plans its join + rollup with zero " +
      "fact exchanges and matches the parquet-scan answer") {
    val d = sf("sf0.001")
    operators.LayoutOps.writeBucketedFacts(spark, d, buckets = 8)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (li, o) = operators.LayoutOps.readBucketedFacts(spark)
      val bucketed = operators.CurationOps.reconciliationOn(o, li)
      val plain = operators.CurationOps.reconciliationOn(
        Tables.orders(spark, d), Tables.lineitem(spark, d))
      // bucketed: the lineitem rollup AND the fact-fact join ride the
      // bucket layout — only the ≤6-row band rollup and the 1-row
      // total agg shuffle (2). Plain parquet: + the orders join side
      // and the lineitem agg exchange (4).
      assert(countShuffles(bucketed) == 2,
        bucketed.queryExecution.executedPlan)
      assert(countShuffles(plain) == 4,
        plain.queryExecution.executedPlan)
      // same bytes in → same bytes out: layout moves exchanges, never
      // the answer
      assert(bucketed.exceptAll(plain).count() == 0 &&
        plain.exceptAll(bucketed).count() == 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      dropTables("lineitem_bucketed", "orders_bucketed")
    }
  }
}
