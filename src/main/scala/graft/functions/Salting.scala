package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot aggregation keys (SURVEY §4 /
  * spark_guide: salting). AQE's skew-join splitting handles joins;
  * for aggregations over power-law keys (one device producing 90% of
  * events, one user owning half the corpus) the partial aggregate for
  * the hot key still lands on one task. Salting splits it:
  *
  *   phase 1: group by (key, salt = pmod(hash(row-random), n))
  *            — n-way parallel partials per hot key
  *   phase 2: group by key — merges n tiny partials
  *
  * Only decomposable aggregates survive two-phase re-aggregation;
  * this utility ships the common ones and keeps the API explicit
  * about the re-merge function.
  */
object Salting {

  /** A salted aggregation term: how to compute it per (key, salt)
    * partial, and how to merge partials per key. */
  final case class SaltedAgg(partial: Column, merge: String => Column,
      name: String)

  def sumOf(c: Column, as: String): SaltedAgg =
    SaltedAgg(sum(c).as(s"__p_$as"), p => sum(col(p)).as(as), as)
  def countOf(as: String): SaltedAgg =
    SaltedAgg(count(lit(1)).as(s"__p_$as"), p => sum(col(p)).as(as), as)
  def maxOf(c: Column, as: String): SaltedAgg =
    SaltedAgg(max(c).as(s"__p_$as"), p => max(col(p)).as(as), as)
  def minOf(c: Column, as: String): SaltedAgg =
    SaltedAgg(min(c).as(s"__p_$as"), p => min(col(p)).as(as), as)

  /** Two-phase salted groupBy. `salts` controls hot-key fan-out;
    * `spark.sql.shuffle.partitions`-sized values are pointless — use
    * the expected hot-key concentration (8-64 is typical). */
  def saltedAggregate(df: DataFrame, keys: Seq[String], salts: Int,
      aggs: Seq[SaltedAgg]): DataFrame = {
    require(salts > 0 && aggs.nonEmpty)
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    val phase1 = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(aggs.head.partial, aggs.tail.map(_.partial): _*)
    val merged = phase1
      .groupBy(keys.map(col): _*)
      .agg(aggs.head.merge(s"__p_${aggs.head.name}"),
        aggs.tail.map(a => a.merge(s"__p_${a.name}")): _*)
    merged
  }
}
