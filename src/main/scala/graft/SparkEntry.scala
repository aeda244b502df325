package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's query contract (SURVEY.md §7).
  *
  * `queries` is the engine's public query inventory: one entry per
  * operator from SURVEY.md §2 (relational parity surface) plus the
  * LLM-data-pipeline extensions (dedup / similarity / text analysis /
  * multimodal). `oracleSql` carries the DuckDB-equivalent SQL of every
  * query.
  */
object SparkEntry {

  /** All query groups, one per domain module. A group is a domain, not
    * a q-number range, and query names must be unique across the whole
    * list. Exposed so RegistrySpec sums the SAME list the merge uses (a
    * new group can't silently desync the expected count). */
  private[graft] lazy val groups: Seq[Map[String, QueryDef]] = Seq(
    operators.RelationalOps.all,
    operators.TextOps.all,
    operators.DedupOps.all,
    operators.SimilarityOps.all,
    operators.RankingOps.all,
    operators.CurationOps.all,
    operators.ClusteringOps.all,
    operators.GraphOps.all,
    operators.ChangeOps.all,
    operators.LayoutOps.all,
    operators.StatsOps.all,
    operators.SeriesOps.all,
    operators.TextStatsOps.all,
    operators.BusinessOps.all,
    operators.SketchOps.all,
    operators.EvalOps.all,
    operators.SmartHomeOps.all)

  private lazy val defs: Map[String, QueryDef] =
    groups.reduce(_ ++ _)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.RelationalOps.q1AggRollup.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (name, qd) => name -> qd.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    defs.map { case (name, qd) => name -> qd.oracle }
}
