package graft

/** Plan auditor: prints `explain("formatted")` for the named queries,
  * or for every registered query when none are named, so pushdown /
  * broadcast / codegen properties can be inspected on the session
  * Bench times. PlanSpec's locks are the authority on plan shape.
  * Usage: runMain graft.ExplainAudit [sfDir] [queryName ...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.create()
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
