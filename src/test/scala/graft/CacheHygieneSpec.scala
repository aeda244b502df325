package graft

/** The Verify/Bench runners sweep cached relations after each query
  * materializes (CacheHygiene.sweep). Locks the contract: a
  * cache-heavy query leaves cached state behind, and one sweep
  * returns the session to a clean cache manager.
  *
  * ASSUMES SERIAL SUITE EXECUTION in the forked test JVM (sbt default:
  * Test/fork := true, testForkedParallel = false). The isClean /
  * !isClean assertions read session-global cache-manager state, and
  * sweep() would clobber a concurrently-running suite's caches —
  * guard this suite with its own SparkSession before ever enabling
  * parallel test execution.
  */
class CacheHygieneSpec extends SparkSpec {

  test("sweep releases a cache-heavy query's relations") {
    val d = sf("sf0.001")
    CacheHygiene.sweep(spark) // other suites share the session
    assert(CacheHygiene.isClean(spark))
    // triangle census caches the edge list, degrees, and oriented
    // adjacency — the heaviest per-query cache user
    assert(operators.GraphOps.q85Triangles.fn(spark, d).count() > 0)
    assert(!CacheHygiene.isClean(spark),
      "q85 is expected to cache; if it stopped, pick another query here")
    CacheHygiene.sweep(spark)
    assert(CacheHygiene.isClean(spark))
  }

  test("memo frames stay materialized across a sweep and are not rebuilt") {
    import org.apache.spark.sql.execution.LogicalRDD
    val d = sf("sf0.001")
    // the localCheckpoint RDDs q64's plan reads: silver's pin and the
    // daily and health pins (and silver itself, under the pins)
    def leaves(): Seq[org.apache.spark.rdd.RDD[_]] =
      operators.SmartHomeOps.q64Dashboard.fn(spark, d).queryExecution
        .analyzed.collect { case lr: LogicalRDD => lr.rdd }.distinct
    CacheHygiene.sweep(spark)
    assert(operators.SmartHomeOps.q64Dashboard.fn(spark, d).count() > 0)
    val before = leaves()
    assert(before.nonEmpty, "q64 must read memoized checkpoint leaves")
    CacheHygiene.sweep(spark)
    assert(CacheHygiene.isClean(spark))
    // after the sweep the same checkpointed RDDs back the plan: the
    // memo neither rebuilds silver from the fixture generator nor has
    // to re-register anything with the cache manager (the round-6
    // bench-noise defect: q62 0.38 s → 3.12 s when a sweep dropped it)
    val after = leaves()
    assert(after.map(_.id) == before.map(_.id), "memo frames were rebuilt")
    assert(after.forall(_.isCheckpointed), "memo frames lost their blocks")
    assert(CacheHygiene.isClean(spark))
    assert(operators.SmartHomeOps.q64Dashboard.fn(spark, d).count() > 0)
    CacheHygiene.sweep(spark)
  }
}
