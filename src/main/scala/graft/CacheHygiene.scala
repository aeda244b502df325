package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Runner-level cache hygiene. Several operators cache frames their
  * own plan reads more than once (triangle adjacency, minhash
  * signatures, …). Those caches are correct and wanted WHILE the
  * query materializes — but a long Verify/Bench session runs ~130
  * queries in one JVM, and without an explicit release the cached
  * relations accumulate until LRU eviction (harmless at sf0.1,
  * sloppy at the 100 TB posture where executor memory is the scarce
  * resource). The runners sweep after each query's action completes:
  * within-query reuse keeps its benefit, cross-query state is zero.
  *
  * The one deliberate exception is the session memo below: values
  * several queries share (the canonical-cluster frames, the smart-home
  * fixture Silver and its pins, the embedding corpus size). Its frames
  * are localCheckpoint leaves, whose blocks live outside the cache
  * manager, so a sweep leaves them in place.
  */
object CacheHygiene {
  /** Drop every cached relation. Safe after materialization: any
    * re-run simply re-caches. */
  def sweep(spark: SparkSession): Unit =
    spark.sharedState.cacheManager.clearCache()

  /** True iff no relation is currently cached (spec hook). */
  def isClean(spark: SparkSession): Boolean =
    spark.sharedState.cacheManager.isEmpty

  /** False under SPARK_GRAFT_NO_MEMO: nothing is memoized and every
    * caller pays its own build, so Scale sweep's timed runs include the
    * builds a memo would share. */
  val memoizing: Boolean = !sys.env.contains("SPARK_GRAFT_NO_MEMO")

  private val memos = new ConcurrentHashMap[(SparkSession, String), AnyRef]()

  /** Sessions whose application-end hook is registered: one listener
    * per session, however many keys it memoizes. */
  private val hooked = ConcurrentHashMap.newKeySet[SparkSession]()

  /** The value memoized for (`s`, `key`), built on first use. A build
    * may read other memo keys. Two threads that miss at once both
    * build, and the first to finish wins. A DataFrame value should be
    * a localCheckpoint leaf, so that it outlives [[sweep]]. Entries
    * are dropped when the session's application ends. */
  def memo[T <: AnyRef](s: SparkSession, key: String)(build: => T): T = {
    if (!memoizing) return build
    val hit = memos.get((s, key))
    if (hit != null) return hit.asInstanceOf[T]
    if (hooked.add(s)) {
      val sc = s.sparkContext
      sc.addSparkListener(new SparkListener { self =>
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          forget(s)
          val _ = hooked.remove(s)
          sc.removeSparkListener(self)
        }
      })
    }
    val built = build
    val prior = memos.putIfAbsent((s, key), built)
    (if (prior == null) built else prior).asInstanceOf[T]
  }

  /** Drops every memo entry of `s`; the next use rebuilds. A dropped
    * frame's localCheckpoint blocks are reclaimed by the ContextCleaner
    * once nothing references it. */
  def forget(s: SparkSession): Unit = {
    val _ = memos.keySet.removeIf(_._1 eq s)
  }
}
