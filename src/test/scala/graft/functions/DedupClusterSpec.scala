package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupClusterSpec extends SparkSpec {

  test("label propagation finds connected components and canonical minimum") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11}, {20} singleton, {30,31,32} (star)
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 30L, 31L, 32L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (30L, 31L), (30L, 32L)).toDF("doc_a", "doc_b")
    val canon = DedupCluster.canonicalize(docs, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(canon(_) == 1L))
    assert(canon(10L) == 10L && canon(11L) == 10L)
    assert(canon(20L) == 20L)
    assert(Seq(30L, 31L, 32L).forall(canon(_) == 30L))
  }

  test("deep chain (diameter 14) converges through lineage checkpoints") {
    import spark.implicits._
    // a 15-node path needs 14 propagation rounds — several checkpoint
    // cycles at the default checkpointEvery=5 — and must still reach
    // the global minimum label at every node
    val n = 15
    val docs = (1L to n.toLong).toDF("doc_id")
    val pairs = (1L until n.toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val canon = DedupCluster.canonicalize(docs, pairs, maxIter = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to n.toLong).forall(canon(_) == 1L), canon)
  }

  test("end-to-end: minhash pairs → clusters over the documents table") {
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
    val pairs = graft.operators.DedupOps.q42MinHashLsh.fn(spark, sf("sf0.001"))
      .filter(col("est_jaccard") >= 0.5)
      .select("doc_a", "doc_b")
    // one canonical doc kept per cluster
    val kept = DedupCluster.canonicalize(docs.select("doc_id"), pairs)
      .filter(col("doc_id") === col("canonical_id"))
    val nPairsDocs = pairs.select(col("doc_a").as("d")).union(
      pairs.select(col("doc_b").as("d"))).distinct().count()
    // kept size = total − (paired docs − their cluster count) ≤ total
    assert(kept.count() <= docs.count())
    assert(kept.count() >= docs.count() - nPairsDocs)
  }
}
