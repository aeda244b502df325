package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Invariant specs for the round-3 operators: TF-IDF / BM25 ranking,
  * spherical k-means, the bucketed interval join (cross-checked
  * against a naive theta join), and near-dup cluster canonicalization
  * (cross-checked against its own edge set).
  */
class RankingClusteringSpec extends SparkSpec {

  private val d = sf("sf0.001")

  test("q54 tf-idf: top-3 per doc, df within corpus bounds, ranks dense") {
    val out = RankingOps.q54Tfidf.fn(spark, d).cache()
    val n = Tables.documents(spark, d).count()
    val perDoc = out.groupBy("doc_id")
      .agg(count(lit(1)).as("k"), max("rank").as("maxr"), min("rank").as("minr"))
    // every doc has ≥3 distinct terms in this corpus → exactly 3 rows,
    // ranks exactly {1,2,3}
    assert(perDoc.filter(col("k") =!= 3 || col("minr") =!= 1 ||
      col("maxr") =!= 3).count() == 0)
    assert(out.filter(col("df") < 1 || col("df") > n).count() == 0)
    assert(out.filter(col("tf") < 1).count() == 0)
    // a term in every document has idf ln(1)=0 → tfidf 0; others > 0
    assert(out.filter(col("df") === n && col("tfidf") =!= 0.0).count() == 0)
    assert(out.filter(col("df") < n && col("tfidf") <= 0.0).count() == 0)
    out.unpersist()
  }

  test("q55 bm25: scores positive, monotone list, matches within query size") {
    val rows = RankingOps.q55Bm25.fn(spark, d)
      .orderBy(col("score").desc, col("doc_id")).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val nMatch = r.getAs[Long]("n_match")
      assert(nMatch >= 1 && nMatch <= 3) // |{spark, window, join}|
      assert(r.getAs[Double]("score") > 0.0)
    }
  }

  test("q55 bm25: a NULL-text document counts in n_docs and avgdl, as in the oracle") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25-null").toString
    Seq((1L, Some("spark join spark")), (2L, Some("window a")), (3L, None),
      (4L, Some("b c d e")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    // the oracle's g CTE: count(*) counts doc 3, sum(len(...)) skips it
    val nDocs = 4.0
    val avgdl = (3 + 2 + 4).toDouble / 4
    def termScore(tf: Double, df: Double, dl: Double): Long = {
      val s = StrictMath.log(((nDocs - df) + 0.5) / (df + 0.5) + 1.0) *
        (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
      math.floor(s * 100000.0 + 0.5).toLong
    }
    val expect = Map(
      1L -> (2L, termScore(2, 1, 3) + termScore(1, 1, 3)), // spark ×2, join
      2L -> (1L, termScore(1, 1, 2)))                      // window
    val got = RankingOps.q55Bm25.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expect.map { case (id, (n, fp)) => id -> (n, fp.toDouble / 100000.0) })
  }

  test("q56 kmeans: clusters partition the corpus; centroids are seeds") {
    val out = ClusteringOps.q56Kmeans.fn(spark, d).cache()
    val corpusN = Tables.embeddings(spark, d).count()
    val sums = out.agg(sum("n_members")).head.getLong(0)
    assert(sums == corpusN, "every vector assigned to exactly one cluster")
    // cluster ids come from the seed rule vec_id % 101 = 1
    assert(out.filter(col("cluster_id") % 101 =!= 1).count() == 0)
    assert(out.filter(col("n_members") < 1).count() == 0)
    out.unpersist()
  }

  test("q2j interval join equals the naive theta join") {
    val fast = RelationalOps.q2jIntervalJoin.fn(spark, d)
      .orderBy("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ev = Tables.events(spark, d)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("cid"),
        unix_micros(col("ts")).as("a"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("pid"),
        unix_micros(col("ts")).as("b"))
    val naive = c.join(p, col("user_id") === col("pu") &&
        col("b") > col("a") && col("b") <= col("a") + 1800000000L)
      .select(col("cid"), col("pid"), (col("b") - col("a")).as("gap"))
      .orderBy("cid", "pid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fast.toSeq == naive.toSeq)
    assert(fast.nonEmpty) // the fixture contains conversions
  }

  test("q49 cluster labels are consistent with the candidate edge set") {
    val labels = DedupOps.q49DedupClusters.fn(spark, d).cache()
    // total assignment: one label per document
    assert(labels.count() == Tables.documents(spark, d).count())
    // canonical is the component MINIMUM: never above the member id,
    // and the canonical doc labels itself
    assert(labels.filter(col("canonical_id") > col("doc_id")).count() == 0)
    val canonSelf = labels.select(col("canonical_id").as("doc_id")).distinct()
      .join(labels, Seq("doc_id"))
      .filter(col("doc_id") =!= col("canonical_id"))
    assert(canonSelf.count() == 0)
    // every candidate pair's endpoints carry the same label
    val pairs = DedupOps.minhashPairs(spark, d).select("doc_a", "doc_b")
    val viol = pairs
      .join(labels.select(col("doc_id").as("doc_a"),
        col("canonical_id").as("la")), Seq("doc_a"))
      .join(labels.select(col("doc_id").as("doc_b"),
        col("canonical_id").as("lb")), Seq("doc_b"))
      .filter(col("la") =!= col("lb"))
    assert(viol.count() == 0)
    labels.unpersist()
  }

  test("q2l anomaly equals a driver-side z-score recomputation") {
    val flagged = RelationalOps.q2lAnomaly.fn(spark, d)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    // brute force per user on the driver (sf0.001 is small)
    val rows = Tables.events(spark, d)
      .select(col("user_id"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = rows.groupBy(_._1).flatMap { case (_, es) =>
      val n = es.length.toLong
      val s1 = es.map(_._3).sum
      val s2 = es.map(e => e._3 * e._3).sum
      if (n < 2 || n * s2 - s1 * s1 <= 0) Seq.empty[(Long, Double)]
      else es.toSeq.flatMap { case (_, eid, c) =>
        val z = ((c * n - s1).toDouble / n) /
          math.sqrt((n * s2 - s1 * s1).toDouble / (n * (n - 1)).toDouble)
        if (math.abs(z) > 3)
          Some(eid -> math.floor(z * 10000 + 0.5) / 10000)
        else None
      }
    }.toMap
    assert(flagged == expected,
      s"flagged set mismatch: engine ${flagged.size} vs brute ${expected.size}")
    assert(expected.nonEmpty, "fixture must actually contain outliers")
  }

  test("q89 phrase search: one phrase, real occurrences, aligned positions") {
    val out = RankingOps.q89PhraseSearch.fn(spark, d).cache()
    val phrases = out.select("phrase").distinct().collect().map(_.getString(0))
    assert(phrases.length == 1 && phrases.head.split(" ").length == 3)
    assert(out.count() > 0)
    // every (doc, pos) really is the phrase at that token offset
    val docs = graft.Tables.documents(spark, d)
      .select(col("doc_id"), split(col("text"), " ", -1).as("t"))
    val checked = out.join(docs, Seq("doc_id"))
      .withColumn("at", expr(
        "concat_ws(' ', t[int(pos)], t[int(pos) + 1], t[int(pos) + 2])"))
    assert(checked.filter(col("at") =!= col("phrase")).count() == 0)
    out.unpersist()
  }
}
