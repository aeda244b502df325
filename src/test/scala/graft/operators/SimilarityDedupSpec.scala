package graft.operators

import graft.{SparkSpec, Tables}
import graft.functions.VectorExpressions
import org.apache.spark.sql.functions._

class SimilarityDedupSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("native dot/sqnorm match the higher-order-function reference") {
    val e = Tables.embeddings(spark, dir).limit(50)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"),
        col("embedding"))
    val both = e.select(
      VectorExpressions.sqnorm(col("embedding")).as("native"),
      expr("aggregate(transform(emb, x -> x * x), 0D, (a, v) -> a + v)")
        .as("hof"),
      VectorExpressions.dot(col("embedding"), col("embedding")).as("self_dot"),
      VectorExpressions.cosine(col("embedding"), col("embedding")).as("self_cos"))
    assert(both.filter(abs(col("native") - col("hof")) > 1e-12).count() == 0)
    // dot(a, a) = sqnorm(a), and a vector's cosine with itself is 1
    assert(both.filter(abs(col("self_dot") - col("native")) > 1e-12).count() == 0)
    assert(both.filter(abs(col("self_cos") - 1.0) > 1e-9).count() == 0)
  }

  test("brute-force ANN matches a driver-side recomputation") {
    val rows = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = SimilarityOps.q50AnnBrute.fn(spark, dir).collect()
      .groupBy(_.getLong(0))
    got.foreach { case (qId, neighbors) =>
      val expect = rows.keys.filter(_ != qId).toSeq
        .map(id => id -> BigDecimal(cos(rows(qId), rows(id)))
          .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
      val gotIds = neighbors.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      assert(gotIds == expect, s"query $qId")
    }
  }

  test("LSH and IVF return exact scores for their candidates; recall > 0") {
    val brute = SimilarityOps.q50AnnBrute.fn(spark, dir)
      .select(col("q_id"), col("neighbor_id"), col("cosine").as("c_brute"))
    for (approx <- Seq(SimilarityOps.q51AnnLsh, SimilarityOps.q53AnnIvf)) {
      val a = approx.fn(spark, dir)
        .select(col("q_id"), col("neighbor_id"), col("cosine"))
      // scores for overlapping pairs must be identical (same scorer)
      val joined = a.join(brute, Seq("q_id", "neighbor_id"))
      assert(joined.filter(col("cosine") =!= col("c_brute")).count() == 0)
      assert(joined.count() > 0) // nonzero recall of true top-5
    }
  }

  test("PQ ANN: dense ranks, non-negative non-decreasing ADC distances") {
    val pq = SimilarityOps.q69PqAnn.fn(spark, sf("sf0.01")).collect()
    val byQ = pq.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty)
    byQ.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length),
        "ranks must be dense from 1")
      val ds = sorted.map(_.getAs[Long]("approx_d"))
      assert(ds.forall(_ >= 0), "squared quantized distances are >= 0")
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b },
        "approx distance must be non-decreasing in rank")
    }
  }

  test("IVF-PQ agrees with flat PQ on shared pairs; candidates come from probed lists") {
    val sfd = sf("sf0.01")
    val flat = SimilarityOps.q69PqAnn.fn(spark, sfd)
      .select(col("q_id"), col("neighbor_id"), col("approx_d").as("d_flat"))
    val ivf = SimilarityOps.q72IvfPq.fn(spark, sfd)
      .select(col("q_id"), col("neighbor_id"), col("approx_d").as("d_ivf"))
    // same codes, same distance tables ⇒ identical ADC score wherever
    // both indexes surface the pair
    val joined = ivf.join(flat, Seq("q_id", "neighbor_id")).cache()
    assert(joined.filter(col("d_ivf") =!= col("d_flat")).count() == 0,
      "ADC scores must be identical between flat PQ and IVF-PQ")
    assert(ivf.count() > 0)
    joined.unpersist()
  }

  test("exact dedup partitions the corpus: group sizes sum to n_docs") {
    val n = Tables.documents(spark, dir).count()
    val dedup = DedupOps.q40DedupExact.fn(spark, dir)
    assert(dedup.agg(sum("n_copies")).head().getLong(0) == n)
  }

  test("minhash estimate correlates with true jaccard on overlapping pairs") {
    val est = DedupOps.q42MinHashLsh.fn(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    val exact = DedupOps.q41NgramJaccard.fn(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val joined = est.join(exact, Seq("doc_a", "doc_b"))
    // 16 hashes → σ ≈ 0.12; allow 4σ
    assert(joined.filter(abs(col("est_jaccard") - col("jaccard")) > 0.5)
      .count() == 0)
  }

  test("simhash: identical docs collide, hamming is symmetric-bounded") {
    val pairs = DedupOps.q43SimHash.fn(spark, dir)
    assert(pairs.filter(col("hamming") > 3).count() == 0)
    assert(pairs.filter(col("doc_a") >= col("doc_b")).count() == 0)
  }

  test("native sketch expressions are deterministic and sane") {
    import graft.functions.{TextExpressions, VectorExpressions}
    // orderBy pins the sample: a bare limit() can pick different rows
    // on each of the plan's evaluations
    val toks = Tables.documents(spark, dir).orderBy("doc_id").limit(50)
      .select(col("doc_id"), split(col("text"), " ", -1).as("t"))
    // run twice: same signatures (pure functions of input)
    val a = toks.select(col("doc_id"),
      TextExpressions.simhash(col("t")).as("sh"),
      TextExpressions.rollingFingerprint(col("t")).as("fp"))
    val b = toks.select(col("doc_id"),
      TextExpressions.simhash(col("t")).as("sh"),
      TextExpressions.rollingFingerprint(col("t")).as("fp"))
    assert(a.exceptAll(b).count() == 0)
    // rolling fingerprint is order-sensitive: reversed tokens differ
    // (for docs with >1 distinct token arrangement)
    val rev = toks.select(col("doc_id"),
      TextExpressions.rollingFingerprint(col("t")).as("fp"),
      TextExpressions.rollingFingerprint(reverse(col("t"))).as("fp_rev"))
    assert(rev.filter(col("fp") =!= col("fp_rev")).count() > 0)
    // LSH signatures: array length = tables, stable across runs
    val e = Tables.embeddings(spark, dir).orderBy("vec_id").limit(20)
      .select(VectorExpressions.lshSignature(col("embedding"), 3, 4).as("sig"))
    assert(e.filter(size(col("sig")) =!= 3).count() == 0)
    assert(e.filter(expr("exists(sig, s -> s < 0 OR s > 15)")).count() == 0)
  }

  test("as-of join picks the latest right row at-or-before each left ts") {
    import spark.implicits._
    import graft.functions.AsOfJoin
    def ts(s: Int) = new java.sql.Timestamp(1000L * s)
    val left = Seq((1L, ts(10), "l1"), (1L, ts(20), "l2"), (2L, ts(5), "l3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, ts(10), 100.0), (1L, ts(15), 150.0), (2L, ts(6), 60.0))
      .toDF("k", "t", "v")
    val out = AsOfJoin.asof(left, right, Seq("k"), "t", "t",
      Seq("v" -> "asof_v"))
      .select("tag", "asof_v").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("l1").contains(100.0)) // same-instant right row visible
    assert(out("l2").contains(150.0)) // latest ≤ 20 is 15
    assert(out("l3").isEmpty) // no right row ≤ 5 → null
  }

  test("as-of join: matched row's nulls preserved, payload columns never mix rows") {
    import spark.implicits._
    import graft.functions.AsOfJoin
    def ts(s: Int) = new java.sql.Timestamp(1000L * s)
    val left = Seq((1L, ts(20), "l")).toDF("k", "t", "tag")
    val right = Seq(
      (1L, ts(10), Some(1.0), "x"),
      (1L, ts(15), None: Option[Double], "y")) // matched row: v NULL
      .toDF("k", "t", "v", "w")
    val row = AsOfJoin.asof(left, right, Seq("k"), "t", "t",
      Seq("v" -> "av", "w" -> "aw")).select("av", "aw").head()
    // both payload columns come from the ts=15 row: av must be the
    // matched row's NULL, not the stale 1.0 from ts=10
    assert(row.isNullAt(0) && row.getString(1) == "y")

    // guard rails: duplicate payload dst names and reserved __ prefix
    intercept[IllegalArgumentException] {
      AsOfJoin.asof(left, right, Seq("k"), "t", "t",
        Seq("v" -> "p", "w" -> "p"))
    }
    intercept[IllegalArgumentException] {
      AsOfJoin.asof(left.withColumnRenamed("tag", "__tag"), right,
        Seq("k"), "t", "t", Seq("v" -> "av"))
    }
  }

  test("shingle df-cap bounds the candidate join input under a hot shingle") {
    import spark.implicits._
    // 1000 docs share one stop-phrase shingle; their remaining shingles
    // are unique. Plus one genuine near-dup pair.
    val hot = (1 to 1000).map(i => (i.toLong, s"the quick fox u${i}a u${i}b"))
    val dup = Seq(
      (2001L, "alpha beta gamma delta epsilon"),
      (2002L, "alpha beta gamma delta zeta"))
    val docs = (hot ++ dup).toDF("doc_id", "text")

    // Join-input audit: Σ df² over shingles surviving the df band is
    // the exact row count the candidate self-join produces per key.
    val dfCounts = Kernels.shingles(docs).groupBy("s").count()
      .select(col("count").as("df")).cache()
    val joinRows = (lo: Long, hi: Long) =>
      dfCounts.filter(col("df") >= lo && col("df") <= hi)
        .agg(coalesce(sum(col("df") * col("df")), lit(0L))).head().getLong(0)
    assert(joinRows(2, Long.MaxValue) >= 1000L * 1000L,
      "uncapped hot shingle must imply a 1M-row join input")
    assert(joinRows(2, 100) <= 100L,
      "df-capped join input must exclude the hot key entirely")

    // Semantics under the cap: the hot-shingle megagroup yields no
    // pairs (pairwise jaccard 1/5 is sub-threshold anyway); the true
    // near-dup pair survives (its shared shingles have df=2).
    val pairs = DedupOps.ngramJaccardPairs(docs, minJaccard = 0.5, maxDf = 100)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((2001L, 2002L)))
    assert(pairs.head.getDouble(2) == 0.5) // 2 shared / (3 + 3 - 2)
  }

  test("containment: asymmetric scores — A-in-B flags while B-in-A doesn't") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-contain").toString
    Seq(
      (1L, "a b c d"), // sh {abc, bcd} — fully inside doc 2
      (2L, "a b c d e f"), // sh {abc, bcd, cde, def}
      (3L, "x y z w"), // exact near-dup pair with doc 4
      (4L, "x y z w"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = DedupOps.q124Containment.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // C(1→2) = |{abc,bcd}|/2 = 1.0 (df band keeps both: df=2);
    // C(2→1) = 2/4 = 0.5 < 0.6 → excluded: the asymmetry is the op.
    // cde/def have df=1 and can never pair. 3↔4 contain each other.
    assert(out.keySet == Set((1L, 2L), (3L, 4L), (4L, 3L)), out)
    assert(out((1L, 2L)) == 1.0)
    assert(out((3L, 4L)) == 1.0 && out((4L, 3L)) == 1.0)
  }

  test("recall eval: intersection arithmetic matches the source frames") {
    val d = sf("sf0.001")
    val brute = SimilarityOps.q50AnnBrute.fn(spark, d)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.q51AnnLsh.fn(spark, d)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = SimilarityOps.q125RecallEval.fn(spark, d).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (q, nb, nl, nm, rec) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))
      assert(nb == brute.count(_._1 == q))
      assert(nl == lsh.count(_._1 == q))
      assert(nm == brute.count(p => p._1 == q && lsh.contains(p)))
      assert(nm <= math.min(nb, nl))
      assert(rec == math.floor(nm.toDouble / nb * 10000 + 0.5) / 10000)
    }
  }

  test("hybrid RRF: ranks 1..10, fused score matches the two-term formula") {
    val d = sf("sf0.001")
    val out = RankingOps.q121HybridRrf.fn(spark, d)
      .orderBy(col("rank")).collect()
    assert(out.length == 10)
    assert(out.map(_.getLong(0)).toSeq == (1L to 10L))
    val rrfs = out.map(_.getDouble(4))
    assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b })
    out.foreach { r =>
      val (rt, rv) = (r.getLong(2), r.getLong(3))
      val expected = // rank 0 = sentinel for "absent from that ranking"
        (if (rt > 0) 1.0 / (60 + rt) else 0.0) +
          (if (rv > 0) 1.0 / (60 + rv) else 0.0)
      assert(math.abs(r.getDouble(4) - expected) < 5e-7,
        s"id ${r.getLong(1)}: ${r.getDouble(4)} vs $expected")
    }
  }

  test("survivorship: field-level golden record on a known cluster") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-surv").toString
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    Seq(
      (1L, base, "web", 10L), // clone of 2 — same cluster
      (2L, base, "web", 20L),
      (3L, base + " extra", "pdf", 30L), // near-dup, longest text
      (4L, (1 to 30).map(i => s"zz$i").mkString(" "), "web", 40L)) // singleton
      .toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = DedupOps.q130Survivorship.fn(spark, dir).collect()
    assert(rows.length == 1, rows.mkString(";")) // singleton filtered out
    val r = rows.head
    assert(r.getLong(0) == 1L) // canonical = min member id
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L) // members, sources
    assert(r.getLong(3) == 60L) // total n_chars
    assert(r.getLong(4) == 3L) // longest text survives
    assert(r.getString(6) == "web") // modal source
  }

  test("q133: semantic clusters on a known embedding-space component set") {
    import spark.implicits._
    val ldir = java.nio.file.Files.createTempDirectory("graft-semcl").toString
    // Identical vectors share every LSH bucket (same signature in all
    // tables) and score cosine 1.0 ≥ 0.3; orthogonal basis directions
    // score exactly 0.0 and are filtered regardless of any bucket
    // collision — so the expected components hold for ANY hyperplane
    // draw: {1,2,3} (e₀), {10,11} (e₁), {20} singleton.
    def basis(i: Int): Array[Float] =
      Array.tabulate(8)(j => if (j == i) 1f else 0f)
    Seq(
      (1L, basis(0), "a"), (2L, basis(0), "a"), (3L, basis(0), "b"),
      (10L, basis(1), "a"), (11L, basis(1), "b"),
      (20L, basis(2), "c"))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$ldir/embeddings.parquet")
    val out = DedupOps.q133SemanticClusters.fn(spark, ldir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L), out)
  }

  test("q138/q141: cluster-size histogram and source matrix on a known cluster") {
    import spark.implicits._
    val cdir = java.nio.file.Files.createTempDirectory("graft-csz").toString
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    Seq(
      (1L, base, "web", 10L),           // {1,2,3} one near-dup cluster
      (2L, base, "web", 20L),
      (3L, base + " extra", "pdf", 30L),
      (4L, (1 to 30).map(i => s"zz$i").mkString(" "), "web", 40L)) // singleton
      .toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$cdir/documents.parquet")
    val hist = DedupOps.q138ClusterSizes.fn(spark, cdir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(hist == Map(3L -> ((1L, 3L)), 1L -> ((1L, 1L))), hist)
    val mat = DedupOps.q141CrossSourceDups.fn(spark, cdir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(mat == Map(("pdf", "web") -> 1L), mat)
  }

  test("q140: an exact clone pair calibrates to zero error in bin 0") {
    import spark.implicits._
    val kdir = java.nio.file.Files.createTempDirectory("graft-cal").toString
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    Seq(
      (1L, base, "web", 10L), (2L, base, "web", 20L), // identical → est 1.0, true 1.0
      (3L, (1 to 30).map(i => s"zz$i").mkString(" "), "web", 30L))
      .toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$kdir/documents.parquet")
    val rows = DedupOps.q140SketchCalibration.fn(spark, kdir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // one candidate pair (the clones), |est − true| = |1 − 1| = 0
    assert(rows == Map(0L -> ((1L, 0L))), rows)
  }

  test("q146: purity is the majority-label share, ties to smallest label") {
    import spark.implicits._
    val pdir = java.nio.file.Files.createTempDirectory("graft-purity").toString
    def basis(i: Int): Array[Float] =
      Array.tabulate(8)(j => if (j == i) 1f else 0f)
    // cluster {1,2,3}: labels a, a, b → purity 2/3 with top 'a';
    // cluster {10,11}: labels b, a → 1/2 tie → 'a' (lexicographic);
    // singleton 20 is excluded by the n_members >= 2 filter
    Seq((1L, basis(0), "a"), (2L, basis(0), "a"), (3L, basis(0), "b"),
      (10L, basis(1), "b"), (11L, basis(1), "a"),
      (20L, basis(2), "c"))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$pdir/embeddings.parquet")
    val out = DedupOps.q146ClusterPurity.fn(spark, pdir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out == Map(
      1L -> ((3L, "a", 2L, 2.0 / 3.0)),
      10L -> ((2L, "a", 1L, 0.5))), out)
  }

  test("q150: majority vote of identical-vector neighbors, ties to count/label") {
    import spark.implicits._
    val kdir = java.nio.file.Files.createTempDirectory("graft-knn").toString
    // all vectors identical → every corpus vector neighbors the query
    // (id 50, the only % 50 == 0 id); top-5 = ids 1..5 by the
    // neighbor_id tiebreak (all cosines are 1.0); labels a,a,a,b,b →
    // predicted 'a'; true label of the query is 'b'
    val e = Array.tabulate(8)(j => if (j == 0) 1f else 0f)
    Seq((1L, e, "a"), (2L, e, "a"), (3L, e, "a"), (4L, e, "b"),
      (5L, e, "b"), (6L, e, "c"), (50L, e, "b"))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$kdir/embeddings.parquet")
    val out = SimilarityOps.q150KnnConfusion.fn(spark, kdir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(("b", "a") -> 1L), out)
  }
}
