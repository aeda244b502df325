package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Drop-in equivalence locks for the round-14 map-side kernels — each
  * replaced an explode/HOF/group-by shape in a hot path, and each must
  * reproduce the old shape BIT-FOR-BIT (the oracle re-checks the
  * downstream queries, but these pins localize a regression to the
  * kernel, not a 328-query sweep).
  */
class MapSideKernelsSpec extends SparkSpec {

  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "lorem ipsum dolor sit amet consectetur"),
    (4L, "a b c d e f g h i j k l m n o p"),
    (5L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (6L, "x y z"),                                        // exactly 3 tokens
    (7L, "short doc"),                                    // < 3 tokens: dropped
    (8L, "repeat repeat repeat repeat repeat repeat")     // 1 distinct shingle
  ).toDF("doc_id", "text")

  private def tokenized: DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
      .filter(size(col("toks")) >= 3)

  test("MinHashSig == explode + groupBy(doc_id) + min(xxhash64(i, s)) x 16") {
    val shingleArr = tokenized.select(col("doc_id"), array_distinct(expr(
      "transform(sequence(0, size(toks) - 3), " +
        "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")).as("shs"))
    val kernel = shingleArr
      .select(col("doc_id"),
        TextExpressions.minhashSigCol(col("shs"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sigCols = (0 until 16).map(i =>
      min(xxhash64(lit(i), col("s"))).as(s"h$i"))
    val old = shingleArr.select(col("doc_id"), explode(col("shs")).as("s"))
      .groupBy(col("doc_id"))
      .agg(sigCols.head, sigCols.tail: _*)
      .select(col("doc_id"),
        array((0 until 16).map(i => col(s"h$i")): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(kernel.keySet == old.keySet)
    kernel.foreach { case (k, v) => assert(v == old(k), s"doc $k") }
  }

  test("KgramHashes == transform + xxhash64(concat_ws(' ', 4 tokens))") {
    val toks4 = docs.select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
      .filter(size(col("toks")) >= 4)
    val kernel = toks4
      .select(col("doc_id"), TextExpressions.kgramHashesCol(col("toks"), 4)
        .as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val old = toks4
      .select(col("doc_id"), expr(
        """transform(sequence(0, size(toks) - 4),
          |  i -> xxhash64(concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3])))"""
          .stripMargin).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(kernel == old)
  }

  test("WinnowMinima == array_distinct(transform(.., array_min(slice(..))))") {
    // include a sequence SHORTER than the window (whole-array window)
    val seqs = Seq(
      (1L, Seq(9L, 3L, 7L, 7L, 1L, 8L, 2L, 2L, 5L)),
      (2L, Seq(4L, 4L, 4L)),         // shorter than w=5: one window
      (3L, Seq(Long.MinValue, 0L, Long.MaxValue, -1L, -1L, 6L)),
      (4L, Seq(42L))                 // single element
    ).toDF("doc_id", "h")
    val kernel = seqs
      .select(col("doc_id"), TextExpressions.winnowMinimaCol(col("h"), 5)
        .as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val old = seqs
      .select(col("doc_id"), array_distinct(expr(
        """transform(sequence(0, greatest(size(h) - 5, 0)),
          |  i -> array_min(slice(h, i + 1, 5)))""".stripMargin)).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(kernel == old)
  }

  test("WinnowMinima fails loudly on an empty array, its precondition") {
    val e = intercept[Exception](
      spark.range(1).select(TextExpressions.winnowMinimaCol(
        array().cast("array<bigint>"), 5)).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("needs a non-empty array")), e)
  }

  test("BestCentroid == crossJoin + groupBy(vec_id) max_by argmax, " +
      "incl. exact ties, zero-norm NaN rows, float and double centroids") {
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.6, 0.8, 0.0)),
      (4L, Seq(-1.0, 0.0, 0.0)),
      (5L, Seq(0.0, 1.0, 0.0))
    ).toDF("vec_id", "embedding")
    // centroids 20 and 21 are IDENTICAL → exact sim tie for every
    // vector → the argmax must pick min cent_id (20)
    val cents = Seq(
      (10L, Seq(1.0, 0.0, 0.0)),
      (20L, Seq(0.0, 1.0, 0.0)),
      (21L, Seq(0.0, 1.0, 0.0)),
      (30L, Seq(0.5, 0.5, 0.0))
    ).toDF("cent_id", "cent_emb")
    def oldAssign(c: DataFrame, cs: DataFrame): Map[Long, (Long, Double)] =
      c.crossJoin(broadcast(cs))
        .select(col("vec_id"), col("cent_id"),
          VectorExpressions.cosine(col("embedding"), col("cent_emb"))
            .as("sim"))
        .groupBy(col("vec_id"))
        .agg(max_by(struct(col("cent_id"), col("sim")),
          struct(col("sim"), (-col("cent_id")).as("ng"))).as("best"))
        .collect().map(r => r.getLong(0) ->
          (r.getStruct(1).getLong(0), r.getStruct(1).getDouble(1))).toMap
    def newAssign(c: DataFrame, cs: DataFrame): Map[Long, (Long, Double)] =
      c.crossJoin(broadcast(
        cs.agg(collect_list(struct(col("cent_id"), col("cent_emb")))
          .as("cents"))))
        .select(col("vec_id"),
          VectorExpressions.bestCentroid(col("embedding"), col("cents"))
            .as("best"))
        .filter(col("best").isNotNull)
        .collect().map(r => r.getLong(0) ->
          (r.getStruct(1).getLong(0), r.getStruct(1).getDouble(1))).toMap
    val oldOut = oldAssign(vecs, cents)
    val newOut = newAssign(vecs, cents)
    assert(newOut.keySet == oldOut.keySet)
    newOut.foreach { case (k, (id, sim)) =>
      val (oid, osim) = oldOut(k)
      assert(id == oid, s"vec $k id")
      assert(java.lang.Double.doubleToRawLongBits(sim) ==
        java.lang.Double.doubleToRawLongBits(osim), s"vec $k sim bits")
    }
    assert(newOut(1L)._1 == 10L)
    assert(newOut(5L)._1 == 20L) // tie between 20/21 → min cent_id
    // zero-norm vector: every cosine is 0/0. The OLD shape RAISED
    // (ANSI divide-by-zero), so there is no old output to compare;
    // the kernel yields NaN sims, and NaN-greatest + min-cent_id
    // tiebreak picks the smallest centroid id deterministically.
    val zOut = newAssign(
      Seq((3L, Seq(0.0, 0.0, 0.0))).toDF("vec_id", "embedding"), cents)
    assert(zOut(3L)._1 == 10L && zOut(3L)._2.isNaN)

    // float32 centroid arrays (the round-0 seed shape) hit the same
    // argmax as the old cosine over float children
    val fcents = cents.select(col("cent_id"),
      col("cent_emb").cast("array<float>").as("cent_emb"))
    val fvecs = vecs.select(col("vec_id"),
      col("embedding").cast("array<float>").as("embedding"))
    assert(newAssign(fvecs, fcents).mapValues(_._1).toMap ==
      oldAssign(fvecs, fcents).mapValues(_._1).toMap)

    // empty centroid table → no assigned rows (the empty-cross-join
    // behavior of the old shape)
    assert(newAssign(vecs, cents.filter(col("cent_id") < 0)).isEmpty)
  }

  test("the four kernels stay inside whole-stage codegen") {
    // parquet round-trip: a local Seq would constant-fold the whole
    // projection into a LocalTableScan and never exercise codegen
    val dir = java.nio.file.Files.createTempDirectory("graft-cg14").toString
    Seq((Seq("a", "b", "c", "d", "e"), Seq(1L, 5L, 2L, 9L, 3L, 4L),
      Seq(0.5, -1.0, 2.0),
      Seq((7L, Seq(1.0, 0.0, 0.0)), (8L, Seq(0.0, 1.0, 0.0)))))
      .toDF("toks", "h", "emb", "cents")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).select(
      TextExpressions.minhashSigCol(col("toks"), 16).as("mh"),
      TextExpressions.kgramHashesCol(col("toks"), 4).as("kg"),
      TextExpressions.winnowMinimaCol(col("h"), 5).as("wm"),
      VectorExpressions.bestCentroid(col("emb"),
        col("cents").cast("array<struct<cent_id:bigint,cent_emb:array<double>>>"))
        .as("bc"))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("[codegen id :"), plan)
    val r = df.head()
    assert(r.getSeq[Long](0).length == 16)
    assert(r.getSeq[Long](1).length == 2)
    assert(r.getSeq[Long](2).nonEmpty)
    assert(r.getStruct(3).getLong(0) == 7L)
  }
}
