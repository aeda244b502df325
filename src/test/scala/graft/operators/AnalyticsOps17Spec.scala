package graft.operators

import graft.SparkSpec

/** Closed-form fixtures for the round-12 tranche five (q271–q274). */
class AnalyticsOps17Spec extends SparkSpec {
  private val d = sf("sf0.001")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeDocs(dir: String,
      rows: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    rows.map { case (id, src, text) =>
      (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("q271: hand-computed leave-one-out precision; short docs excluded") {
    val dir = tmp("graft-sbleu")
    // doc1 gram {abcd}: pooled twice → p = 1; doc2 grams {abcd, bcde}:
    // only abcd pooled elsewhere → p = 0.5; "x y" has no 4-gram
    writeDocs(dir, Seq((1L, "A", "a b c d"), (2L, "A", "a b c d e"),
      (3L, "A", "x y")))
    val r = TextStatsOps.q271SelfBleu.fn(spark, dir).head()
    assert(r.getAs[Long]("n_docs_scored") == 2L)
    assert(r.getAs[Double]("loo_gram_precision") == 0.75)
  }

  test("q271: a source of unique texts scores 0") {
    val dir = tmp("graft-sbleu0")
    writeDocs(dir, Seq((1L, "A", "a b c d"), (2L, "A", "e f g h")))
    val r = TextStatsOps.q271SelfBleu.fn(spark, dir).head()
    assert(r.getAs[Double]("loo_gram_precision") == 0.0)
  }

  test("q272: one all-distinct block and one constant block average to 0.52") {
    val dir = tmp("graft-sttr")
    val block1 = (1 to 25).map(i => s"w$i").mkString(" ")
    val block2 = Seq.fill(25)("same").mkString(" ")
    writeDocs(dir, Seq((1L, "A", s"$block1 $block2"),
      (2L, "A", "too short")))
    val r = TextStatsOps.q272Sttr.fn(spark, dir).head()
    assert(r.getAs[Long]("n_blocks") == 2L)
    assert(r.getAs[Double]("sttr") == 0.52)
  }

  test("q273: a uniform word has VMR 0, a clumped one 3") {
    val dir = tmp("graft-burst")
    writeDocs(dir, Seq((1L, "A", "the zz zz zz zz"), (2L, "A", "the"),
      (3L, "A", "the"), (4L, "A", "the")))
    val out = TextStatsOps.q273WordBurstiness.fn(spark, dir)
      .collect().map(r => r.getAs[String]("word") ->
        (r.getAs[Long]("doc_freq"), r.getAs[Long]("total_count"),
          r.getAs[Double]("burstiness"))).toMap
    assert(out("the") == ((4L, 4L, 0.0)))
    assert(out("zz") == ((1L, 4L, 3.0)))
  }

  test("q274: coverage matches a driver recompute and is monotone") {
    import org.apache.spark.sql.functions._
    val rows = TextStatsOps.q274CoverageCurve.fn(spark, d)
      .orderBy(col("train_pct")).collect()
    assert(rows.map(_.getAs[Long]("train_pct")).toSeq ==
      Seq(20L, 40L, 60L, 80L))
    val cov = rows.map(_.getAs[Double]("coverage"))
    assert(cov.sliding(2).forall { case Array(a, b) => a <= b
    case _ => true }, cov.toSeq.toString)
    assert(rows.map(_.getAs[Long]("n_test_bigrams")).distinct.length == 1)
    // independent recompute of the 40% point from raw bigram cells
    val bg = graft.Tables.documents(spark, d)
      .select(expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), " +
        "1, 15), 16, 10) AS BIGINT) % 100").as("b"),
        split(col("text"), " ", -1).as("tk"))
      .select(col("b"), explode(expr(
        "CASE WHEN size(tk) >= 2 THEN transform(sequence(1, " +
          "size(tk) - 1), i -> concat(tk[i - 1], ' ', tk[i])) " +
          "ELSE array() END")).as("gram"))
      .collect().map(r => (r.getAs[Long]("b"), r.getAs[String]("gram")))
    val minb = bg.filter(_._1 < 80).groupBy(_._2)
      .map { case (g, xs) => g -> xs.map(_._1).min }
    val test = bg.filter(_._1 >= 80)
    val covered = test.count(t => minb.get(t._2).exists(_ < 40))
    val expected = math.floor(covered.toDouble / test.length * 1e6 + 0.5) / 1e6
    assert(rows(1).getAs[Double]("coverage") == expected)
    assert(rows(1).getAs[Long]("n_test_bigrams") == test.length.toLong)
  }
}
