package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Invariants for the training-corpus operators (q37/q45/q46/q47) —
  * the properties a pipeline relies on beyond per-value oracle
  * equality: splits partition the corpus, packing conserves documents
  * and tokens, decontamination only ever flags test-split docs.
  */
class CorpusOpsSpec extends SparkSpec {

  private val dir = sf("sf0.001")
  private lazy val docs = Tables.documents(spark, dir).cache()

  test("train split partitions the corpus at ~80/10/10") {
    val rows = TextOps.q37TrainSplit.fn(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.count()
    assert(rows.values.sum == total)
    assert(rows.keySet.subsetOf(Set("train", "val", "test")))
    val frac = rows.view.mapValues(_.toDouble / total).toMap
    // binomial noise at n=50: generous 3-sigma bands
    assert(frac("train") > 0.6 && frac("train") < 0.95, frac)
    assert(frac.getOrElse("val", 0.0) < 0.25 && frac.getOrElse("test", 0.0) < 0.25, frac)
  }

  test("doc packing conserves documents and tokens; bins are contiguous") {
    val packed = TextOps.q46DocPack.fn(spark, dir).cache()
    val nDocs = packed.agg(sum("n_docs")).head().getLong(0)
    assert(nDocs == docs.count())
    val tokTotal = packed.agg(sum("bin_tokens")).head().getLong(0)
    val expected = docs
      .agg(sum(size(split(col("text"), " ", -1)).cast("long"))).head().getLong(0)
    assert(tokTotal == expected)
    // contiguous bins is only an invariant while no doc exceeds the
    // 8192-token budget (an oversized doc legitimately jumps a whole
    // window) — assert the precondition so fixture growth that breaks
    // it fails HERE, not mysteriously below
    val maxDoc = docs
      .agg(max(size(split(col("text"), " ", -1)))).head().getInt(0)
    assert(maxDoc <= TextOps.PackBudget,
      s"fixture now has a doc of $maxDoc tokens (> PackBudget); " +
        "replace the contiguity assertion with monotonicity")
    val gaps = packed.groupBy("split", "shard")
      .agg(countDistinct("bin").as("n"), max("bin").as("mx"))
      .filter(col("n") =!= col("mx") + 1)
    assert(gaps.count() == 0)
  }

  test("decontamination flags only test-split docs whose print is in train") {
    // same shared definitions the operators use — not a re-derivation
    val flagged = TextOps.q45Decontaminate.fn(spark, dir)
    val withBucket = flagged.join(
      docs.select(col("doc_id"), Kernels.docBucket.as("bucket")), Seq("doc_id"))
    assert(withBucket.filter(col("bucket") < 230).count() == 0)
    // every flagged fingerprint exists on some train doc
    val trainFps = docs
      .select(TextOps.contentFingerprint.as("fingerprint"),
        Kernels.docBucket.as("bucket"))
      .filter(col("bucket") < 205).select("fingerprint")
    assert(flagged.join(trainFps, Seq("fingerprint"), "left_anti").count() == 0)
  }

  test("repetition ratio bounded; degenerate text flagged, varied text kept") {
    import spark.implicits._
    val q = TextOps.q47Repetition.fn(spark, dir)
    assert(q.filter(col("rep_ratio") < 0 || col("rep_ratio") > 1).count() == 0)
    // synthetic extremes through the REAL operator body
    val extreme = Seq(
      (1L, Seq.fill(50)("spam").mkString(" ")), // one repeated token
      (2L, (1 to 50).map(i => s"w$i").mkString(" "))) // all-distinct
      .toDF("doc_id", "text")
    val r = TextOps.repetitionScores(extreme)
      .select("doc_id", "rep_ratio", "keep").collect()
      .map(x => x.getLong(0) -> ((x.getDouble(1), x.getBoolean(2)))).toMap
    assert(r(1L)._1 > 0.9 && !r(1L)._2) // ~all duplicate trigrams → dropped
    assert(r(2L)._1 == 0.0 && r(2L)._2) // fully varied → kept
  }

  test("q90 passage overlap: clones share all chunks, unique docs none") {
    import spark.implicits._
    val twelve = (1 to 12).map(i => s"tok$i").mkString(" ") // 12 toks: 1 chunk
    val docs = Seq(
      (1L, twelve), (2L, twelve), // exact clones
      (3L, (1 to 17).map(i => s"u$i").mkString(" ")), // unique, 2 chunks
      (4L, "too short") // < 8 tokens: no row
    ).toDF("doc_id", "text")
    val out = DedupOps.passageOverlap(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> ((1L, 1L)), 2L -> ((1L, 1L)), 3L -> ((2L, 0L))))
    // partial overlap: doc 5 repeats doc 3's FIRST chunk only
    val five = ((1 to 8).map(i => s"u$i") ++ (1 to 8).map(i => s"w$i"))
      .mkString(" ")
    val out2 = DedupOps.passageOverlap(
      docs.unionAll(Seq((5L, five)).toDF("doc_id", "text")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out2(3L) == ((2L, 1L)) && out2(5L) == ((2L, 1L)))
  }

  test("BPE training: the textbook low/lower/lowest merge sequence") {
    import spark.implicits._
    val docs = Seq((1L, "low low low lower lowest")).toDF("doc_id", "text")
    val rules = TextOps.bpeTrain(docs, 6).orderBy(col("merge_round"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    // hand-derived: (l,o) and (o,w) tie at 5 → s1 tiebreak picks l;
    // (lowe,r) and (lowe,s) and (s,t) tie at 1 → (s1, s2) order
    assert(rules.toSeq == Seq(
      (1, "l", "o", "lo", 5L),
      (2, "lo", "w", "low", 5L),
      (3, "low", "e", "lowe", 2L),
      (4, "lowe", "r", "lower", 1L),
      (5, "lowe", "s", "lowes", 1L),
      (6, "lowes", "t", "lowest", 1L)), rules.mkString(";"))
  }

  test("Zipf fit: an exact power-law corpus recovers exponent 1, r² 1") {
    import spark.implicits._
    // freq(rank r) = 60/r for ranks 1..5 (60, 30, 20, 15, 12):
    // ln(freq) = ln 60 − ln(rank) exactly, so the OLS slope is −1 and
    // r² = 1 up to the 1e-4 quantization of each ln()
    val text = Seq(Seq.fill(60)("a"), Seq.fill(30)("b"), Seq.fill(20)("c"),
      Seq.fill(15)("d"), Seq.fill(12)("e")).flatten.mkString(" ")
    val out = TextOps.q129ZipfFit.fn(
      spark, { // write a one-doc corpus
        val dir = java.nio.file.Files.createTempDirectory("graft-zipf").toString
        Seq((1L, text)).toDF("doc_id", "text")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        dir
      }).head()
    assert(out.getLong(0) == 5 && out.getLong(1) == 5, out)
    assert(math.abs(out.getDouble(2) - 1.0) <= 2e-4, out)
    assert(out.getDouble(3) >= 0.9999, out)
  }

  test("BPE encode: per-doc symbol counts under a 3-merge vocabulary") {
    import spark.implicits._
    val docs = Seq((1L, "low low low lower lowest"), (2L, "low lowest"))
      .toDF("doc_id", "text")
    // merges after 3 rounds: lo, low, lowe →
    //   low → [low] (1), lower → [lowe, r] (2), lowest → [lowe, s, t] (3)
    val out = TextOps.bpeEncode(docs, 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(1L) == ((5L, 3 * 1 + 2 + 3L, 1.6)), out)
    assert(out(2L) == ((2L, 1 + 3L, 2.0)), out)
  }

  test("BPE training: merged symbols are opaque (no re-splitting, greedy fold)") {
    import spark.implicits._
    // "aaa" with rule (a,a): greedy left-to-right gives [aa, a], so
    // round 2's top pair is (aa, a) — the fold must not re-merge the
    // fresh "aa" with the trailing "a" in the same round
    val docs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val rules = TextOps.bpeTrain(docs, 2).orderBy(col("merge_round"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(rules.toSeq == Seq((1, "a", "a", 4L), (2, "aa", "a", 2L)),
      rules.mkString(";"))
  }

  test("q147: hand-counted words/sentences/vowel-groups and exact FK grade") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fk").toString
    // "The cat sat. It ran!": 5 space-separated words, 2 terminator
    // runs, vowel runs in lowercase = e, a, a, i, a → 5 syllables
    //   fk = 0.39·(5/2) + 11.8·(5/5) − 15.59 = −2.815 exactly
    // "mm hmm": 2 words, 0 terminators (floored to 1), 0 vowel runs
    //   fk = 0.39·2 + 0 − 15.59 = −14.81
    Seq((1L, "The cat sat. It ran!"), (2L, "mm hmm"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.q147Readability.fn(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((5L, 2L, 5L, -2.815)), out)
    assert(out(2L) == ((2L, 1L, 0L, -14.81)), out)
  }

  test("q177: per-class metrics are closed-form on a 5-doc fixture") {
    import spark.implicits._
    val fx = java.nio.file.Files.createTempDirectory("graft-lid").toString
    // en: "the cat of war" -> en (tp); "xyz abc" -> und (recall 1/2)
    // es: "la fiesta de verano" -> es (tp)
    // fr: "bonjour le monde" -> und (tp 0, recall 0)
    // de: "la der" -> sc_es=1 >= sc_de=1 -> es (a FALSE es positive:
    //     es precision 1/2; de recall 0)
    val rows = Seq(
      (1L, "the cat of war", "en"), (2L, "xyz abc", "en"),
      (3L, "la fiesta de verano", "es"), (4L, "bonjour le monde", "fr"),
      (5L, "la der", "de"))
    rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("web"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$fx/documents.parquet")
    val out = TextOps.q177LangidEval.fn(spark, fx).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    val f23 = math.floor((2.0 / 3.0) * 1000000 + 0.5) / 1000000
    assert(out.keySet == Set("en", "es", "fr", "de"), out)
    assert(out("en") == ((2L, 1L, 1L, 1.0, 0.5, f23)), out)
    assert(out("es") == ((1L, 2L, 1L, 0.5, 1.0, f23)), out)
    assert(out("fr") == ((1L, 0L, 0L, 0.0, 0.0, 0.0)), out)
    assert(out("de") == ((1L, 0L, 0L, 0.0, 0.0, 0.0)), out)
  }
}
