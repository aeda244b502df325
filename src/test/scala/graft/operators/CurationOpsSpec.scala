package graft.operators

import graft.SparkSpec
import graft.functions.BloomFilterOps
import org.apache.spark.sql.functions._

/** Invariants for the curation operators (q57-q59, q67, q68) that the
  * DuckDB gate cannot see: the winnowing shared-run guarantee, bloom
  * pre-filter exactness against the plain semi-join, mixing-weight
  * budget arithmetic, novelty extremes, and PII patterns on text that
  * actually contains PII (the gate corpus is PII-free, so the gate
  * only pins the no-op path).
  */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = sf("sf0.001")

  test("q57 winnow: docs sharing a long token run share a fingerprint") {
    // shared run of W + K - 1 = 8 tokens => at least one common window
    // minimum (the winnowing guarantee)
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"one two $shared nine ten"),
      (2L, s"eleven twelve thirteen $shared fourteen"),
      (3L, "totally different words entirely here now")
    ).toDF("doc_id", "text")
    val fps = docs
      .select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
      .select(col("doc_id"), expr(
        s"""transform(sequence(0, size(toks) - ${CurationOps.WinnowK}),
           |  i -> xxhash64(concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3])))"""
          .stripMargin).as("h"))
      .select(col("doc_id"), array_distinct(expr(
        s"""transform(sequence(0, greatest(size(h) - ${CurationOps.WinnowW}, 0)),
           |  i -> array_min(slice(h, i + 1, ${CurationOps.WinnowW})))""".stripMargin))
        .as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty,
      "docs sharing an 8-token run must share a winnow fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty,
      "no shared k-grams => no shared fingerprints")
  }

  test("q57 winnow: a doc with fewer than W k-grams gets one whole-doc window") {
    // 6 tokens => 3 k-grams (< W = 5) => single window over everything
    val short = Seq((1L, Array(
      "aa bb cc dd ee ff".split(" "): _*))).toDF("doc_id", "toks")
      .select(col("doc_id"), expr(
        s"""transform(sequence(0, size(toks) - ${CurationOps.WinnowK}),
           |  i -> xxhash64(concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3])))"""
          .stripMargin).as("h"))
    val viaQuery = short.select(
      array_distinct(expr(
        s"""transform(sequence(0, greatest(size(h) - ${CurationOps.WinnowW}, 0)),
           |  i -> array_min(slice(h, i + 1, ${CurationOps.WinnowW})))""".stripMargin))
        .as("fps"),
      array_min(col("h")).as("whole_min"),
      size(col("h")).as("nh")).head()
    assert(viaQuery.getAs[Int]("nh") == 3)
    assert(viaQuery.getSeq[Long](0) == Seq(viaQuery.getLong(1)),
      "short doc fingerprint set must be exactly [min of all k-gram hashes]")
  }

  test("q58 bloom pre-filter changes nothing vs the exact semi-join") {
    val withBloom = CurationOps.q58BloomDecontam.fn(spark, sfDir)
    // same dataflow minus the bloom stage
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ", -1).as("toks"),
        Kernels.docBucket.as("bucket"))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), col("bucket"),
        explode(array_distinct(expr(
          """transform(sequence(0, size(toks) - 5),
            |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))"""
            .stripMargin))).as("g"))
    val train = docs.filter(col("bucket") < 205).select("doc_id", "g")
    val bench = docs.filter(col("bucket") >= 230).select("g").distinct()
    val exact = train.join(bench, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    assert(withBloom.exceptAll(exact).isEmpty && exact.exceptAll(withBloom).isEmpty,
      "bloom is a pre-filter only: final rows must equal the exact semi-join")
  }

  test("q58 bloom has no false negatives on the benchmark grams themselves") {
    val grams = Seq("a b c d e", "f g h i j", "k l m n o").toDF("g")
    val bloom = BloomFilterOps.build(grams, xxhash64(col("g")), 100L)
    val kept = grams.filter(BloomFilterOps.mightContain(bloom, xxhash64(col("g"))))
    assert(kept.count() == 3, "every inserted item must test positive")
  }

  test("q59 mixing weights respect the per-source token budget") {
    val rows = CurationOps.q59MixingWeights.fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tokens = r.getAs[Long]("n_tokens")
      val weight = r.getAs[Double]("weight")
      val planned = r.getAs[Long]("planned_tokens")
      assert(weight > 0 && weight <= 1.0)
      if (weight < 1.0)
        // rounding the weight up at the 6th decimal can overshoot by
        // at most tokens * 5e-7
        assert(planned <= CurationOps.SourceTokenBudget + (tokens / 1000000) + 1,
          s"planned=$planned exceeds budget for tokens=$tokens weight=$weight")
      else assert(planned == tokens,
        "unconstrained source contributes everything")
    }
  }

  test("q70 mixture sample: deterministic, and weight-1 sources keep everything") {
    val a = CurationOps.q70MixtureSample.fn(spark, sfDir).collect()
      .map(_.toSeq).toSet
    val b = CurationOps.q70MixtureSample.fn(spark, sfDir).collect()
      .map(_.toSeq).toSet
    assert(a == b, "hash-threshold sampling must be run-to-run identical")
    val totals = graft.Tables.documents(spark, sfDir)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = CurationOps.q70MixtureSample.fn(spark, sfDir)
      .filter(col("weight") === 1.0).collect()
    full.foreach { r =>
      assert(r.getAs[Long]("n_docs_kept") == totals(r.getAs[String]("source")),
        "an unconstrained source must keep every document")
    }
  }

  test("q67 novelty extremes: all-seen => 0, all-new => 1") {
    // train vocabulary: bigrams of "p q r s t"; val doc 10 repeats a
    // train run (novelty 0), val doc 11 is disjoint (novelty 1).
    // Buckets are irrelevant here — drive the same join/agg shape
    // directly on constructed frames.
    val bg = (doc: String) => doc.split(" ").sliding(2).map(_.mkString(" ")).toSeq
    val train = bg("p q r s t").distinct.toDF("bg")
      .select(xxhash64(col("bg")).as("k")).distinct().withColumn("seen", lit(1))
    val valBg = (bg("p q r s").map((10L, _)) ++
      bg("x y z w v").map((11L, _))).toDF("doc_id", "bg")
      .distinct()
      .select(col("doc_id"), xxhash64(col("bg")).as("k"))
    val out = valBg.join(train, Seq("k"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("seen").isNull, 1).otherwise(0)).as("n_unseen"))
      .withColumn("novelty",
        floor(col("n_unseen") * 1000000.0 / col("n_bigrams") + 0.5) / 1000000)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(10L) == 0.0, s"train-covered doc must score 0, got ${out(10L)}")
    assert(out(11L) == 1.0, s"disjoint doc must score 1, got ${out(11L)}")
  }

  test("q68 PII patterns redact emails, IPv4s, and phones exactly") {
    val docs = Seq(
      ("s1", "contact bob.smith+x@mail.example.org or alice@x.io today"),
      ("s1", "server at 192.168.001.1 then call +1-555-1234"),
      ("s2", "no pii here at all"),
      ("s2", "ratio 3.14159 is not 1.2.3.4 an ip? yes that one is")
    ).toDF("source", "text")
    val redacted = docs.select(col("source"),
      CurationOps.redact(col("text")).as("r")).collect()
      .map(r => r.getString(1))
    assert(redacted.contains("contact <EMAIL> or <EMAIL> today"))
    assert(redacted.contains("server at <IP> then call <PHONE>"))
    assert(redacted.contains("no pii here at all"))
    assert(redacted.contains("ratio 3.14159 is not <IP> an ip? yes that one is"))
    val rollup = CurationOps.piiRedactionRollup(docs)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_emails"), r.getAs[Long]("n_ips"),
          r.getAs[Long]("n_phones"))).toMap
    assert(rollup("s1") == ((2L, 1L, 1L)), s"s1 counts: ${rollup("s1")}")
    assert(rollup("s2") == ((0L, 1L, 0L)), s"s2 counts: ${rollup("s2")}")
  }

  test("q88 expectations: each injected defect is counted by its check") {
    import spark.implicits._
    val li = Seq(
      // (orderkey, linenumber, quantity, discount)
      (1L, 1, Some(5.0), 0.05),
      (1L, 2, Some(3.0), 0.05),
      (2L, 1, None, 0.05), // completeness violation
      (3L, 1, Some(1.0), 0.25), // range violation
      (3L, 1, Some(2.0), 0.05), // duplicate (orderkey, linenumber)
      (9L, 1, Some(1.0), 0.05) // orphan orderkey
    ).toDF("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    val orders = Seq(1L, 2L, 3L).toDF("o_orderkey")
    val rep = CurationOps.expectationReport(li, orders)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(rep("nonempty") == ((0L, true)))
    assert(rep("completeness_l_quantity") == ((1L, false)))
    assert(rep("range_l_discount") == ((1L, false)))
    assert(rep("uniqueness_order_line") == ((1L, false)))
    assert(rep("referential_orderkey") == ((1L, false)))
    // a clean frame passes everything
    val clean = CurationOps.expectationReport(
      li.filter(col("l_orderkey") === 1L), orders)
    assert(clean.filter(!col("passed")).count() == 0)
  }

  test("q88 null contract: null child keys orphan, null tuples deduplicate") {
    import spark.implicits._
    val li = Seq(
      (Some(1L), 1, Some(1.0), 0.05),
      (None, 1, Some(1.0), 0.05), // NULL key IS an orphan (NOT EXISTS)
      (Some(2L), 1, Some(1.0), 0.05), // }
      (Some(2L), 1, Some(1.0), 0.05), // } same non-null tuple: 1 dup
      (None, 2, Some(1.0), 0.05), // }
      (None, 2, Some(1.0), 0.05) //  } same NULL-bearing tuple: 1 dup
    ).toDF("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    val orders = Seq(1L, 2L).toDF("o_orderkey")
    val rep = CurationOps.expectationReport(li, orders)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("referential_orderkey") == 3L) // the three NULL-keyed rows
    assert(rep("uniqueness_order_line") == 2L)
  }

  test("q91 weighted sample: exactly k rows, equal to the single-window draw") {
    val d = sf("sf0.001")
    val out = CurationOps.q91WeightedSample.fn(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.size == 100, s"systematic draw must yield exactly k: ${out.size}")
    // reference: the same systematic rule on ONE global window (the
    // shape q91 avoids at scale) — the distributed prefix sum must
    // reproduce it bit for bit
    import org.apache.spark.sql.expressions.Window
    val w = graft.Tables.orders(spark, d).select(col("o_orderkey"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("weight_cents"),
      md5(col("o_orderkey").cast("string")).as("rk"))
    val g = Window.orderBy(col("rk"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ref = w.withColumn("cum", sum(col("weight_cents")).over(g))
      .crossJoin(w.agg(sum(col("weight_cents")).as("tot")))
      .filter(expr(
        "(cum * 100) div tot > ((cum - weight_cents) * 100) div tot"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == ref)
  }

  test("q139: each cascade stage kills exactly its designed victim, in order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cascade").toString
    def doc(toks: Seq[String]): String = toks.mkString(" ")
    val tooShort = doc((1 to 5).map(i => s"w$i"))              // stage 1
    val tooLong = doc((1 to 40).map(i => f"longword$i%04d"))   // ≥30 toks, >400 chars → stage 2
    val repeaty = doc(Seq.fill(40)("x"))                       // uniq 1/40 < 50% → stage 3
    val stoppy = doc(Seq.fill(10)("the") ++                    // 25% stop, uniq 31/40 → stage 4
      (1 to 30).map(i => s"v$i"))
    val clean = doc((1 to 40).map(i => s"c$i"))                // passes all
    Seq((1L, tooShort), (2L, tooLong), (3L, repeaty), (4L, stoppy),
      (5L, clean))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("source", lit("web"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = CurationOps.q139FilterCascade.fn(spark, dir).collect()
      .map(r => r.getInt(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(
      1 -> (("min_tokens", 1L, 4L)),
      2 -> (("max_chars", 1L, 3L)),
      3 -> (("uniqueness", 1L, 2L)),
      4 -> (("stopword_density", 1L, 1L))), out)
  }

  test("q167: leaked docs are exactly the dup groups that straddle splits") {
    val dir = java.nio.file.Files.createTempDirectory("graft-leak").toString
    // 40 unique docs + one duplicated text stamped on 30 doc_ids —
    // with 30 independent 90/5/5 draws the dup group straddles splits
    // with near-certainty, giving both leaked and clean mass per split
    val docs = (1 to 40).map(i => (i.toLong, s"unique text number $i")) ++
      (101 to 130).map(i => (i.toLong, "shared boilerplate body"))
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // reference assignment: the same published recipe, evaluated
    // row-at-a-time on the driver
    val split = (id: Long) => {
      val h = java.lang.Long.parseLong(org.apache.commons.codec.digest
        .DigestUtils.md5Hex(id.toString).substring(0, 15), 16)
      val b = h % 100
      if (b < 90) "train" else if (b < 95) "valid" else "test"
    }
    val bySplit = docs.groupBy { case (id, _) => split(id) }
    val dupSplits = (101 to 130).map(i => split(i.toLong)).toSet
    val out = CurationOps.q167SplitLeakage.fn(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    bySplit.foreach { case (sp, ds) =>
      val (nDocs, nLeaked) = out(sp)
      assert(nDocs == ds.size, s"$sp docs: $out vs ${ds.size}")
      // unique texts never leak; the shared text leaks iff its group
      // spans ≥ 2 splits (then EVERY copy in this split is leaked)
      val expLeaked = if (dupSplits.size >= 2 && dupSplits(sp))
        ds.count(_._1 >= 101L) else 0
      assert(nLeaked == expLeaked, s"$sp leaked: $out vs $expLeaked")
    }
    assert(dupSplits.size >= 2, "fixture must straddle splits")
  }

  test("q168: uniform 1024-token docs pack exactly two per 2048 chunk") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pack").toString
    val body = Seq.fill(1024)("w").mkString(" ")
    (1 to 8).map(i => (i.toLong, body)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // every offset is a multiple of 1024 regardless of the hash
    // order, so no doc crosses a boundary and every chunk holds
    // exactly 2 docs: hist = {2 → 4 chunks, share 1.0}
    val out = CurationOps.q168ChunkPacking.fn(spark, dir).collect()
    assert(out.length == 1, out.toSeq)
    assert(out(0).getLong(0) == 2L && out(0).getLong(1) == 4L &&
      out(0).getDouble(2) == 1.0, out.toSeq)
  }

  test("q168: chunk count and doc-span mass are conserved on the gate corpus") {
    import org.apache.spark.sql.functions.{sum => fsum}
    val docs = graft.Tables.documents(spark, sfDir)
      .select(size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
    val totTok = docs.agg(fsum("n_tok")).head.getLong(0)
    val nDocs = docs.count()
    val hist = CurationOps.q168ChunkPacking.fn(spark, sfDir).collect()
    val nChunks = hist.map(_.getLong(1)).sum
    assert(nChunks == (totTok + 2047) / 2048, s"$nChunks vs $totTok")
    // Σ docs_in_chunk·n_chunks counts each doc once per chunk it
    // touches: ≥ one per doc, < one per doc + one per chunk boundary
    val mass = hist.map(r => r.getLong(0) * r.getLong(1)).sum
    assert(mass >= nDocs && mass < nDocs + nChunks, s"$mass $nDocs $nChunks")
  }

  test("q170: 13-gram overlap flags train docs; 12-token overlap does not") {
    val dir = java.nio.file.Files.createTempDirectory("graft-decon").toString
    // reference split assignment: the published recipe, row-at-a-time
    val split = (id: Long) => {
      val h = java.lang.Long.parseLong(org.apache.commons.codec.digest
        .DigestUtils.md5Hex(id.toString).substring(0, 15), 16)
      val b = h % 100
      if (b < 90) "train" else if (b < 95) "valid" else "test"
    }
    val ids = (1L to 400L)
    val testId = ids.find(split(_) == "test").get
    val trainIds = ids.filter(split(_) == "train").take(3)
    val bench = (1 to 20).map(i => s"b$i") // 20 benchmark tokens
    val docs = Seq(
      // the benchmark doc itself (test split)
      (testId, bench.mkString(" "), "src1"),
      // train doc sharing a 13-token run (tokens 5..17) -> contaminated
      (trainIds(0),
        (Seq("pre") ++ bench.slice(4, 17) ++ Seq("post")).mkString(" "),
        "src1"),
      // train doc sharing only a 12-token run (tokens 5..16) -> clean
      (trainIds(1),
        (Seq("pre") ++ bench.slice(4, 16) ++ Seq("tail", "x")).mkString(" "),
        "src2"),
      // train doc with no overlap at all -> clean
      (trainIds(2), (1 to 15).map(i => s"u$i").mkString(" "), "src2"))
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = CurationOps.q170NgramDecontam.fn(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("src1") == ((1L, 1L)), out) // 1 train doc, contaminated
    assert(out("src2") == ((2L, 0L)), out) // 12-gram run is NOT enough
  }

  test("q178: class sizes land in the right k-anonymity risk bands") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kanon").toString
    // four QI classes of sizes 1 / 3 / 6 / 25 (n_chars 50 vs 150
    // split the 100-char bands); every band gets exactly one class
    def docs(src: String, nChars: Long, n: Int, base: Int) =
      (0 until n).map(i => ((base + i).toLong, "t", "en", src, nChars))
    val all = docs("s1", 50L, 1, 0) ++ docs("s2", 50L, 3, 100) ++
      docs("s3", 150L, 6, 200) ++ docs("s4", 50L, 25, 300)
    all.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = CurationOps.q178KAnonymity.fn(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    def share(n: Long) = math.floor((n / 35.0) * 1000000 + 0.5) / 1000000
    assert(out == Map(
      "1 (unique)" -> ((1L, 1L, share(1))),
      "2-4" -> ((1L, 3L, share(3))),
      "5-19" -> ((1L, 6L, share(6))),
      "20+" -> ((1L, 25L, share(25)))), out)
  }

  test("q181: a planted orphan FK row is counted; clean FKs report zero") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fk").toString
    // clone the sf0.001 lake, then plant ONE nation row pointing at a
    // region that doesn't exist — every other relationship stays clean
    // (adding a nation is harmless to customer/supplier -> nation)
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      graft.Tables.load(spark, sfDir, t)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val nat = graft.Tables.load(spark, sfDir, "nation")
    nat.unionByName(nat.limit(1).select(
        lit(9999L).as("n_nationkey"), lit("atlantis").as("n_name"),
        lit(777L).as("n_regionkey")))
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val out = CurationOps.q181FkIntegrity.fn(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(out.size == 8, out)
    val nNation = nat.count() + 1
    assert(out("nation.n_regionkey->region") == ((nNation, 0L, 1L)), out)
    out.filter(_._1 != "nation.n_regionkey->region").foreach {
      case (fk, (_, nNull, nOrph)) =>
        assert(nNull == 0L && nOrph == 0L, s"$fk: ${out(fk)}")
    }
  }

  test("q186: sensitive-value diversity bands are closed-form") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ldiv").toString
    // three QI classes, one per l-band: s1 all-en (l=1, k=3 — the
    // homogeneity attack), s2 en/fr (l=2, k=4), s3 en/fr/de (l=3)
    val docs =
      (1 to 3).map(i => (i.toLong, "en", "s1")) ++
      Seq((11L, "en", "s2"), (12L, "en", "s2"), (13L, "fr", "s2"),
        (14L, "fr", "s2"), (21L, "en", "s3"), (22L, "fr", "s3"),
        (23L, "de", "s3"))
    docs.toDF("doc_id", "lang", "source")
      .withColumn("text", lit("t"))
      .withColumn("n_chars", lit(50L))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = CurationOps.q186LDiversity.fn(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    def share(n: Long) = math.floor((n / 10.0) * 1000000 + 0.5) / 1000000
    assert(out == Map(
      "1 (homogeneous)" -> ((1L, 3L, share(3))),
      "2" -> ((1L, 4L, share(4))),
      "3+" -> ((1L, 3L, share(3)))), out)
  }

  test("q191: every bps band lands exactly where planted, including no_lines") {
    val dir = java.nio.file.Files.createTempDirectory("graft-recon").toString
    // headers at 100.00; lines sum to: exact, +0.05 (5 bps), +0.50
    // (50 bps), +5.00 (500 bps), +50.00 (5000 bps), and order 6 has
    // no lines at all
    Seq((1L, 100.00), (2L, 100.00), (3L, 100.00), (4L, 100.00),
      (5L, 100.00), (6L, 100.00))
      .toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 100.00), (2L, 100.05), (3L, 100.50), (4L, 105.00),
      (5L, 150.00))
      .toDF("l_orderkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = CurationOps.q191Reconciliation.fn(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(
      "exact" -> ((1L, 0L, 1.0 / 6)),
      "within_10bps" -> ((1L, 5L, 1.0 / 6)),
      "within_100bps" -> ((1L, 50L, 1.0 / 6)),
      "within_1000bps" -> ((1L, 500L, 1.0 / 6)),
      "over_1000bps" -> ((1L, 5000L, 1.0 / 6)),
      "no_lines" -> ((1L, 10000L, 1.0 / 6))), out)
  }
}
