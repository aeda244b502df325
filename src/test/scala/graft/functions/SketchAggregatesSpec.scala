package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contracts for the MinHashSketch TypedImperativeAggregate. */
class SketchAggregatesSpec extends SparkSpec {

  private def refHash(i: Int, s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$i:$s".getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("sketch equals the per-permutation md5 minima, and md5 recipe matches") {
    import spark.implicits._
    val vals = Seq("alpha", "beta", "gamma", "delta")
    val got = vals.toDF("s")
      .agg(SketchAggregates.minhashSketch(col("s"), 16).as("sk"))
      .head().getSeq[Long](0)
    val want = (0 until 16).map(i => vals.map(refHash(i, _)).min)
    assert(got == want, got)
    // the in-JVM hash must equal Spark's md5() + conv() recipe (and
    // therefore DuckDB's '0x' || substring cast — q33's established
    // cross-engine bridge)
    val sqlHash = Seq("alpha").toDF("s")
      .select(expr("CAST(conv(substring(md5(concat('3:', s)), 1, 15), 16, 10) AS BIGINT)"))
      .head().getLong(0)
    assert(sqlHash == refHash(3, "alpha"))
  }

  test("merge is associative: partitioned == single-partition sketch") {
    import spark.implicits._
    val vals = (1 to 200).map(i => s"shingle token $i")
    val many = vals.toDF("s").repartition(7)
      .agg(SketchAggregates.minhashSketch(col("s"), 16))
      .head().getSeq[Long](0)
    val one = vals.toDF("s").coalesce(1)
      .agg(SketchAggregates.minhashSketch(col("s"), 16))
      .head().getSeq[Long](0)
    assert(many == one)
  }

  test("q149: identical shingle sets est 1.0, disjoint est 0.0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sksim").toString
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val other = (1 to 20).map(i => s"zz$i").mkString(" ")
    Seq(
      (1L, base, "web"), (2L, base, "pdf"), // same shingles → est 1.0
      (3L, other, "txt")) // disjoint → minima differ in every slot
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.DedupOps.q149SourceSketchSim.fn(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out(("pdf", "web")) == ((16L, 1.0)), out)
    assert(out(("pdf", "txt")) == ((0L, 0.0)), out)
    assert(out(("txt", "web")) == ((0L, 0.0)), out)
  }

  // ---- HllRegisters ----

  /** Brute-force reference registers from the same md5 recipe. */
  private def refRegisters(vals: Seq[String], p: Int): Seq[Int] = {
    val m = 1 << p
    val regs = new Array[Int](m)
    val md = java.security.MessageDigest.getInstance("MD5")
    vals.foreach { s =>
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      val bucket = (h >>> (60 - p)).toInt
      val w = h & ((1L << 40) - 1)
      val rank = if (w == 0) 41 else 41 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rank > regs(bucket)) regs(bucket) = rank
    }
    regs.toSeq
  }

  test("hll registers equal the brute-force md5 reference") {
    import spark.implicits._
    val vals = (1 to 500).map(i => s"document body $i")
    val got = vals.toDF("s").repartition(5)
      .agg(SketchAggregates.hllRegisters(col("s"), 10))
      .head().getSeq[Int](0)
    assert(got == refRegisters(vals, 10))
  }

  test("hll merge is associative and idempotent: partitions and re-merge") {
    import spark.implicits._
    val vals = (1 to 300).map(i => s"v$i")
    val one = vals.toDF("s").coalesce(1)
      .agg(SketchAggregates.hllRegisters(col("s"), 10)).head().getSeq[Int](0)
    val many = vals.toDF("s").repartition(7)
      .agg(SketchAggregates.hllRegisters(col("s"), 10)).head().getSeq[Int](0)
    // idempotence: the same elements twice must not move any register
    val doubled = (vals ++ vals).toDF("s").repartition(3)
      .agg(SketchAggregates.hllRegisters(col("s"), 10)).head().getSeq[Int](0)
    assert(many == one)
    assert(doubled == one)
  }

  test("misra-gries keeps every true heavy hitter under any partitioning") {
    import spark.implicits._
    // 10k rows: "hot" appears 600 times (6% ≫ 1/(k+1) with k=64),
    // "warm" 200 (2%), the rest a long uniform tail. The guarantee:
    // both must SURVIVE the sketch no matter how rows are partitioned
    val rows = Seq.fill(600)("hot") ++ Seq.fill(200)("warm") ++
      (1 to 9200).map(i => s"tail${i % 4000}")
    for (parts <- Seq(1, 3, 13)) {
      val cands = rows.toDF("s").repartition(parts)
        .agg(SketchAggregates.misraGries(col("s"), 64))
        .head().getSeq[String](0).toSet
      assert(cands.contains("hot"), s"parts=$parts lost 'hot': $cands")
      assert(cands.contains("warm"), s"parts=$parts lost 'warm': $cands")
      assert(cands.size <= 64, s"parts=$parts overflowed k: ${cands.size}")
    }
  }

  test("misra-gries serialize/deserialize roundtrips the counter map") {
    val mg = SketchAggregates.MisraGries(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), 8)
    val buf = scala.collection.mutable.HashMap(
      "alpha" -> 5L, "βeta" -> 3L, "" -> 1L)
    assert(mg.deserialize(mg.serialize(buf)) == buf)
  }

  test("KLL rank error stays under 2% of n on 1- and 32-partition builds") {
    import spark.implicits._
    // a deterministically shuffled permutation of 1..100000 — true
    // rank of value v is exactly v, so the measured error needs no
    // reference computation
    val n = 100000
    val vals = (1 to n).sortBy(i => refHash(0, i.toString)).map(_.toDouble)
    for (parts <- Seq(1, 32)) {
      val pairs = vals.toDF("v").repartition(parts)
        .agg(SketchAggregates.kllDoubles(col("v"), 1024).as("sk"))
        .select(explode(col("sk")).as("x"))
        .select(col("x.v").as("v"), col("x.c").as("c"))
        .orderBy("v")
        .collect()
        .map(r => (r.getDouble(0), r.getLong(1)))
      // compaction conserves weighted mass EXACTLY (even case: m of
      // 2m items promoted at doubled weight; odd case: min kept at w
      // plus m items at 2w = (2m+1)w) — strict equality catches any
      // weight-conservation regression in compact()/merge()
      val mass = pairs.map(_._2).sum
      assert(mass == n, s"parts=$parts mass=$mass != n=$n")
      for (pct <- Seq(50, 90, 99)) {
        val target = (pct.toLong * mass + 99) / 100
        var cum = 0L
        val est = pairs.find { case (_, c) => cum += c; cum >= target }
          .get._1
        // true rank of est in 1..n is est itself
        val err = math.abs(est - pct.toDouble / 100 * n) / n
        assert(err <= 0.02,
          s"parts=$parts p$pct est=$est err=$err (bound 2%)")
      }
    }
  }

  test("KLL under k inputs is the exact weighted list") {
    import spark.implicits._
    // 3 values fit level 0: (v, 1) per input, sorted by v
    val items = Seq(3.0, 1.0, 2.0).toDF("x")
      .agg(SketchAggregates.kllDoubles(col("x"), 8).as("q"))
      .select(explode(col("q")).as("e"))
      .select(col("e.v"), col("e.c")).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(items == Seq((1.0, 1L), (2.0, 1L), (3.0, 1L)), items)
  }

  test("KLL serialize/deserialize roundtrips the level structure") {
    val kll = SketchAggregates.KllDoubles(
      org.apache.spark.sql.GraftColumnBridge.expression(lit(0.0)), 64)
    val buf = kll.createAggregationBuffer()
    buf.levels(0) ++= Seq(3.0, 1.0, 2.0)
    buf.levels += scala.collection.mutable.ArrayBuffer(5.0, 4.0)
    val rt = kll.deserialize(kll.serialize(buf))
    assert(rt.levels.map(_.toSeq) == buf.levels.map(_.toSeq))
  }

  test("q154 estimator lands within 10% of the exact distinct count") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-hll").toString
    (1 to 2000).map(i => (i.toLong, s"unique document text $i", "web"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.operators.SketchOps.q154HllDistinct.fn(spark, dir)
      .collect()
    assert(r.length == 1)
    val (exact, est, relErr) =
      (r(0).getAs[Long]("n_exact"), r(0).getAs[Double]("hll_est"),
        r(0).getAs[Double]("rel_err"))
    assert(exact == 2000L)
    assert(relErr < 0.10, s"estimate $est vs exact $exact (err $relErr)")
  }
}
