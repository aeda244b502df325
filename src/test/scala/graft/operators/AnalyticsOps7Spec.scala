package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Round-11 tranche algebra checks: the tie-aware Spearman against a
  * brute Pearson-on-average-ranks reference, the W1 merged-CDF walk
  * against hand-computed distances and metric invariants, the
  * quantile-normalization straddle's invariants, and the DEFLATE
  * ratio kernel's signal shape.
  */
class AnalyticsOps7Spec extends SparkSpec {
  import spark.implicits._

  // ---- q200 Spearman ----

  private def rhoOf(rows: Seq[(String, Long, Long)]): Map[String, Double] =
    StatsOps.spearmanOn(rows.toDF("source", "x", "y"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap

  /** Brute reference: average ranks, Pearson on ranks, floored like
    * the engine (1e-6). */
  private def bruteRho(xs: Seq[Long], ys: Seq[Long]): Double = {
    def avgRanks(v: Seq[Long]): Seq[Double] = {
      val sorted = v.sorted
      v.map { x =>
        val lo = sorted.indexOf(x) + 1
        val hi = sorted.lastIndexOf(x) + 1
        (lo + hi) / 2.0
      }
    }
    val rx = avgRanks(xs); val ry = avgRanks(ys)
    val n = xs.length.toDouble
    val mx = rx.sum / n; val my = ry.sum / n
    val num = rx.zip(ry).map { case (a, b) => (a - mx) * (b - my) }.sum
    val da = rx.map(a => (a - mx) * (a - mx)).sum
    val db = ry.map(b => (b - my) * (b - my)).sum
    if (da == 0 || db == 0) 0.0
    else math.floor(num / (math.sqrt(da) * math.sqrt(db)) * 1000000 + 0.5) / 1000000
  }

  test("q200: perfect monotone is 1, reversed is -1, constant is 0") {
    val xs = (1L to 20L)
    assert(rhoOf(xs.map(i => ("a", i, i * 3)))("a") == 1.0)
    assert(rhoOf(xs.map(i => ("a", i, 100 - i)))("a") == -1.0)
    assert(rhoOf(xs.map(i => ("a", 7L, i)))("a") == 0.0)
  }

  test("q200: tie-heavy data matches brute Pearson-on-average-ranks") {
    // deterministic tie-heavy draws: small value domains force runs of
    // equal x AND equal y, the case where 1-6Σd²/… would be wrong
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(40)
      val rows = (1 to n).map { _ =>
        val x = rnd.nextInt(5).toLong
        val y = (x + rnd.nextInt(4) - 1).max(0)
        ("s", x, y)
      }
      val got = rhoOf(rows)("s")
      val want = bruteRho(rows.map(_._2), rows.map(_._3))
      // both sides floor at 1e-6 but associate float ops differently
      // (engine: exact ints then one division; brute: incremental
      // doubles) — equality up to one grid step
      assert(math.abs(got - want) <= 1e-6 + 1e-12,
        s"seed=$seed got=$got want=$want")
    }
  }

  // ---- q201 Wasserstein ----

  private def w1Of(cells: Seq[(String, Long, Long)])
      : Map[(String, String), Double] =
    StatsOps.wassersteinOn(cells.toDF("t", "v", "cnt"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap

  test("q201: point masses 1 value-unit apart have W1 = 1") {
    val w = w1Of(Seq(("a", 0L, 1L), ("b", 100L, 1L)))
    assert(w(("a", "b")) == 1.0)
  }

  test("q201: identical distributions have W1 = 0; co-translation " +
      "preserves W1") {
    val a = Seq(("a", 10L, 3L), ("a", 250L, 1L), ("a", 400L, 2L))
    val b = Seq(("b", 30L, 2L), ("b", 250L, 2L), ("b", 900L, 1L))
    val same = a ++ a.map { case (_, v, c) => ("b", v, c) }
    assert(w1Of(same)(("a", "b")) == 0.0)
    val base = w1Of(a ++ b)(("a", "b"))
    val shifted = w1Of((a ++ b).map { case (t, v, c) => (t, v + 700L, c) })
    assert(shifted(("a", "b")) == base)
  }

  test("q201: random distributions match the brute grid integral") {
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      def dist(t: String): Seq[(String, Long, Long)] =
        (1 to 3 + rnd.nextInt(5)).map(_ =>
          (t, rnd.nextInt(300).toLong, 1L + rnd.nextInt(9).toLong))
          .groupBy(_._2).map { case (v, g) => (t, v, g.map(_._3).sum) }
          .toSeq
      val a = dist("a"); val b = dist("b")
      val na = a.map(_._3).sum; val nb = b.map(_._3).sum
      // brute: unit-grid sum of |FA−FB| cross-multiplied exact, then
      // the SAME final double expression as the engine
      val vmax = (a ++ b).map(_._2).max
      var s = BigInt(0)
      for (v <- 0L until vmax) {
        val ca = a.filter(_._2 <= v).map(_._3).sum
        val cb = b.filter(_._2 <= v).map(_._3).sum
        s += (BigInt(ca) * nb - BigInt(cb) * na).abs
      }
      val want = math.floor(
        s.toDouble / (na.toDouble * nb.toDouble * 100.0) * 1000000 + 0.5
      ) / 1000000
      val got = w1Of(a ++ b)(("a", "b"))
      assert(math.abs(got - want) <= 1e-6 + 1e-12,
        s"seed=$seed got=$got want=$want")
    }
  }

  // ---- q202 quantile normalization ----

  private def qnOf(cells: Seq[(String, Long, Long)])
      : Seq[(String, Long, Long, Long)] =
    StatsOps.quantileNormalizeOn(cells.toDF("source", "v", "cnt"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq

  test("q202: a single source maps every value to itself") {
    val cells = Seq(("a", 3L, 2L), ("a", 9L, 1L), ("a", 40L, 5L))
    assert(qnOf(cells).forall { case (_, v, _, m) => m == v })
  }

  test("q202: hand-computed two-source mapping") {
    val cells = (1L to 4L).map(v => ("a", v, 1L)) ++
      Seq(10L, 20L, 30L, 40L).map(v => ("b", v, 1L))
    val m = qnOf(cells).map { case (s, v, _, mp) => (s, v) -> mp }.toMap
    // pooled sorted: 1,2,3,4,10,20,30,40 (cum 1..8); nS=4, nP=8 →
    // source rank r maps to smallest pooled cum ≥ 2r
    assert(m(("a", 1L)) == 2L && m(("a", 2L)) == 4L &&
      m(("a", 3L)) == 20L && m(("a", 4L)) == 40L, m)
    assert(m(("b", 10L)) == 2L && m(("b", 20L)) == 4L &&
      m(("b", 30L)) == 20L && m(("b", 40L)) == 40L, m)
  }

  test("q202: mapping is monotone and lands in the pooled value set") {
    val rnd = new scala.util.Random(7)
    val cells = for {
      s <- Seq("a", "b", "c")
      v <- rnd.shuffle((1 to 200).toList).take(30)
    } yield (s, v.toLong, 1L + rnd.nextInt(4).toLong)
    val pool = cells.map(_._2).toSet
    val out = qnOf(cells)
    assert(out.forall { case (_, _, _, m) => pool.contains(m) })
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2).map(_._4)
      assert(sorted == sorted.sorted, s"non-monotone: $sorted")
    }
  }

  // ---- q203 DEFLATE ratio ----

  test("q203 kernel: repetitive text deflates low, random text stays " +
      "high, and the ratio is deterministic") {
    import graft.functions.TextExpressions.deflateRatioCol
    val rnd = new scala.util.Random(42)
    val rep = ("spam and eggs " * 200).trim
    // uniform random letters: ~4.7 bits/char entropy → deflate can't
    // go far below ~0.59 bytes/byte
    val noise = (1 to 4000).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val df = Seq(("rep", rep), ("noise", noise), ("empty", ""))
      .toDF("k", "text")
      .select(col("k"), deflateRatioCol(col("text")).as("r"))
    val m = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("rep") < 0.1, s"repetitive ratio ${m("rep")}")
    assert(m("noise") > 0.5, s"noise ratio ${m("noise")}")
    assert(m("empty") > 0.0) // deflate overhead over max(len,1)
    // determinism across evaluations (fresh plan, same values)
    val again = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(again == m)
    // null propagates, SQL registration works
    graft.functions.GraftFunctions.register(spark)
    val viaSql = spark.sql(
      s"SELECT graft_deflate_ratio(CAST(NULL AS STRING)) AS a, " +
        s"graft_deflate_ratio('aaaa aaaa aaaa aaaa') AS b").head()
    assert(viaSql.isNullAt(0) && viaSql.getDouble(1) > 0.0)
  }
}
