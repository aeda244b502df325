package graft.functions

import graft.SparkSpec
import graft.operators.LayoutOps
import org.apache.spark.sql.functions._

class LayoutExpressionsSpec extends SparkSpec {

  private def refSpread(v: Long): Long = {
    var x = v & 0x7FFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }
  private def refMorton(a: Long, b: Long): Long =
    refSpread(a) | (refSpread(b) << 1)

  test("morton matches the reference interleave, Column and SQL paths") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L),
      (0xFFFFFFFFL, 0L), (0xFFFFFFFFL, 0xFFFFFFFFL), (123456789L, 987654321L))
    val df = cases.toDF("a", "b")
      .withColumn("viaCol", LayoutExpressions.morton(col("a"), col("b")))
      .withColumn("viaSql", expr("graft_morton(a, b)"))
    df.collect().foreach { r =>
      val expect = refMorton(r.getLong(0), r.getLong(1))
      assert(r.getLong(2) == expect && r.getLong(3) == expect, r)
    }
    // bit-level contract: a's bit i at position 2i, b's at 2i+1
    assert(refMorton(1, 0) == 1L && refMorton(0, 1) == 2L &&
      refMorton(3, 3) == 15L)
  }

  test("zorderWrite degrades to 1-D clustering when one key is all-NULL") {
    import spark.implicits._
    // colB has no non-null values → no min-max domain to normalize;
    // the write must fall back to clustering on colA (not NPE on the
    // missing stats), and files must still carry disjoint colA ranges
    val df = (1 to 4000).map(i => (i.toLong * 7 % 4001, None: Option[Double]))
      .toDF("a", "b")
    val dir = java.nio.file.Files.createTempDirectory("graft-znull")
      .toString + "/t"
    LayoutOps.zorderWrite(df, dir, "a", "b", nFiles = 4)
    val back = spark.read.parquet(dir)
    assert(back.count() == 4000)
    val ranges = back.groupBy(input_file_name())
      .agg(min("a").as("lo"), max("a").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length >= 3, s"expected ~4 files: ${ranges.length}")
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, ranges.toSeq)
      case _ =>
    }
    // both keys all-NULL (or empty input) → plain write, no crash
    val dir2 = java.nio.file.Files.createTempDirectory("graft-znull2")
      .toString + "/t"
    LayoutOps.zorderWrite(
      Seq((None: Option[Long], None: Option[Double])).toDF("a", "b"),
      dir2, "a", "b", nFiles = 4)
    assert(spark.read.parquet(dir2).count() == 1)
  }

  test("zorderWrite bounds BOTH dims per file where 1-D clustering bounds one") {
    val li = graft.Tables.lineitem(spark, sf("sf0.001"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    def spans(dir: String, key: String): Seq[Long] =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max(col(key)) - min(col(key))).as("span"))
        .collect().map(_.getLong(1)).toSeq

    val zdir = java.nio.file.Files.createTempDirectory("graft-z").toString + "/t"
    LayoutOps.zorderWrite(li, zdir, "l_orderkey", "l_partkey", nFiles = 8)
    val odir = java.nio.file.Files.createTempDirectory("graft-o").toString + "/t"
    LayoutOps.clusteredWrite(li, odir, "l_orderkey", nFiles = 8)

    assert(spark.read.parquet(zdir).count() == li.count())
    val globalPartSpan = li.agg(max("l_partkey") - min("l_partkey"))
      .head().getLong(0)
    // 1-D clustering on orderkey leaves partkey unbounded per file...
    val oSpans = spans(odir, "l_partkey")
    assert(oSpans.max > globalPartSpan * 9 / 10,
      s"1-D files should span ~full partkey range: $oSpans vs $globalPartSpan")
    // ...z-order bounds it: the MEDIAN file's partkey span shrinks
    // (z-curve chunks fix high bits of both dims; edge files that
    // straddle a high-bit flip stay wide, so assert on the median)
    val zSpans = spans(zdir, "l_partkey").sorted
    assert(zSpans(zSpans.length / 2) < globalPartSpan * 3 / 4,
      s"median z-file must bound partkey: $zSpans vs $globalPartSpan")
  }
}
