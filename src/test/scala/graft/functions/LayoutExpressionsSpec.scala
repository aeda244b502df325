package graft.functions

import graft.SparkSpec
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

  test("morton matches the reference interleave") {
    import spark.implicits._
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L),
      (0xFFFFFFFFL, 0L), (0xFFFFFFFFL, 0xFFFFFFFFL), (123456789L, 987654321L))
    val df = cases.toDF("a", "b")
      .withColumn("viaCol", LayoutExpressions.morton(col("a"), col("b")))
    df.collect().foreach { r =>
      assert(r.getLong(2) == refMorton(r.getLong(0), r.getLong(1)), r)
    }
    // bit-level contract: a's bit i at position 2i, b's at 2i+1
    assert(refMorton(1, 0) == 1L && refMorton(0, 1) == 2L &&
      refMorton(3, 3) == 15L)
  }
}
