package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types._

/** Native expressions for physical data layout: Morton (Z-order)
  * interleaving, the multi-dimensional generalization of
  * `LayoutOps.clusteredWrite`'s single-key range clustering. Sorting by
  * the interleaved code keeps rows that are close in BOTH key
  * dimensions physically adjacent, so parquet min/max stats prune
  * files for 2-D range predicates where a lexicographic sort prunes
  * only the leading key.
  *
  * The bit spread is the standard magic-mask doubling sequence —
  * pure integer & | << steps, so the identical arithmetic replays in
  * any engine (the q84 oracle spells it out in DuckDB SQL) and the
  * expression codegens to straight-line long ops inside whole-stage
  * codegen (preference order (b): custom Expression, not operator).
  */
object LayoutExpressions {

  /** Interleave the low 31 bits of two longs: bit i of `left` lands
    * at position 2i, bit i of `right` at 2i+1. Total order over
    * (left, right) pairs following the Z-curve. 31 bits, not 32: the
    * result stays within a POSITIVE int64 (max bit 62), so ordering
    * comparisons never wrap negative and the identical arithmetic
    * replays in engines with overflow-checked shifts (DuckDB's `<<`
    * errors where Java wraps — the q84 oracle depends on this). */
  case class MortonCode(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType == LongType)
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_morton needs (bigint, bigint), got " +
          s"${left.dataType.sql}, ${right.dataType.sql}")
    }

    @inline private def spread(v: Long): Long = {
      var x = v & 0x7FFFFFFFL
      x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
      x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
      x = (x | (x << 2)) & 0x3333333333333333L
      x = (x | (x << 1)) & 0x5555555555555555L
      x
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      spread(a.asInstanceOf[Long]) | (spread(b.asInstanceOf[Long]) << 1)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // instance method, not static: addNewFunction may spill into a
      // non-static nested class when the generated class grows large,
      // where a static member fails Janino compilation
      val fn = ctx.addNewFunction("graftMortonSpread",
        s"""
           |private long graftMortonSpread(long v) {
           |  long x = v & 0x7FFFFFFFL;
           |  x = (x | (x << 16)) & 0x0000FFFF0000FFFFL;
           |  x = (x | (x << 8)) & 0x00FF00FF00FF00FFL;
           |  x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL;
           |  x = (x | (x << 2)) & 0x3333333333333333L;
           |  x = (x | (x << 1)) & 0x5555555555555555L;
           |  return x;
           |}
         """.stripMargin)
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = $fn($a) | ($fn($b) << 1);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  private def asCol(e: Expression): Column =
    org.apache.spark.sql.GraftColumnBridge.column(e)
  private def exprOf(c: Column): Expression =
    org.apache.spark.sql.GraftColumnBridge.expression(c)

  def morton(a: Column, b: Column): Column =
    asCol(MortonCode(exprOf(a.cast("long")), exprOf(b.cast("long"))))
}
