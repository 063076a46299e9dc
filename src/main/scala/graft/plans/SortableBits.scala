package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/**
 * Order-preserving double→long bit map (the classic radix-sort trick):
 * `sortable(a) < sortable(b)` ⇔ `a < b` for all non-NaN doubles, as
 * SIGNED long comparison. Positive doubles keep their IEEE-754 bits
 * (already ascending); negative doubles get their lower 63 bits
 * flipped (reversing the magnitude order while keeping the sign bit,
 * so every negative sorts below every positive). `-0.0` is normalized
 * to `+0.0` first (`d + 0.0`), matching SQL's `-0.0 = 0.0` comparison
 * semantics — without it the two zeros would land in different range
 * buckets while an ORDER BY treats them as ties.
 *
 * Purpose: driver-free ORDER-PRESERVING range bucketing. The top k
 * bits of the sortable value partition the double line into at most
 * 2^k disjoint, ordered ranges without knowing the data's min/max —
 * which lets [[graft.pipeline.Corpus.tokenBudgetSelect]] compute its
 * quality-order bucket sums in a single Spark job instead of a
 * bounds pass followed by a bucketing pass. Exact bit arithmetic (no
 * floating log2), so bucket assignment can never disagree with the
 * ordering.
 */
case class SortableDoubleBits(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sortable_double_bits requires double input, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "sortable_double_bits"

  override protected def withNewChildInternal(
      newChild: Expression): SortableDoubleBits = copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    SortableDoubleBits.sortable(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SortableDoubleBits.sortable($c)")
}

object SortableDoubleBits {

  def sortable(d: Double): Long = {
    // d + 0.0 canonicalizes -0.0 to +0.0 (IEEE round-to-nearest);
    // doubleToLongBits already canonicalizes NaN.
    val bits = java.lang.Double.doubleToLongBits(d + 0.0)
    bits ^ ((bits >> 63) & 0x7FFFFFFFFFFFFFFFL)
  }

  /** Inverse of [[sortable]] (for driver-side range decoding — e.g.
    * recovering a bucket's double bounds from its bit prefix). Not
    * every long decodes to a finite double: prefixes covering the
    * NaN/Infinity bit patterns decode accordingly, and callers
    * guarding an affine rescale must check `isFinite`. */
  def fromSortable(s: Long): Double =
    java.lang.Double.longBitsToDouble(if (s >= 0) s else s ^ 0x7FFFFFFFFFFFFFFFL)

  def sortableBits(d: Column): Column = column(SortableDoubleBits(expression(d)))
}
