package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/**
 * Native sequential dot product over two numeric vectors
 * (array<float> or array<double>): acc = Σ aᵢ·bᵢ accumulated
 * left-to-right in double — the exact fold order and arithmetic of the
 * composed `aggregate(zip_with(a, b, (x, y) -> x*y), 0.0, +)` form, so
 * results stay bit-identical to both the previous implementation and
 * DuckDB's list fold (which the q_ann_topk oracle hash-checks).
 *
 * The composed form pays interpreted lambda dispatch per element
 * (zip_with/aggregate are CodegenFallback); candidate re-ranking calls
 * three folds per pair (dot + two norms), so this is the ANN hot path.
 */
case class VecDot(left: Expression, right: Expression, pad: Boolean = false)
  extends BinaryExpression {

  private def isVec(dt: DataType) = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(left.dataType) && isVec(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires two array<float|double> inputs, got " +
        s"${left.dataType} / ${right.dataType}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  // NULL can surface from non-null children: a length mismatch in
  // strict mode, or a null ELEMENT in either vector (both modes) —
  // exactly like the zip_with null-poisoned fold
  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VecDot = copy(left = newLeft, right = newRight)

  private def isFloat(e: Expression) =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val av = a.asInstanceOf[ArrayData]
    val bv = b.asInstanceOf[ArrayData]
    if (!pad && av.numElements() != bv.numElements()) null
    else VecDot.dotOrNull(av, bv, isFloat(left), isFloat(right))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // dotOrNull returns a boxed null for a malformed (null-element)
      // vector — the codegen maps it onto isNull so the fold keeps the
      // composed form's null-poisoning contract
      val boxed = ctx.freshName("dotRes")
      val call = s"""
        java.lang.Double $boxed = graft.plans.VecDot.dotOrNull($a, $b,
          ${isFloat(left)}, ${isFloat(right)});
        if ($boxed == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $boxed.doubleValue(); }"""
      if (pad) call
      else s"""
        if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
        else { $call }"""
    })
}

object VecDot {

  /** Left-to-right double fold, identical to aggregate(zip_with(...))
    * on equal-length vectors. Length handling lives in the expression:
    * strict mode (default) returns NULL on mismatch — the zip_with
    * form null-pads the short side and null-poisons the sum, so a
    * malformed vector yields NULL, never a plausible partial product —
    * while pad mode keeps the zero-pad identity (missing element
    * contributes +0.0), which srpSignature relies on when the stored
    * vector is shorter than the literal hyperplane. A null ELEMENT in
    * either consumed slot also nulls the whole fold: ArrayData reads a
    * nulled slot as 0.0, and summing it would hand a malformed vector
    * a confident partial product instead of dropping it. */
  def dotOrNull(a: ArrayData, b: ArrayData, aFloat: Boolean,
      bFloat: Boolean): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  def apply(a: Column, b: Column): Column =
    column(VecDot(expression(a), expression(b)))

  /** Zero-padding variant (min-length fold) for literal-plane SRP. */
  def padded(a: Column, b: Column): Column =
    column(VecDot(expression(a), expression(b), pad = true))
}
