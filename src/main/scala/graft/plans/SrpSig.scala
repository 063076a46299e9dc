package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native sign-random-projection signature: all `bits` hyperplane signs
 * of a numeric vector in ONE compiled pass — the '0'/'1' string the
 * SRP band-LSH family keys on ([[graft.functions.VectorFns.srpBands]]).
 *
 * The composed form this replaces evaluated `bits` separate
 * [[VecDot]] expressions, each re-decoding the SAME input array (the
 * per-plane flops are trivial; the per-plane array decode + expression
 * dispatch is not — a 100k-vector benchmark side measured 6.2 s for
 * its 64-bit signatures, ~12× the arithmetic cost). Here the input is
 * decoded once and the plane accumulators advance together:
 * `acc[j] += v[i] * plane[j][i]` with i outer — per plane j that is
 * the SAME left-to-right double accumulation as `VecDot.padded`, so
 * every sign bit is bit-identical to the composed form (and to the
 * DuckDB oracle's list fold, which hash-checks it in q_ann_lsh /
 * q_embed_neardup / q_semantic_decon).
 *
 * Null contract — replicated from the composed form, which maps every
 * null through `when(dot >= 0, "1").otherwise("0")`: a NULL vector or
 * a null ELEMENT inside the consumed range yields the ALL-ZEROS
 * signature (never SQL NULL). The expression is therefore
 * non-nullable. Vectors shorter than `dim` zero-pad (missing elements
 * add +0.0); elements beyond `dim` are ignored — both exactly as
 * VecDot.padded's min-length fold.
 */
case class SrpSig(child: Expression, bits: Int, dim: Int, seed: Long)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) if bits > 0 && dim > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"srp_sig requires array<float|double> and bits/dim > 0, got " +
        s"$other / bits=$bits dim=$dim")
  }

  override def dataType: DataType = StringType
  // null input → all-zeros signature, see null contract above
  override def nullable: Boolean = false
  override def prettyName: String = "srp_sig"

  override protected def withNewChildInternal(newChild: Expression): SrpSig =
    copy(child = newChild)

  @transient private lazy val planes: Array[Double] =
    SrpSig.flatPlanes(bits, dim, seed)

  private def isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    SrpSig.sigOf(if (v == null) null else v.asInstanceOf[ArrayData],
      planes, bits, dim, isFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("srpPlanes", planes, "double[]")
    val c = child.genCode(ctx)
    val childVal =
      if (child.nullable) s"(${c.isNull} ? null : ${c.value})" else s"${c.value}"
    ev.copy(isNull = FalseLiteral, code =
      code"""
        ${c.code}
        org.apache.spark.unsafe.types.UTF8String ${ev.value} =
          graft.plans.SrpSig.sigOf($childVal, $p, $bits, $dim, $isFloat);
      """)
  }
}

object SrpSig {

  /** The [[graft.functions.VectorFns.srpPlanes]] matrix flattened
    * row-major `[j*dim + i]` — same splitmix64 stream, same values the
    * oracle SQL inlines as literals (Fixtures.srpSigSql), so generator
    * and oracle can never drift apart silently. */
  def flatPlanes(bits: Int, dim: Int, seed: Long): Array[Double] = {
    val rows = graft.functions.VectorFns.srpPlanes(bits, dim, seed)
    val flat = new Array[Double](bits * dim)
    var j = 0
    while (j < bits) {
      val row = rows(j)
      var i = 0
      while (i < dim) { flat(j * dim + i) = row(i); i += 1 }
      j += 1
    }
    flat
  }

  /** Shared eval/codegen kernel. Never returns null: a null vector or
    * a null element inside the consumed range yields the all-zeros
    * signature (the composed form's `when`-coalesced contract). */
  def sigOf(arr: ArrayData, planes: Array[Double], bits: Int, dim: Int,
      isFloat: Boolean): UTF8String = {
    val out = new Array[Byte](bits)
    if (arr == null) {
      java.util.Arrays.fill(out, '0'.toByte)
      return UTF8String.fromBytes(out)
    }
    val acc = new Array[Double](bits)
    val m = math.min(arr.numElements(), dim)
    var i = 0
    while (i < m) {
      if (arr.isNullAt(i)) {
        java.util.Arrays.fill(out, '0'.toByte)
        return UTF8String.fromBytes(out)
      }
      val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      var j = 0
      while (j < bits) { acc(j) += v * planes(j * dim + i); j += 1 }
      i += 1
    }
    var j = 0
    while (j < bits) {
      out(j) = if (acc(j) >= 0) '1'.toByte else '0'.toByte
      j += 1
    }
    UTF8String.fromBytes(out)
  }

  def apply(vec: Column, bits: Int, dim: Int, seed: Long): Column =
    column(SrpSig(expression(vec), bits, dim, seed))
}
