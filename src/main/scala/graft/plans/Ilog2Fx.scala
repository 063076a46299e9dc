package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/**
 * Native fixed-point base-2 log: `ilog2_fx(x) ≈ 2²⁰·log2(max(x, 1))`,
 * the all-integer shift-and-square iteration the classifier family
 * renders its log-probabilities in (see
 * [[graft.pipeline.Classifier]] for the numeric contract: exact at
 * powers of two, within 2⁻¹⁴ of the real log2 everywhere, monotone,
 * identical on any engine with 64-bit integer arithmetic — the DuckDB
 * oracle unrolls the same iteration in CTEs).
 *
 * Replaces the staged-projection rendition (~51 chained projections:
 * 11 normalize steps + 20 square-shift iterations, each a full plan
 * node) with ONE codegen'd expression — the 31-iteration int64 loop
 * below runs inside whole-stage codegen like any arithmetic op.
 * Bit-identical to the staged form (parity-pinned in PipelineSpec on
 * the 300+-value set); the staged form lives in test scope as
 * `ComposedReferences.withIlog2FxStaged`, solely as the independent
 * reference for that pin.
 *
 * Algorithm, all int64 and total on every input: clamp x to ≥ 1,
 * normalize `x = m·2^e` with `m ∈ [2³⁰, 2³¹)` by power-of-two jumps
 * (down 32,16,8,4,2,1 — covers the full positive int64 range; up
 * 16,8,4,2,1), then 20 square-and-shift iterations extract fractional
 * bits (`m² ∈ [2⁶⁰, 2⁶²)` — always inside int64). Result
 * `(30+e)·2²⁰ + frac`.
 */
case class Ilog2Fx(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ilog2_fx requires bigint input, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "ilog2_fx"

  override protected def withNewChildInternal(newChild: Expression): Ilog2Fx =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    Ilog2Fx.ilog2fx(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Ilog2Fx.ilog2fx($c)")
}

object Ilog2Fx {

  /** Fractional bits of the fixed point (2²⁰ scale). */
  val FracBits: Int = 20

  private val DownShifts = Array(32, 16, 8, 4, 2, 1)
  private val UpShifts = Array(16, 8, 4, 2, 1)

  def ilog2fx(x0: Long): Long = {
    var t = if (x0 < 1L) 1L else x0
    var e = 0L
    var i = 0
    while (i < DownShifts.length) {
      val s = DownShifts(i)
      if (t >= (1L << (30 + s))) { t >>= s; e += s }
      i += 1
    }
    i = 0
    while (i < UpShifts.length) {
      val s = UpShifts(i)
      if (t < (1L << (31 - s))) { t <<= s; e -= s }
      i += 1
    }
    var f = 0L
    i = 0
    while (i < FracBits) {
      val sq = t * t
      if (sq >= (1L << 61)) { t = sq >> 31; f = (f << 1) | 1L }
      else { t = sq >> 30; f = f << 1 }
      i += 1
    }
    ((30L + e) << FracBits) + f
  }

  def ilog2(x: Column): Column = column(Ilog2Fx(expression(x)))
}
