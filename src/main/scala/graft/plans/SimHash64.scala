package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/**
 * Native 64-bit SimHash over an array of string tokens, one pass:
 * h(token) = xxhash64(token, seed 42) — the same per-token hash the
 * composed `transform(tokens, t -> xxhash64(t))` form produces — then
 * per bit b the tokens vote +1/−1 by bit b of their hash and the
 * fingerprint packs the 64 majority signs (strictly-positive vote →
 * bit set, matching `when(sum > 0, 1)`).
 *
 * Replaces the composed `simhashFromHashes` hot path (64 interpreted
 * aggregate lambdas per document — higher-order functions are
 * CodegenFallback) with one compiled loop; results are bit-identical,
 * which the PipelineSpec cross-check asserts.
 */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string> input, got $other")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    SimHash64.fingerprint(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHash64.fingerprint($c)")
}

object SimHash64 {

  /** Spark's xxhash64 default seed. */
  private val Seed = 42L

  def fingerprint(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var j = 0
    while (j < arr.numElements()) {
      val s = arr.getUTF8String(j)
      // xxhash64 folds a null child as identity, returning the seed
      val h = if (s == null) Seed
        else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      j += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  def simhash(tokens: Column): Column = column(SimHash64(expression(tokens)))
}
