package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/**
 * Native integer-exact random projection (Johnson–Lindenstrauss
 * sketch) of a numeric vector: out_j = Σ_i sign(j,i) · ⌊v_i · scale⌋
 * with Rademacher ±1 signs drawn deterministically from `seed`
 * (splitmix64, the [[graft.functions.VectorFns.srpPlanes]] generator
 * family). The standard pre-ANN compression step: project a wide
 * embedding (dim 512–4096) down to `k` components ONCE at ingest,
 * then band / cluster / probe the compact sketch — at corpus scale
 * the projection is what makes the wide-vector shapes affordable
 * (PLANS.md's embed-crossover table shows payload shipping dominating
 * wide-dim near-dup).
 *
 * Why integer arithmetic: the input component is floored to a
 * `scale`-fixed-point long BEFORE the sum, so every output is an
 * exact integer — independent of fold order, partitioning, and
 * engine, which is what lets a DuckDB oracle verify the operator
 * hash-exactly (a double sum would drift by fold order). ⌊v·scale⌋,
 * double multiply, and floor are all bit-deterministic IEEE ops. The
 * quantization loses < 1/scale per component — at the default 10⁻⁶
 * and unit-normalized embeddings, noise far below JL distortion.
 *
 * Contracts mirroring [[VecDot]]: vectors shorter than `dim`
 * zero-pad (missing components contribute 0); components beyond
 * `dim` are ignored; a null ELEMENT nulls the whole result rather
 * than minting a confident partial sketch.
 *
 * Hot-path native expression per the engine convention: k·dim
 * multiply-adds per row in one compiled pass (no CodegenFallback
 * higher-order functions), shared eval/codegen helper like VecDot.
 */
case class VecProject(child: Expression, k: Int, dim: Int, seed: Long,
    scale: Long) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) if k > 0 && dim > 0 && scale > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_project_i64 requires array<float|double> and k/dim/scale > 0, " +
        s"got $other / k=$k dim=$dim scale=$scale")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // null element → null result
  override def prettyName: String = "vec_project_i64"

  override protected def withNewChildInternal(newChild: Expression): VecProject =
    copy(child = newChild)

  @transient private lazy val signs: Array[Byte] = VecProject.signs(k, dim, seed)

  private def isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any =
    VecProject.projectOrNull(input.asInstanceOf[ArrayData], signs, k, dim,
      scale, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("projSigns", signs, "byte[]")
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("projRes")
      s"""
        org.apache.spark.sql.catalyst.util.GenericArrayData $boxed =
          graft.plans.VecProject.projectOrNull($c, $s, $k, $dim, ${scale}L,
            $isFloat);
        if ($boxed == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $boxed; }"""
    })
  }
}

object VecProject {

  /** Rademacher ±1 sign matrix, row-major `[j*dim + i]`, from the
    * splitmix64 stream — the oracle SQL inlines the same bytes as
    * literals (see Fixtures.projSql), so generator and oracle can
    * never drift apart silently. */
  def signs(k: Int, dim: Int, seed: Long): Array[Byte] = {
    var x = seed
    def next(): Long = {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Array.fill(k * dim)(if ((next() & 1L) == 0L) 1.toByte else -1.toByte)
  }

  /** Shared eval/codegen kernel; null on a null element. */
  def projectOrNull(arr: ArrayData, signs: Array[Byte], k: Int, dim: Int,
      scale: Long, isFloat: Boolean): GenericArrayData = {
    val acc = new Array[Long](k)
    val m = math.min(arr.numElements(), dim)
    var i = 0
    while (i < m) {
      if (arr.isNullAt(i)) return null
      val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      val q = math.floor(v * scale).toLong
      var j = 0
      while (j < k) { acc(j) += signs(j * dim + i) * q; j += 1 }
      i += 1
    }
    new GenericArrayData(acc)
  }

  def project(vec: Column, k: Int, dim: Int = 64, seed: Long = 42L,
      scale: Long = 1000000L): Column =
    column(VecProject(expression(vec), k, dim, seed, scale))
}
