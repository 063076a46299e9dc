package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native md5-ascii fold — byte-for-byte the engine's ubiquitous
 * deterministic scalar hash ([[graft.pipeline.Corpus.hashFold]]):
 * `ascii(h[1])·31³ + ascii(h[2])·31² + ascii(h[3])·31 + ascii(h[4])`
 * over the lowercase hex rendering `h` of `md5(input)` — non-negative
 * and ≤ 102·(31³+31²+31+1) (hex-digit ascii max is 'f' = 102),
 * IntegerType like the composed `ascii(substring(...))` form, and
 * identical to the DuckDB oracle fold (`Fixtures.foldSql`).
 *
 * The composed form builds the 32-char hex string and runs four
 * substring+ascii expressions over it per row (common-subexpression
 * elimination keeps the md5 itself single-eval inside codegen'd
 * projections, but not in every operator context); this expression
 * computes the fold straight off the first two digest bytes — no hex
 * string, one reused MessageDigest. It rides every
 * deterministic sampler (`hashBucket`/`hashBucketN` callers: source
 * capping, stratified mixing, minwise draws), the DSIR bucket
 * hashing of every corpus bigram, and [[graft.pipeline.UnigramLm]]'s
 * sample draw. Parity-pinned against the composed form in
 * PipelineSpec.
 */
case class Md5Fold31(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5_fold31 requires string input, got $other")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "md5_fold31"

  override protected def withNewChildInternal(newChild: Expression): Md5Fold31 =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    Md5Fold31.fold(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Md5Fold31.fold($c)")
}

object Md5Fold31 {

  private val digestTL = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** ASCII code of the lowercase hex digit for a nibble. */
  private def hexAscii(n: Int): Int = if (n < 10) '0' + n else 'a' + n - 10

  def fold(s: UTF8String): Int = {
    val md = digestTL.get()
    md.reset()
    md.update(s.getBytes)
    val d = md.digest()
    hexAscii((d(0) >> 4) & 0xf) * 29791 + hexAscii(d(0) & 0xf) * 961 +
      hexAscii((d(1) >> 4) & 0xf) * 31 + hexAscii(d(1) & 0xf)
  }

  def fold(c: Column): Column = column(Md5Fold31(expression(c)))
}
