package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native salted word-n-gram bucket hashing — byte-for-byte the
 * composed DSIR feature pipeline
 * `hashBucketN(concat(prefix, g), mod)` over
 * `g ∈ word_shingles(text, n)`: per n-gram, md5 over the salt prefix
 * followed by the space-joined gram, folded by
 * [[Md5Fold31]]'s ascii fold of the first two digest bytes, `% mod`
 * (the fold is non-negative, so `%` equals `pmod`).
 *
 * The composed form allocates one gram STRING per n-gram (the
 * [[WordShingles]] output), one `concat` string per gram, and then
 * digests that — three corpus-linear allocations per gram on both
 * corpus sides of [[graft.pipeline.Corpus.dsirScore]]. This
 * expression runs one pass over the document bytes: tokens are byte
 * spans, and each gram streams into a reused MessageDigest (salt
 * bytes + token byte slices + single-space separators — no
 * intermediate strings). The digest of the streamed bytes is
 * identical to the digest of the concatenated string because md5 is
 * incremental over byte updates, and the WordShingles join separator
 * is exactly one ' ' byte. Composed reference rendition (test scope):
 * `graft.ComposedReferences.dsirGramBucketsComposed`, parity-pinned in
 * PipelineSpec.
 */
case class HashedGrams(child: Expression, n: Int, salt: String, mod: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n > 0 && mod > 0 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hashed_grams requires string input, n > 0 and mod > 0; " +
        s"got $other / n=$n / mod=$mod")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "hashed_grams"

  private lazy val saltBytes: Array[Byte] =
    UTF8String.fromString(salt).getBytes

  override protected def withNewChildInternal(newChild: Expression): HashedGrams =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    HashedGrams.grams(input.asInstanceOf[UTF8String], n, saltBytes, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltRef = ctx.addReferenceObj("saltBytes", saltBytes, "byte[]")
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData)" +
        s"graft.plans.HashedGrams.grams($c, $n, $saltRef, $mod)")
  }
}

object HashedGrams {

  private val digestTL = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private def isWs(b: Byte): Boolean =
    b == ' ' || (b >= 0x09 && b <= 0x0d) // \t \n \x0B \f \r

  /** ASCII code of the lowercase hex digit for a nibble. */
  private def hexAscii(v: Int): Int = if (v < 10) '0' + v else 'a' + v - 10

  /** One pass: tokenize (WordShingles' scanner), then per n-gram
    * stream salt + token slices + ' ' separators into the digest and
    * emit the [[Md5Fold31]] fold mod `mod`. */
  def grams(text: UTF8String, n: Int, salt: Array[Byte], mod: Int)
      : GenericArrayData = {
    val bytes = text.getBytes
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nTok = 0
    var i = 0
    val len = bytes.length
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        val s = i
        while (i < len && !isWs(bytes(i))) i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = s; ends(nTok) = i; nTok += 1
      }
    }
    if (nTok < n) return new GenericArrayData(new Array[Any](0))
    val count = nTok - n + 1
    val out = new Array[Any](count)
    val md = digestTL.get()
    var g = 0
    while (g < count) {
      md.reset()
      md.update(salt)
      var j = g
      while (j < g + n) {
        if (j > g) md.update(' '.toByte)
        md.update(bytes, starts(j), ends(j) - starts(j))
        j += 1
      }
      val d = md.digest()
      val fold = hexAscii((d(0) >> 4) & 0xf) * 29791 +
        hexAscii(d(0) & 0xf) * 961 +
        hexAscii((d(1) >> 4) & 0xf) * 31 + hexAscii(d(1) & 0xf)
      out(g) = Integer.valueOf(fold % mod)
      g += 1
    }
    new GenericArrayData(out)
  }

  def grams(text: Column, n: Int, salt: String, mod: Int): Column =
    column(HashedGrams(expression(text), n, salt, mod))
}
