package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native fastText-style hashed featurization — byte-for-byte the
 * composed form `graft.ComposedReferences.hashedTokensComposed`:
 * per whitespace word `w`, the word feature `w:w` plus one `c:g`
 * feature per char n-gram `g` of the boundary-padded `<w>`, each
 * bucketed by `pmod(md5-48-bit-prefix, buckets)` and emitted as the
 * bucket id's decimal-string form (what the NB model keys on, and
 * what the DuckDB oracle reproduces with
 * `('0x' || substr(md5(f),1,12))::BIGINT % buckets`).
 *
 * The composed form chains five interpreted higher-order functions
 * (transform/flatten/sequence are CodegenFallback) and per feature
 * allocates the padded word, the prefixed feature string, the
 * 32-char md5 hex string, and a conv() base-16 parse. This
 * expression runs one pass over the document bytes: tokens are byte
 * spans ([[WordShingles]]'s scanner), each feature streams into a
 * reused MessageDigest (prefix bytes + word/gram byte slices — no
 * intermediate strings), and the bucket id comes straight off the
 * first six digest bytes. The spec's independent MessageDigest
 * rendition and the classifier oracles pin the equivalence.
 *
 * n is capped at 3 because the padded word is at least 3 chars
 * (same contract as the composed form). Char n-grams are CHARACTER
 * grams: multi-byte UTF-8 sequences are sliced on codepoint
 * boundaries, exactly like `substr` in the composed form.
 */
case class HashedFeats(child: Expression, buckets: Long, n: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if buckets > 0 && n >= 1 && n <= 3 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hashed_feats requires string input, buckets > 0 and n in [1, 3]; " +
        s"got $other / buckets=$buckets / n=$n")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "hashed_feats"

  override protected def withNewChildInternal(newChild: Expression): HashedFeats =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    HashedFeats.feats(input.asInstanceOf[UTF8String], buckets, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData)" +
        s"graft.plans.HashedFeats.feats($c, ${buckets}L, $n)")
}

object HashedFeats {

  private val WordPrefix = Array[Byte]('w', ':')
  private val GramPrefix = Array[Byte]('c', ':')

  private val digestTL = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private def isWs(b: Byte): Boolean =
    b == ' ' || (b >= 0x09 && b <= 0x0d)

  /** First six md5 digest bytes as an unsigned big-endian long — the
    * value of `conv(substring(md5(f), 1, 12), 16, 10)`. */
  private def bucketOf(md: MessageDigest, buckets: Long): Long = {
    val d = md.digest()
    val h = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
      ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
      ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
    h % buckets
  }

  def feats(text: UTF8String, buckets: Long, n: Int): GenericArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    val md = digestTL.get()
    val out = new scala.collection.mutable.ArrayBuffer[Any](32)
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        val ws = i
        while (i < len && !isWs(bytes(i))) i += 1
        // word feature: md5("w:" + word)
        md.reset()
        md.update(WordPrefix)
        md.update(bytes, ws, i - ws)
        out += UTF8String.fromString(
          java.lang.Long.toString(bucketOf(md, buckets)))
        // padded word bytes '<' + word + '>' with char-start offsets
        val wl = i - ws
        val padded = new Array[Byte](wl + 2)
        padded(0) = '<'
        System.arraycopy(bytes, ws, padded, 1, wl)
        padded(wl + 1) = '>'
        var nChars = 0
        var b = 0
        val charStart = new Array[Int](wl + 3)
        while (b < padded.length) {
          charStart(nChars) = b
          b += UTF8String.numBytesForFirstByte(padded(b))
          nChars += 1
        }
        charStart(nChars) = padded.length
        // char n-grams of the padded word
        var g = 0
        while (g + n <= nChars) {
          md.reset()
          md.update(GramPrefix)
          md.update(padded, charStart(g), charStart(g + n) - charStart(g))
          out += UTF8String.fromString(
            java.lang.Long.toString(bucketOf(md, buckets)))
          g += 1
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  def feats(text: Column, buckets: Long, n: Int): Column =
    column(HashedFeats(expression(text), buckets, n))
}
