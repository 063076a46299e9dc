package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native language-marker counter: ONE compiled byte pass producing
 * `[cjk, en, fr, de, es]` — the count of CJK-ideograph code points
 * (U+4E00..U+9FFF) plus, per language, the number of whitespace
 * tokens of `lower(text)` equal to that language's marker stopwords
 * (`TextFns.langMarkers`). Replaces the composed
 * `size(filter(tokens(lower(text)), isin(...)))` per language — four
 * interpreted `ArrayFilter` lambdas that each re-tokenized the
 * document (the same CodegenFallback trap WordShingles closed for
 * shingling) — plus a fifth regex pass for the CJK probe.
 *
 * Bit-parity argument (the oracle-compatibility contract): a token
 * can only equal an ASCII marker if `lower()` maps it to that exact
 * byte string. For all-ASCII tokens that is precisely ASCII
 * case-insensitive equality, which this expression implements. A
 * token containing ANY non-ASCII character cannot lowercase into a
 * bare marker: the only Unicode code point whose full lowercase is a
 * single ASCII letter is U+212A (KELVIN SIGN → 'k'), and no marker
 * contains 'k' (marker alphabet: a d e f h i l n o r s t u y);
 * U+0130 ('İ') lowercases to "i̇" (two code points), never bare "i".
 * Tokenization uses the identical whitespace class as
 * [[WordShingles]] (Java `\s`, all single-byte ASCII — multi-byte
 * UTF-8 always has the high bit set, so a raw byte scan is exact),
 * and lowercasing never creates or removes whitespace. The CJK count
 * decodes 3-byte UTF-8 sequences directly; on valid UTF-8 it equals
 * `regexp_count(text, '[一-鿿]')`.
 */
case class LangMarkerCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lang_marker_counts requires string input, got $other")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "lang_marker_counts"

  override protected def withNewChildInternal(newChild: Expression): LangMarkerCounts =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    LangMarkerCounts.counts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData)" +
        s"graft.plans.LangMarkerCounts.counts($c)")
}

object LangMarkerCounts {

  /** Must stay in sync with TextFns.langMarkers (asserted by spec). */
  private val Languages: Array[Array[Array[Byte]]] = Array(
    Array("the", "a", "of", "and", "is"),
    Array("le", "la", "les", "et", "des"),
    Array("der", "die", "und", "das", "ist"),
    Array("el", "los", "las", "y", "es")
  ).map(_.map(_.getBytes("UTF-8")))

  private def isWs(b: Byte): Boolean =
    b == ' ' || (b >= 0x09 && b <= 0x0d)

  /** ASCII-lowercase byte (only A-Z fold; everything else verbatim). */
  private def low(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  def counts(text: UTF8String): GenericArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    val out = new Array[Int](5)
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        // one token: note whether it is pure ASCII, count CJK code
        // points inside it (CJK can never be whitespace, so tokens
        // cover every candidate byte), and advance whole UTF-8
        // sequences (continuation bytes are never whitespace)
        val s = i
        var ascii = true
        while (i < len && !isWs(bytes(i))) {
          val b = bytes(i) & 0xFF
          if (b < 0x80) i += 1
          else {
            ascii = false
            if (b >= 0xE4 && b <= 0xE9 && i + 2 < len) {
              val cp = ((b & 0x0F) << 12) |
                ((bytes(i + 1) & 0x3F) << 6) | (bytes(i + 2) & 0x3F)
              if (cp >= 0x4E00 && cp <= 0x9FFF) out(0) += 1
            }
            i += (if (b >= 0xF0) 4 else if (b >= 0xE0) 3
                  else if (b >= 0xC0) 2 else 1)
          }
        }
        val tl = i - s
        if (ascii && tl <= 3) {
          var l = 0
          var matched = false
          while (!matched && l < 4) {
            val ms = Languages(l)
            var m = 0
            while (!matched && m < ms.length) {
              val mk = ms(m)
              if (mk.length == tl) {
                var k = 0
                var eq = true
                while (eq && k < tl) {
                  eq = low(bytes(s + k)) == mk(k); k += 1
                }
                if (eq) { out(l + 1) += 1; matched = true }
              }
              m += 1
            }
            l += 1
          }
        }
      }
    }
    new GenericArrayData(out.map(Int.box(_): Any))
  }

  def counts(text: Column): Column = column(LangMarkerCounts(expression(text)))
}
