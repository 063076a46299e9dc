package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression producing whitespace-token word n-grams
 * ("shingles") in one compiled pass — byte-for-byte the composed
 * `transform(sequence(1, size(w)-(n-1)), i -> array_join(slice(w, i,
 * n), " "))` over `w = filter(split(text, "\\s+"), t -> t != "")`
 * form, which an external SQL oracle can replicate. The composed form
 * chains five CodegenFallback higher-order functions and re-splits the
 * text for every reference; tokenization of a document costs one byte
 * scan here.
 *
 * n = 1 degenerates to plain whitespace tokenization (the `tokens`
 * primitive). `distinct = true` folds the usual `array_distinct` into
 * the same pass, preserving first-occurrence order.
 *
 * Whitespace follows Java's `\s` class ([ \t\n\x0B\f\r]) exactly, all
 * single-byte ASCII — multi-byte UTF-8 sequences always have the high
 * bit set, so scanning raw UTF-8 bytes is safe.
 */
case class WordShingles(child: Expression, n: Int, distinct: Boolean)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n > 0 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires string input and n > 0, got $other / n=$n")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    WordShingles.shingles(input.asInstanceOf[UTF8String], n, distinct)

  // one static call per row; the surrounding operators stay inside
  // WholeStageCodegen
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData)" +
        s"graft.plans.WordShingles.shingles($c, $n, $distinct)")
}

object WordShingles {

  private def isWs(b: Byte): Boolean =
    b == ' ' || (b >= 0x09 && b <= 0x0d) // \t \n \x0B \f \r

  /** Single-pass tokenize + n-gram join (separator " "). */
  def shingles(text: UTF8String, n: Int, distinct: Boolean): GenericArrayData = {
    val bytes = text.getBytes
    // token spans as (start, end) offsets
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
    var g = 0
    while (g < count) {
      // if every separator inside the span is exactly one ' ', the
      // joined shingle equals the original byte span — zero-copy path
      var contiguous = true
      var t = g
      while (contiguous && t < g + n - 1) {
        contiguous = ends(t) + 1 == starts(t + 1) && bytes(ends(t)) == ' '
        t += 1
      }
      out(g) =
        if (contiguous) UTF8String.fromBytes(bytes, starts(g), ends(g + n - 1) - starts(g))
        else {
          var size = n - 1
          var j = g
          while (j < g + n) { size += ends(j) - starts(j); j += 1 }
          val buf = new Array[Byte](size)
          var pos = 0
          j = g
          while (j < g + n) {
            if (j > g) { buf(pos) = ' '; pos += 1 }
            val l = ends(j) - starts(j)
            System.arraycopy(bytes, starts(j), buf, pos, l)
            pos += l
            j += 1
          }
          UTF8String.fromBytes(buf)
        }
      g += 1
    }
    if (!distinct) return new GenericArrayData(out)
    val seen = new java.util.LinkedHashSet[Any](count * 2)
    var d = 0
    while (d < count) { seen.add(out(d)); d += 1 }
    new GenericArrayData(seen.toArray)
  }

  def shingles(text: Column, n: Int, distinct: Boolean = false): Column =
    column(WordShingles(expression(text), n, distinct))
}
