package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native per-word Viterbi segmentation DP — the compute core of
 * [[graft.pipeline.UnigramLm]] rendered as ONE codegen'd expression,
 * replacing the `maxWordLen`-step staged join chain (each step a
 * union + substring join + struct-min aggregation + eager
 * localCheckpoint — ~13 Spark jobs per segmentation pass, the unigram
 * family's dominant fixed cost; the r16 classifier `Ilog2Fx` lesson
 * applied to the next-heaviest staged chain).
 *
 * Contract (bit-identical to the staged DP
 * `ComposedReferences.viterbiStaged`, which PipelineSpec pins
 * against): given a word and the set of admissible piece candidates
 * `(s, k, w)` — 1-based char start, char length, weight; single chars
 * are always admissible (weight 0 when absent from the inventory),
 * longer pieces only when present in the inventory — state j holds
 * the best segmentations of the j-char prefix under the total order
 * (piece count asc, weight sum desc, final-piece length desc, seg
 * asc), where `seg` is the piece sequence joined by U+001F and
 * compared in unsigned byte order (Spark's UTF8String order). The
 * top `nBest` states per position survive; the word's result is the
 * state list at j = word length, in selection order.
 *
 * The candidate set is an ARGUMENT, not a lookup inside the
 * expression: the piece inventory at corpus scale exceeds broadcast
 * limits (the UnigramLm scaladoc's standing constraint), so the
 * caller materializes candidates with one substring equi-join and a
 * per-word collect_list — one shuffle replaces `maxWordLen` of them,
 * and the DP itself is pure row-local compute. Candidate order in
 * the array is irrelevant (the DP indexes by (s, k)), so
 * collect_list's partition-order nondeterminism cannot reach the
 * result.
 */
case class ViterbiSeg(left: Expression, right: Expression, nBest: Int)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (StringType, ArrayType(StructType(fs), _))
      if fs.length == 3 && fs(0).dataType == IntegerType &&
        fs(1).dataType == IntegerType && fs(2).dataType == LongType &&
        nBest >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"viterbi_seg requires (string, array<struct<s:int,k:int,w:bigint>>) " +
        s"and nBest >= 1, got ($l, $r) / nBest=$nBest")
  }

  override def dataType: DataType = ViterbiSeg.OutType
  override def prettyName: String = "viterbi_seg"

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ViterbiSeg = copy(left = newLeft, right = newRight)

  override def nullSafeEval(w: Any, c: Any): Any =
    ViterbiSeg.viterbi(w.asInstanceOf[UTF8String], c.asInstanceOf[ArrayData],
      nBest)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, c) =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData)" +
        s"graft.plans.ViterbiSeg.viterbi($w, $c, $nBest)")
}

object ViterbiSeg {

  /** Output: the top-nBest final states, each (np, ws, seg) — piece
    * count, weight sum, segmentation joined by U+001F (no leading
    * separator). */
  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("np", LongType, nullable = false),
    StructField("ws", LongType, nullable = false),
    StructField("seg", StringType, nullable = false))),
    containsNull = false)

  private val SepByte: Byte = 0x1f

  /** Unsigned byte-lexicographic compare — UTF8String.compareTo's
    * order (binary order = codepoint order for valid UTF-8). */
  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  def viterbi(word: UTF8String, cands: ArrayData, nBest: Int): GenericArrayData = {
    val bytes = word.getBytes
    val L = word.numChars()
    if (L == 0) return new GenericArrayData(Array[Any](
      new GenericInternalRow(Array[Any](0L, 0L, UTF8String.EMPTY_UTF8))))
    // char index -> byte offset (substring semantics are per CHARACTER)
    val charStart = new Array[Int](L + 1)
    var ci = 0
    var bi = 0
    while (ci < L) {
      charStart(ci) = bi
      bi += UTF8String.numBytesForFirstByte(bytes(bi))
      ci += 1
    }
    charStart(L) = bytes.length
    // candidate weight lookup indexed by (s-1, k-1)
    val n = cands.numElements()
    var maxK = 1
    var i = 0
    while (i < n) {
      val k = cands.getStruct(i, 3).getInt(1)
      if (k > maxK) maxK = k
      i += 1
    }
    val present = new Array[Boolean](L * maxK)
    val weight = new Array[Long](L * maxK)
    i = 0
    while (i < n) {
      val st = cands.getStruct(i, 3)
      val s = st.getInt(0)
      val k = st.getInt(1)
      if (s >= 1 && k >= 1 && s + k - 1 <= L) {
        val idx = (s - 1) * maxK + (k - 1)
        // duplicate (s, k) candidates resolve to the MAX weight —
        // deterministic regardless of collect_list's partition order
        // (the staged DP would keep the higher-ws state at equal
        // np/k/seg, so max is the order-equivalent resolution; the
        // engine's groupBy-aggregated piece tables never carry
        // duplicates, so this is a guard, not a behavior change)
        val w = st.getLong(2)
        if (!present(idx) || w > weight(idx)) weight(idx) = w
        present(idx) = true
      }
      i += 1
    }
    if (nBest == 1) viterbi1(bytes, charStart, L, maxK, present, weight)
    else viterbiN(bytes, charStart, L, maxK, present, weight, nBest)
  }

  /** nBest = 1: unique state per position, chosen by
    * (np asc, ws desc, k desc) — total because each step has at most
    * one candidate per k; seg is reconstructed by backtracking the
    * chosen k per position. */
  private def viterbi1(bytes: Array[Byte], charStart: Array[Int], L: Int,
      maxK: Int, present: Array[Boolean], weight: Array[Long])
      : GenericArrayData = {
    val np = new Array[Long](L + 1)
    val ws = new Array[Long](L + 1)
    val bk = new Array[Int](L + 1)
    var j = 1
    while (j <= L) {
      var bestNp = Long.MaxValue
      var bestWs = 0L
      var bestK = 0
      val kMax = math.min(maxK, j)
      var k = 1
      while (k <= kMax) {
        val idx = (j - k) * maxK + (k - 1) // s = j - k + 1
        if (present(idx)) {
          val cnp = np(j - k) + 1L
          val cws = ws(j - k) + weight(idx)
          if (cnp < bestNp || (cnp == bestNp &&
              (cws > bestWs || (cws == bestWs && k > bestK)))) {
            bestNp = cnp; bestWs = cws; bestK = k
          }
        }
        k += 1
      }
      // admissibility guard: a position with NO admissible candidate
      // would leave bk(j)=0, and the backtrack's `pos -= bk(pos)`
      // would busy-loop forever in an executor thread (np also wraps
      // past Long.MaxValue, selecting unreachable paths). The engine
      // always supplies single-char candidates so this cannot fire
      // from declared queries, but viterbi_seg is a public SQL
      // function (GraftExtensions): fail loudly on a malformed call instead of hanging.
      if (bestK == 0) throw new IllegalArgumentException(
        s"viterbi_seg: no admissible candidate covers prefix position $j" +
          " (single-char candidates must be supplied for every position)")
      np(j) = bestNp; ws(j) = bestWs; bk(j) = bestK
      j += 1
    }
    // backtrack: piece bytes + one separator between pieces
    var pos = L
    var segLen = -1
    while (pos > 0) {
      segLen += (charStart(pos) - charStart(pos - bk(pos))) + 1
      pos -= bk(pos)
    }
    val seg = new Array[Byte](segLen)
    pos = L
    var w = segLen
    while (pos > 0) {
      val k = bk(pos)
      val pb = charStart(pos) - charStart(pos - k)
      System.arraycopy(bytes, charStart(pos - k), seg, w - pb, pb)
      w -= pb
      if (pos - k > 0) { w -= 1; seg(w) = SepByte }
      pos -= k
    }
    new GenericArrayData(Array[Any](new GenericInternalRow(
      Array[Any](np(L), ws(L), UTF8String.fromBytes(seg)))))
  }

  private final class St(val np: Long, val ws: Long, val k: Int,
    val seg: Array[Byte])

  /** nBest > 1: per position keep the top nBest states under
    * (np asc, ws desc, k desc, seg asc) — the staged DP's window
    * order; segs of distinct candidates are distinct by construction
    * (a seg encodes its full piece sequence), so the order is total. */
  private def viterbiN(bytes: Array[Byte], charStart: Array[Int], L: Int,
      maxK: Int, present: Array[Boolean], weight: Array[Long], nBest: Int)
      : GenericArrayData = {
    val states = new Array[Array[St]](L + 1)
    states(0) = Array(new St(0L, 0L, 0, Array.emptyByteArray))
    var j = 1
    while (j <= L) {
      val buf = scala.collection.mutable.ArrayBuffer.empty[St]
      val kMax = math.min(maxK, j)
      var k = 1
      while (k <= kMax) {
        val idx = (j - k) * maxK + (k - 1)
        if (present(idx)) {
          val pb = charStart(j) - charStart(j - k)
          val preds = states(j - k)
          var p = 0
          while (p < preds.length) {
            val pred = preds(p)
            val sep = if (pred.seg.length > 0) 1 else 0
            val seg = new Array[Byte](pred.seg.length + sep + pb)
            System.arraycopy(pred.seg, 0, seg, 0, pred.seg.length)
            if (sep == 1) seg(pred.seg.length) = SepByte
            System.arraycopy(bytes, charStart(j - k), seg,
              pred.seg.length + sep, pb)
            buf += new St(pred.np + 1L, pred.ws + weight(idx), k, seg)
            p += 1
          }
        }
        k += 1
      }
      // same admissibility guard as viterbi1 (the two paths must
      // agree): an uncoverable position previously propagated empty
      // state lists and returned a silently empty/partial result
      if (buf.isEmpty) throw new IllegalArgumentException(
        s"viterbi_seg: no admissible candidate covers prefix position $j" +
          " (single-char candidates must be supplied for every position)")
      val sorted = buf.sortWith { (a, b) =>
        if (a.np != b.np) a.np < b.np
        else if (a.ws != b.ws) a.ws > b.ws
        else if (a.k != b.k) a.k > b.k
        else cmpBytes(a.seg, b.seg) < 0
      }
      states(j) = sorted.take(nBest).toArray
      j += 1
    }
    val fin = states(L)
    val out = new Array[Any](fin.length)
    var o = 0
    while (o < fin.length) {
      out(o) = new GenericInternalRow(Array[Any](fin(o).np, fin(o).ws,
        UTF8String.fromBytes(fin(o).seg)))
      o += 1
    }
    new GenericArrayData(out)
  }

  def seg(word: Column, cands: Column, nBest: Int): Column =
    column(ViterbiSeg(expression(word), expression(cands), nBest))
}
