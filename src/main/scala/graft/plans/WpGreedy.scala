package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/**
 * Native WordPiece greedy longest-match-first cursor walk — the
 * driver-loop core of [[graft.pipeline.Wordpiece.encode]] rendered as
 * ONE codegen'd expression (the round-17 ViterbiSeg treatment for the
 * greedy tokenizer: the previous rendition looped ≤ maxWordLen
 * rounds on the DRIVER, each round an explode + piece equi-join +
 * argmax aggregation + localCheckpoint cycle + a counting action —
 * ~2 Spark jobs per round, all fixed cost).
 *
 * Contract (bit-identical to the loop
 * `ComposedReferences.encodeLooped`, pinned in PipelineSpec): given
 * a word's char length and the set of piece matches `(pos, l)` —
 * 0-based cursor position, matched piece char length, already
 * class-filtered (word-initial pieces at pos 0, continuation pieces
 * after) — walk from cursor 0 taking the LONGEST match at each
 * cursor; a cursor with no match makes the whole word UNK. Returns
 * (np, unk): the unit count and the UNK flag (np = piece count on
 * success, 0 with unk = true otherwise — callers apply BERT's
 * UNK-counts-as-one-unit policy, exactly as the loop's settled-state
 * columns did).
 *
 * Like [[ViterbiSeg]], the match set is an argument materialized by
 * one substring equi-join against the piece table (never a broadcast
 * of the vocabulary), and match order in the array is irrelevant —
 * the walk takes a per-position max, so collect_list's
 * partition-order nondeterminism cannot reach the result.
 */
case class WpGreedy(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (IntegerType, ArrayType(StructType(fs), _))
      if fs.length == 2 && fs(0).dataType == IntegerType &&
        fs(1).dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"wp_greedy requires (int, array<struct<pos:int,l:int>>), got ($l, $r)")
  }

  override def dataType: DataType = WpGreedy.OutType
  override def prettyName: String = "wp_greedy"

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): WpGreedy = copy(left = newLeft, right = newRight)

  override def nullSafeEval(len: Any, ms: Any): Any =
    WpGreedy.walk(len.asInstanceOf[Int], ms.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (len, ms) =>
      s"(org.apache.spark.sql.catalyst.InternalRow)" +
        s"graft.plans.WpGreedy.walk($len, $ms)")
}

object WpGreedy {

  val OutType: DataType = StructType(Seq(
    StructField("np", LongType, nullable = false),
    StructField("unk", BooleanType, nullable = false)))

  def walk(len: Int, matches: ArrayData): InternalRow = {
    // per-position longest match; positions without a match stay 0
    val best = new Array[Int](math.max(len, 1))
    val n = matches.numElements()
    var i = 0
    while (i < n) {
      val st = matches.getStruct(i, 2)
      val pos = st.getInt(0)
      val l = st.getInt(1)
      if (pos >= 0 && pos < len && l > best(pos)) best(pos) = l
      i += 1
    }
    var c = 0
    var np = 0L
    var unk = false
    while (c < len && !unk) {
      val l = best(c)
      if (l <= 0) unk = true
      else { c += l; np += 1L }
    }
    new GenericInternalRow(Array[Any](if (unk) 0L else np, unk))
  }

  def walk(len: Column, matches: Column): Column =
    column(WpGreedy(expression(len), expression(matches)))
}
