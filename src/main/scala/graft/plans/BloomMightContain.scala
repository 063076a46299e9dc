package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/**
 * Native Catalyst predicate testing a string column against a
 * pre-built [[org.apache.spark.util.sketch.BloomFilter]] carried as a
 * foldable binary literal — the scan-side prefilter that lets a huge
 * lake table be reduced AT THE SCAN to only rows that might match a
 * small batch, without shuffling the table or broadcasting a full
 * hash relation of the batch.
 *
 * Why not a plain broadcast semi-join: a broadcast HashedRelation
 * ships every key verbatim (~32 bytes per md5 hex key plus row
 * overhead); the bloom at 1% fpp is ~1.2 bytes per key — an
 * order-of-magnitude larger batch fits under the same broadcast
 * budget. The price is false positives, so callers MUST confirm
 * survivors with an exact join (see
 * [[graft.pipeline.Dedup.exactDedupAgainstIndex]]) — the filter alone
 * is never an exactness guarantee. No false negatives: a key that was
 * put into the filter always tests true.
 *
 * Determinism: the sketch BloomFilter hashes UTF-8 bytes with a fixed
 * seed and merges by bitwise OR, so the built filter — and therefore
 * this predicate — is independent of partitioning and merge order.
 *
 * Codegen: the filter is deserialized once per executor via
 * `addReferenceObj` (the sketch impl is Serializable) and probed with
 * `mightContainBinary` on the UTF8String's bytes — one virtual call
 * per row inside WholeStageCodegen, no per-row deserialization.
 */
case class BloomMightContain(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      // long keys probe via mightContainLong — the SAME hashing
      // DataFrameStatFunctions.bloomFilter uses to PUT a LongType
      // column (putLong), so build and probe stay consistent per type
      case (StringType | LongType, BinaryType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        "bloom_might_contain requires (string|bigint, foldable binary), got " + other)
    }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  // Deserialized lazily on first use per JVM; the serialized form
  // rides the plan as a literal so the expression stays a pure
  // function of its children.
  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(right.eval(null).asInstanceOf[Array[Byte]])

  private def isLongKey = left.dataType == LongType

  override def nullSafeEval(v: Any, bytes: Any): Any =
    if (isLongKey) bloom.mightContainLong(v.asInstanceOf[Long])
    else bloom.mightContainBinary(v.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bf = ctx.addReferenceObj("bloomFilter", bloom,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, (v, _) =>
      if (isLongKey) s"${ev.value} = $bf.mightContainLong($v);"
      else s"${ev.value} = $bf.mightContainBinary($v.getBytes());")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

object BloomMightContain {

  /** Column API: `mightContain(col, serializedFilter)`. */
  def mightContain(value: Column, bloomBytes: Array[Byte]): Column =
    column(BloomMightContain(expression(value), Literal(bloomBytes)))

  /** Serialize a filter for embedding as a plan literal. */
  def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}
