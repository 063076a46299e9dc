package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression computing a k-wide MinHash signature over
 * an array of string shingles in ONE pass — the 100 TB hot path for
 * near-dup detection (the md5-per-(i,shingle) composition in
 * graft.pipeline.Dedup.minhashSignatures is kept for external-oracle
 * parity; this expression replaces k string-concat+md5 evaluations per
 * shingle with two xxhash64 rounds and k integer mixes).
 *
 * Hash family: Kirsch–Mitzenmacher double hashing — h_i(s) =
 * h1(s) + i*h2(s) over xxhash64 with two seeds — which preserves the
 * MinHash collision-probability guarantees for banding.
 *
 * Codegen: implements doGenCode directly (a tight scalar loop, no
 * virtual calls), so the whole signature stage stays inside
 * WholeStageCodegen.
 */
case class XxMinHash(child: Expression, k: Int, seed: Long)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k > 0 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"xx_minhash requires array<string> input and k > 0, got $other / k=$k")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "xx_minhash"

  override protected def withNewChildInternal(newChild: Expression): XxMinHash =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = XxMinHash.signature(arr, k, seed)
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val mins = ctx.freshName("mins")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      val h = ctx.freshName("h")
      s"""
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $j = 0; $j < $c.numElements(); $j++) {
         |  UTF8String $s = $c.getUTF8String($j);
         |  if ($s == null) continue; // null shingles don't vote
         |  long $h1 = org.apache.spark.sql.catalyst.expressions.XXH64
         |    .hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), ${seed}L);
         |  long $h2 = org.apache.spark.sql.catalyst.expressions.XXH64
         |    .hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), ${seed ^ 0x9E3779B97F4A7C15L}L);
         |  long $h = $h1;
         |  for (int $i = 0; $i < $k; $i++) {
         |    if ($h < $mins[$i]) $mins[$i] = $h;
         |    $h += $h2;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })
}

object XxMinHash {

  /** Interpreted path shared with tests. */
  private[plans] def signature(arr: ArrayData, k: Int, seed: Long): Array[Long] = {
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < arr.numElements()) {
      val s = arr.getUTF8String(j)
      if (s == null) { j += 1 } else {
      val h1 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
      val h2 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes,
        seed ^ 0x9E3779B97F4A7C15L)
      var h = h1
      var i = 0
      while (i < k) {
        if (h < mins(i)) mins(i) = h
        h += h2
        i += 1
      }
      j += 1
      }
    }
    mins
  }

  def minhash(shingles: Column, k: Int, seed: Long = 42L): Column =
    column(XxMinHash(expression(shingles), k, seed))
}
