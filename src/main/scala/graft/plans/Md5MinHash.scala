package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression computing the md5-family MinHash
 * signature over an array of string shingles in one pass:
 * sig[i] = min over shingles s of md5(i + ":" + s), as lowercase hex —
 * byte-for-byte the same result as the composed
 * `transform(sequence(0,k-1), i -> array_min(transform(shingles,
 * s -> md5(concat(i, ':', s)))))` form, which an external SQL oracle
 * can replicate. The composed form pays interpreted higher-order
 * lambda dispatch per (i, shingle) (transform/array_min are
 * CodegenFallback); this expression is one tight digest loop with a
 * reused MessageDigest, ~10× faster at the same semantics.
 *
 * The min is taken over the 16 raw digest bytes (unsigned lex order):
 * lowercase hex encoding is order-preserving byte-wise, so the raw min
 * equals the hex-string min; hex encoding happens once per signature
 * slot at the end instead of once per (i, shingle).
 */
case class Md5MinHash(child: Expression, k: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k > 0 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5_minhash requires array<string> input and k > 0, got $other / k=$k")
  }
  // containsNull: a slot with no contributing shingle (empty array, or
  // all elements NULL) is NULL, exactly like array_min over an empty
  // transform in the composed form
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "md5_minhash"

  override protected def withNewChildInternal(newChild: Expression): Md5MinHash =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    Md5MinHash.signature(input.asInstanceOf[ArrayData], k)

  // one virtual call into the static helper per row keeps the
  // surrounding operators inside WholeStageCodegen
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData)" +
        s"graft.plans.Md5MinHash.signature($c, $k)")
}

object Md5MinHash {

  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".getBytes

  /** Unsigned lexicographic byte compare (== hex-string order). */
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  // the "i:" prefix byte-arrays depend only on k — cache per k instead
  // of reallocating k strings + k arrays for EVERY document on the
  // near-dup hot path
  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()
  private def prefixesFor(k: Int): Array[Array[Byte]] =
    prefixCache.computeIfAbsent(k,
      kk => Array.tabulate(kk)(i => (i.toString + ":").getBytes))

  /** Shared eval: same hash family as md5(concat(i, ':', shingle)). */
  def signature(arr: ArrayData, k: Int): GenericArrayData = {
    val md = digests.get()
    val mins = new Array[Array[Byte]](k)
    val prefixes = prefixesFor(k)
    var j = 0
    while (j < arr.numElements()) {
      val s = arr.getUTF8String(j)
      if (s != null) {
        val sBytes = s.getBytes
        var i = 0
        while (i < k) {
          md.reset()
          md.update(prefixes(i))
          md.update(sBytes)
          val d = md.digest()
          if (mins(i) == null || less(d, mins(i))) mins(i) = d
          i += 1
        }
      }
      j += 1
    }
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      val bytes = mins(i)
      // no contributing shingle (empty array / all-null elements):
      // NULL slot, byte-for-byte the composed array_min-over-empty form
      if (bytes == null) out(i) = null
      else {
        val hex = new Array[Byte](32)
        var b = 0
        while (b < 16) {
          hex(2 * b) = hexChars((bytes(b) >> 4) & 0xf)
          hex(2 * b + 1) = hexChars(bytes(b) & 0xf)
          b += 1
        }
        out(i) = UTF8String.fromBytes(hex)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def minhash(shingles: Column, k: Int): Column =
    column(Md5MinHash(expression(shingles), k))
}
