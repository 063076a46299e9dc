package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Embedding-vector functions over Array[Float]/Array[Double] columns.
 * Dot products and norms use functions.aggregate / zip_with — a
 * sequential left-to-right fold, so results are deterministic for a
 * given row (independent of partitioning), which both the DuckDB
 * oracle and any re-run at scale rely on.
 */
object VectorFns {

  /** Sequential dot product of two vectors (double accumulation), via
    * the native [[graft.plans.VecDot]] expression — the composed
    * aggregate/zip_with form (`ComposedReferences.foldDot` in test
    * scope, the reference the PipelineSpec cross-check asserts is
    * bit-identical) computes the identical left-to-right fold but pays
    * interpreted lambda dispatch per element (higher-order functions
    * are CodegenFallback), and the re-rank hot path evaluates three
    * folds per candidate pair. */
  def dot(a: Column, b: Column): Column = graft.plans.VecDot(a, b)

  /** Euclidean norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null-safe on zero vectors. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n > 0, d / n)
  }

  /** Deterministic pseudo-random hyperplanes for SRP hashing —
    * generated driver-side (splitmix64 stream) and shipped as a plan
    * literal, so executors do zero hash work per element: each
    * signature bit is one fused multiply-add pass over the vector. */
  private[graft] def srpPlanes(bits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    var x = seed
    def next(): Long = { // splitmix64
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Seq.fill(bits)(Seq.fill(dim)((next() % 1000L).toDouble / 1000.0))
  }

  /**
   * Sign-random-projection LSH signature: `bits` hyperplane signs
   * packed into a string of '0'/'1'. Hyperplanes are pseudo-random but
   * fully deterministic (no stored model); `dim` is the embedding
   * width (vectors shorter than `dim` are zero-padded by zip_with
   * null→0 semantics).
   */
  def srpSignature(vec: Column, bits: Int, dim: Int = 64, seed: Long = 42L): Column =
    // one-pass native expression: every bit is the same left-to-right
    // VecDot.padded fold as the composed per-plane form it replaced —
    // see SrpSig's scaladoc for the bit-exactness and null contracts
    graft.plans.SrpSig(vec, bits, dim, seed)

  /** Split an SRP signature into `bands` equal substrings — the LSH
    * band keys two vectors must share (on any band) to become a
    * candidate pair. Returns array<struct<band:int, key:string>>. */
  def srpBands(signature: Column, bands: Int, bits: Int): Column = {
    val width = bits / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        substring(signature, lit(1) + b * width, lit(width)).as("key")))
  }
}
