package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.plans.FnArgs.{flagArg, intArg, longArg, stringArg}

/**
 * The one SQL name table for the engine's native expressions. SQL
 * text (business-metric queries, `selectExpr`, `expr`) resolves
 * `xx_minhash`, `vec_dot`, ... only in a session built with
 * `spark.sql.extensions=graft.plans.GraftExtensions` (or
 * `.withExtensions(new GraftExtensions)`, as `MetricsMain` does).
 * The Column API (`XxMinHash.minhash`, `VecDot(a, b)`, ...) builds
 * its Catalyst expression directly and needs no registration: it runs
 * on any vanilla session.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def fn(name: String, cls: Class[_])(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** (name, info, builder) per native expression. Parameter positions
    * go through [[FnArgs]], so a non-literal argument fails analysis
    * naming the function. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    fn("xx_minhash", classOf[XxMinHash])(e => XxMinHash(e.head,
      k = intArg("xx_minhash", "k", e(1)),
      seed = longArg("xx_minhash", "seed", e(2)))),
    fn("md5_minhash", classOf[Md5MinHash])(e => Md5MinHash(e.head,
      k = intArg("md5_minhash", "k", e(1)))),
    fn("simhash64", classOf[SimHash64])(e => SimHash64(e.head)),
    fn("vec_dot", classOf[VecDot])(e => VecDot(e.head, e(1),
      pad = flagArg("vec_dot", "pad", e.lift(2)))),
    fn("word_shingles", classOf[WordShingles])(e => WordShingles(e.head,
      n = intArg("word_shingles", "n", e(1)),
      distinct = flagArg("word_shingles", "distinct", e.lift(2)))),
    fn("sortable_double_bits", classOf[SortableDoubleBits])(
      e => SortableDoubleBits(e.head)),
    fn("bloom_might_contain", classOf[BloomMightContain])(
      e => BloomMightContain(e.head, e(1))),
    fn("vec_project_i64", classOf[VecProject])(e => VecProject(e.head,
      k = intArg("vec_project_i64", "k", e(1)),
      dim = intArg("vec_project_i64", "dim", e(2)),
      seed = longArg("vec_project_i64", "seed", e(3)),
      scale = longArg("vec_project_i64", "scale", e(4)))),
    fn("lang_marker_counts", classOf[LangMarkerCounts])(
      e => LangMarkerCounts(e.head)),
    fn("ilog2_fx", classOf[Ilog2Fx])(e => Ilog2Fx(e.head)),
    fn("viterbi_seg", classOf[ViterbiSeg])(e => ViterbiSeg(e.head, e(1),
      nBest = intArg("viterbi_seg", "nBest", e(2)))),
    fn("wp_greedy", classOf[WpGreedy])(e => WpGreedy(e.head, e(1))),
    fn("hashed_feats", classOf[HashedFeats])(e => HashedFeats(e.head,
      buckets = longArg("hashed_feats", "buckets", e(1)),
      n = intArg("hashed_feats", "n", e(2)))),
    fn("vec_dist2", classOf[VecDist2])(e => VecDist2(e.head, e(1))),
    fn("md5_fold31", classOf[Md5Fold31])(e => Md5Fold31(e.head)),
    fn("srp_sig", classOf[SrpSig])(e => SrpSig(e.head,
      bits = intArg("srp_sig", "bits", e(1)),
      dim = intArg("srp_sig", "dim", e(2)),
      seed = longArg("srp_sig", "seed", e(3)))),
    fn("hashed_grams", classOf[HashedGrams])(e => HashedGrams(e.head,
      n = intArg("hashed_grams", "n", e(1)),
      salt = stringArg("hashed_grams", "salt", e(2)),
      mod = intArg("hashed_grams", "mod", e(3)))))
}
