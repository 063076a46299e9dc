package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.col
import graft.plans._

/** The native expressions have one SQL name table (`GraftExtensions`)
  * and a Column API that builds each expression directly. This spec
  * pins the table against the expression classes, the Column API
  * against the table, and the shared session's vanilla state. */
class NativeExpressionSpec extends SparkTestBase {

  private val names = GraftExtensions.functions.map(_._1.funcName)

  /** One row with an input of every shape the 17 expressions take;
    * built from Spark built-ins only, so any session can make it. */
  private def input(s: SparkSession): DataFrame = s.range(1).selectExpr(
    "'the quick brown fox and the lazy dog, la la' AS text",
    "array('a', 'b', 'c', 'a') AS toks",
    "array(CAST(1.5 AS FLOAT), CAST(-2.0 AS FLOAT), CAST(0.25 AS FLOAT)) AS a",
    "array(0.5D, 3.0D, -1.0D) AS b",
    "1000L AS x",
    "-3.25D AS d",
    "'abc' AS word",
    "array(named_struct('s', 1, 'k', 1, 'w', 0L), " +
      "named_struct('s', 2, 'k', 1, 'w', 0L), " +
      "named_struct('s', 3, 'k', 1, 'w', 0L), " +
      "named_struct('s', 1, 'k', 2, 'w', 5L)) AS cands",
    "5 AS len",
    "array(named_struct('pos', 0, 'l', 3), named_struct('pos', 3, 'l', 2)) AS ms")

  private val bloom = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100)
    bf.putString("the quick brown fox and the lazy dog, la la")
    BloomMightContain.serialize(bf)
  }

  /** (SQL text on the extension session, Column-API twin). */
  private val cases: Seq[(String, Column)] = Seq(
    "xx_minhash(toks, 4, 7)" -> XxMinHash.minhash(col("toks"), 4, 7L),
    "md5_minhash(toks, 3)" -> Md5MinHash.minhash(col("toks"), 3),
    "simhash64(toks)" -> SimHash64.simhash(col("toks")),
    "vec_dot(a, b)" -> VecDot(col("a"), col("b")),
    "vec_dot(a, b, true)" -> VecDot.padded(col("a"), col("b")),
    "word_shingles(text, 2, true)" ->
      WordShingles.shingles(col("text"), 2, distinct = true),
    "sortable_double_bits(d)" -> SortableDoubleBits.sortableBits(col("d")),
    s"bloom_might_contain(text, X'${bloom.map("%02X".format(_)).mkString}')" ->
      BloomMightContain.mightContain(col("text"), bloom),
    "vec_project_i64(a, 4, 3, 42, 1000000)" ->
      VecProject.project(col("a"), 4, 3, 42L, 1000000L),
    "srp_sig(b, 16, 3, 42)" -> SrpSig(col("b"), 16, 3, 42L),
    "lang_marker_counts(text)" -> LangMarkerCounts.counts(col("text")),
    "ilog2_fx(x)" -> Ilog2Fx.ilog2(col("x")),
    "viterbi_seg(word, cands, 2)" -> ViterbiSeg.seg(col("word"), col("cands"), 2),
    "wp_greedy(len, ms)" -> WpGreedy.walk(col("len"), col("ms")),
    "hashed_feats(text, 1000, 3)" -> HashedFeats.feats(col("text"), 1000L, 3),
    "vec_dist2(a, b)" -> VecDist2.dist2(col("a"), col("b")),
    "md5_fold31(text)" -> Md5Fold31.fold(col("text")),
    "hashed_grams(text, 2, 'dsir:', 10000)" ->
      HashedGrams.grams(col("text"), 2, "dsir:", 10000))

  test("GraftExtensions names exactly the 17 native expression classes") {
    // every Catalyst expression case class under graft/plans
    val decl = "case class (\\w+)\\([^)]*\\)\\s*extends\\s+\\w*Expression\\b".r
    val stream = Files.list(Paths.get("src/main/scala/graft/plans"))
    val declared = try stream.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => decl.findAllMatchIn(Files.readString(p)).map("graft.plans." + _.group(1)))
      .toSet
    finally stream.close()
    // a definition lookup reads a broadcast variable built on the
    // driver from collected rows; SQL text cannot name one
    val driverBuilt = Set("graft.plans.DefinitionLookup")
    assert(driverBuilt.subsetOf(declared), s"$declared")
    assert(declared.size - driverBuilt.size == 17, s"$declared")
    val tabled = GraftExtensions.functions.map(_._2.getClassName)
    assert(tabled.toSet == declared -- driverBuilt)
    assert(tabled.distinct.size == tabled.size && names.distinct.size == names.size)
    GraftExtensions.functions.foreach { case (id, info, _) =>
      assert(info.getName == id.funcName)
    }
  }

  test("the shared test session resolves no native name") {
    val registry = spark.sessionState.functionRegistry
    names.foreach { n =>
      assert(!registry.functionExists(FunctionIdentifier(n)), n)
      assert(!spark.catalog.functionExists(n), n)
    }
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT md5_fold31('x')").collect()
    }
    assert(e.getMessage.contains("md5_fold31"), e.getMessage)
  }

  test("each SQL name on the extension session equals its Column-API twin " +
      "on the vanilla session") {
    assert(cases.map(_._1.takeWhile(_ != '(')).toSet == names.toSet)
    val viaSql = input(sqlSession).selectExpr(cases.map(_._1): _*).collect().head
    val viaCol = input(spark).select(cases.map(_._2): _*).collect().head
    cases.indices.foreach { i =>
      assert(!viaCol.isNullAt(i), cases(i)._1)
      assert(viaSql.get(i) == viaCol.get(i), cases(i)._1)
    }
  }
}
