package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (sbt runs suites in one
  * JVM; getOrCreate reuses it). It registers nothing: every operator
  * runs on a vanilla session. `sqlSession` is the one place that has
  * the native SQL names, for the tests that write them in SQL text. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  lazy val sqlSession: SparkSession = SparkTestBase.sqlSession
  val sf0001 = "/root/testdata/sf0.001"
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A child of the shared session with the `GraftExtensions` name
    * table registered — what a session built with
    * `.withExtensions(new GraftExtensions)` resolves. */
  lazy val sqlSession: SparkSession = {
    val s = session.newSession()
    graft.plans.GraftExtensions.functions.foreach { case (id, info, build) =>
      s.sessionState.functionRegistry.registerFunction(id, info, build)
    }
    s
  }
}
