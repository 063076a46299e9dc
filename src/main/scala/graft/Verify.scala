package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession(LocalSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_ONLY=q_a,q_b limits the dump
    // (driver never sets it, so the official run always covers the board)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).filter(_.nonEmpty)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release operator-level caches between queries
      spark.catalog.clearCache()
    }
    // jsonObject escapes quote, backslash and every control char: a tab
    // or CR in oracle SQL would otherwise make a json.load of the file
    // fail and drop every oracle compare.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      graft.registry.DefinitionExport.jsonObject(SparkEntry.oracleSql.toSeq))
    spark.stop()
  }
}
