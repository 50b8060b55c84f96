package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.cli()
    new java.io.File(outDir).mkdirs()
    // Dev loop: SPARK_GRAFT_ONLY=q105_x,q106_y dumps just those queries
    // (exact names; an unknown name fails). Unset or blank (the driver's
    // mode) → every query.
    val only = SparkEntry.parseOnly(sys.env.get("SPARK_GRAFT_ONLY"))
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // fully escaped (RunLedger.Row): a tab or CR in one oracle SQL text
    // would otherwise make oracle_sql.json unparseable and fail every
    // oracle comparison
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      RunLedger.Row(SparkEntry.oracleSql.toSeq: _*).render)
    spark.stop()
  }
}
