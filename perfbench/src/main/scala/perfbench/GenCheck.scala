package perfbench

/** Prints the input fingerprints one seed generates, for the generator
  * determinism test (perfbench/tests).
  *
  * {{{
  * perfbench.GenCheck <scratchDir> <seed>
  * }}}
  */
object GenCheck {
  def main(args: Array[String]): Unit = {
    val Array(dir, seedArg) = args
    val seed = seedArg.toLong
    val spark = graft.GraftSession.builder("2")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Gen.warehouse(spark, seed, s"$dir/data")
    val tables = graft.Tables.names.map(t =>
      s"warehouse.$t" -> Json.str(Gen.fingerprint(spark.read.parquet(s"$dir/data/$t.parquet"))))
    println(Json.obj(tables ++ Seq(
      "curation_waves" -> Json.str(CurationWaves.fingerprint(seed)),
      "index_serving" -> Json.str(IndexServing.fingerprint(seed))): _*))
    spark.stop()
  }
}
