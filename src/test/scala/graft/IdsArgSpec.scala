package graft

import java.nio.file.Files

/** The one CLI id-list parser behind every `remove`/takedown verb: a
  * parquet path or an inline comma-separated list; anything else fails
  * naming the argument instead of a bare NumberFormatException. */
class IdsArgSpec extends SparkSpec {

  test("idsArg reads a parquet path, an inline id list, and names a bad argument") {
    val dir = Files.createTempDirectory("graft_ids")
    val path = dir.resolve("ids.parquet").toString
    spark.range(3).selectExpr("id + 7 AS doc_id", "'x' AS other").write.parquet(path)
    val fromFile = GraftSession.idsArg(spark, path, "doc_id")
    assert(fromFile.columns.toSeq === Seq("doc_id"))
    assert(fromFile.collect().map(_.getLong(0)).sorted.toSeq === Seq(7L, 8L, 9L))

    val inline = GraftSession.idsArg(spark, "1, 2,3", "vec_id")
    assert(inline.columns.toSeq === Seq("vec_id"))
    assert(inline.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))

    // a mistyped path and a bad token both name the argument
    val missing = dir.resolve("missing.parquet").toString
    val e1 = intercept[IllegalArgumentException] {
      GraftSession.idsArg(spark, missing, "doc_id")
    }
    assert(e1.getMessage.contains(missing) &&
      e1.getMessage.contains("neither an existing path nor a comma-separated id list"))
    val e2 = intercept[IllegalArgumentException] {
      GraftSession.idsArg(spark, "1,x2,3", "doc_id")
    }
    assert(e2.getMessage.contains("'1,x2,3'") && e2.getMessage.contains("'x2'"))
  }
}
