package graft

import java.nio.file.{Files, Path, Paths}

import graft.operators.{AggState, AnnIndex, Compaction, DedupIndex, ViewState}

/** Every rewrite entry point refuses an output dir that names its own
  * source — however the name is spelled. Spark's self-overwrite check is
  * defeated by path normalization, so a relative path, a trailing slash or
  * a symlink must all be caught by the canonical comparison before the
  * rewrite touches anything. */
class RewriteRefusalSpec extends SparkSpec {

  private val entryPoints: Seq[(String, (String, String) => Unit)] = Seq(
    "Compaction.compact" -> ((a, b) => { Compaction.compact(spark, a, b); () }),
    "AggState.optimize" -> ((a, b) => AggState.optimize(spark, a, b, Seq("k"))),
    "ViewState.optimize" -> ((a, b) => ViewState.optimize(spark, a, b)),
    "DedupIndex.optimize" -> ((a, b) => DedupIndex.optimize(spark, a, b)),
    "AnnIndex.optimize" -> ((a, b) => AnnIndex.optimize(spark, a, b)),
    "AnnIndex.reindex" -> ((a, b) => AnnIndex.reindex(spark, a, b)))

  /** Three other spellings of `dir`: relative to the working directory,
    * with a trailing slash, and through a symlink. */
  private def aliases(dir: Path): Seq[(String, String)] = {
    val link = Files.createTempDirectory("graft_refuse_link").resolve("alias")
    Files.createSymbolicLink(link, dir)
    Seq("relative" -> Paths.get("").toAbsolutePath.relativize(dir).toString,
      "trailing slash" -> s"$dir/",
      "symlink" -> link.toString)
  }

  for ((name, rewrite) <- entryPoints)
    test(s"$name refuses an in-place rewrite under every path spelling") {
      val src = Files.createTempDirectory("graft_refuse_src")
      val marker = Files.write(src.resolve("marker"), "keep".getBytes("UTF-8"))
      for ((spelling, out) <- aliases(src)) {
        val e = intercept[IllegalArgumentException](rewrite(src.toString, out))
        assert(e.getMessage.contains("must differ"), s"$spelling: ${e.getMessage}")
      }
      assert(Files.list(src).count() === 1L && Files.isRegularFile(marker),
        "a refused rewrite must leave its source untouched")
    }
}
