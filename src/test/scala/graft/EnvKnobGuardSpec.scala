package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** No env var may change a result in a production run: engine code paths
  * read no `SPARK_GRAFT_*` variable, so every name under src/main must be
  * one of the harness knobs below (core count, query selection, Spark conf
  * overrides, data dir, sweep/repeat counts, the prior-bench file, the
  * scale-probe shard/probe overrides). A settled A/B arm is deleted, not
  * parked behind a new env toggle. */
class EnvKnobGuardSpec extends AnyFunSuite {

  private val HarnessKnobs = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY", "SPARK_GRAFT_CONF",
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SWEEPS", "SPARK_GRAFT_PREV_BENCH",
    "SPARK_GRAFT_STREAM_REPEAT", "SPARK_GRAFT_PREFIX_SHARDS",
    "SPARK_GRAFT_BPE_PROBE")

  private val Knob = "SPARK_GRAFT_[A-Z_]+".r

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("src/main names only harness SPARK_GRAFT_* knobs") {
    val files = mainSources
    assert(files.nonEmpty)
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      name <- Knob.findAllIn(line)
      if !HarnessKnobs.contains(name)
    } yield s"$f:${i + 1}: $name"
    assert(offenders.isEmpty,
      s"non-harness env knobs in src/main:\n${offenders.mkString("\n")}")
  }

  test("the scan sees the harness knobs it allows") {
    val seen = mainSources.flatMap(f =>
      Knob.findAllIn(new String(Files.readAllBytes(f), "UTF-8"))).toSet
    assert(seen.contains("SPARK_GRAFT_CPUS") && seen.contains("SPARK_GRAFT_ONLY"))
  }
}
