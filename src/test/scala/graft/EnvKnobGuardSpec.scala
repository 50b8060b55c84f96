package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** No env var may change a result in a production run: engine code paths
  * read no `SPARK_GRAFT_*` variable, so no such name may appear in the
  * engine packages at all (queries, operators, streaming, functions,
  * sources, sinks and the `org.apache.spark.sql.graft` extensions), and
  * every name elsewhere under src/main must be one of the harness knobs
  * below (core count, query selection, Spark conf overrides, data dir,
  * sweep/repeat counts, the prior-bench file). Outside that prefix the
  * only `GRAFT_*` name is the `GRAFT_TOKEN` credential. A settled A/B arm
  * is deleted, not parked behind a new env toggle. */
class EnvKnobGuardSpec extends AnyFunSuite {

  private val HarnessKnobs = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY", "SPARK_GRAFT_CONF",
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SWEEPS", "SPARK_GRAFT_PREV_BENCH",
    "SPARK_GRAFT_STREAM_REPEAT")

  private val EnginePackages = Seq("graft/queries", "graft/operators",
    "graft/streaming", "graft/functions", "graft/sources", "graft/sinks",
    "org/apache/spark/sql/graft")

  private val Knob = "SPARK_GRAFT_[A-Z_]+".r

  private val root = Paths.get("src/main/scala")

  private def mainSources: Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** Every name `re` matches in `files`, as `path:line: NAME`. */
  private def knobLines(files: Seq[Path],
      re: scala.util.matching.Regex = Knob): Seq[(String, String)] = for {
    f <- files
    (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
    name <- re.findAllIn(line)
  } yield (s"$f:${i + 1}: $name", name)

  test("src/main names only harness SPARK_GRAFT_* knobs") {
    val files = mainSources
    assert(files.nonEmpty)
    val offenders = knobLines(files).collect {
      case (at, name) if !HarnessKnobs.contains(name) => at }
    assert(offenders.isEmpty,
      s"non-harness env knobs in src/main:\n${offenders.mkString("\n")}")
  }

  test("engine packages name no SPARK_GRAFT_* knob at all") {
    val engine = EnginePackages.map(root.resolve)
    engine.foreach(d => assert(Files.isDirectory(d), s"$d missing"))
    val files = mainSources.filter(f => engine.exists(f.startsWith))
    assert(files.exists(_.startsWith(root.resolve("graft/queries"))))
    val offenders = knobLines(files).map(_._1)
    assert(offenders.isEmpty,
      s"SPARK_GRAFT_* knobs in engine code:\n${offenders.mkString("\n")}")
  }

  test("src/main names no GRAFT_* variable but the GRAFT_TOKEN credential") {
    // a run-mode switch is an argument (AuditMain's q2=reference), never an
    // env var; the negative lookbehind skips the SPARK_GRAFT_* harness knobs
    val hits = knobLines(mainSources, "(?<![A-Z_])GRAFT_[A-Z_]+".r)
    assert(hits.exists(_._2 == "GRAFT_TOKEN"))
    val offenders = hits.collect { case (at, name) if name != "GRAFT_TOKEN" => at }
    assert(offenders.isEmpty,
      s"GRAFT_* env names in src/main:\n${offenders.mkString("\n")}")
  }

  test("the scan sees the harness knobs it allows") {
    val seen = mainSources.flatMap(f =>
      Knob.findAllIn(new String(Files.readAllBytes(f), "UTF-8"))).toSet
    assert(seen.contains("SPARK_GRAFT_CPUS") && seen.contains("SPARK_GRAFT_ONLY"))
  }
}
