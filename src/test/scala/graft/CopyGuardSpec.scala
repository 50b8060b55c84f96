package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The copy scan: every run of [[CopyScan.Width]] normalised lines that
  * occurs at two or more places in a set of sources. Normalising drops
  * what a copy may differ in without being a different decision (spacing,
  * comments, imports, closing brackets) and what is not a query subplan
  * (SQL text in `|`-margin or literal-only lines, and each query module's
  * oracle SQL after `val oracles`). */
object CopyScan {
  val Width = 5

  private val LoneBrackets = """[\[\](){},;.]+""".r
  private val LiteralOnly = """(s|f|raw)?"([^"\\]|\\.)*"[,+)\s]*""".r

  /** The compared lines of one source, each with its 1-based line number. */
  def normalise(text: String): Seq[(Int, String)] = {
    var inComment = false
    text.linesIterator.zipWithIndex
      .map { case (raw, i) => (i + 1, raw.trim.split("\\s+").mkString(" ")) }
      .takeWhile { case (_, l) => !l.contains("val oracles") }
      .filter { case (_, l) =>
        val comment = inComment || l.startsWith("/*")
        if (comment) inComment = !l.contains("*/")
        !(comment || l.isEmpty || l.startsWith("//") || l.startsWith("*") ||
          l.startsWith("import ") || l.startsWith("package ") ||
          l.startsWith("|") || l.startsWith("\"\"\"") ||
          LoneBrackets.matches(l) || LiteralOnly.matches(l))
      }
      .toSeq
  }

  /** Each window found at two or more places, with its places as
    * `name:line` (the line of the window's first compared line). */
  def copies(sources: Seq[(String, String)]): Map[Seq[String], Seq[String]] =
    sources.flatMap { case (name, text) =>
      normalise(text).sliding(Width).filter(_.size == Width)
        .map(w => w.map(_._2) -> s"$name:${w.head._1}")
    }.groupMap(_._1)(_._2).filter(_._2.size > 1)
}

/** Never copy a query subplan or a harness step: a fragment src/main needs
  * twice gets one named builder next to the code that owns its decision
  * (engine packages, harness mains and the Catalyst extensions alike). The
  * allow-list
  * holds the reviewed windows that stay written twice, each with the
  * reason sharing it would cost more than the copy. */
class CopyGuardSpec extends AnyFunSuite {

  /** The case-class constructor both physical as-of joins must declare:
    * Catalyst copies a plan node through its own constructor, so the
    * shared fields cannot move into `AsOfJoinExecBase`. */
  private val AsOfJoinFields = Seq(
    "leftKey: Expression, rightKey: Expression,",
    "leftOrd: Expression, rightOrd: Expression,",
    "inclusive: Boolean = false,",
    "tolerance: Option[Long] = None)",
    "extends AsOfJoinExecBase {",
    "override def requiredChildDistribution: Seq[Distribution] =")

  /** Reviewed exceptions: the window's normalised lines -> why it stays. */
  private val Allowed: Map[Seq[String], String] = Map(
    AsOfJoinFields.take(5) -> "Catalyst declaration: AsOfJoinExec/AsOfJoinBroadcastExec fields",
    AsOfJoinFields.drop(1) -> "Catalyst declaration: AsOfJoinExec/AsOfJoinBroadcastExec fields")

  private def mainSources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .sortBy(_.toString).map((f: Path) => f.toString -> Files.readString(f))
    finally s.close()
  }

  test("engine packages repeat no 5-line window outside the reviewed allow-list") {
    val sources = mainSources
    assert(sources.exists(_._1.contains("graft/queries/Dedup.scala")))
    val found = CopyScan.copies(sources)
    val offenders = (found -- Allowed.keySet).toSeq
      .map { case (w, at) => s"${at.sorted.mkString(", ")}\n    ${w.mkString("\n    ")}" }
      .sorted
    assert(offenders.isEmpty,
      s"${offenders.size} windows written twice — give each one builder:\n" +
        offenders.mkString("\n"))
    val stale = Allowed.keySet.filterNot(found.contains)
    assert(stale.isEmpty, s"allow-list entries no longer copied: $stale")
  }

  test("the scan fails a planted two-copy input and ignores what it should") {
    val fragment =
      """val ev = Tables(s, dir, "events")
        |val p = ev.filter(col("event_type") === "purchase")
        |  .select(col("event_id"), col("user_id"))
        |val v = ev.filter(col("event_type") === "view")
        |  .select(col("event_id"), col("user_id"))""".stripMargin
    // the second copy differs only in what normalising drops
    val reflowed =
      """import org.apache.spark.sql.functions._
        |/** the same fragment, re-indented and commented */
        |val ev  =  Tables(s, dir, "events")
        |  // purchases first
        |val p = ev.filter(col("event_type") === "purchase")
        |      .select(col("event_id"), col("user_id"))
        |
        |val v = ev.filter(col("event_type") === "view")
        |  .select(col("event_id"), col("user_id"))
        |})""".stripMargin
    val found = CopyScan.copies(Seq("a.scala" -> fragment, "b.scala" -> reflowed))
    assert(found.size == 1, found)
    assert(found.values.head == Seq("a.scala:1", "b.scala:3"))
    // commented-out code, SQL margins and oracle SQL are not compared
    val commented = fragment.linesIterator.map("// " + _).mkString("\n")
    val margin = fragment.linesIterator.map("|" + _).mkString("\n")
    val oracle = "val oracles = Map(\n" + fragment
    assert(CopyScan.copies(Seq("a" -> fragment, "b" -> commented,
      "c" -> margin, "d" -> oracle)).isEmpty)
  }
}
