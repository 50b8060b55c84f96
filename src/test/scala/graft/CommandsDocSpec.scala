package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** CLAUDE.md's Commands block names every command-line main and nothing
  * else: its `runMain graft.X` names equal the objects under
  * src/main/scala/graft that define `def main(`. Deleting or adding a
  * main without its command line fails here. */
class CommandsDocSpec extends AnyFunSuite {

  private val PackageDecl = """(?m)^package\s+([\w.]+)""".r
  private val TopObject = """(?m)^object\s+(\w+)""".r
  private val MainDef = """def main\(""".r
  private val RunMain = """runMain\s+(graft(?:\.\w+)+)""".r

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** Fully qualified names of the top-level objects that define a main. */
  private def mainObjects: Set[String] = {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val s = Files.walk(root)
    val files =
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    files.flatMap { f =>
      val src = read(f)
      val pkg = PackageDecl.findFirstMatchIn(src).map(_.group(1) + ".")
        .getOrElse("")
      MainDef.findAllMatchIn(src).map { m =>
        pkg + TopObject.findAllMatchIn(src.substring(0, m.start)).toSeq
          .last.group(1)
      }
    }.toSet
  }

  /** The fenced block under CLAUDE.md's "## Commands" heading. */
  private def commandsBlock: String = {
    val md = read(Paths.get("CLAUDE.md"))
    val heading = md.indexOf("## Commands")
    assert(heading >= 0, "CLAUDE.md has no Commands section")
    val open = md.indexOf("```", heading)
    val close = md.indexOf("```", md.indexOf('\n', open))
    assert(open >= 0 && close > open, "Commands section has no fenced block")
    md.substring(open, close)
  }

  test("CLAUDE.md's Commands block lists exactly the mains under src/main") {
    val mains = mainObjects
    assert(mains.contains("graft.PipelineMain") && mains.contains("graft.Verify"))
    val documented = RunMain.findAllMatchIn(commandsBlock).map(_.group(1)).toSet
    assert(documented == mains,
      s"mains without a command line: ${(mains -- documented).toSeq.sorted}; " +
        s"command lines without a main: ${(documented -- mains).toSeq.sorted}")
  }
}
