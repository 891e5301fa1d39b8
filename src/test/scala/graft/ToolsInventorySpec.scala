package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The dev/bench tools are the entry points outside the driver contract,
  * and one-off probes pile up there unless each is declared. This spec
  * pins the set of `main` objects under `graft/tools` to the `tools/`
  * line of README's Layout block: adding or deleting a tool means
  * updating that line in the same change. */
class ToolsInventorySpec extends AnyFunSuite {
  private val toolsDir = Paths.get("src/main/scala/graft/tools")

  /** Top-level objects that declare a `main`, per source file. */
  private def mainObjects: Set[String] = {
    val objectDecl = """(?m)^(?:private\[\w+\] )?object (\w+)""".r
    Files.list(toolsDir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val src = new String(Files.readAllBytes(f), "UTF-8")
        val starts = objectDecl.findAllMatchIn(src).toSeq
        starts.zip(starts.drop(1).map(_.start) :+ src.length).collect {
          case (m, end) if src.substring(m.start, end).contains("def main(") => m.group(1)
        }
      }.toSet
  }

  /** The tool names on README's `tools/` Layout line (a trailing
    * parenthetical is commentary). */
  private def readmeTools: Set[String] = {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val line = readme.linesIterator.find(_.trim.startsWith("tools/"))
      .getOrElse(fail("README Layout block has no tools/ line"))
    line.trim.stripPrefix("tools/").replaceAll("""\(.*\)""", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
  }

  test("every tools main is listed in README's Layout block, and nothing else is") {
    val mains = mainObjects
    assert(mains.nonEmpty, s"no main objects found under $toolsDir")
    val listed = readmeTools
    assert(mains == listed,
      s"undeclared tools: ${(mains -- listed).toSeq.sorted.mkString(", ")}; " +
        s"listed but missing: ${(listed -- mains).toSeq.sorted.mkString(", ")}")
  }
}
