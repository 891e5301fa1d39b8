package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session setting of the skyline operators is a knob a user can
  * turn, so each one is documented or it does not exist. This spec pins
  * the set of `spark.graft.skyline.*` keys named under `src/main/scala`
  * to the set README names: adding or deleting a key means updating
  * README in the same change. */
class SkylineConfInventorySpec extends AnyFunSuite {
  private val key = """spark\.graft\.skyline\.(\w+)""".r

  private def keysIn(text: String): Set[String] =
    key.findAllMatchIn(text).map(_.group(1)).toSet

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("the spark.graft.skyline.* keys the engine reads are exactly those README documents") {
    val src = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => keysIn(read(p))).foldLeft(Set.empty[String])(_ ++ _)
    assert(src.nonEmpty, "no spark.graft.skyline.* key found under src/main/scala")
    val documented = keysIn(read(Paths.get("README.md")))
    assert(src == documented,
      s"undocumented: ${(src -- documented).toSeq.sorted.mkString(", ")}; " +
        s"documented but never read: ${(documented -- src).toSeq.sorted.mkString(", ")}")
  }
}
