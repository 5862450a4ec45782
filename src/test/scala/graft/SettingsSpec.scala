package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every setting the library reads is documented: the README "Settings"
  * table lists each `spark.graft.*` key and `graft.manifest.*` property
  * that appears in `src/main`, and lists nothing that no longer does. An
  * option added without a row, or a row left behind by a removed option,
  * fails here.
  */
class SettingsSpec extends AnyFunSuite {

  private val keyRe =
    """(?:spark\.graft|graft\.manifest)\.[A-Za-z][A-Za-z0-9_.]*[A-Za-z0-9]""".r

  private def mainKeys: Set[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"run from repo root (cwd=${Paths.get("").toAbsolutePath})")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => keyRe.findAllIn(Files.readString(p)))
      .toSet
  }

  /** the first-column keys of the README's Settings table */
  private def tableKeys: Set[String] = {
    val readme = Files.readAllLines(Paths.get("README.md")).asScala
    val section = readme.dropWhile(_ != "## Settings").drop(1)
      .takeWhile(l => !l.startsWith("## "))
    assert(section.nonEmpty, "README has no \"## Settings\" section")
    section.filter(_.startsWith("| `"))
      .flatMap(l => keyRe.findFirstIn(l.split('|')(1)))
      .toSet
  }

  test("every spark.graft / graft.manifest key in src/main has a Settings row") {
    val missing = mainKeys -- tableKeys
    assert(missing.isEmpty,
      s"keys read in src/main but missing from README Settings: $missing")
  }

  test("every Settings row names a key src/main still reads") {
    val stale = tableKeys -- mainKeys
    assert(stale.isEmpty, s"README Settings rows with no reader: $stale")
  }
}
