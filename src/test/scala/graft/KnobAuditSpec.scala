package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every env/prop key the program reads is a documented deployment
  * setting, and every documented one is still read: an undocumented
  * knob or a stale README row fails here. */
class KnobAuditSpec extends AnyFunSuite {
  // env names as bare tokens (Scala and shell alike); graft.* properties
  // as whole string literals whose segments start lower-case, so class
  // names such as graft.functions.GraftExtensions are not keys
  private val envKey = """\b(?:SPARK|GRAFT)_[A-Z0-9_]*[A-Z0-9]\b""".r
  private val propKey = """"(graft(?:\.[a-z][A-Za-z0-9]*)+)"""".r

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  private def keysIn(text: String): Set[String] =
    (envKey.findAllIn(text) ++ propKey.findAllMatchIn(text).map(_.group(1))).toSet

  test("keys the program reads equal README's Deployment settings table") {
    val scala = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(scala.nonEmpty, "no sources found: run from the repository root")
    val used = (scala ++ Seq(Paths.get("tools/run.sh"), Paths.get("build.sbt")))
      .flatMap(p => keysIn(read(p))).toSet
    val documented = read(Paths.get("README.md"))
      .split("\n## Deployment settings\n", 2).lift(1).getOrElse("")
      .split("\n## ", 2)(0).linesIterator
      .collect { case l if l.startsWith("| `") => l.drop(3).takeWhile(_ != '`') }
      .toSet
    assert(documented.nonEmpty, "README has no Deployment settings table")
    assert(used -- documented === Set.empty[String], "read but not documented")
    assert(documented -- used === Set.empty[String], "documented but not read")
  }
}
