package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Streams start through one drain helper and scratch dirs come from one
  * cleaned-up factory: a hand-written `.writeStream` skeleton or a bare
  * `Files.createTempDirectory` anywhere else in `src/main` fails here. */
class SourceAuditSpec extends AnyFunSuite {
  private val defLine = """\bdef\s+(\w+)""".r

  /** (file name, enclosing def) of every code line under src/main/scala
    * containing `needle`; comment lines and trailing comments are skipped,
    * and the enclosing def is the nearest `def` above the line. */
  private def sites(needle: String): Set[(String, String)] = {
    val scala = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(scala.nonEmpty, "no sources found: run from the repository root")
    scala.flatMap { p: Path =>
      val lines = new String(Files.readAllBytes(p), UTF_8).split("\n")
      lines.indices.collect {
        case i if !lines(i).trim.matches("""(\*|/\*|//).*""") &&
                  lines(i).split("//", 2)(0).contains(needle) =>
          val owner = (i to 0 by -1).iterator
            .flatMap(j => defLine.findFirstMatchIn(lines(j)).map(_.group(1)))
            .nextOption().getOrElse("<top>")
          (p.getFileName.toString, owner)
      }
    }.toSet
  }

  test(".writeStream appears only in StreamingOps.drain") {
    assert(sites(".writeStream") === Set("StreamingOps.scala" -> "drain"))
  }

  test("createTempDirectory appears only in StreamingOps.tmp and Bench.writeKernel") {
    // Bench's write kernel deletes its dir in a finally; every other
    // scratch dir goes through StreamingOps.tmp, whose JVM-exit hook
    // deletes it
    assert(sites("createTempDirectory") === Set(
      "StreamingOps.scala" -> "tmp",
      "Bench.scala" -> "writeKernel"))
  }
}
