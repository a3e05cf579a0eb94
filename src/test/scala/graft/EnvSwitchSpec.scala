package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The engine and the query registry read no environment variables:
  * every plan shape is a single code path, and deployment settings
  * (core count, data dir) belong to the driver mains only. */
class EnvSwitchSpec extends AnyFunSuite {

  test("no engine or query source reads the environment") {
    val roots = Seq("engine", "queries")
      .map(d => Paths.get("src/main/scala/graft", d))
    roots.foreach(r => assert(Files.isDirectory(r), r))
    val env = """\bsys\.env\b|\bSystem\.getenv\b""".r
    val hits = roots.flatMap { r =>
      Files.walk(r).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if env.findFirstIn(line).isDefined => s"$f:${i + 1}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
