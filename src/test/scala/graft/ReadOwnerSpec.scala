package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Parquet reads of the engine and the table accessors go through
  * [[graft.engine.io.Storage.readParquet]], the one owner of the
  * read-schema cache. */
class ReadOwnerSpec extends AnyFunSuite {

  test("no engine source or Tables reads parquet around Storage") {
    val root = Paths.get("src/main/scala/graft")
    val engine = root.resolve("engine")
    val owner = engine.resolve("io/Storage.scala")
    assert(Files.isRegularFile(owner), owner)
    val sources = Files.walk(engine).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f != owner).toSeq :+
      root.resolve("Tables.scala")
    val read = """\.read\.parquet\(""".r
    val hits = sources.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if read.findFirstIn(line).isDefined => s"$f:${i + 1}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
