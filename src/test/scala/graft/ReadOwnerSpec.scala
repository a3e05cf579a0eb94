package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Parquet reads of the engine, the registry queries and the table
  * accessors go through [[graft.engine.io.Storage.readParquet]], which
  * keeps no state between calls, every engine memo is a
  * [[graft.engine.Memo]], only `engine/io` publishes a stored
  * artifact or marks it complete, only `engine/io` touches the
  * Hadoop file system or parquet-mr, and every session is built by
  * [[graft.tools.Session]]. */
class ReadOwnerSpec extends AnyFunSuite {

  /** `file:line` of every line of `files` that `pattern` matches. */
  private def matches(files: Seq[Path], pattern: Regex): Seq[String] =
    files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined => s"$f:${i + 1}"
      }
    }

  test("no engine source or Tables reads parquet around Storage") {
    val root = Paths.get("src/main/scala/graft")
    val engine = root.resolve("engine")
    val owner = engine.resolve("io/Storage.scala")
    assert(Files.isRegularFile(owner), owner)
    val sources = Seq(engine, root.resolve("queries"))
      .flatMap(d => Files.walk(d).iterator().asScala)
      .filter(f => f.toString.endsWith(".scala") && f != owner) :+
      root.resolve("Tables.scala")
    val hits = matches(sources, """\.read\.parquet\(""".r)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("engine memos are Memo instances; readParquet lists nothing itself") {
    val engine = Paths.get("src/main/scala/graft/engine")
    val memo = engine.resolve("Memo.scala")
    assert(Files.isRegularFile(memo), memo)
    val maps = matches(Files.walk(engine).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f != memo).toSeq,
      """\b(ConcurrentHashMap|LinkedHashMap|TrieMap)\b""".r)
    assert(maps.isEmpty, maps.mkString("\n"))
    // each `def readParquet`: its line and every following line that is
    // blank or indented deeper than a member of the object
    val lines = Files.readAllLines(engine.resolve("io/Storage.scala")).asScala
    val bodies = lines.indices.filter(i => lines(i).contains("def readParquet("))
      .map(i => (lines(i) +: lines.drop(i + 1).takeWhile(l =>
        l.trim.isEmpty || l.startsWith("   "))).mkString("\n"))
    assert(bodies.size === 1)
    val listing = ("""\b(listFiles|listStatus|listLocatedStatus|globStatus|""" +
      """listFolder|getFileSystem|exists)\b|\bfs\(""").r
    bodies.foreach(b => assert(listing.findFirstIn(b).isEmpty, b))
  }

  test("parquet reads keep no state across calls") {
    val storage = Paths.get("src/main/scala/graft/engine/io/Storage.scala")
    val hits = matches(Seq(storage), """\bMemo\b""".r)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("publishing and completion marking stay with the io owners") {
    val engine = Paths.get("src/main/scala/graft/engine")
    val io = engine.resolve("io")
    assert(Files.isRegularFile(io.resolve("Artifacts.scala")))
    val sources = Files.walk(engine).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && !f.startsWith(io)).toSeq
    // a line that is not a comment and names the marker or a rename
    val hits = matches(sources,
      """^(?!\s*(//|\*|/\*)).*(_SUCCESS|\.rename\()""".r)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("only engine/io touches the Hadoop file system or parquet-mr") {
    val root = Paths.get("src/main/scala/graft")
    val io = root.resolve("engine/io")
    assert(Files.isRegularFile(io.resolve("Storage.scala")))
    val sources = Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && !f.startsWith(io)).toSeq
    // a line that is not a comment and names a Hadoop or parquet-mr
    // type, a file-system resolution or a Hadoop file copy
    val hits = matches(sources, ("""^(?!\s*(//|\*|/\*)).*""" +
      """(org\.apache\.hadoop|org\.apache\.parquet|\bgetFileSystem\b|""" +
      """\bFileUtil\b)""").r)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("one session shape") {
    val owner = Paths.get("src/main/scala/graft/tools/Session.scala")
    assert(Files.isRegularFile(owner), owner)
    val sources = Seq("src/main/scala", "src/test/scala")
      .flatMap(d => Files.walk(Paths.get(d)).iterator().asScala)
      .filter(f => f.toString.endsWith(".scala") && f != owner)
    // a line that is not a comment and starts a session builder
    val hits = matches(sources,
      """^(?!\s*(//|\*|/\*)).*\bSparkSession\.builder\(""".r)
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
