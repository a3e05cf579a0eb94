package graft

import graft.engine.io.Artifacts
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The fit-once artifact key and build contract of
  * [[graft.engine.io.Artifacts.fitOnce]] and its one-table form
  * [[graft.engine.io.Artifacts.table]]: one path per (input content,
  * family, tag, parameters), built once, never left half-built. */
class ArtifactsSpec extends AnyFunSuite with SparkFixture {

  private val family = "graft_artifacts_spec"

  private def fresh(name: String): String =
    s"${name}_${System.nanoTime()}"

  /** A parquet input, so the fingerprint comes from its file inventory. */
  private def input(dir: String, n: Long) = {
    spark.range(n).toDF("id").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def inputDir(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_test/${fresh(name)}"

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeIds(df: org.apache.spark.sql.DataFrame)(tmp: String): Unit =
    df.write.parquet(tmp)

  test("same inputs give the same path and build once") {
    val df = input(inputDir("same"), 10)
    val tag = fresh("same")
    var builds = 0
    def get() = Artifacts.fitOnce(df, family, tag, "kind", Seq(3, 7L)) {
      tmp => builds += 1; writeIds(df)(tmp)
    }
    val first = get()
    val second = get()
    assert(first === second)
    assert(builds === 1)
    assert(fs(first).exists(new Path(first, "_SUCCESS")))
    assert(spark.read.parquet(first).count() === 10)
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    assert(first === s"$warehouse/$family/kind_${tag}_" +
      s"${Artifacts.fingerprintOf(df)}_3_7")
  }

  test("a different parameter, tag or rewritten input gives a new path") {
    val dir = inputDir("keys")
    val df = input(dir, 10)
    val tag = fresh("keys")
    def get(d: org.apache.spark.sql.DataFrame, t: String, p: Int) =
      Artifacts.fitOnce(d, family, t, params = Seq(p))(writeIds(d))
    val base = get(df, tag, 1)
    assert(get(df, tag, 2) !== base)
    assert(get(df, tag + "b", 1) !== base)
    // rewrite the input file in place: same path, new content
    val rewritten = input(dir, 20)
    val again = get(rewritten, tag, 1)
    assert(again !== base)
    assert(spark.read.parquet(again).count() === 20)
  }

  test("a same-name in-place rewrite of an input file builds a new artifact") {
    val dir = inputDir("inplace")
    spark.range(10).toDF("id").coalesce(1).write.parquet(dir)
    val df = spark.read.parquet(dir)
    val tag = fresh("inplace")
    var builds = 0
    def get(d: org.apache.spark.sql.DataFrame) =
      Artifacts.fitOnce(d, family, tag) { tmp => builds += 1; writeIds(d)(tmp) }
    val base = get(df)
    // replace the one part file by another parquet file under its name
    val src = inputDir("inplace_src")
    spark.range(100, 120).toDF("id").coalesce(1).write.parquet(src)
    def part(d: String) = fs(d).listStatus(new Path(d)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
    val Seq(target) = part(dir)
    org.apache.hadoop.fs.FileUtil.copy(fs(src), part(src).head, fs(dir),
      target, false, true, spark.sparkContext.hadoopConfiguration)
    val reread = spark.read.parquet(dir)
    assert(reread.inputFiles.toSeq === df.inputFiles.toSeq)
    val again = get(reread)
    assert(again !== base)
    assert(builds === 2)
    assert(spark.read.parquet(again).count() === 20)
  }

  test("a tag with slashes and spaces becomes one safe path segment") {
    val df = input(inputDir("tag"), 5)
    val path = Artifacts.fitOnce(df, family, s"/data/my corpus/${fresh("v")}",
      "k")(writeIds(df))
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    assert(new Path(path).getParent.toString ===
      new Path(s"$warehouse/$family").toString)
    val name = new Path(path).getName
    assert(name.startsWith("k__data_my_corpus_v_"), name)
    assert(!name.contains(" ") && !name.contains("/"), name)
  }

  test("an artifact directory never starts with _ or . (Spark hides those)") {
    val df = input(inputDir("hidden"), 4)
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    Seq(s"/data/${fresh("abs")}", s".${fresh("dot")}", s"../${fresh("up")}",
        s"_${fresh("under")}").foreach { tag =>
      val path = Artifacts.fitOnce(df, family, tag)(writeIds(df))
      val name = new Path(path).getName
      assert(!name.startsWith("_") && !name.startsWith("."), s"$tag -> $name")
      assert(new Path(path).getParent.toString ===
        new Path(s"$warehouse/$family").toString)
      assert(spark.read.parquet(path).count() === 4)
    }
  }

  test("a failed build leaves nothing behind and the failure propagates") {
    val df = input(inputDir("fail"), 5)
    val tag = fresh("fail")
    val boom = intercept[IllegalStateException] {
      Artifacts.fitOnce(df, family, tag) { tmp =>
        writeIds(df)(tmp)
        throw new IllegalStateException("build failed")
      }
    }
    assert(boom.getMessage === "build failed")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val root = new Path(s"$warehouse/$family")
    val left = fs(root.toString).listStatus(root).map(_.getPath.getName)
      .filter(_.contains(tag))
    assert(left.isEmpty, left.mkString(", "))
    // and a later build under the same key still succeeds
    var builds = 0
    val path = Artifacts.fitOnce(df, family, tag) { tmp =>
      builds += 1; writeIds(df)(tmp)
    }
    assert(builds === 1)
    assert(spark.read.parquet(path).count() === 5)
  }

  test("table writes its rows once and reads back the same rows") {
    val df = input(inputDir("table"), 6)
    val tag = fresh("table")
    var builds = 0
    def get() = Artifacts.table(df, family, tag, "t", Seq(1)) {
      builds += 1; df.selectExpr("id", "id * 2 AS twice")
    }
    val first = get().collect().toSeq
    val second = get()
    assert(builds === 1)
    assert(second.collect().toSeq.sortBy(_.getLong(0)) ===
      first.sortBy(_.getLong(0)))
    assert(second.columns.toSeq === Seq("id", "twice"))
    assert(first.size === 6)
  }

  test("a table whose rows throw leaves no temp dir behind") {
    val df = input(inputDir("table_fail"), 3)
    val tag = fresh("table_fail")
    val boom = intercept[IllegalStateException] {
      Artifacts.table(df, family, tag) {
        throw new IllegalStateException("rows failed")
      }
    }
    assert(boom.getMessage === "rows failed")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val root = new Path(s"$warehouse/$family")
    val left = fs(root.toString).listStatus(root).map(_.getPath.getName)
      .filter(_.contains(tag))
    assert(left.isEmpty, left.mkString(", "))
  }

  test("a build that writes without Spark is marked complete and reused") {
    val df = input(inputDir("plain"), 3)
    val tag = fresh("plain")
    var builds = 0
    def get() = Artifacts.fitOnce(df, family, tag) { tmp =>
      builds += 1
      val out = fs(tmp).create(new Path(tmp, "payload.txt"))
      try out.write("payload".getBytes("UTF-8")) finally out.close()
    }
    val first = get()
    val second = get()
    assert(first === second)
    assert(builds === 1)
    assert(fs(first).exists(new Path(first, "_SUCCESS")))
    assert(fs(first).exists(new Path(first, "payload.txt")))
  }
}
