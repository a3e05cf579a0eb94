package graft

import graft.engine.io.Storage
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.engine.io.Storage.readParquet]]: the same DataFrame as
  * `spark.read.parquet`, without the schema-inference job, and always
  * of the files as they are now. */
class ParquetReadSpec extends AnyFunSuite with SparkFixture {

  private def dir(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_test/" +
      s"parquet_read_${name}_${System.nanoTime()}"

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The one `part-*.parquet` file Spark wrote under `d`. */
  private def partFile(d: String): Path =
    fs(d).listStatus(new Path(d)).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet"))
      .toSeq match {
        case Seq(p) => p
        case other => fail(s"expected one part file in $d: $other")
      }

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema)
    assert(got.columns.toSeq === want.columns.toSeq)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty)
    assert(want.exceptAll(got).isEmpty)
  }

  test("a repeat read of an unchanged path launches no job") {
    val d = dir("repeat")
    spark.range(20).selectExpr("id", "cast(id AS string) AS s")
      .write.parquet(d)
    val (_, first) = jobsOf(Storage.readParquet(spark, d))
    assert(first === 0)
    val (again, second) = jobsOf(Storage.readParquet(spark, d))
    assert(second === 0)
    assert(again.count() === 20)
  }

  test("flat, partitioned and nanosecond-timestamp reads match spark.read") {
    val flatDir = dir("flat")
    spark.range(30).selectExpr("id", "id * 0.5 AS x", "cast(id AS string) AS s")
      .coalesce(1).write.parquet(flatDir)
    val flat = partFile(flatDir).toString
    val bucketed = dir("bucketed")
    spark.range(40).selectExpr("id", "cast(id % 4 AS int) AS bucket",
      "cast(id AS string) AS s").write.partitionBy("bucket").parquet(bucketed)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val events = s"$sf/events.parquet"
    Seq(flat, bucketed, events).foreach { p =>
      Storage.readParquet(spark, p)
      val (cached, jobs) = jobsOf(Storage.readParquet(spark, p))
      assert(jobs === 0, p)
      assertSame(cached, spark.read.parquet(p))
    }
    assert(Storage.readParquet(spark, bucketed).columns.last === "bucket")
  }

  test("events fails fast on a session without nanosAsLong, leaving its conf") {
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    val s2 = spark.newSession()
    s2.conf.set(conf, "false")
    val e = intercept[IllegalArgumentException](Tables.events(s2, sf))
    assert(e.getMessage.contains(conf), e.getMessage)
    assert(s2.conf.get(conf) === "false")
    assert(spark.conf.get(conf) === "true")
  }

  test("a path overwritten with a different schema reads the new schema") {
    val d = dir("overwrite")
    spark.range(5).toDF("a").write.parquet(d)
    assert(Storage.readParquet(spark, d).columns.toSeq === Seq("a"))
    assert(Storage.readParquet(spark, d).columns.toSeq === Seq("a"))
    spark.range(7).selectExpr("cast(id AS string) AS b", "id AS c")
      .write.mode("overwrite").parquet(d)
    assertSame(Storage.readParquet(spark, d), spark.read.parquet(d))
    assert(Storage.readParquet(spark, d).columns.toSeq === Seq("b", "c"))
  }

  test("a same-name in-place file replacement is seen") {
    val d = dir("inplace")
    spark.range(5).toDF("a").coalesce(1).write.parquet(d)
    val src = dir("inplace_src")
    spark.range(9).selectExpr("id AS k", "cast(id AS string) AS v")
      .coalesce(1).write.parquet(src)
    val target = partFile(d)
    assert(Storage.readParquet(spark, d).columns.toSeq === Seq("a"))
    FileUtil.copy(fs(src), partFile(src), fs(d), target, false, true,
      spark.sparkContext.hadoopConfiguration)
    assert(partFile(d) === target)
    val got = Storage.readParquet(spark, d)
    assert(got.columns.toSeq === Seq("k", "v"))
    assertSame(got, spark.read.parquet(d))
  }

  test("a missing path fails like spark.read.parquet") {
    val missing = dir("missing")
    val want = intercept[Throwable](spark.read.parquet(missing))
    val got = intercept[Throwable](Storage.readParquet(spark, missing))
    assert(got.getClass === want.getClass)
    assert(got.getMessage === want.getMessage)
  }

  /** `body` throws the same exception class and message as `want`. */
  private def assertFailsLike(want: => Any)(body: => Any): Unit = {
    val expected = intercept[Throwable](want)
    val got = intercept[Throwable](body)
    assert(got.getClass === expected.getClass)
    assert(got.getMessage === expected.getMessage)
  }

  test("a cached path that is then deleted fails like spark.read.parquet") {
    val d = dir("deleted")
    spark.range(4).toDF("a").write.parquet(d)
    Storage.readParquet(spark, d)
    assert(jobsOf(Storage.readParquet(spark, d))._2 === 0)
    fs(d).delete(new Path(d), true)
    assertFailsLike(spark.read.parquet(d))(Storage.readParquet(spark, d))
  }

  test("a cached path emptied of data files fails like spark.read.parquet") {
    val d = dir("emptied")
    spark.range(4).toDF("a").coalesce(1).write.parquet(d)
    Storage.readParquet(spark, d)
    assert(jobsOf(Storage.readParquet(spark, d))._2 === 0)
    fs(d).delete(partFile(d), false)
    assert(fs(d).exists(new Path(d, "_SUCCESS")))
    assertFailsLike(spark.read.parquet(d))(Storage.readParquet(spark, d))
  }

  test("a glob reads like spark.read.parquet and sees a new match") {
    val base = dir("glob")
    Seq("x", "y").foreach(n =>
      spark.range(6).selectExpr("id", s"'$n' AS n").write.parquet(s"$base/$n"))
    val glob = s"$base/*"
    Storage.readParquet(spark, glob)
    val (cached, jobs) = jobsOf(Storage.readParquet(spark, glob))
    assert(jobs === 0)
    assertSame(cached, spark.read.parquet(glob))
    spark.range(3).selectExpr("id", "'z' AS n").write.parquet(s"$base/z")
    val grown = Storage.readParquet(spark, glob)
    assert(grown.count() === 15)
    assertSame(grown, spark.read.parquet(glob))
  }

  test("a first read of an unseen path reads one footer: no job, same frame") {
    val flatDir = dir("first_flat")
    spark.range(30).selectExpr("id", "id * 0.5 AS x", "cast(id AS string) AS s")
      .coalesce(1).write.parquet(flatDir)
    val bucketed = dir("first_bucketed")
    spark.range(40).selectExpr("id", "cast(id % 4 AS int) AS bucket",
      "cast(id AS string) AS s").write.partitionBy("bucket").parquet(bucketed)
    Seq(partFile(flatDir).toString, bucketed, s"$sf/events.parquet").foreach {
      p =>
        val (first, jobs) = jobsOf(Storage.readParquet(spark, p))
        assert(jobs === 0, p)
        assertSame(first, spark.read.parquet(p))
    }
  }

  test("with mergeSchema on, the first read merges like spark.read.parquet") {
    val base = dir("merge")
    spark.range(4).toDF("a").write.parquet(s"$base/k=1")
    spark.range(4).selectExpr("id AS a", "id * 2 AS b").write.parquet(s"$base/k=2")
    graft.engine.Confs.withConf(spark, "spark.sql.parquet.mergeSchema", "true") {
      val got = Storage.readParquet(spark, base)
      assert(got.columns.toSeq === Seq("a", "b", "k"))
      assertSame(got, spark.read.parquet(base))
    }
  }

  test("a _common_metadata summary is read like spark.read.parquet") {
    val d = dir("summary")
    spark.range(6).selectExpr("id AS a", "cast(id AS string) AS b")
      .coalesce(1).write.parquet(d)
    // a summary whose schema lists the columns in another order: Spark's
    // inference reads it in place of any data file footer
    val src = dir("summary_src")
    spark.range(1).selectExpr("cast(id AS string) AS b", "id AS a")
      .coalesce(1).write.parquet(src)
    FileUtil.copy(fs(src), partFile(src), fs(d), new Path(d, "_common_metadata"),
      false, true, spark.sparkContext.hadoopConfiguration)
    val want = spark.read.parquet(d)
    assert(want.columns.toSeq === Seq("b", "a"))
    assertSame(Storage.readParquet(spark, d), want)
  }

  test("a same-name rewrite keeping length and mtime reads the new file") {
    val a = dir("same_len_a")
    val b = dir("same_len_b")
    spark.range(5).toDF("a").coalesce(1).write.parquet(a)
    spark.range(5).toDF("b").coalesce(1).write.parquet(b)
    val (target, src) = (partFile(a), partFile(b))
    val before = fs(a).getFileStatus(target)
    assert(before.getLen === fs(b).getFileStatus(src).getLen)
    assert(Storage.readParquet(spark, a).columns.toSeq === Seq("a"))
    FileUtil.copy(fs(b), src, fs(a), target, false, true,
      spark.sparkContext.hadoopConfiguration)
    fs(a).setTimes(target, before.getModificationTime, -1)
    val after = fs(a).getFileStatus(target)
    assert((after.getLen, after.getModificationTime) ===
      ((before.getLen, before.getModificationTime)))
    val got = Storage.readParquet(spark, a)
    assert(got.columns.toSeq === Seq("b"))
    assert(got.orderBy("b").collect().map(_.getLong(0)).toSeq === (0L until 5L))
  }

  test("flat, partitioned, nested and events reads analyze like spark.read") {
    val flat = dir("plan_flat")
    spark.range(12).selectExpr("id", "cast(id AS string) AS s")
      .coalesce(1).write.parquet(flat)
    val bucketed = dir("plan_bucketed")
    spark.range(12).selectExpr("id", "cast(id % 3 AS int) AS bucket")
      .write.partitionBy("bucket").parquet(bucketed)
    // spark.range's id is non-nullable, so these nested columns are
    // stored with required fields, elements and values
    val nested = dir("plan_nested")
    spark.range(6).selectExpr("id", "array(id, id + 1) AS xs",
        "map(id, named_struct('v', id)) AS m",
        "named_struct('a', id, 'b', array(named_struct('c', id))) AS st")
      .coalesce(1).write.parquet(nested)
    // the string Artifacts.fingerprintOf hashes
    def plan(df: DataFrame): String = df.queryExecution.analyzed.canonicalized
      .treeString(verbose = true, addSuffix = false,
        maxFields = Int.MaxValue, printOperatorId = false)
      .replaceAll("@[0-9a-fA-F]+", "")
    Seq(flat, bucketed, nested, s"$sf/events.parquet").foreach { p =>
      val (got, jobs) = jobsOf(Storage.readParquet(spark, p))
      assert(jobs === 0, p)
      val want = spark.read.parquet(p)
      assert(got.schema === want.schema, p)
      assert(plan(got) === plan(want), p)
    }
  }
}
