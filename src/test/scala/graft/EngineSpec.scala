package graft

import graft.engine.catalog.Catalog
import graft.engine.io.Storage
import graft.engine.ml.Multimodal
import graft.engine.ml.Multimodal.{MediaMeta, MediaRow}
import graft.engine.udf.Udfs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Engine utility verbs: storage, catalog, multimodal plumbing, UDAF —
  * the reference-parity surface without SQL oracles (SURVEY §1.2, §2.9,
  * §2.10). */
class EngineSpec extends AnyFunSuite with SparkFixture {

  private def tmp(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_test/$name"

  test("Storage: write/read/list/copy/delete folder round-trip") {
    val base = tmp(s"storage_${System.nanoTime()}")
    Storage.writeString(spark, s"$base/a/x.json", """{"k": 1}""")
    Storage.writeString(spark, s"$base/a/y.txt", "hello")
    assert(Storage.readString(spark, s"$base/a/x.json") === """{"k": 1}""")
    assert(Storage.listFolder(spark, s"$base/a").size === 2)
    assert(Storage.listFiles(spark, base).size === 2)
    Storage.copyFolder(spark, s"$base/a", s"$base/b")
    assert(Storage.readString(spark, s"$base/b/y.txt") === "hello")
    // a move leaves no source and the same tree at the destination
    assert(Storage.moveFolder(spark, s"$base/b", s"$base/c"))
    assert(!Storage.exists(spark, s"$base/b"))
    assert(Storage.listFolder(spark, s"$base/c").map(_.split('/').last) ===
      Seq("x.json", "y.txt"))
    assert(Storage.readString(spark, s"$base/c/x.json") === """{"k": 1}""")
    // the full footer's row groups add up to the file's rows
    spark.range(0, 50000).selectExpr("id", "id * 3 AS v").coalesce(1)
      .write.option("parquet.block.size", "65536").parquet(s"$base/pq")
    val file = Storage.listFiles(spark, s"$base/pq")
      .filter(_.endsWith(".parquet")).head
    val groups = Storage.footer(spark, file).getBlocks.asScala
      .map(_.getRowCount)
    assert(groups.size >= 2, groups)
    assert(groups.sum === spark.read.parquet(file).count())
    assert(Storage.deleteFolder(spark, base))
    assert(!Storage.exists(spark, base))
    assert(Storage.listFolder(spark, base).isEmpty)
  }

  test("Catalog: register from metadata, query by name, drop") {
    val df = Catalog.register(spark, graft.queries.Scans.nationMeta,
      s"$sf/nation.parquet")
    assert(Catalog.exists(spark, "graft_nation"))
    val n = spark.sql("SELECT COUNT(*) FROM graft_nation").head().getLong(0)
    assert(n === 25)
    assert(df.schema.fieldNames.toSeq ===
      Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(Catalog.drop(spark, "graft_nation"))
    assert(!Catalog.exists(spark, "graft_nation"))
  }

  test("Query: SQL passthrough over a registered dataset folder") {
    import graft.engine.sql.Query
    val registered = Query.registerAll(spark, sf)
    assert(registered.toSet.contains("lineitem") &&
      registered.contains("events"))
    val r = Query.sql(spark,
      """SELECT l_returnflag, COUNT(*) AS n FROM lineitem
         GROUP BY 1 ORDER BY 1""").collect()
    assert(r.map(_.getString(0)).toSeq === Seq("A", "N", "R"))
    // native function resolves in passthrough SQL
    val c = Query.sql(spark,
      """SELECT MAX(graft_cosine(embedding, embedding)) FROM embeddings""")
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-9)
    // events view got the µs normalization (no ns read error)
    assert(Query.sql(spark,
      "SELECT COUNT(*) FROM events").head().getLong(0) > 0)
  }

  test("Catalog: persistent external table from declared metadata") {
    Catalog.registerExternal(spark, graft.queries.Scans.nationMeta,
      s"$sf/nation.parquet", Some("graft_nation_ext"))
    try {
      val n = spark.sql("SELECT COUNT(*) FROM graft_nation_ext")
        .head().getLong(0)
      assert(n === 25)
      assert(spark.table("graft_nation_ext").schema.fieldNames.toSeq ===
        Seq("n_nationkey", "n_name", "n_regionkey"))
    } finally Catalog.dropExternal(spark, "graft_nation_ext")
    assert(!spark.catalog.tableExists("graft_nation_ext"))
  }

  test("Catalog: external DDL survives quotes and backslashes in location") {
    // hostile-but-legal POSIX paths must be escaped so the interpolated
    // LOCATION can neither break nor smuggle clauses into the DDL.
    // Quote path: full round-trip.
    val quoted = s"${sys.props("java.io.tmpdir")}/graft_test/" +
      s"loc_'q'_${System.nanoTime()}"
    Tables.nation(spark, sf).write.mode("overwrite").parquet(quoted)
    Catalog.registerExternal(spark, graft.queries.Scans.nationMeta,
      quoted, Some("graft_weird_ext"))
    try {
      assert(spark.sql("SELECT COUNT(*) FROM graft_weird_ext")
        .head().getLong(0) === 25)
    } finally Catalog.dropExternal(spark, "graft_weird_ext")
    // Backslash path: Hadoop's glob layer treats \ as its own escape,
    // so data can't live there — but the DDL layer must still pass the
    // literal through unmangled: the path-resolution error has to quote
    // the path VERBATIM (a parse error or a clause-smuggled statement
    // would surface very differently).
    val bs = s"${sys.props("java.io.tmpdir")}/graft_test/no_such_b\\s_dir"
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Catalog.registerExternal(spark, graft.queries.Scans.nationMeta,
        bs, Some("graft_weird_ext2"))
    }
    assert(err.getMessage.contains("b\\s_dir"), err.getMessage)
    Catalog.dropExternal(spark, "graft_weird_ext2")
  }

  test("Multimodal: feature extraction is deterministic over binary media") {
    val rows = (0L until 10L).map { i =>
      MediaRow(i, Array.tabulate(100 + i.toInt)(j => (i + j).toByte),
        MediaMeta("fake/raw", 10, 10, 0L))
    }
    val media = Multimodal.asMediaTable(spark, rows)
    val feats = Multimodal.extractFeatures(media).collect()
      .sortBy(_.media_id)
    assert(feats.length === 10)
    assert(feats.forall(_.features.length === Multimodal.FakeCodec.FeatureDim))
    // deterministic: same bytes → same checksum/features
    val again = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(feats.map(_.checksum).toSeq === again.map(_.checksum).toSeq)
    assert(feats(0).byte_len === 100)
  }

  test("Multimodal: frame sampling strides the payload") {
    val rows = Seq(MediaRow(1L, Array.tabulate(100)(_.toByte),
      MediaMeta("fake/video", 0, 0, 1000L)))
    val frames = Multimodal
      .sampleFrames(Multimodal.asMediaTable(spark, rows), 10, 2)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq === Seq(0, 2, 4, 6, 8))
    assert(frames.forall(_.frame.length === 10))
    assert(frames(1).frame(0) === 20.toByte)
  }

  test("WeightedAvgPrice aggregator matches the plain-SQL formulation") {
    val wavg = udaf(Udfs.WeightedAvgPrice)
    val got = Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(wavg(col("l_extendedprice"), col("l_quantity")).as("w"))
      .orderBy("l_returnflag").collect().map(r => r.getString(0) -> r.getDouble(1))
    val want = Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)") *
        col("l_quantity").cast("decimal(18,2)")).cast("double") /
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")).as("w"))
      .orderBy("l_returnflag").collect().map(r => r.getString(0) -> r.getDouble(1))
    got.zip(want).foreach { case ((fg, g), (fw, w)) =>
      assert(fg === fw)
      assert(math.abs(g - w) < 5e-5, s"$fg: $g vs $w")
    }
  }

  test("approx_count_distinct stays within 5% of the exact count") {
    // the declared relation carries (exact count, within-tolerance
    // flag); re-derive the exact side independently and require every
    // tolerance flag true
    val rows = SparkEntry.queries("agg_approx_distinct")(spark, sf)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    val exact = Tables.orders(spark, sf)
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows.keySet === exact.keySet)
    exact.foreach { case (y, n) =>
      val (e, ok) = rows(y)
      assert(e === n, s"year $y: declared exact $e vs recomputed $n")
      assert(ok, s"year $y: approx_count_distinct out of 5% tolerance")
    }
  }

  test("approx_percentile lands within 2% of the exact quantiles") {
    // the declared relation carries the tolerance flags; re-derive the
    // sketch-vs-exact comparison independently as well
    val rows = SparkEntry.queries("agg_approx_percentile")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> ((r.getBoolean(2), r.getBoolean(3))))
      .toMap
    val indep = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)")
          .as("a"),
        expr("percentile(l_extendedprice, array(0.5, 0.95))").as("p"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getSeq[Double](1), r.getSeq[Double](2))))
      .toMap
    assert(rows.keySet === indep.keySet)
    indep.foreach { case (flag, (a, e)) =>
      assert(math.abs(a(0) - e(0)) / e(0) <= 0.02, s"$flag p50")
      assert(math.abs(a(1) - e(1)) / e(1) <= 0.02, s"$flag p95")
      val (ok50, ok95) = rows(flag)
      assert(ok50 && ok95, s"$flag: declared tolerance flag false")
    }
  }

  test("broadcast-scored language-ID ≡ the join-based formulation") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf)
    val fast = graft.engine.ml.Text.langIdPredict(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // reference: explode distinct (doc, gram), join the topK profile,
    // count overlap, rank — the formulation the narrow pass replaced
    import spark.implicits._
    val docGramCounts = docs.select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .flatMap { case (id, lang, text) =>
        text.sliding(3).filter(_.length == 3).toSeq.distinct
          .map(g => (id, lang, g))
      }.toDF("doc_id", "lang", "gram")
    val gramFreq = docs.select(col("lang"), col("text"))
      .as[(String, String)]
      .flatMap { case (lang, text) =>
        text.sliding(3).filter(_.length == 3).map(g => (lang, g))
      }.toDF("lang", "gram")
      .groupBy("lang", "gram").agg(count(lit(1)).as("freq"))
    val profile = gramFreq
      .withColumn("rk", row_number().over(Window.partitionBy("lang")
        .orderBy(desc("freq"), asc("gram"))))
      .filter(col("rk") <= 40)
      .select(col("lang").as("profile_lang"), col("gram"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("overlap"), asc("profile_lang"))
    val want = docGramCounts.select("doc_id", "gram")
      .join(profile, "gram")
      .groupBy("doc_id", "profile_lang").agg(count(lit(1)).as("overlap"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(fast === want)
  }

  test("ensureRegistered twice replaces no registered function") {
    val replaced = logged(
      Seq("org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry"),
      Seq("replaced a previously registered function")) {
      graft.engine.expr.GraftFunctions.ensureRegistered(spark)
      graft.engine.expr.GraftFunctions.ensureRegistered(spark)
    }
    assert(replaced.isEmpty, replaced)
    val one = Tables.embeddings(spark, sf).limit(1)
      .select(expr("graft_cosine(embedding, embedding)")).head().getDouble(0)
    assert(math.abs(one - 1.0) < 1e-12)
  }

  test("graft_kmv sketch: k-th smallest distinct, merge-invariant") {
    graft.engine.expr.GraftFunctions.ensureRegistered(spark)
    import org.apache.spark.sql.expressions.Window
    val hashed = Tables.orders(spark, sf).select(
      col("o_orderpriority"),
      conv(substring(md5(col("o_custkey").cast("string")), 1, 8), 16, 10)
        .cast("long").as("h"))
    val k = 16
    val got = hashed.repartition(13) // force partial-sketch merges
      .groupBy("o_orderpriority")
      .agg(expr(s"graft_kmv(h, $k)").as("kth"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = Window.partitionBy("o_orderpriority").orderBy("h")
    val want = hashed.distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
    // fewer than k distinct values → null (sketch not saturated)
    val tiny = hashed.limit(5).groupBy(lit(1))
      .agg(expr("graft_kmv(h, 1000)").as("kth")).head()
    assert(tiny.isNullAt(1))
  }

  test("hilbertSql matches the canonical xy2d walk (independent implementation)") {
    // the sort_hilbert oracle runs the SAME generated SQL in DuckDB, so
    // a generator bug would agree with itself — this pins the generated
    // expression against an independent Scala transcription of the
    // canonical algorithm
    def xy2d(n: Long, x0: Long, y0: Long): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = n / 2
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
          val t = x; x = y; y = t
        }
        s /= 2
      }
      d
    }
    spark.range(0, 500)
      .selectExpr("id AS p_partkey", "(id * 131) % 1024 AS x",
        "(id * 37) % 1024 AS y")
      .createOrReplaceTempView("graft_hil_probe")
    val rows = spark.sql(graft.queries.Analytics.hilbertSql(
      "SELECT p_partkey, x, y FROM graft_hil_probe")).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      assert(r.getLong(3) === xy2d(1024L, r.getLong(1), r.getLong(2)),
        s"(${r.getLong(1)}, ${r.getLong(2)})")
    }
  }

  test("driver contract: entry>0 rows; every oracle key has a query") {
    assert(SparkEntry.entry(spark).count() > 0)
    val qk = SparkEntry.queries.keySet
    val ok = SparkEntry.oracleSql.keySet
    assert(ok.subsetOf(qk), s"oracle-only keys: ${ok.diff(qk)}")
    assert(qk.size >= 70)
  }

  test("export_manifest reads its manifest back without a hidden-path warning") {
    val ignored = hiddenPathWarnings(
      SparkEntry.queries("export_manifest")(spark, sf).collect())
    assert(ignored.isEmpty, ignored.mkString("\n"))
  }
}
