package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The measuring process of one benchmark run (see perfbench/run.py,
  * which builds it, makes the inputs and reads the result file).
  *
  * Order of work: [[Setups]] session builds with warm-up (the first one
  * timed from JVM start), one cold pass over the workload's op mix on
  * the empty per-run warehouse, steady passes until `seconds` have
  * passed (at least three; four when tracing), then an
  * untimed correctness pass that dumps every oracle key's output for the
  * DuckDB comparison. Every pass runs the mix in an order drawn from the
  * seed. With `--trace 1` the cold pass and every other steady pass are
  * traced; the untraced steady passes give the tracing overhead. */
object Main {
  /** Session builds per run; `setup_s` is their median. */
  val Setups = 3

  final case class OpRun(name: String, seconds: Double, ok: Boolean,
      err: String, fingerprint: Option[String])
  final case class PassRun(pass: Int, kind: String, traced: Boolean,
      wall: Double, ops: Seq[OpRun])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val (data, run, cores) = (a("data"), a("run"), a("cores").toInt)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    var spark: SparkSession = null
    var ops: Seq[Op] = Nil
    val setupS = (1 to Setups).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t = System.nanoTime()
      spark = session(run, cores)
      val t1 = System.nanoTime()
      ops = Workloads(workload)
      val t2 = System.nanoTime()
      warmUp(spark, data)
      val t3 = System.nanoTime()
      System.err.println(f"[perfbench] setup $i: session ${(t1 - t) / 1e9}%.2f s, " +
        f"registry ${(t2 - t1) / 1e9}%.2f s, warm-up ${(t3 - t2) / 1e9}%.2f s")
      if (i == 1) (System.currentTimeMillis() - jvmStart) / 1000.0
      else (t3 - t) / 1e9
    }

    val t0 = System.nanoTime()
    val tracer = new Tracer(spark.sparkContext, new File(run).getName, t0)
    val ctx = new Ctx(spark, data, s"$run/scratch", tracer)
    val roots = Seq("warehouse", "tmp", "scratch").map(d => new File(run, d))

    def runPass(p: Int, kind: String, traced: Boolean): PassRun = {
      tracer.pass = p
      tracer.on = traced
      val order = new Random(seed * 1000003L + p).shuffle(ops)
      val start = System.nanoTime()
      val runs = order.map { op =>
        val before = if (traced) Some(FsState.of(roots)) else None
        val t = System.nanoTime()
        var fp: Option[String] = None
        val err = try {
          tracer("op", op.name, op.module) {
            if (op.layer == "queries") fp = execute(op, ctx, traced)
            else tracer(op.layer, op.name) { fp = execute(op, ctx, traced) }
          }
          ""
        } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
        val secs = (System.nanoTime() - t) / 1e9
        graft.engine.ml.Dedup.unpersistTracked()
        before.foreach(b => tracer.lastOp.fs = Some(FsState.of(roots).since(b)))
        OpRun(op.name, secs, err.isEmpty, err.take(400), fp)
      }
      if (traced) tracer.drain()
      PassRun(p, kind, traced, (System.nanoTime() - start) / 1e9, runs)
    }

    val passes = ArrayBuffer(runPass(0, "cold", trace))
    val steadyStart = System.nanoTime()
    def steady = passes.drop(1)
    def enough = (System.nanoTime() - steadyStart) / 1e9 >= seconds &&
      steady.size >= (if (trace) 4 else 3)
    while (!enough) {
      val p = passes.size
      passes += runPass(p, "steady", trace && p % 2 == 0)
    }
    val peakRssKb = vmHwmKb()

    // untimed correctness pass: oracle keys dump their full output for
    // the DuckDB comparison, the rest must fingerprint alike every pass
    tracer.on = false
    tracer.pass = -1
    val gateDir = s"$run/gate"
    val gateErrors = ops.filter(_.oracle.isDefined).flatMap { op =>
      try {
        op.call(ctx).write.mode("overwrite").parquet(s"$gateDir/${op.name}")
        graft.engine.ml.Dedup.unpersistTracked()
        None
      } catch { case e: Throwable => Some(op.name -> String.valueOf(e.getMessage).take(400)) }
    }
    new File(gateDir).mkdirs()
    Files.writeString(Paths.get(s"$gateDir/oracle_sql.json"),
      ops.flatMap(op => op.oracle.map(Json.str(op.name) + ": " + Json.str(_)))
        .mkString("{", ",\n", "}"))
    val fingerprintMismatch = ops.filter(_.oracle.isEmpty).map(_.name)
      .filter { n =>
        passes.flatMap(_.ops).filter(r => r.name == n && r.ok)
          .flatMap(_.fingerprint).distinct.size > 1
      }
    spark.stop()

    if (trace) Files.write(Paths.get(a("spans")), tracer.jsonl.toSeq.asJava)
    val opJson = (r: OpRun) =>
      s"""{"name":${Json.str(r.name)},"s":${r.seconds},"ok":${r.ok},""" +
        s""""err":${Json.str(r.err)},"fp":${r.fingerprint.map(Json.str)
          .getOrElse("null")}}"""
    val passJson = passes.map { p =>
      s"""{"pass":${p.pass},"kind":"${p.kind}","traced":${p.traced},""" +
        s""""wall_s":${p.wall},"ops":${p.ops.map(opJson).mkString("[", ",", "]")}}"""
    }
    val layerOf = ops.map(op => Json.str(op.name) + ":" + Json.str(op.layer))
    val moduleOf = ops.map(op => Json.str(op.name) + ":" + Json.str(op.module))
    Files.writeString(Paths.get(a("out")),
      s"""{"workload":${Json.str(workload)},"seed":$seed,"cores":$cores,""" +
        s""""setup_s":${setupS.mkString("[", ",", "]")},""" +
        s""""peak_rss_kb":$peakRssKb,""" +
        s""""layer":${layerOf.mkString("{", ",", "}")},""" +
        s""""module":${moduleOf.mkString("{", ",", "}")},""" +
        s""""oracle_keys":${ops.filter(_.oracle.isDefined).map(o => Json.str(o.name)).mkString("[", ",", "]")},""" +
        s""""gate_errors":${gateErrors.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}")},""" +
        s""""fingerprint_mismatch":${fingerprintMismatch.map(Json.str).mkString("[", ",", "]")},""" +
        s""""passes":${passJson.mkString("[\n", ",\n", "]")}}""")
  }

  /** Constructs, (traced only) plans, then materializes every column of
    * the op's result through the `noop` sink. Ops without an oracle also
    * collect an order-independent fingerprint (row count and a sum of
    * row hashes) as the rows stream past. */
  private def execute(op: Op, c: Ctx, traced: Boolean): Option[String] = {
    val df =
      if (op.layer == "queries") c.trace("queries", "build")(op.call(c))
      else op.call(c)
    if (traced) c.trace("spark", "plan")(df.queryExecution.executedPlan)
    c.trace("spark", "exec") {
      if (op.oracle.isDefined) { noop(df); None }
      else {
        val obs = Observation()
        val h = xxhash64(df.columns.map(n => df.col(s"`$n`")).toSeq: _*)
        noop(df.observe(obs, count(lit(1)).as("n"),
          coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)).as("h")))
        val r = obs.get
        Some(s"${r("n")}:${r("h")}")
      }
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def session(run: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .config("spark.local.dir", s"$run/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** JIT, codegen and parquet-reader warm-up: one aggregate over a
    * generated range and one scan of the largest input table. */
  private def warmUp(s: SparkSession, data: String): Unit = {
    s.range(1000000L).selectExpr("sum(id)").collect()
    s.read.parquet(s"$data/lineitem.parquet").count()
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
}

/** Sizes and modification times of every file under the run's storage
  * roots, to attribute files written (and artifact stores completed) to
  * the op that wrote them. */
final case class FsState(files: Map[String, (Long, Long)]) {
  def since(before: FsState): FsDelta = {
    val changed = files.filter { case (p, v) => !before.files.get(p).contains(v) }
    FsDelta(changed.size.toLong, changed.values.map(_._1).sum,
      changed.keys.count(p => p.endsWith("/_SUCCESS") &&
        p.contains("/warehouse/") && !before.files.contains(p)).toLong)
  }
}

object FsState {
  def of(roots: Seq[File]): FsState = {
    val out = Map.newBuilder[String, (Long, Long)]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else out += f.getPath -> (f.length(), f.lastModified())
    roots.foreach(walk)
    FsState(out.result())
  }
}
