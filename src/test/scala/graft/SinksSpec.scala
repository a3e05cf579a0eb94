package graft

import graft.engine.stream.Sinks
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.engine.stream.Sinks.upsertBatch]]: the jobs an upsert
  * launches, the bucket files it rewrites and the table it leaves. */
class SinksSpec extends AnyFunSuite with SparkFixture {

  private def dir(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_test/sinks_${name}_${System.nanoTime()}"

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The events table as sink rows. */
  private def events: DataFrame = Tables.events(spark, sf)
    .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t_us"),
      col("event_type"), col("value"))

  /** One global last-writer-wins over `rows`, as a rank window. */
  private def lww(rows: DataFrame): DataFrame = rows
    .withColumn("_r", row_number().over(Window.partitionBy("user_id")
      .orderBy(desc("t_us"), desc("event_id"))))
    .filter(col("_r") === 1).drop("_r")

  private def assertTable(target: String, want: DataFrame): Unit = {
    val got = spark.read.parquet(target).drop("bucket")
    assert(got.columns.toSeq === want.columns.toSeq)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty)
    assert(want.exceptAll(got).isEmpty)
  }

  /** bucket directory name → (file name, mtime) of its data files. */
  private def bucketFiles(target: String): Map[String, Set[(String, Long)]] =
    fs(target).listStatus(new Path(target)).filter(_.isDirectory)
      .map(d => d.getPath.getName -> fs(target).listStatus(d.getPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => (f.getPath.getName, f.getModificationTime)).toSet)
      .toMap

  test("an upsert into an absent target launches at most 3 jobs") {
    val batch = events
    val target = dir("absent")
    val (_, jobs) = jobsOf(Sinks.upsertBatch(batch, target, nBuckets = 4))
    assert(jobs <= 3, s"$jobs jobs")
    assertTable(target, lww(batch))
    // clustered by bucket: one file per bucket directory
    assert(bucketFiles(target).values.forall(_.size == 1))
  }

  test("a second batch rewrites only its buckets; the table is global LWW") {
    val target = dir("existing")
    val nBuckets = 16
    val bucket = pmod(hash(col("user_id")), lit(nBuckets))
    val first = events.filter(col("event_id") % 2 === 0)
    val second = events.filter(col("event_id") % 2 === 1 && bucket < 5)
    Sinks.upsertBatch(first, target, nBuckets)
    val before = bucketFiles(target)
    val touched = second.select(bucket).distinct().collect()
      .map(r => s"bucket=${r.getInt(0)}").toSet
    assert(touched.nonEmpty && before.keySet.diff(touched).nonEmpty)
    Thread.sleep(1100) // a rewrite within the same second shows in mtime
    Sinks.upsertBatch(second, target, nBuckets)
    val after = bucketFiles(target)
    before.keySet.diff(touched).foreach(b => assert(after(b) === before(b), b))
    touched.intersect(before.keySet).foreach(b =>
      assert(after(b).intersect(before(b)).isEmpty, b))
    assert(after.values.forall(_.size == 1))
    assertTable(target, lww(first.unionByName(second)))
  }
}
