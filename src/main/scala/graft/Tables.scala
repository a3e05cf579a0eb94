package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Accessors for the driver-generated testdata tables plus shared
  * oracle-parity helpers (SURVEY.md §7.4 R3/R4).
  *
  * Money/metric columns in the testdata are doubles; to hash-match the
  * DuckDB oracle we sum them as exact decimals (deterministic regardless
  * of partitioning / add order) and round the few genuinely-floating
  * outputs (avg, stddev) to a fixed scale in BOTH engines.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.engine.io.Storage.readParquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some
    * testdata generations and TIMESTAMP(MICROS) in others, so the reader
    * adapts to whichever is on disk. NANOS: Spark 4 refuses to read it as
    * a timestamp, so read raw nanos (legacy conf) and truncate to a µs
    * TimestampType — the same floor-division DuckDB's `epoch_us()`
    * applies. MICROS: Spark infers TIMESTAMP_NTZ; every graft session
    * runs with session timeZone=UTC, so the NTZ→TimestampType cast is
    * value-preserving and lands on the exact µs DuckDB's `epoch_us()`
    * reads. Either way downstream sees µs TimestampType (SURVEY §7.4 R2). */
  def events(s: SparkSession, d: String): DataFrame = {
    // every graft session builder sets nanosAsLong; a read cannot set it
    // for itself, because the parquet reader reads it again when the
    // plan executes, after any scope this call could open has closed
    require(s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
        .contains("true"),
      "events needs spark.sql.legacy.parquet.nanosAsLong=true on the " +
        "session (set it when the session is built)")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ (µs): UTC session ⇒ same instant
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case other =>
        // fail loudly: a silent cast of an unexpected regen type (string,
        // int32, …) would turn every downstream event into null
        throw new IllegalStateException(
          s"events.ts has unsupported on-disk type $other — " +
            "add an explicit branch for the new testdata generation")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Exact decimal sum of a double expression: cast each value to
    * DECIMAL(18,scale) pre-agg (sum order then irrelevant — the decimal
    * add is associative), then emit ROUND(CAST(sum AS DOUBLE), scale).
    * The final DOUBLE keeps the driver's pandas comparator happy (it
    * hash-compares DECIMAL columns representation-sensitively); both
    * engines cast the identical decimal to the identical double. Mirror
    * with ROUND(CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE), s). */
  def dsum(c: Column, scale: Int): Column =
    round(sum(c.cast(DecimalType(18, scale))).cast("double"), scale)

  /** Double average rounded to a fixed scale — mirror with
    * ROUND(AVG(x), scale) in the oracle. */
  def ravg(c: Column, scale: Int): Column = round(avg(c), scale)
}
