package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every key in `queries` is an operator from SURVEY.md §2; every key with
  * an `oracleSql` entry is hash-checked against DuckDB on the same parquet
  * tables (bare table names bound as views). Column names are identical on
  * both sides; every query ends in a deterministic total ORDER BY; float
  * outputs are decimal-cast or rounded (SURVEY §7.4 R3/R4).
  */
object SparkEntry {

  /** The full operator registry, one [[graft.queries.Q]] per SURVEY §2 key. */
  val all: Seq[Q] =
    Scans.qs ++ Projections.qs ++ Joins.qs ++ Aggregates.qs ++
      Windows.qs ++ SetOps.qs ++ Scalars.qs ++ Streaming.qs ++
      Llm.qs ++ UdfQueries.qs ++ IoQueries.qs ++ Profiling.qs ++
      SqlSurface.qs ++ Analytics.qs ++ Etl.qs ++ Curation.qs ++
      Behavior.qs ++ Ml.qs ++ Tokenize.qs ++ Quality.qs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggregates.aggGroupBy(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Registry contract note: CONSTRUCTION IS NOT FREE for every key.
    * Some queries run bounded Spark jobs while they build their
    * DataFrame, collecting a by-construction-bounded seed, codebook,
    * sketch or candidate pool (the MLlib collect-and-broadcast shape),
    * and the IO keys write before they read. `WindowCensusSpec` pins
    * which keys may do so and how many jobs each may launch. Tooling
    * that calls `queries(k)(spark, d)` just to inspect the plan pays
    * that execution; nothing is memoized across invocations. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
