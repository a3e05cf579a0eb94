package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator from SURVEY.md §2: a name, a DataFrame program, and —
  * when SQL-expressible — the equivalent DuckDB oracle SQL used by the
  * driver's hash-compare. Non-SQL-expressible ops (IO roundtrips,
  * approximate ops, streaming-only semantics) omit the oracle and are
  * covered by ScalaTest instead. */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, fn: (SparkSession, String) => DataFrame,
            oracle: String): Q = Q(name, fn, Some(oracle))
}
