package graft.engine.sql

import graft.engine.expr.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The SQL entry point — the reference's Athena-passthrough verb
  * ("submit SQL over registered tables, get a table back",
  * SURVEY §1.2 `athena.py` [RECONSTRUCTED]) re-expressed over
  * Catalyst: register a dataset folder's tables as temp views once,
  * then run arbitrary SQL against them. Native graft functions are
  * registered alongside, so `graft_cosine(...)` works in passthrough
  * SQL exactly like a builtin.
  */
object Query {

  val defaultTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Register every parquet table under `dir` as a same-named temp view
    * (events gets its ns→µs timestamp normalization). Returns the names
    * actually registered. */
  def registerAll(spark: SparkSession, dir: String,
      tables: Seq[String] = defaultTables): Seq[String] = {
    GraftFunctions.ensureRegistered(spark)
    tables.filter { t =>
      val path = s"$dir/$t.parquet"
      // scheme-aware existence (file://, s3a://, hdfs:// all resolve)
      val exists = graft.engine.io.Storage.exists(spark, path)
      if (exists) {
        val df =
          if (t == "events") graft.Tables.events(spark, dir)
          else graft.engine.io.Storage.readParquet(spark, path)
        df.createOrReplaceTempView(t)
      }
      exists
    }
  }

  /** Run SQL against the registered views. */
  def sql(spark: SparkSession, query: String): DataFrame = spark.sql(query)
}
