package graft.engine.catalog

import graft.engine.io.Storage
import graft.engine.meta.TableMeta
import graft.engine.ops.Conform
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Register declared tables into the Spark session catalog so they are
  * queryable by name via `spark.sql` — the Spark re-expression of the
  * reference's Glue-catalog registration (SURVEY.md §1.2
  * [RECONSTRUCTED]: `glue.py` creates Glue tables from metadata JSON).
  *
  * On a cluster with a persistent metastore the same metadata drives
  * `CREATE TABLE ... USING parquet LOCATION ...`; in this offline harness
  * we register temp views over the declared location, conformed to the
  * declared schema.
  */
object Catalog {

  /** Register `meta` as a temp view named `viewName` (default: the
    * metadata's own table name), reading from `location`. */
  def register(spark: SparkSession, meta: TableMeta, location: String,
      viewName: Option[String] = None): DataFrame = {
    val df = Conform.conform(Storage.readParquet(spark, location), meta)
    df.createOrReplaceTempView(viewName.getOrElse(meta.name))
    df
  }

  /** Persistent (metastore) external table over a parquet location —
    * the closest offline analogue of Glue table creation: the declared
    * schema becomes DDL, the data stays where it is. */
  def registerExternal(spark: SparkSession, meta: TableMeta,
      location: String, table: Option[String] = None): Unit = {
    val name = table.getOrElse(meta.name)
    val cols = meta.columns
      .map(c => s"`${c.name}` ${c.sparkField.dataType.sql}")
      .mkString(", ")
    // escape the interpolated location so a path cannot break (or
    // smuggle clauses into) the DDL statement: backslashes first (Spark
    // SQL literals treat \ as an escape by default), then quotes
    val loc = location.replace("\\", "\\\\").replace("'", "''")
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$name` ($cols) " +
      s"USING parquet LOCATION '$loc'")
  }

  def dropExternal(spark: SparkSession, name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS `$name`")

  /** ANALYZE the table + the named columns — the optimizer-statistics
    * feed (CBO food): table row count/size plus per-column null count,
    * NDV and min/max land in the catalog, where `spark.sql.cbo.enabled`
    * consumes them for filter-cardinality estimation, join reorder and
    * hint-free broadcast decisions (PlanSpec-asserted). At 100× this is
    * the ingest-time step that lets join ORDER come from statistics
    * instead of only runtime AQE re-planning. */
  def analyzeColumns(spark: SparkSession, name: String,
      cols: Seq[String]): Unit = {
    spark.sql(s"ANALYZE TABLE `$name` COMPUTE STATISTICS")
    val colList = cols.map(c => s"`$c`").mkString(", ")
    spark.sql(s"ANALYZE TABLE `$name` COMPUTE STATISTICS FOR COLUMNS $colList")
  }

  /** Read the ANALYZE results back from the catalog as data:
    * (col_name, n_rows, n_nulls, ndv_ok, min_val, max_val). Row count,
    * null count and min/max are exact and hash-compared raw. NDV comes
    * from HyperLogLog++ at the default 5% target error — measurably
    * approximate even at dimension-table cardinality (26 vs 25 at
    * sf0.01) — so it is emitted as a tolerance audit: ndv_ok = the
    * catalog's estimate is within 5% of the exact distinct count (the
    * same bounds-audit discipline as the ANN recall keys). */
  def columnStats(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.TableIdentifier
    val meta = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(name))
    val stats = meta.stats.getOrElse(throw new IllegalStateException(
      s"no stats on $name — run analyzeColumns first"))
    val nRows = stats.rowCount.map(_.toLong).getOrElse(-1L)
    val table = spark.table(name)
    val exact: Map[String, Long] = stats.colStats.keys.toSeq.sorted match {
      case Seq() => Map.empty
      case cols =>
        val r = table.select(cols.map(c =>
          org.apache.spark.sql.functions.countDistinct(c).as(c)): _*).head()
        cols.zipWithIndex.map { case (c, i) => c -> r.getLong(i) }.toMap
    }
    stats.colStats.toSeq.sortBy(_._1).map { case (c, cs) =>
      val ndv = cs.distinctCount.map(_.toLong).getOrElse(-1L)
      val ok = exact.get(c).exists(e =>
        e > 0 && math.abs(ndv - e) <= math.max(1L, (e * 0.05).toLong))
      (c, nRows,
        cs.nullCount.map(_.toLong).getOrElse(-1L),
        ok, cs.min.getOrElse(""), cs.max.getOrElse(""))
    }.toDF("col_name", "n_rows", "n_nulls", "ndv_ok", "min_val", "max_val")
  }

  def drop(spark: SparkSession, name: String): Boolean =
    spark.catalog.dropTempView(name)

  def exists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(name)
}
