package graft.tools

import org.apache.spark.sql.SparkSession

/** The one session shape of the mains (`graft.Verify`, `graft.Bench`,
  * `graft.Plans`, [[ExplainDump]], [[RecallProbe]]): `local[n]` with n
  * from SPARK_GRAFT_CPUS (default 4), shuffle partitions = n, UTC
  * session time zone, nanosecond parquet timestamps read as longs, no
  * UI, and an optional warehouse dir. */
object Session {
  def build(warehouseDir: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    b.getOrCreate()
  }
}
