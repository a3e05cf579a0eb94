package graft.tools

import org.apache.spark.sql.SparkSession

/** The one graft session shape, for every session under `src/`: the
  * mains (`graft.Verify`, `graft.Bench`, [[ExplainDump]],
  * [[RecallProbe]]) build it with `cores` from SPARK_GRAFT_CPUS
  * (default 4), the test suites' `SparkFixture` with its fixed 4.
  * `local[cores]`, shuffle partitions = cores, UTC session time zone,
  * nanosecond parquet timestamps read as longs (`Tables.events` fails
  * fast without it), no UI, and an optional warehouse dir. */
object Session {
  def build(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    b.getOrCreate()
  }
}
