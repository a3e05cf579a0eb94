package graft.tools
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named queries to plans/<tag>/<q>_<suffix>.txt —
  * the before/after plan evidence for optimization rounds.
  *   runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> q1 q2 ...
  * Uses the bench session shape ([[Session.build]]: core count from
  * SPARK_GRAFT_CPUS, shuffle.partitions to match) so the dumped plan is the
  * one the bench actually runs. The warehouse dir is derived from outDir so
  * two concurrent dump runs never collide on saveAsTable artifacts.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(1)
    val spark = Session.build(warehouseDir =
      Some(Paths.get(outDir, ".explain_wh").toAbsolutePath.toString))
    spark.sparkContext.setLogLevel("ERROR")
    dump(spark, args(0), outDir, args(2), args.drop(3).toSeq)
    spark.stop()
  }

  /** Write the formatted plan of each of `keys` over `sfDir` to
    * `<outDir>/<key>_<suffix>.txt`. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, keys: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    keys.foreach { k =>
      val df = graft.SparkEntry.queries(k)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${k}_$suffix.txt"), formatted)
      graft.engine.ml.Dedup.unpersistTracked()
      println(s"wrote $outDir/${k}_$suffix.txt")
    }
  }
}
