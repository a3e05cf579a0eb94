package graft.tools

import graft.Tables
import graft.engine.ml.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Recall diagnostic for the ANN family: prints the per-probe recall
  * distribution (min / p25 / mean) of each ANN path against the exact
  * ground truth, at a given sfDir and parameter set — the measurement
  * behind every recall-floor change (floors are raised from evidence,
  * not hope).
  *
  * Usage: runMain graft.tools.RecallProbe <sfDir> [nProbe ...]
  */
object RecallProbe {

  def recallStats(ann: DataFrame, exact: DataFrame, k: Int): (Double, Double, Double) = {
    val a = ann.select(col("probe_id"), col("vec_id"))
    val e = exact.select(col("probe_id"), col("vec_id"))
    val hits = a.join(e, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).as("hits"))
    val rec = e.select("probe_id").distinct()
      .join(hits, Seq("probe_id"), "left")
      .select(coalesce(col("hits"), lit(0L)).cast("double").as("h"))
      .select((col("h") / k).as("r"))
    val row = rec.agg(min("r"), expr("percentile(r, 0.25)"), avg("r")).head()
    (row.getDouble(0), row.getDouble(1), row.getDouble(2))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nProbes = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(6, 8, 10, 12)
    val spark = Session.build()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.embeddings(spark, sfDir)
    val probes = Similarity.probes(emb)
    val gtCos = Similarity.groundTruthFor(emb, sfDir, 5, "cosine")
    val gtEuc = Similarity.groundTruthFor(emb, sfDir, 5, "euclid")
    val gtBatch = Similarity.batchGroundTruthFor(emb, sfDir, 5)

    def show(tag: String, t: (Double, Double, Double)): Unit =
      println(f"$tag%-34s min=${t._1}%.3f p25=${t._2}%.3f mean=${t._3}%.3f")

    show("lsh r=6",
      recallStats(Similarity.annTopK(emb, probes, 5, datasetTag = Some(sfDir)), gtEuc, 5))
    show("lsh t=5",
      recallStats(Similarity.annTopK(emb, probes, 5, numTables = 5,
        datasetTag = Some(sfDir)), gtEuc, 5))
    show("lsh t=7",
      recallStats(Similarity.annTopK(emb, probes, 5, numTables = 7,
        datasetTag = Some(sfDir)), gtEuc, 5))
    show("rerank np=14 m=20",
      recallStats(Similarity.ivfTopKRerank(emb, probes, 5, sfDir), gtCos, 5))
    for (np <- nProbes) {
      show(s"ivf nProbe=$np",
        recallStats(Similarity.ivfTopKCached(emb, probes, 5, sfDir, nProbe = np), gtCos, 5))
      show(s"batch nProbe=$np",
        recallStats(Similarity.ivfTopKBatch(emb,
          Similarity.batchProbes(emb), 5, sfDir, nProbe = np), gtBatch, 5))
    }
    val idx = Similarity.cellIndexFor(emb, sfDir)
    for (np <- nProbes)
      show(s"indexed nProbe=$np",
        recallStats(Similarity.ivfTopKIndexed(spark, idx, probes, 5, nProbe = np), gtCos, 5))
    spark.stop()
  }
}
