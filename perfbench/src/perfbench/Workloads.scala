package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.Tables._
import graft.engine.catalog.Catalog
import graft.engine.io.{CommitLog, Storage}
import graft.engine.ml.{Bpe, Dedup, Similarity}
import graft.engine.ops.Scale
import graft.engine.sql.Query
import graft.engine.stream.Sinks
import graft.queries._

/** What an op sees: the session, the input directory, a scratch
  * directory of its own and the tracer for spans around engine calls. */
final class Ctx(val spark: SparkSession, val data: String,
    val scratch: String, val trace: Tracer)

/** One operation of a workload's mix. `layer` is the layer whose public
  * function `call` enters: `queries` for registry keys (construction
  * through `SparkEntry.queries(key)`), `engine.*` for direct calls.
  * `module` is the `graft.queries` module that defines a registry key.
  * Ops without an oracle are checked by fingerprint instead. */
final case class Op(name: String, layer: String, module: String,
    oracle: Option[String], call: Ctx => DataFrame)

object Workloads {
  /** Registry modules, in `SparkEntry.all` order: key -> defining module. */
  private lazy val moduleOf: Map[String, String] = Seq(
    "Scans" -> Scans.qs, "Projections" -> Projections.qs,
    "Joins" -> Joins.qs, "Aggregates" -> Aggregates.qs,
    "Windows" -> Windows.qs, "SetOps" -> SetOps.qs,
    "Scalars" -> Scalars.qs, "Streaming" -> Streaming.qs, "Llm" -> Llm.qs,
    "UdfQueries" -> UdfQueries.qs, "IoQueries" -> IoQueries.qs,
    "Profiling" -> Profiling.qs, "SqlSurface" -> SqlSurface.qs,
    "Analytics" -> Analytics.qs, "Etl" -> Etl.qs, "Curation" -> Curation.qs,
    "Behavior" -> Behavior.qs, "Ml" -> Ml.qs, "Tokenize" -> Tokenize.qs,
    "Quality" -> Quality.qs
  ).flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  private def keys(names: String*): Seq[Op] = {
    val fns = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    names.map { k =>
      val fn = fns.getOrElse(k, sys.error(s"no registry key $k"))
      Op(k, "queries", moduleOf(k), oracles.get(k),
        c => fn(c.spark, c.data))
    }
  }

  private def direct(name: String, layer: String)(
      call: Ctx => DataFrame): Op = Op(name, layer, "", None, call)

  /** Read path: joins, aggregates, a window and SQL over the star
    * schema, plus the ops, sql and catalog layers' own entry points.
    * Writes nothing but the per-session temp views. */
  def olap: Seq[Op] = keys(
    "join_multiway", "join_shuffle", "agg_groupby", "win_rank") ++ Seq(
    direct("ops_salted_sum", "engine.ops") { c =>
      c.trace("engine.ops", "Scale.saltedSum") {
        Scale.saltedSum(lineitem(c.spark, c.data),
          Seq("l_returnflag", "l_linestatus"), col("l_extendedprice"), 2)
      }
    },
    direct("sql_register_query", "engine.sql") { c =>
      c.trace("engine.sql", "Query.registerAll")(
        Query.registerAll(c.spark, c.data, Seq("orders")))
      c.trace("engine.sql", "Query.sql")(Query.sql(c.spark,
        """SELECT o_orderpriority, COUNT(*) AS n,
                  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
           FROM orders GROUP BY o_orderpriority"""))
    },
    direct("catalog_register", "engine.catalog") { c =>
      c.trace("engine.catalog", "Catalog.register")(Catalog.register(
        c.spark, Scans.nationMeta, s"${c.data}/nation.parquet",
        Some("perfbench_nation")))
      c.spark.sql("""SELECT n_regionkey, COUNT(*) AS n
                     FROM perfbench_nation GROUP BY n_regionkey""")
    })

  /** Ingest then curate: eager table writes, a commit-logged table and a
    * keyed stream sink, then quality scoring, near-duplicate search, ANN
    * search and BPE tokens over the corpus. The ml calls fit artifacts into the
    * warehouse on the cold pass and reuse them on every steady pass. */
  def pipeline: Seq[Op] = keys(
    "sink_partitioned", "text_quality") ++ Seq(
    // snapshot and keyed upsert of one commit-logged table, a shallow
    // clone, vacuum of the source's expired data, and the change feed
    // between the two versions
    direct("io_commit_cycle", "engine.io") { c =>
      val s = c.spark
      val root = s"${c.scratch}/table"
      val clone = s"${c.scratch}/clone"
      c.trace("engine.io", "Storage.deleteFolder") {
        Storage.deleteFolder(s, root); Storage.deleteFolder(s, clone)
      }
      CommitLog.init(s, root)
      val base = orders(s, c.data).filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      def commit(table: String, action: String)(
          derive: DataFrame => DataFrame): Unit =
        c.trace("engine.io", "CommitLog.commit")(
          CommitLog.commit(s, table, action) { (dir, v) =>
            val prev = if (v == 0) base else c.trace("engine.io",
              "CommitLog.readVersion")(CommitLog.readVersion(s, table, v))
            derive(prev).write.parquet(dir)
          })
      commit(root, "snapshot")(identity)
      commit(root, "upsert")(_.withColumn("v",
        when(col("k") % 10 === 0, col("v") + 1.0).otherwise(col("v"))))
      c.trace("engine.io", "CommitLog.cloneTable")(
        CommitLog.cloneTable(s, root, clone, 2))
      c.trace("engine.io", "CommitLog.vacuum")(
        CommitLog.vacuum(s, root, keep = 2, orphanGraceMs = 0L))
      c.trace("engine.io", "CommitLog.changes")(
        CommitLog.changes(s, root, 1, 2, Seq("k")))
    },
    direct("stream_upsert_batch", "engine.stream") { c =>
      val s = c.spark
      val target = s"${c.scratch}/upserts"
      Storage.deleteFolder(s, target)
      val batch = events(s, c.data).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t_us"), col("event_type"), col("value"))
      c.trace("engine.stream", "Sinks.upsertBatch")(
        Sinks.upsertBatch(batch, target, nBuckets = 4))
      s.read.parquet(target)
    },
    direct("ml_near_minhash", "engine.ml") { c =>
      c.trace("engine.ml", "Dedup.nearMinHash")(Dedup.nearMinHash(
        documents(c.spark, c.data), 0.8, datasetTag = Some(c.data)))
    },
    direct("ml_ivf_topk", "engine.ml") { c =>
      val emb = embeddings(c.spark, c.data)
      c.trace("engine.ml", "Similarity.ivfTopKCached")(
        Similarity.ivfTopKCached(emb, Similarity.probes(emb), 5, c.data))
    },
    direct("ml_bpe_tokens", "engine.ml") { c =>
      c.trace("engine.ml", "Bpe.tokensPerDoc")(
        Bpe.tokensPerDoc(documents(c.spark, c.data), c.data))
    })

  def apply(name: String): Seq[Op] = name match {
    case "olap" => olap
    case "pipeline" => pipeline
    case other => sys.error(s"unknown workload $other")
  }
}
