package graft.engine.io

import graft.engine.Memo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{CatalogFileIndex,
  HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._

/** Shared plumbing for the fit-once artifact family (keep-lists, IVF
  * quantizers, MinHash/bigram signature stores, co-occurrence edges,
  * language profiles): a CONTENT fingerprint to key stored artifacts,
  * [[fitOnce]], the one place that turns (input, family, tag,
  * parameters) into a warehouse path and builds it atomically, and
  * [[table]], the one writer and reader of a one-table artifact.
  *
  * Why not key by row count: a corpus regenerated with the same
  * cardinality but different content would silently serve stale
  * signatures/centroids — wrong answers, no error. The fingerprint
  * here derives from the scan's file inventory (path, length,
  * modification time of every input file): any rewrite of any input
  * file changes it, and it costs one driver-side listing — NO data
  * pass, which is the property that matters at 100 TB where even one
  * extra corpus scan per query dwarfs the query. Plan shape (filters,
  * projections) is folded in via the canonicalized plan hash so two
  * different subsets of the same files key differently.
  *
  * Inputs with no file scan (in-memory test frames) fall back to a
  * one-pass order-independent content checksum (bit_xor of a per-row
  * xxhash64) — tiny by construction in that case.
  */
object Artifacts {

  /** (session, plan semanticHash, hash of the input file inventory) →
    * fingerprint, the 4,096 most recent: repeat calls in a session run
    * no Spark action, and a new read of a rewritten input — even one
    * keeping every file name — misses, as its inventory changed. */
  private val fpCache = new Memo[(Int, Int, String), String](4096)

  def fingerprintOf(df: DataFrame): String = {
    val files = inventory(df.queryExecution.optimizedPlan)
    val key = (System.identityHashCode(df.sparkSession),
      df.queryExecution.analyzed.semanticHash(), fnv(files.mkString("\n")))
    fpCache.getOrElseUpdate(key)(compute(df, files))
  }

  /** The file inventory a fingerprint keys on: `path|length|mtime` of
    * every input file of `plan`, sorted, from the listing its file
    * indexes made when it was built (no storage call; relations without
    * one add nothing). Known limits: a same-name rewrite that keeps both
    * length and mtime is not seen; paths are absolute and mtimes kept,
    * so moving a dataset or warehouse, or rebuilding an upstream
    * artifact with the same bytes, rebuilds every artifact keyed on
    * it. */
  private def inventory(plan: LogicalPlan): Seq[String] =
    plan.collect { case l: LogicalRelation => l.relation }.flatMap {
      case r: HadoopFsRelation => r.location match {
        case idx: PartitioningAwareFileIndex => idx.allFiles()
        case idx: CatalogFileIndex => idx.filterPartitions(Nil).allFiles()
        case _ => Nil
      }
      case _ => Nil
    }.map(st => s"${st.getPath.toUri}|${st.getLen}|${st.getModificationTime}")
      .distinct.sorted

  private def compute(df: DataFrame, files: Seq[String]): String = {
    // Session-STABLE plan signature. semanticHash() is NOT stable
    // across JVMs — it hashes relation objects whose FileIndex uses
    // identity hashCode — so keying on it silently rebuilt every
    // artifact once per session. The default toString is ALSO unsafe:
    // it truncates each node's argument list at
    // spark.sql.debug.maxToStringFields (25), so two plans differing
    // only past the 25th projected column would collide and serve a
    // stale artifact. Render the CANONICALIZED plan (exprIds
    // normalized deterministically — no regex strip that could eat
    // numeric-suffix string literals) with an un-truncated treeString.
    val planHash = df.queryExecution.analyzed.canonicalized
      .treeString(verbose = true, addSuffix = false,
        maxFields = Int.MaxValue, printOperatorId = false)
      .replaceAll("@[0-9a-fA-F]+", "")
    val body: String =
      if (files.nonEmpty) files.mkString("\n")
      else {
        val cols = df.columns.map(c => s"`$c`").mkString(", ")
        val r = df.agg(
          expr(s"coalesce(bit_xor(xxhash64(struct($cols))), 0L)").as("x"),
          count(lit(1)).as("n")).head()
        s"content|${r.getLong(0)}|${r.getLong(1)}"
      }
    fnv(s"$planHash\n$body")
  }

  /** FNV-1a over a string → a short stable hex token. */
  private def fnv(s: String): String = {
    var h = 0xcbf29ce484222325L
    s.foreach { c => h ^= c; h *= 0x100000001b3L }
    java.lang.Long.toHexString(h)
  }

  /** The fit-once artifact TABLE for `input`: on first use `rows` is
    * written as parquet into the temp dir [[fitOnce]] hands out and
    * published under the same key; every call returns the published
    * table through [[Storage.readParquet]]. A caller shapes its rows
    * inside `rows` (a `coalesce`, a sort); `rows` is evaluated only
    * when the artifact is built. */
  def table(input: DataFrame, family: String, datasetTag: String,
      kind: String = "", params: Seq[Any] = Nil)(
      rows: => DataFrame): DataFrame = {
    val path = fitOnce(input, family, datasetTag, kind, params) { tmp =>
      rows.write.mode("overwrite").parquet(tmp)
    }
    Storage.readParquet(input.sparkSession, path)
  }

  /** The fit-once artifact for `input`, built by `build` on first use:
    * `<warehouse>/<family>/[<kind>_]<tag>_<fingerprint>[_<param>…]`.
    * The dataset tag is sanitised to one path segment, which never
    * starts with `_` or `.` (a kind-less absolute-path tag loses its
    * leading `/`), so Spark never skips it as hidden; the content
    * fingerprint and every parameter are in the key, so a rewritten
    * input or a changed parameter builds a new artifact and later
    * calls with the same key find the built one. `build` writes the
    * artifact to the temp path it is given. A one-table artifact goes
    * through [[table]]; `fitOnce` is for artifacts whose caller needs
    * the path itself: a decode memo keyed on it, or a multi-part
    * layout other readers open (a cell index with its quantizer). */
  def fitOnce(input: DataFrame, family: String, datasetTag: String,
      kind: String = "", params: Seq[Any] = Nil)(
      build: String => Unit): String = {
    val spark = input.sparkSession
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val tag = datasetTag.replaceAll("[^A-Za-z0-9._-]", "_")
    // no leading `_` or `.`: Spark skips such a path as hidden
    val name = (Seq(kind).filter(_.nonEmpty) ++
      Seq(tag, fingerprintOf(input)) ++ params.map(_.toString)).mkString("_")
      .dropWhile(c => c == '_' || c == '.')
    ensure(spark, s"$warehouse/$family/$name")(build)
  }

  /** Build-once accessor: if `path/_SUCCESS` does not exist, run
    * `build` against a temp sibling, mark it complete with its own
    * `_SUCCESS` and atomically rename it into place. This is the one
    * place that marks an artifact complete, so a build that writes
    * without Spark (a file copy) is reused like any other. Concurrent
    * sessions race safely: the loser's rename fails against the
    * winner's directory and its temp output is discarded — readers
    * only ever see a complete artifact. A failed build leaves nothing
    * behind: its temp directory is deleted before the failure
    * propagates. */
  private def ensure(spark: SparkSession, path: String)(
      build: String => Unit): String = {
    def done = Storage.exists(spark, s"$path/_SUCCESS")
    if (!done) {
      val tmp = path + ".tmp-" + java.util.UUID.randomUUID.toString.take(8)
      try {
        build(tmp)
        Storage.writeString(spark, s"$tmp/_SUCCESS", "")
      } catch { case t: Throwable => Storage.deleteFolder(spark, tmp); throw t }
      // re-check: Hadoop rename onto an existing directory would nest
      // tmp inside it — if another session won the race, just discard
      if (done || !Storage.moveFolder(spark, tmp, path))
        Storage.deleteFolder(spark, tmp)
    }
    path
  }
}
