package graft.engine.io

import java.nio.charset.StandardCharsets

import graft.engine.Memo
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.{CatalogFileIndex,
  HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Folder/object storage utilities over the Hadoop FileSystem API — the
  * Spark re-expression of the reference's S3 helpers (SURVEY.md §1.2
  * [RECONSTRUCTED]: `s3.py` — upload/download, list folder, copy folder,
  * delete folder, read/write JSON). The same code serves `file://` in
  * this harness and `s3a://`/`hdfs://` on a cluster — the scheme is
  * resolved per-path, so no S3 SDK coupling.
  *
  * It also owns the engine's parquet reads ([[readParquet]]), which
  * keep each input's inferred schema between reads.
  */
object Storage {

  private def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(conf(spark)), p)
  }

  private def conf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  /** Non-recursive listing of a folder's entry paths, sorted. */
  def listFolder(spark: SparkSession, path: String): Seq[String] = {
    val (f, p) = fs(spark, path)
    if (!f.exists(p)) Nil
    else f.listStatus(p).map(_.getPath.toString).sorted.toSeq
  }

  /** All file paths under a prefix, recursive, sorted. */
  def listFiles(spark: SparkSession, path: String): Seq[String] = {
    val (f, p) = fs(spark, path)
    if (!f.exists(p)) Nil
    else {
      val it = f.listFiles(p, true)
      val out = Seq.newBuilder[String]
      while (it.hasNext) out += it.next().getPath.toString
      out.result().sorted
    }
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.exists(p)
  }

  /** Copy a folder (or file) tree. */
  def copyFolder(spark: SparkSession, src: String, dst: String): Unit = {
    val (fsSrc, pSrc) = fs(spark, src)
    val (fsDst, pDst) = fs(spark, dst)
    FileUtil.copy(fsSrc, pSrc, fsDst, pDst, false, true, conf(spark))
  }

  /** Recursive delete; returns true if anything was removed. */
  def deleteFolder(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.exists(p) && f.delete(p, true)
  }

  def writeString(spark: SparkSession, path: String, content: String): Unit = {
    val (f, p) = fs(spark, path)
    val out = f.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def readString(spark: SparkSession, path: String): String = {
    val (f, p) = fs(spark, path)
    val in = f.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The most paths whose schema [[readParquet]] keeps (LRU). */
  private val SchemaCacheCap = 1024

  /** The session confs that change what parquet schema inference
    * returns for the same files. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  /** path → (hash of the confs and the file inventory, inferred schema) */
  private[graft] type SchemaCache = Memo[String, (String, StructType)]

  private val schemaCache = new SchemaCache(SchemaCacheCap)

  /** `spark.read.parquet(path)` without the schema-inference job. The
    * inferred schema is kept, keyed by the session confs that change
    * inference and the [[inventory]] of the read's own file index. A
    * repeat read builds `spark.read.schema(kept)` (no job) and returns
    * it only if its inventory — the exact files its scan reads — still
    * matches. A miss reads the schema on the driver from the one footer
    * Spark's inference would read ([[footerSchema]], no job) and falls
    * back to `spark.read.parquet(path)`, with its errors, whenever Spark
    * would read more than that footer: `mergeSchema` on, a `_metadata`
    * or `_common_metadata` summary present, no data file, a partition
    * column also stored in the files, or a footer that fails to read
    * (path missing, emptied or corrupt). Either way the miss replaces
    * the entry. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    readParquet(spark, path, schemaCache)

  private[graft] def readParquet(spark: SparkSession, path: String,
      cache: SchemaCache): DataFrame = {
    val confs = schemaConfs.map(k => s"$k=${spark.conf.getOption(k)}")
    def key(df: DataFrame): String =
      sha256((confs ++ inventory(df.queryExecution.analyzed)).mkString("\n"))
    def keep(df: DataFrame): DataFrame = {
      cache.put(path, (key(df), df.schema)); df
    }
    cache.get(path)
      .map { case (k, schema) => (k, spark.read.schema(schema).parquet(path)) }
      .collect { case (k, df) if key(df) == k => df }
      .orElse(footerSchema(spark, path)
        .map(schema => keep(spark.read.schema(schema).parquet(path))))
      .getOrElse(keep(spark.read.parquet(path)))
  }

  /** The schema `spark.read.parquet(path)` infers when it reads exactly
    * one footer: that of the first data file by path in the file index
    * of a schema-less read, converted as Spark's inference converts it,
    * plus the index's partition columns. None where Spark would read
    * anything else (see [[readParquet]]) or the read fails. */
  private def footerSchema(spark: SparkSession,
      path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    def fromIndex(r: HadoopFsRelation): Option[StructType] = {
      val files = r.location match {
        case idx: PartitioningAwareFileIndex => idx.allFiles()
        case _ => Nil
      }
      val (summaries, data) =
        files.partition(f => SummaryFiles(f.getPath.getName))
      val stored = data.sortBy(_.getPath.toString).headOption
        .filter(_ => summaries.isEmpty)
        .map { first =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(first, spark.sessionState.newHadoopConf()),
            ParquetMetadataConverter.SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(
            new Footer(first.getPath, footer),
            new ParquetToSparkSchemaConverter(conf))
        }
      val partitions = r.partitionSchema
      stored.filterNot(_.exists(f =>
          partitions.exists(p => conf.resolver(p.name, f.name))))
        .map(s => StructType(s.fields ++ partitions.fields))
    }
    if (conf.isParquetSchemaMergingEnabled) None
    else scala.util.Try(spark.read.schema(StructType(Nil)).parquet(path)
      .queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => l.relation
      }.collect { case r: HadoopFsRelation => r }.flatMap(fromIndex))
      .toOption.flatten
  }

  /** Parquet summary files, which Spark's inference reads first. */
  private val SummaryFiles = Set("_metadata", "_common_metadata")

  /** The engine's one file inventory, keying both [[readParquet]] and
    * [[Artifacts.fingerprintOf]]: `path|length|mtime` of every input
    * file of `plan`, sorted, from the listing its file indexes made when
    * it was built (no storage call; relations without one add nothing).
    * Known limits: a same-name rewrite that keeps both length and mtime
    * is not seen; paths are absolute and mtimes kept, so moving a
    * dataset or warehouse, or rebuilding an upstream artifact with the
    * same bytes, rebuilds every artifact keyed on it. */
  private[graft] def inventory(plan: LogicalPlan): Seq[String] =
    plan.collect { case l: LogicalRelation => l.relation }.flatMap {
      case r: HadoopFsRelation => r.location match {
        case idx: PartitioningAwareFileIndex => idx.allFiles()
        case idx: CatalogFileIndex => idx.filterPartitions(Nil).allFiles()
        case _ => Nil
      }
      case _ => Nil
    }.map(st => s"${st.getPath.toUri}|${st.getLen}|${st.getModificationTime}")
      .distinct.sorted

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
}
