package graft.engine.io

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  def listFiles(spark: SparkSession, path: String): Seq[String] =
    fileStatuses(spark, path).map(_.getPath.toString).sorted

  /** Every file under a prefix, recursive; empty when it is missing. */
  private def fileStatuses(spark: SparkSession,
      path: String): Seq[FileStatus] = {
    val (f, p) = fs(spark, path)
    if (!f.exists(p)) Nil
    else {
      val it = f.listFiles(p, true)
      val out = Seq.newBuilder[FileStatus]
      while (it.hasNext) out += it.next()
      out.result()
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

  /** The most paths whose schema [[readParquet]] keeps; the least
    * recently read path is dropped first. Each entry holds one schema
    * and a 64-character key. */
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

  /** path → (listing key, inferred schema), at most one entry per path
    * and at most `capacity` paths, least recently used out first. */
  private[graft] final class SchemaCache(capacity: Int) {
    private val entries =
      new java.util.LinkedHashMap[String, (String, StructType)](
        16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (String, StructType)]): Boolean =
          this.size() > capacity
      }

    def get(path: String, key: String): Option[StructType] =
      entries.synchronized {
        Option(entries.get(path)).collect { case (k, s) if k == key => s }
      }

    def put(path: String, key: String, schema: StructType): Unit =
      entries.synchronized { entries.put(path, (key, schema)) }

    def size: Int = entries.synchronized { entries.size() }
  }

  private val schemaCache = new SchemaCache(SchemaCacheCap)

  /** `spark.read.parquet(path)` without the schema-inference job on a
    * repeat read. Plain `spark.read.parquet` reads a parquet footer in
    * a Spark job every time a DataFrame is built; here the inferred
    * schema is kept, keyed by one driver-side recursive listing of
    * `path` — every file's (path, length, modification time), hidden
    * files such as `_SUCCESS` included — plus the session confs that
    * change inference. An unchanged key reads with the kept schema
    * (no job); any rewrite, added or removed file or conf change infers
    * again and replaces the path's entry. A same-name rewrite that
    * keeps both the length and the modification time is not seen. A
    * missing or empty path goes straight to `spark.read.parquet`, so
    * callers get its errors unchanged. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    readParquet(spark, path, schemaCache)

  private[graft] def readParquet(spark: SparkSession, path: String,
      cache: SchemaCache): DataFrame = {
    // a glob does not exist as a path, so it is read uncached too
    val files = fileStatuses(spark, path)
      .map(st => s"${st.getPath}|${st.getLen}|${st.getModificationTime}")
      .sorted
    if (files.isEmpty) spark.read.parquet(path)
    else {
      val confs = schemaConfs.map(k => s"$k=${spark.conf.getOption(k)}")
      val key = sha256((confs ++ files).mkString("\n"))
      cache.get(path, key) match {
        case Some(schema) => spark.read.schema(schema).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          cache.put(path, key, df.schema)
          df
      }
    }
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
}
