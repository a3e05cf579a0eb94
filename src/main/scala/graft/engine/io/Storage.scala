package graft.engine.io

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Folder/object storage utilities over the Hadoop FileSystem API — the
  * Spark re-expression of the reference's S3 helpers (SURVEY.md §1.2
  * [RECONSTRUCTED]: `s3.py` — upload/download, list folder, copy folder,
  * delete folder, read/write JSON). The same code serves `file://` in
  * this harness and `s3a://`/`hdfs://` on a cluster — the scheme is
  * resolved per-path, so no S3 SDK coupling.
  *
  * It is the one owner of the Hadoop `FileSystem` and of parquet-mr:
  * code outside `graft.engine.io` lists, copies, moves, deletes, writes
  * and reads footers through these verbs. It also owns the engine's
  * parquet reads ([[readParquet]]), which read their schema from one
  * footer on the driver and keep nothing between calls.
  */
object Storage {

  private[io] def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
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

  /** Rename a folder (or file) tree to `dst`; true if it moved. */
  def moveFolder(spark: SparkSession, src: String, dst: String): Boolean = {
    val (f, p) = fs(spark, src)
    f.rename(p, new Path(dst))
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

  /** The full footer of one parquet `file`, row groups included. */
  def footer(spark: SparkSession, file: String): ParquetMetadata =
    ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(new Path(file), conf(spark)),
      ParquetMetadataConverter.NO_FILTER)

  /** `spark.read.parquet(path)` without the schema-inference job, and
    * with no state kept between calls: the frame [[footerRead]] builds
    * from the one footer Spark's inference would read, or
    * `spark.read.parquet(path)`, with its errors, whenever Spark would
    * read more than that footer: `mergeSchema` on, a `_metadata` or
    * `_common_metadata` summary present, no data file, a partition
    * column also stored in the files, or a footer that fails to read
    * (path missing, emptied or corrupt). Each call lists the path once,
    * so a rewritten or regrown input is always read as it is now. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerRead(spark, path).getOrElse(spark.read.parquet(path))

  /** The frame `spark.read.parquet(path)` builds when its inference
    * reads exactly one footer, launching no job: the relation of a
    * schema-less read, given as data schema the footer of the first
    * data file by path in its file index, converted as Spark's
    * inference converts it and made nullable as Spark makes it. The
    * read lists once, the file index of the frame it returns. None
    * where Spark would read anything else (see [[readParquet]]) or the
    * read fails. */
  private def footerRead(spark: SparkSession,
      path: String): Option[DataFrame] = {
    val conf = spark.sessionState.conf
    def fromIndex(r: HadoopFsRelation): Option[DataFrame] = {
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
      stored.filterNot(_.exists(f =>
          r.partitionSchema.exists(p => conf.resolver(p.name, f.name))))
        .map(s => spark.baseRelationToDataFrame(
          r.copy(dataSchema = nullable(s).asInstanceOf[StructType])(spark)))
    }
    if (conf.isParquetSchemaMergingEnabled) None
    else scala.util.Try(spark.read.schema(StructType(Nil)).parquet(path)
      .queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => l.relation
      }.collect { case r: HadoopFsRelation => r }.flatMap(fromIndex))
      .toOption.flatten
  }

  /** `t` with every struct field, array element and map value nullable,
    * at every depth, field metadata kept: the `asNullable` (private to
    * Spark) that `DataSource` applies to an inferred data schema. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) =>
      MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }

  /** Parquet summary files, which Spark's inference reads first. */
  private val SummaryFiles = Set("_metadata", "_common_metadata")
}
