package graft.pipelines

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{DataType, StructType}

/** The one reader of parquet tables: store tables, the testdata tables
  * and the cached fixture corpora.
  *
  * `spark.read.parquet(path)` without a schema infers it, and inference
  * runs a Spark job to read a footer — one job per read, before the
  * read's own action. This reader resolves the schema on the driver
  * instead and hands it to `spark.read.schema(...)`, so a read launches
  * no job until its action runs. It opens the footer of ONE visible
  * data file (without `mergeSchema`, inference also trusts a single
  * file) and takes, as inference does:
  *
  *   - the schema Spark recorded under [[RowMetadataKey]], when a Spark
  *     writer produced the file;
  *   - otherwise (parquet written by another engine, e.g. pyarrow) the
  *     footer's parquet schema converted by Spark's own
  *     `ParquetToSparkSchemaConverter`, set up from the session's SQL
  *     conf as inference sets it up, except that INT64
  *     `TIMESTAMP(NANOS)` always converts to `LongType` (see
  *     [[converter]]).
  *
  * Partition columns are not in that schema: Spark still discovers them
  * from the `col=value` directory names, with the same types and at the
  * same (trailing) positions as inference gives them. A path with no
  * readable data file falls back to plain inference, so a missing path
  * or an empty table fails exactly as `spark.read.parquet` does.
  *
  * Every path goes through its OWN Hadoop filesystem, so hdfs://,
  * s3a:// and file: tables resolve exactly like local ones.
  */
object StoreTable {

  /** Footer key under which Spark's parquet writer stores the row schema. */
  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  private def conf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(conf(spark)).exists(p)
  }

  /** Spark's hidden-path rule (`_x` unless it is a `k=v` partition
    * directory, `.x`): what a parquet scan of the table never reads.
    */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** The visible `.parquet` files under `dir`, partition directories
    * included, in path order; `dir` itself when it is a `.parquet` file.
    * Lazy: a caller that needs one file lists only until it finds it.
    * Empty when `dir` does not exist.
    */
  def dataFiles(fs: FileSystem, dir: Path): Iterator[FileStatus] = {
    def under(d: Path): Iterator[FileStatus] =
      fs.listStatus(d).sortBy(_.getPath.getName).iterator
        .filterNot(s => hidden(s.getPath.getName))
        .flatMap { s =>
          if (s.isDirectory) under(s.getPath)
          else if (s.getPath.getName.endsWith(".parquet")) Iterator.single(s)
          else Iterator.empty
        }
    if (fs.exists(dir)) under(dir) else Iterator.empty
  }

  /** Footer-only read options. Plain options, not `HadoopReadOptions`:
    * those copy every Hadoop conf entry on each open, about 15 ms a
    * footer on a 4-core host against 0.3 ms here. Built once (building
    * costs about 8 ms) and shared: a footer-only read never takes a
    * codec from the options' codec factory, so the `release()` each
    * reader's `close()` calls on it has nothing to release.
    */
  private val FooterOnly = ParquetReadOptions.builder()
    .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()

  /** The file metadata of the first data file of the table at `path`.
    * None when the table has no data file, or when these options cannot
    * read its footer (an encrypted one, say): the caller then falls back
    * to Spark's own inference.
    */
  private def footer(spark: SparkSession, path: String): Option[FileMetaData] = {
    val p = new Path(path)
    dataFiles(p.getFileSystem(conf(spark)), p).nextOption().flatMap { file =>
      scala.util.Try {
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf(spark)), FooterOnly)
        try reader.getFooter.getFileMetaData
        finally reader.close()
      }.toOption
    }
  }

  private def recorded(meta: FileMetaData): Option[StructType] =
    Option(meta.getKeyValueMetaData.get(RowMetadataKey))
      .flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
      .collect { case s: StructType => s }

  /** The converter Spark's inference builds for a footer without the row
    * metadata key, from the same session settings, but with
    * `nanosAsLong` on: INT64 `TIMESTAMP(NANOS)` columns (older testdata
    * `events.ts`) become `LongType` epoch nanos, where inference without
    * `spark.sql.legacy.parquet.nanosAsLong` throws. The parquet readers
    * take such a column through an explicit `LongType` schema without
    * that conf, so the session conf is never touched.
    */
  private def converter(spark: SparkSession): ParquetToSparkSchemaConverter = {
    val c = spark.sessionState.conf
    new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = c.isParquetBinaryAsString,
      assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
      inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
      nanosAsLong = true)
  }

  /** Read the table at `path` with no schema-inference job. */
  def read(spark: SparkSession, path: String): DataFrame =
    footer(spark, path) match {
      case Some(meta) =>
        val schema = recorded(meta).getOrElse(converter(spark).convert(meta.getSchema))
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
}
