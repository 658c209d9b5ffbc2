package graft.pipelines

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The one reader of parquet store tables.
  *
  * `spark.read.parquet(dir)` without a schema infers it, and inference
  * runs a Spark job to read a footer — one job per store read, before
  * the read's own action. This reader resolves the schema on the
  * driver instead and hands it to `spark.read.schema(...)`, so a store
  * read launches no job until its action runs:
  *
  *   - it opens the footer of ONE visible data file and takes the
  *     schema Spark recorded under [[RowMetadataKey]] — the same key
  *     Spark's own inference reads (without `mergeSchema`, inference
  *     also trusts a single file);
  *   - partition columns are not in that schema: Spark still discovers
  *     them from the `col=value` directory names, with the same types
  *     and at the same (trailing) positions as inference gives them;
  *   - a table with no data file, or whose file lacks the key (parquet
  *     written by another engine), falls back to plain inference.
  *
  * Every path goes through its OWN Hadoop filesystem, so hdfs://,
  * s3a:// and file: stores resolve exactly like local ones.
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
    * included, in path order. Lazy: a caller that needs one file lists
    * only until it finds it. Empty when `dir` does not exist.
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

  /** The schema Spark recorded in `file`'s footer, if it recorded one.
    * A footer these options cannot read (an encrypted one, say) counts
    * as none: the caller falls back to Spark's own inference.
    */
  private def footerSchema(conf: Configuration, file: FileStatus): Option[StructType] =
    scala.util.Try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), FooterOnly)
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(RowMetadataKey))
      finally reader.close()
    }.toOption.flatten
      .flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
      .collect { case s: StructType => s }

  /** The data schema (partition columns excluded) of the table at
    * `path`, read from one footer; None when no file carries Spark's
    * row metadata.
    */
  def dataSchema(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    dataFiles(p.getFileSystem(conf(spark)), p).nextOption()
      .flatMap(footerSchema(conf(spark), _))
  }

  /** Read the table at `path` with no schema-inference job. */
  def read(spark: SparkSession, path: String): DataFrame =
    dataSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }
}
