package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

import graft.api.BoxOffice
import graft.pipelines.{BoxOfficePipeline, StoreTable}

/** The parquet table reader ([[StoreTable]]) and the single-execution
  * commits built on it: the driver-side footer schema must equal what
  * Spark's own inference gives — for Spark-written tables, partitioned
  * ones included, and for files without Spark's row metadata (the
  * pyarrow-written testdata) — and the observed commit counts must equal
  * the rows on disk.
  */
class StoreTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() = Files.createTempDirectory("graft_storetable_").toString

  /** Whether the table's first data file carries the row schema Spark's
    * writer records, the one [[StoreTable.read]] takes when present.
    */
  private def sparkWritten(path: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(StoreTable.dataFiles(p.getFileSystem(conf), p).next(), conf))
    try reader.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.sql.parquet.row.metadata")
    finally reader.close()
  }

  private def raw(rows: (String, String, String, Long)*): DataFrame =
    rows.toDF("movie_cd", "open_dt", "td", "audi_cnt")
      .withColumn("target_dt", to_date(col("td"))).drop("td")

  test("the partitioned boxoffice table reads with inference's schema, target_dt a trailing date") {
    val root = freshRoot()
    BoxOfficePipeline.ingestDaily(spark, root, raw(
      ("m1", "2024-12-24", "2025-01-01", 10L),
      ("m2", "2024-12-30", "2025-01-02", 20L)), "2025-01-02")
    val path = s"$root/boxoffice"
    val inferred = spark.read.parquet(path)
    val read = StoreTable.read(spark, path)
    assert(sparkWritten(path), "no footer schema: the fallback ran")
    assert(read.schema == inferred.schema)
    assert(read.columns.last == "target_dt" && read.schema("target_dt").dataType == DateType)
    assert(read.orderBy("movie_cd").collect().toSeq == inferred.orderBy("movie_cd").collect().toSeq)
  }

  test("a parquet file without Spark's row metadata reads with inference's schema") {
    val dir = freshRoot()
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; optional binary name (UTF8); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/t/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L -> "a", 2L -> "b").foreach { case (i, n) =>
      writer.write(rows.newGroup().append("id", i).append("name", n))
    } finally writer.close()
    assert(!sparkWritten(s"$dir/t"))
    val read = StoreTable.read(spark, s"$dir/t")
    assert(read.schema == spark.read.parquet(s"$dir/t").schema)
    assert(read.orderBy("id").as[(Long, String)].collect().toSeq == Seq(1L -> "a", 2L -> "b"))
  }

  test("every pyarrow-written testdata table reads with inference's schema") {
    val sf = "/root/testdata/sf0.01"
    Tables.all.foreach { n =>
      val path = s"$sf/$n.parquet"
      assert(!sparkWritten(path), s"$n: premise, no Spark row metadata")
      assert(StoreTable.read(spark, path).schema == spark.read.parquet(path).schema, n)
    }
  }

  test("a Spark-written table with two partition columns and nested types reads with inference's schema") {
    val path = s"${freshRoot()}/t"
    Seq((1L, "a", 2024, "x"), (2L, "b", 2025, "y"))
      .toDF("id", "name", "year", "region")
      .select(col("id"), struct(col("name"), col("id").as("n")).as("s"),
        array(col("name")).as("tags"), map(col("name"), col("id")).as("m"),
        col("year"), col("region"))
      .write.partitionBy("year", "region").parquet(path)
    val inferred = spark.read.parquet(path)
    val read = StoreTable.read(spark, path)
    assert(read.schema == inferred.schema)
    assert(read.columns.takeRight(2).toSeq == Seq("year", "region"))
    assert(read.orderBy("id").collect().toSeq == inferred.orderBy("id").collect().toSeq)
  }

  test("a table with no data file fails like inference does") {
    val path = s"${freshRoot()}/empty"
    new java.io.File(path).mkdirs()
    val viaReader = intercept[org.apache.spark.sql.AnalysisException](StoreTable.read(spark, path))
    val viaSpark = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(path))
    assert(viaReader.getCondition == viaSpark.getCondition)
  }

  test("ingestDaily of a batch that filters to zero rows leaves a fresh store without a table") {
    val root = freshRoot()
    // every open_dt is unparseable: the P7 null-date drop empties the batch
    assert(BoxOfficePipeline.ingestDaily(spark, root,
      raw(("m1", "not a date", "2025-01-01", 1L)), "2025-01-01") == 0)
    assert(!new java.io.File(s"$root/boxoffice").exists())
    // a later good batch still bootstraps the table
    assert(BoxOfficePipeline.ingestDaily(spark, root,
      raw(("m1", "2024-12-24", "2025-01-01", 1L)), "2025-01-01") == 1)
    assert(spark.read.parquet(s"$root/boxoffice").count() == 1)
  }

  test("the observed mergeAndSwap count equals the rows on disk after the swap") {
    val root = freshRoot()
    def dim(ids: Range) = ids.map(i => (s"m$i", s"name $i")).toDF("movie_cd", "movie_nm")
    def onDisk() = spark.read.parquet(s"$root/movie").count()
    val n1 = BoxOfficePipeline.upsertMovies(spark, root, dim(0 until 4))
    assert(n1 == 4 && onDisk() == n1)
    val n2 = BoxOfficePipeline.upsertMovies(spark, root, dim(2 until 7))
    assert(n2 == 7 && onDisk() == n2)
    val n3 = BoxOfficePipeline.backfillDimRange(spark, root, "movie",
      col("movie_cd") < "m5", dim(0 until 1))
    assert(n3 == 3 && onDisk() == n3) // m0 (re-sent), m5, m6
  }

  test("a file: URI store is seen by ask, describeTables and compact") {
    val root = new java.io.File(freshRoot()).toURI.toString.stripSuffix("/")
    assert(root.startsWith("file:"))
    BoxOfficePipeline.ingestDaily(spark, root, raw(
      ("m1", "2024-12-24", "2025-01-01", 10L),
      ("m2", "2024-12-24", "2025-01-01", 20L)), "2025-01-01")
    BoxOfficePipeline.ingestDaily(spark, root, raw(
      ("m1", "2024-12-24", "2025-01-02", 30L)), "2025-01-02")
    val n = new BoxOffice(spark, root)
      .ask("SELECT SUM(audi_cnt) AS s FROM boxoffice").as[Long].head()
    assert(n == 60L)
    assert(BoxOfficePipeline.describeTables(spark,
        Seq("boxoffice" -> StoreTable.read(spark, s"$root/boxoffice")))
      .filter(col("col") === "target_dt").select("dtype").as[String].collect()
      .toSeq == Seq("date"))
    val (before, after) = BoxOfficePipeline.compact(spark, s"$root/boxoffice", 1000L, Seq("target_dt"))
    assert(before >= 2 && after == 2) // one file per day partition
    assert(StoreTable.read(spark, s"$root/boxoffice").count() == 3)
  }
}
