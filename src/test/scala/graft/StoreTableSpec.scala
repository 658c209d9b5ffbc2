package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

import graft.api.BoxOffice
import graft.pipelines.{BoxOfficePipeline, StoreTable}

/** The store-table reader ([[StoreTable]]) and the single-execution
  * commits built on it: the footer schema must equal what Spark's own
  * inference gives, files without Spark's row metadata must still read,
  * and the observed commit counts must equal the rows on disk.
  */
class StoreTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() = Files.createTempDirectory("graft_storetable_").toString

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
    assert(StoreTable.dataSchema(spark, path).isDefined, "no footer schema: the fallback ran")
    assert(read.schema == inferred.schema)
    assert(read.columns.last == "target_dt" && read.schema("target_dt").dataType == DateType)
    assert(read.orderBy("movie_cd").collect().toSeq == inferred.orderBy("movie_cd").collect().toSeq)
  }

  test("a parquet file without Spark's row metadata falls back to inference") {
    val dir = freshRoot()
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; optional binary name (UTF8); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/t/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L -> "a", 2L -> "b").foreach { case (i, n) =>
      writer.write(rows.newGroup().append("id", i).append("name", n))
    } finally writer.close()
    assert(StoreTable.dataSchema(spark, s"$dir/t").isEmpty)
    val read = StoreTable.read(spark, s"$dir/t")
    assert(read.schema == spark.read.parquet(s"$dir/t").schema)
    assert(read.orderBy("id").as[(Long, String)].collect().toSeq == Seq(1L -> "a", 2L -> "b"))
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

  test("a file: URI store is seen by ask, describeStore and compact") {
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
    assert(BoxOfficePipeline.describeStore(spark, root, Seq("boxoffice"))
      .contains("target_dt: date"))
    val (before, after) = BoxOfficePipeline.compact(spark, s"$root/boxoffice", 1000L, Seq("target_dt"))
    assert(before >= 2 && after == 2) // one file per day partition
    assert(StoreTable.read(spark, s"$root/boxoffice").count() == 3)
  }
}
