package graft

import java.nio.file.Files

import graft.streaming.StreamingUpsert
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamingUpsertSpec extends SparkSpec {
  import spark.implicits._

  test("each micro-batch merges into the store; fresh beats stale; replays idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_supsert_").toString
    val store = s"$dir/store"
    val input = MemoryStream[(Long, String, Long)]
    val df = input.toDS().toDF("event_id", "status", "scraped_at")

    def runBatch(): Unit = {
      val q = StreamingUpsert.start(spark, df, store,
        keys = Seq("event_id"), versionCol = "scraped_at",
        checkpoint = s"$dir/ckpt")
      q.awaitTermination() // AvailableNow terminates after draining
    }

    input.addData((1L, "open", 10L), (2L, "open", 10L))
    runBatch()
    assert(spark.read.parquet(store).count() == 2)

    // batch 2: update event 1 (newer), stale update for 2 (older version
    // arrives later — must NOT win because fresh-beats-base applies per
    // batch; within this batch event 2's only row wins over base)
    input.addData((1L, "closed", 20L), (3L, "open", 15L))
    runBatch()
    val rows = spark.read.parquet(store)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(rows(1L) == ("closed", 20L))
    assert(rows(2L) == ("open", 10L))
    assert(rows(3L) == ("open", 15L))
    assert(rows.size == 3)
  }

  test("partitioned sink rewrites only the partitions a batch touches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_supsert_part_").toString
    val store = s"$dir/store"
    val input = MemoryStream[(Long, String, Long, String)]
    val df = input.toDS().toDF("event_id", "status", "scraped_at", "dt")

    def runBatch(): Unit = {
      val q = StreamingUpsert.startPartitioned(spark, df, store,
        keys = Seq("event_id"), versionCol = "scraped_at", partCol = "dt",
        checkpoint = s"$dir/ckpt")
      q.awaitTermination()
    }
    def partFiles(p: String): Map[String, Long] =
      new java.io.File(p).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap

    input.addData((1L, "open", 10L, "da"), (2L, "open", 10L, "db"))
    runBatch()
    val daBefore = partFiles(s"$store/dt=da")
    assert(daBefore.nonEmpty)

    // second batch touches ONLY db: da's files must be byte-for-byte the
    // same generation (names + mtimes unchanged — dynamic overwrite never
    // visited that partition), while db merges last-write-wins
    input.addData((2L, "closed", 20L, "db"), (3L, "open", 15L, "db"))
    runBatch()
    assert(partFiles(s"$store/dt=da") == daBefore,
      "untouched partition was rewritten")
    val rows = spark.read.parquet(store).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[String]("status"), r.getAs[Long]("scraped_at"), r.getAs[String]("dt"))))
      .toMap
    assert(rows(1L) == (("open", 10L, "da")))
    assert(rows(2L) == (("closed", 20L, "db")))
    assert(rows(3L) == (("open", 15L, "db")))
    assert(rows.size == 3)
  }

  test("a partitioned drain leaves the session's partitionOverwriteMode unchanged") {
    val s = spark.newSession()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = s.conf.get(key)
    val dir = Files.createTempDirectory("graft_supsert_conf_").toString
    val input = MemoryStream[(Long, String, Long, String)]
    input.addData((1L, "open", 10L, "da"), (2L, "open", 10L, "db"))
    StreamingUpsert.startPartitioned(s, input.toDS().toDF("event_id", "status", "scraped_at", "dt"),
      s"$dir/store", keys = Seq("event_id"), versionCol = "scraped_at", partCol = "dt",
      checkpoint = s"$dir/ckpt").awaitTermination()
    assert(s.read.parquet(s"$dir/store").count() == 2)
    assert(s.conf.get(key) == before, s"the drain changed $key")
  }
}
