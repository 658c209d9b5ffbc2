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
}
