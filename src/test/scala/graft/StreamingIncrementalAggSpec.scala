package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.IncrementalAgg
import graft.pipelines.BucketedFoldStore
import graft.streaming.StreamingIncrementalAgg

/** The streaming fold of the incremental-agg store: the store is a
  * queryable table BETWEEN micro-batches, each batch folds (not
  * overwrites), and the drained store equals the one-shot aggregate.
  */
class StreamingIncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  test("store folds per micro-batch and stays queryable between batches") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("incr_stream").toString
    val store = s"$root/store"
    val input = MemoryStream[(String, Long, Double)]
    val q = StreamingIncrementalAgg.writer(spark,
        input.toDS().toDF("g", "uid", "value"),
        store, Seq("g"), "value", "uid", k = 8)
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try {
      input.addData(("a", 1L, 10.0), ("a", 2L, 2.0), ("b", 9L, 1.0))
      q.processAllAvailable()
      val mid = IncrementalAgg.finalize(
          BucketedFoldStore.readState(spark, store), Seq("g"), 8)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(mid == Map("a" -> (2L, 12.0), "b" -> (1L, 1.0)),
        s"after batch 1: $mid")

      input.addData(("a", 1L, 3.0), ("c", 7L, 5.0))
      q.processAllAvailable()
      val fin = IncrementalAgg.finalize(
          BucketedFoldStore.readState(spark, store), Seq("g"), 8)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(6))).toMap
      // a: 3 rows, total 15, 2 distinct uids (uid 1 repeated across
      // batches — the sketch must dedup across the fold)
      assert(fin == Map(
        "a" -> (3L, 15.0, 2.0), "b" -> (1L, 1.0, 1.0), "c" -> (1L, 5.0, 1.0)),
        s"after batch 2: $fin")
    } finally q.stop()
  }
}
