package graft

import graft.streaming.StreamingNearDup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class StreamingNearDupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

  test("near-dup arrivals emit candidate pairs across batches; distinct docs stay silent") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val bandedStream = StreamingNearDup.banded(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text",
      k = 3, numHashes = 16, numBands = 8)
    val q = StreamingNearDup.candidatePairs(spark, bandedStream)
      .writeStream.format("memory").queryName("near_dup_cands")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(1L -> base, 2L -> "completely different words in this one here now")
      q.processAllAvailable()
      assert(spark.table("near_dup_cands").isEmpty) // nothing similar yet

      // a near-dup of doc 1 arrives in a LATER batch → pair (1, 3) from
      // state, not from any same-batch join
      input.addData(3L -> (base + " lambda"))
      q.processAllAvailable()
      val pairs = spark.table("near_dup_cands")
        .select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 3L)), s"got $pairs")

      // replaying the same doc id adds no new pairs (idempotent member set)
      input.addData(3L -> (base + " lambda"))
      q.processAllAvailable()
      val again = spark.table("near_dup_cands")
        .select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(again == Set((1L, 3L)))
    } finally q.stop()
  }

  test("bucket cap: overflowing docs emit a truncated marker instead of pairs") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val bandedStream = StreamingNearDup.banded(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text",
      k = 3, numHashes = 16, numBands = 8)
    val q = StreamingNearDup.candidatePairs(spark, bandedStream, maxBucket = 2)
      .writeStream.format("memory").queryName("near_dup_capped")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(1L -> base, 2L -> base, 3L -> base)
      q.processAllAvailable()
      val rows = spark.table("near_dup_capped").collect()
      val real = rows.filter(!_.getAs[Boolean]("truncated"))
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // members capped at 2 per bucket: only the first two pair up
      assert(real == Set((1L, 2L)), s"got $real")
      // the third doc surfaces as truncated (routed to a batch pass);
      // markers are self-pairs by CONTRACT — consumers split on the flag
      // (!truncated → pair verification, truncated → batch pass)
      assert(rows.exists(r => r.getAs[Boolean]("truncated") && r.getLong(0) == 3L))

      // a re-arrival of the same overflow doc does NOT re-emit its marker
      // (ADVICE r2: marker ids are remembered in bucket state)
      val markersBefore = rows.count(_.getAs[Boolean]("truncated"))
      input.addData(3L -> base)
      q.processAllAvailable()
      val rowsAfter = spark.table("near_dup_capped").collect()
      assert(rowsAfter.count(_.getAs[Boolean]("truncated")) == markersBefore)
      // a NEW overflow doc still gets its own marker
      input.addData(4L -> base)
      q.processAllAvailable()
      val rowsNew = spark.table("near_dup_capped").collect()
      assert(rowsNew.exists(r => r.getAs[Boolean]("truncated") && r.getLong(0) == 4L))
    } finally q.stop()
  }

  test("event-time ttl: pairs within the horizon, expired buckets forget") {
    // Driven with AvailableNow passes over a shared checkpoint (state and
    // watermark persist across restarts); event-time timeouts fire as the
    // watermark advances, so each drain terminates — the reason the ttl
    // is event-time, not processing-time.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ttl_ck_").toString
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val bandedStream = StreamingNearDup.banded(
        input.toDS().toDF("doc_id", "ts", "text"), "doc_id", "text",
        k = 3, numHashes = 16, numBands = 8, carryCols = Seq("ts"))
      .withWatermark("ts", "0 seconds")
    // memory sink can't recover from a checkpoint — collect through
    // foreachBatch instead (which can)
    val got = scala.collection.mutable.ListBuffer[(Long, Long)]()
    def runPass(): Unit = {
      val q = StreamingNearDup.candidatePairsExpiring(spark, bandedStream,
          ttl = java.time.Duration.ofHours(1))
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamingNearDup.CandidatePair],
           _: Long) =>
            val rows = batch.collect().map(p => (p.id_a, p.id_b))
            got.synchronized { got ++= rows }
            ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

    input.addData((1L, ts(1000), base))
    runPass()
    // within the 1 h horizon, across a restart: still pairs
    input.addData((2L, ts(1300), base + " lambda"))
    runPass()
    assert(got.toSet == Set((1L, 2L)), s"got $got")

    // an unrelated doc pushes the watermark far past the bucket's
    // timeout → the bucket expires during this pass's drain
    input.addData((99L, ts(6 * 3600), "completely different words in this one here now"))
    runPass()
    got.clear()
    // a near-dup arriving AFTER expiry finds an empty bucket: no pair
    input.addData((3L, ts(6 * 3600 + 100), base + " mu"))
    runPass()
    assert(got.isEmpty, s"expired bucket still paired: $got")
    // ... and the emptied bucket repopulated with the arriving doc: the
    // next in-horizon arrival pairs with it
    input.addData((4L, ts(6 * 3600 + 200), base + " nu"))
    runPass()
    assert(got.toSet == Set((3L, 4L)), s"got $got")
  }
}
