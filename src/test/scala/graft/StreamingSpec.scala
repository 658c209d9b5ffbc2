package graft

import graft.streaming.LatestPerKeyStream
import graft.streaming.LatestPerKeyStream.StockObs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** ST4 — streaming latest-per-key over a MemoryStream, driven with
  * explicit micro-batches (the 10-minute poll cadence, compressed).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("corpusGate runs unchanged on a stream (stateless map-side signals) and matches batch") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "the cat sat on the mat and then the dog came in too"),
      (2L, "el la de que y algo mas aqui para el gato"),
      (3L, "a b"))
    val input = MemoryStream[(Long, String)]
    val gated = graft.operators.TextAnalysis.corpusGate(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text",
      minTokens = 3, maxRepetition = 0.9, minQuality = 0.0,
      allowedLangs = Seq("en"))
    val q = gated.select("doc_id", "kept", "drop_reason")
      .writeStream.format("memory").queryName("gate_stream")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("gate_stream").collect()
        .map(r => r.getLong(0) -> (r.getBoolean(1), Option(r.getString(2)))).toMap
      val batch = graft.operators.TextAnalysis.corpusGate(
          docs.toDF("doc_id", "text"), "doc_id", "text",
          minTokens = 3, maxRepetition = 0.9, minQuality = 0.0,
          allowedLangs = Seq("en"))
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Boolean]("kept"), Option(r.getAs[String]("drop_reason")))).toMap
      assert(streamed == batch, s"stream $streamed vs batch $batch")
      assert(streamed(1L)._1 && !streamed(2L)._1 && !streamed(3L)._1)
    } finally q.stop()
  }

  test("stream keeps the latest observation per (event, theater) across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StockObs]
    val q = LatestPerKeyStream.latestPerKey(spark, input.toDS())
      .writeStream.format("memory").queryName("latest_stock")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(
        StockObs("e1", "CGV강남", 100L, "보유", 50),
        StockObs("e1", "CGV강남", 200L, "소진중", 20),
        StockObs("e1", "용산", 100L, "보유", 44))
      q.processAllAvailable()
      val afterB1 = spark.table("latest_stock").as[StockObs].collect()
        .map(o => (o.theater_name, o.status)).toSet
      assert(afterB1 == Set(("CGV강남", "소진중"), ("용산", "보유")))

      // batch 2: newer obs for 강남, stale (older) obs for 용산 → only 강남 emits
      input.addData(
        StockObs("e1", "CGV강남", 300L, "소진", 0),
        StockObs("e1", "용산", 50L, "보유", 44))
      q.processAllAvailable()
      val all = spark.table("latest_stock").as[StockObs].collect()
      val emitted2 = all.filter(_.scraped_at > 200L)
      assert(emitted2.map(o => (o.theater_name, o.status)).toSeq == Seq(("CGV강남", "소진")))
      // the stale 용산 observation must NOT have produced an update
      assert(!all.exists(o => o.theater_name == "용산" && o.scraped_at == 50L))
    } finally q.stop()
  }

  test("StreamDrain rejects a multi-data-batch update-mode drain (round-5 advice)") {
    // update-mode agreement with a batch oracle rests on ONE data
    // micro-batch; a multi-file source throttled to one file per trigger
    // must trip the assertion instead of silently comparing superseded
    // emissions. The same drain in append mode is fine.
    val dir = java.nio.file.Files.createTempDirectory("graft_drain_spec")
    val data = Seq((1L, "a", 101L, 10L, 1.0), (2L, "b", 102L, 20L, 2.0),
        (1L, "a", 103L, 30L, 3.0))
      .toDF("user_id", "event_type", "event_id", "ts_us", "value")
    data.repartition(2).write.parquet(s"$dir/events")
    val op: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      src => {
        val ev = src.as[faces.Fixtures.EventLatest]
        LatestPerKeyStream.latestByVersion(ev)(
          e => (e.user_id, e.event_type), e => (e.ts_us, e.event_id)).toDF()
      }
    val e = intercept[IllegalStateException] {
      graft.streaming.StreamDrain.drain(spark, s"$dir/events/*.parquet",
        data.schema, "drain_multi_batch", "update",
        sourceOptions = Map("maxFilesPerTrigger" -> "1"))(op)
    }
    assert(e.getMessage.contains("data micro-batches"), e.getMessage)
    // append mode tolerates the same multi-batch layout
    val ok = graft.streaming.StreamDrain.drain(spark, s"$dir/events/*.parquet",
      data.schema, "drain_multi_batch_append", "append",
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))(identity)
    assert(ok.count() == 3)
  }
}
