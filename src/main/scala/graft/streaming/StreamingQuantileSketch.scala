package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.operators.QuantileSketch
import graft.pipelines.BucketedFoldStore

/** Continuously-maintained quantile-sketch store: each micro-batch is
  * collapsed to its bucket-count sketch and folded into the durable
  * sketch store ([[QuantileSketch.foldIntoStore]], a
  * [[BucketedFoldStore]]) — the online dual of the nightly stored-sketch
  * lifecycle, the same shape as [[StreamingIncrementalAgg]] / the
  * streaming DSIR model fold.
  *
  * Why `foreachBatch` instead of a stateful streaming aggregation: the
  * sketch must be a QUERYABLE TABLE between batches (a latency monitor
  * reads p99 off it whenever it likes), survive restarts without
  * replaying the stream, and merge with batch-side folds — state-store
  * aggregations keep their state private to the query. Per-batch cost is
  * one batch-sized bucket-count aggregation plus a merge that shuffles
  * only SKETCH rows (≤3.2k per group, independent of summarized
  * history).
  *
  * EXACTLY-ONCE: the micro-batch id Spark hands `foreachBatch`
  * (re-delivered VERBATIM when a failed batch retries) is the fold's
  * ledger key ([[BucketedFoldStore.ledgerKey]], which also documents
  * when `streamName` must differ), and the store's manifest ledger
  * makes the re-delivered fold a no-op. The drained store therefore
  * equals the one-shot sketch over full history even across restarts,
  * which is what the shared oracle checks.
  */
object StreamingQuantileSketch {

  def writer(spark: SparkSession, stream: DataFrame, storePath: String,
             valueCol: String, groupCols: Seq[String],
             streamName: String = ""): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      QuantileSketch.foldIntoStore(spark, batch, valueCol, groupCols,
        storePath, BucketedFoldStore.ledgerKey(streamName, batchId))
      ()
    }

  def start(spark: SparkSession, stream: DataFrame, storePath: String,
            valueCol: String, groupCols: Seq[String],
            checkpoint: String, streamName: String = ""): StreamingQuery =
    writer(spark, stream, storePath, valueCol, groupCols, streamName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
