package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.operators.IncrementalAgg
import graft.pipelines.BucketedFoldStore

/** Continuously-maintained rollup store: each micro-batch is collapsed
  * to its mergeable per-key state ([[IncrementalAgg.aggregateBatch]])
  * and folded into a durable [[BucketedFoldStore]] with
  * [[IncrementalAgg.merge]] — the streaming deployment of the
  * incremental materialized-view pattern, and the always-on form of the
  * reference's append-then-re-derive dashboard rollups. Read the store
  * with `BucketedFoldStore.readState`.
  *
  * Why `foreachBatch` instead of a stateful streaming aggregation: the
  * store must be a QUERYABLE TABLE between batches (the dashboard reads
  * it), survive restarts without replaying the stream, and merge with
  * batch-side ingests — state-store aggregations keep their state
  * private to the query. Per batch, only the hash buckets the batch's
  * keys land in are rewritten (O(delta), however large the store
  * grows), and the merge shuffles only STATE rows of those buckets; the
  * KMV distinct sketch stays exactly mergeable across batches, so the
  * drained store is bit-identical to a one-shot aggregate over full
  * history — which is what the oracle checks. `IncrementalAgg.merge` is
  * key-local on `keys`, the store's requirement.
  *
  * Replay safety: the fold's ledger key is the micro-batch id
  * ([[BucketedFoldStore.ledgerKey]], which also documents when
  * `streamName` must differ) — Spark re-delivers a failed batch under
  * the SAME id, so the retry is a ledger no-op.
  */
object StreamingIncrementalAgg {

  def writer(spark: SparkSession, stream: DataFrame, storePath: String,
             keys: Seq[String], valueCol: String, distinctCol: String,
             k: Int, numBuckets: Int = 64,
             streamName: String = ""): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      BucketedFoldStore.foldOnce(spark, storePath,
        BucketedFoldStore.ledgerKey(streamName, batchId),
        IncrementalAgg.aggregateBatch(batch, keys, valueCol, distinctCol, k),
        keys, numBuckets)(
        IncrementalAgg.merge(_, _, keys, k))
      ()
    }

  /** [[writer]] started with an AvailableNow drain. */
  def start(spark: SparkSession, stream: DataFrame, storePath: String,
            keys: Seq[String], valueCol: String, distinctCol: String,
            k: Int, checkpoint: String, numBuckets: Int = 64,
            streamName: String = ""): StreamingQuery =
    writer(spark, stream, storePath, keys, valueCol, distinctCol, k,
        numBuckets, streamName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
