package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.operators.Upsert
import graft.pipelines.BoxOfficePipeline

/** ST2 → U1 bridge: maintain an upserted parquet table FROM a stream —
  * the reference's cron-appended `goods_event` upsert
  * (goods_stock_pipeline.py:99-113 feeding sqlite_connector.py:76-114)
  * as a continuously-running job.
  *
  * Structured Streaming has no MERGE sink for plain parquet, so each
  * micro-batch runs the engine's deterministic last-write-wins upsert
  * (`Upsert.upsert`) against the store inside `foreachBatch` — the
  * standard pattern for merge-shaped sinks on sources Spark can't MERGE
  * into natively. Each batch goes through
  * `BoxOfficePipeline.mergeAndSwap`, the dimension tables'
  * choreography: under the store's writer lock, roll forward an
  * interrupted swap, read the store (schema from a parquet footer, no
  * inference job), union+window with the batch, and write
  * the result once to staging before the rename swap. The merge plan
  * runs once: its shuffle stage and the write, two Spark jobs with AQE.
  *
  * Scale: the per-batch cost is one keyed shuffle over (store + batch);
  * on a real deployment the store is partitioned and the rewrite is
  * bounded with dynamic partition overwrite (see
  * `BoxOfficePipeline.backfillRange`), or the sink becomes a
  * MERGE-capable table format. Idempotency: a replayed batch produces
  * the identical store (last-write-wins is deterministic), which is
  * exactly the reference's re-runnable-upsert contract (ST5).
  */
object StreamingUpsert {

  /** Start a query that upserts each micro-batch of `stream` into the
    * parquet table at `storePath` on `keys`, highest `versionCol` wins.
    */
  def start(spark: SparkSession, stream: DataFrame, storePath: String,
            keys: Seq[String], versionCol: String,
            checkpoint: String): StreamingQuery =
    writer(spark, stream, storePath, keys, versionCol)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The configured writer (exposed for tests that want their own
    * trigger cadence).
    */
  def writer(spark: SparkSession, stream: DataFrame, storePath: String,
             keys: Seq[String], versionCol: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      BoxOfficePipeline.mergeAndSwap(spark, storePath, batch,
        base => Upsert.upsert(base, batch, keys, col(versionCol)))
      ()
    }

  /** CDC sink — [[writer]]'s tombstone-aware sibling: each micro-batch
    * of an I/U/D change feed folds into the store via
    * [[graft.operators.Upsert.applyCdc]] (latest change per key by
    * sequence; D deletes). Cross-batch correctness needs the feed
    * delivered in sequence order ACROSS batches (within a batch any
    * order resolves by `seqCol`) — the contract a log-ordered CDC
    * source (binlog/WAL reader) provides naturally; same crash-safe
    * AtomicStore swap and replay idempotence as the plain upsert sink.
    */
  def writerCdc(spark: SparkSession, stream: DataFrame, storePath: String,
                keys: Seq[String], opCol: String,
                seqCol: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      BoxOfficePipeline.mergeAndSwap(spark, storePath,
        batch.drop(opCol, seqCol),
        base => Upsert.applyCdc(base, batch, keys, opCol, seqCol))
      ()
    }

  /** [[writerCdc]] started with an AvailableNow drain. */
  def startCdc(spark: SparkSession, stream: DataFrame, storePath: String,
               keys: Seq[String], opCol: String, seqCol: String,
               checkpoint: String): StreamingQuery =
    writerCdc(spark, stream, storePath, keys, opCol, seqCol)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
