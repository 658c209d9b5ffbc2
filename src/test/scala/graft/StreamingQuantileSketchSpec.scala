package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.QuantileSketch
import graft.pipelines.BucketedFoldStore
import graft.streaming.StreamingQuantileSketch

/** The streaming sketch sink restarted from its checkpoint: Spark's own
  * re-delivery of a micro-batch whose fold committed but whose commit
  * log entry did not must be a ledger no-op in the fold store.
  */
class StreamingQuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  test("a batch re-delivered after a crash before Spark's commit log folds once") {
    val root = Files.createTempDirectory("qsketch_restart_").toString
    val (feed, store, ckpt) = (s"$root/feed", s"$root/store", s"$root/ckpt")
    val r = new scala.util.Random(7)
    val all = (1 to 300).map { i =>
      val v = math.floor(r.nextDouble() * math.pow(10, r.nextInt(5)) * 100) / 100.0
      (if (i % 3 == 0) "a" else "b", if (i % 4 == 0) -v else v)
    }.toDF("g", "x")
    // a three-file feed, one file per micro-batch below
    (0 to 2).foreach { i =>
      all.filter(pmod(hash(col("x")), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(feed)
    }
    // (batch id, rows the batch's plan read) of each micro-batch
    def drain(): Seq[(Long, Long)] = {
      val q = StreamingQuantileSketch.start(spark,
        spark.readStream.schema(all.schema).option("maxFilesPerTrigger", "1")
          .parquet(feed),
        store, "x", Seq("g"), ckpt)
      try assert(q.awaitTermination(120000L), "drain did not terminate")
      finally if (q.isActive) q.stop()
      q.recentProgress.map(p => p.batchId -> p.numInputRows).toSeq
    }
    val first = drain()
    assert(first.map(_._1) == Seq(0L, 1L, 2L) && first.forall(_._2 > 0), s"got $first")
    // crash after batch 2's fold committed but before Spark's commit log
    // recorded it: drop the last commits/<n> entry (and its checksum)
    val fs = new Path(ckpt).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lastCommit = new Path(ckpt, "commits/2")
    Seq(lastCommit, new Path(ckpt, "commits/.2.crc")).foreach(fs.delete(_, false))
    // restart on the same checkpoint: Spark re-runs batch 2 under the
    // same id and commits it again. The fold finds mb_2 in the ledger
    // and returns before any action, so the batch's rows are never read.
    assert(drain() == Seq(2L -> 0L))
    assert(fs.exists(lastCommit))
    assert(BucketedFoldStore.processed(spark, store, "mb_2"))
    val stored = QuantileSketch.readStore(spark, store).collect().map(_.toSeq).toSet
    val oneShot = QuantileSketch.build(all, "x", Seq("g")).collect().map(_.toSeq).toSet
    assert(stored == oneShot, "the re-delivered batch was folded twice")
  }
}
