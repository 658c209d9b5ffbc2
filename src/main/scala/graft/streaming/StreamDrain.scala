package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Drains a BOUNDED file-backed stream through a streaming operator and
  * returns the sink contents as a batch DataFrame — the harness that
  * promotes streaming components to the DuckDB-oracle evidence tier
  * (round-4 verdict #4): the driver's correctness gate hash-compares a
  * drained streaming run against the same SQL oracle as the batch dual,
  * instead of trusting ScalaTest specs alone.
  *
  * `Trigger.AvailableNow` processes every file present then stops, so
  * the call is deterministic for a static directory. `outputMode` picks
  * the agreement surface: `append` compares the emitted-row set,
  * `complete` compares the final state, `update` compares the per-batch
  * emissions — which only equal a batch dual when the whole drain is ONE
  * data-carrying micro-batch (a later batch would re-emit superseded
  * rows into the accumulating memory sink), so update-mode drains ASSERT
  * single-batch-ness after termination instead of assuming it (round-5
  * advice). Each drain gets a FRESH checkpoint location on tmpfs
  * ([[freshCheckpoint]]) — each drain is a fresh end-to-end replay (a
  * persisted checkpoint would make the second run a no-op and the gate
  * would compare an empty sink), and a replay's checkpoint has zero
  * durability value, so its fsync-heavy commit path belongs in memory.
  * Production deployments run the same operators with `start()` plus a
  * DURABLE checkpoint dir; only the sink, trigger, and checkpoint
  * durability differ.
  *
  * Conf isolation (round-6 verdict #7): the drain runs on a dedicated
  * session — same SparkContext, isolated SQLConf and temp views — so
  * the pinned shuffle fan-out and any `extraConfs` (e.g. the
  * state-store provider) never leak into queries planned concurrently
  * on the caller's session. Round 10: dedicated sessions are CACHED
  * per conf set ([[sessionFor]]) instead of rebuilt per drain — same
  * isolation boundary (sessions never mix conf sets), minus the
  * per-drain SessionState rebuild. A repeated drain under the same
  * sink name replaces the memory-sink view in its cached session; the
  * caller materializes the returned frame before any later drain of
  * the same name (Verify writes parquet, Bench writes noop —
  * both immediate).
  */
object StreamDrain {

  /** Config-keyed cache of drain sessions (round-9 verdict #7): the
    * drain family's sf0.1 cost is dominated by per-drain START
    * machinery, and a fresh `newSession()` per drain re-initializes a
    * SessionState (conf, catalog, parser, analyzer rule pipeline) that
    * is identical for every drain sharing one conf set. Sessions are
    * cached per (context, time zone, conf-set) key — isolation
    * between DIFFERENT conf sets is preserved exactly as before (a
    * RocksDB drain never shares a session with a default-provider
    * drain), and reuse within a set is safe because each drain's
    * memory sink registers under its own query name and the streaming
    * query is stopped before return. Bounded: a handful of distinct
    * conf sets exist across the whole suite.
    */
  private val sessions =
    new java.util.concurrent.ConcurrentHashMap[String, SparkSession]()

  /** Fresh-per-drain checkpoint root on tmpfs when available (round-9
    * verdict #7, second lever): a drain's checkpoint (offset/commit
    * logs, state-store deltas + CRCs, one fsync-laden file per store
    * per batch) is a REPLAY artifact with zero durability value — the
    * contract is a fresh end-to-end run every time — but by default it
    * lands on java.io.tmpdir, which on this host is disk-backed ext4.
    * /dev/shm puts the whole commit path in memory. The counter keeps
    * every drain's location fresh (a reused checkpoint would turn the
    * second run into a no-op and the gate would compare an empty
    * sink); each location is deleted after its drain.
    */
  private val ckptCounter = new java.util.concurrent.atomic.AtomicLong()
  private def freshCheckpoint(name: String): java.io.File = {
    val root =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft_drain_ckpt"
      else sys.props("java.io.tmpdir") + "/graft_drain_ckpt"
    val d = new java.io.File(s"$root/${name}_${ckptCounter.incrementAndGet()}")
    d.mkdirs()
    d
  }

  private def sessionFor(spark: SparkSession,
                         confs: Map[String, String]): SparkSession = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val key = (System.identityHashCode(spark.sparkContext),
      tz, confs.toSeq.sorted).toString
    sessions.computeIfAbsent(key, _ => {
      val ss = spark.newSession()
      // a fresh SessionState initializes from builder-time SparkConf,
      // NOT the caller's runtime `conf.set` overrides — re-pin the
      // session time zone (the oracle agreement depends on UTC timestamp
      // arithmetic), then the drain-local overrides
      ss.conf.set("spark.sql.session.timeZone", tz)
      confs.foreach { case (k, v) => ss.conf.set(k, v) }
      ss
    })
  }

  def drain(spark: SparkSession, path: String, schema: StructType,
            name: String, outputMode: String,
            extraConfs: Map[String, String] = Map.empty,
            sourceOptions: Map[String, String] = Map.empty)
           (op: DataFrame => DataFrame): DataFrame = {
    // the testdata tables are single parquet FILES; FileStreamSource
    // accepts only directories or globs, so wrap the file name in a
    // one-member {} glob — the source then lists exactly that file and
    // infers the (directory) basePath from the glob's parent
    val p = new org.apache.hadoop.fs.Path(path)
    val globbed = s"${p.getParent}/{${p.getName}}"
    // Stateful-operator partition count is pinned at query start from
    // spark.sql.shuffle.partitions (streaming plans skip AQE), and every
    // state store pays per-commit file I/O EVERY micro-batch regardless
    // of row volume — a stream-stream join carries 4 stores per
    // partition, so the session's batch-tuned fan-out of 32 costs 128
    // commits per batch of fixed overhead against the bounded testdata.
    // The drain sizes the fan-out to the INPUT (round-8 verdict #4):
    // one state partition per 64 MB of source bytes, clamped to [1, 8]
    // — bounded harness drains get 1 partition instead of a fixed 8,
    // cutting per-batch commit files 8× with identical results (state
    // keying is partition-count-independent). MEASURED, not assumed
    // (round 9): at the sf1 scaling corpus the 1-partition TTL drain
    // beats a 5-partition run (35.3 s vs 37.9 s) — per-batch commit
    // file I/O still outweighs state-operator parallelism at tens of
    // MB, so the sizing stays commit-minimizing until inputs reach
    // real multi-split sizes. Safe here ONLY because drains are
    // checkpoint-free end-to-end replays: an existing checkpoint pins
    // its partition count forever, so a production stream must size
    // this once at first start, not per run. Callers can still
    // override via extraConfs (applied after).
    val fsIn = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val inputBytes =
      try {
        val matched = Option(fsIn.globStatus(new org.apache.hadoop.fs.Path(globbed)))
          .getOrElse(Array.empty)
        matched.iterator.flatMap { st =>
          if (st.isDirectory) fsIn.listStatus(st.getPath).iterator else Iterator(st)
        }.map(_.getLen).sum
      } catch { case _: Exception => Long.MaxValue } // unsized → max fan-out
    val sized = math.max(1L, math.min(8L, (inputBytes + (64L << 20) - 1) / (64L << 20)))
    val confs = Map("spark.sql.shuffle.partitions" -> sized.toString) ++ extraConfs
    val ss = sessionFor(spark, confs)
    val ckpt = freshCheckpoint(name)
    val q = op(ss.readStream.schema(schema).options(sourceOptions)
        .parquet(globbed))
      .writeStream.format("memory").queryName(name)
      .outputMode(outputMode)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      // AvailableNow self-terminates; the bound turns a wedged stream
      // into a loud failure instead of a silently hung gate
      if (!q.awaitTermination(600000L))
        throw new IllegalStateException(
          s"stream drain '$name' did not terminate within 600s")
      // update-mode agreement rests on the single-data-batch premise
      // (see scaladoc) — verify it against the actual run instead of
      // trusting the single-file source layout forever. No-data
      // batches (watermark flushes) are fine; a SECOND batch carrying
      // rows is not.
      if (outputMode == "update") {
        val dataBatches = q.recentProgress.count(_.numInputRows > 0L)
        if (dataBatches > 1)
          throw new IllegalStateException(
            s"stream drain '$name' ran $dataBatches data micro-batches; " +
              "update-mode agreement with a batch oracle requires exactly " +
              "one (a multi-file source would emit superseded rows)")
      }
    } finally {
      if (q.isActive) q.stop()
      // dev diagnostics (round-15): per-micro-batch duration breakdown
      // (addBatch vs commit machinery) to stderr when asked — the
      // drain-family optimization loop reads these instead of guessing
      if (sys.env.contains("GRAFT_DRAIN_DEBUG"))
        q.recentProgress.foreach(p => System.err.println(
          s"[drain $name] batch ${p.batchId} rows ${p.numInputRows} " +
            s"durationMs ${p.durationMs}"))
      // replay artifact — reclaim the tmpfs space immediately
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
      ()
    }
    ss.table(name)
  }
}
