package graft
package faces

import org.apache.spark.sql.functions._

import graft.Tables.dec
import graft.pipelines.StoreTable

import Fixtures._

/** SURVEY §2.9 streaming batch-agreement gates (VERDICT r4 #4): each
  * drains an AvailableNow run of a streaming component over the same
  * parquet the batch dual reads, and the DuckDB oracle states the batch
  * semantics — hash-level agreement, not just spec assertions. A
  * streaming dual that shares its oracle with a batch face lives in that
  * face's family.
  */
private[graft] object StreamingFaces extends Family("streaming") {

  val faces: Seq[Face] = Seq(

    // streaming exact dedup vs batch distinct-content set: the emitted
    // row set of dropDuplicates(content_hash) is one row per distinct
    // content; WHICH duplicate survives is arrival-order-dependent, so
    // the agreement surface is the deterministic hash set
    Face("q_stream_dedup_firstseen", (s, dir) => {
      val batch = t(s, dir, "documents")
      graft.streaming.StreamDrain.drain(s, s"$dir/documents.parquet",
          batch.schema, "stream_dedup_firstseen", "append") { src =>
        graft.streaming.StreamingDedup.firstSeen(src, "doc_id", "text")
          .select("content_hash")
      }.orderBy("content_hash")
    },
      // streaming agreement oracles: each states the BATCH semantics the
      // drained streaming run must reproduce exactly
      """SELECT DISTINCT md5(text) AS content_hash FROM documents
         ORDER BY content_hash"""),

    // streaming gap sessionization (session_window, complete mode) vs
    // the batch gaps-and-islands dual: final session state must equal
    // batch sessions exactly — start = first event, end = last event +
    // gap, count and decimal-exact value total per session. value rides
    // as DECIMAL(38,6) through the streaming sum so partial-aggregation
    // order can't perturb the double (the sumd discipline), and
    // timestamps compare as epoch micros in both engines.
    Face("q_stream_sessionize", (s, dir) => {
      // Stateful fan-out sized for a COMPUTE-heavy single-store op
      // (round-15, guide §2.5/§2.6): the drain default (1 partition per
      // 64 MB, the TTL-drain measurement where per-batch COMMIT files
      // dominate) leaves the session-window fold single-threaded while
      // 31 cores idle. This op is the opposite profile — one state
      // store per partition (cheap commits) and per-row session
      // assembly (expensive compute) — and the measured knee at sf0.1
      // (200k rows) is p=8: addBatch 1.55 s (p=1) → 0.82 s (p=8) →
      // 1.25 s (p=32). Size it from INPUT BYTES (≈256 KB ≈ 25k rows
      // per partition), clamped [1, 32] — scale-adaptive, not a core
      // constant; a production stream pins this once at first start
      // (checkpoint locks it) per the StreamDrain scaladoc. The
      // interval-join faces KEEP the commit-minimizing default: 4
      // stores/partition, and p=8 measured SLOWER (2.5 → 3.0 s).
      val evPath = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
      val evBytes =
        try evPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .getContentSummary(evPath).getLength
        catch { case _: Exception => 0L }
      val fanout = math.max(1L, math.min(32L, (evBytes + (256L << 10) - 1) / (256L << 10)))
      drainEvents(s, dir, "stream_sessionize", "complete",
          confs = Map("spark.sql.shuffle.partitions" -> fanout.toString)) { src =>
        val ev = src.select(col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("event_ts"),
          dec(col("value")).as("value"))
        graft.streaming.SessionWindows.sessionTotals(
          ev, "event_ts", "user_id", gap = "4 hours")
      }.select(col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("n_events"),
          col("total_value").cast("double").as("total_value"))
        .orderBy("user_id", "session_start_us")
    },
      // session_window merges events whose gap is STRICTLY under 4h
      // (windows [t, t+gap) that merely touch do not overlap), so the
      // batch break condition is >= gap; end = last event + gap
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
              l AS (SELECT *, LAG(ts_us) OVER (PARTITION BY user_id
                      ORDER BY ts_us) AS prev FROM ev),
              b AS (SELECT *, CASE WHEN prev IS NULL OR ts_us - prev >= 14400000000
                                   THEN 1 ELSE 0 END AS brk FROM l),
              sid AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id
                        ORDER BY ts_us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                        AS session_id FROM b)
         SELECT user_id, MIN(ts_us) AS session_start_us,
                MAX(ts_us) + 14400000000 AS session_end_us,
                COUNT(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
         FROM sid GROUP BY user_id, session_id
         ORDER BY user_id, session_start_us"""),

    // watermarked stream-stream interval join vs the batch range join:
    // click→purchase attribution within 1 hour on the same user. The
    // generous watermark keeps every row in state for the whole bounded
    // drain (nothing evicts, nothing is late), so the inner-join output
    // must equal the batch pair set exactly.
    Face("q_stream_interval_join", (s, dir) => {
      drainEvents(s, dir, "stream_interval_join", "append") { src =>
        def side(kind: String) = src.filter(col("event_type") === kind)
          .select(col("user_id"),
            timestamp_micros(expr("ts div 1000")).as("event_ts"),
            col("event_id"))
        graft.streaming.StreamStreamJoin.intervalJoin(
          side("click"), side("purchase"), "user_id", "event_ts",
          within = "1 hour", watermark = "3650 days")
      }.select(col("user_id"),
          unix_micros(col("event_ts")).as("ts_us"), col("event_id"),
          unix_micros(col("event_ts_r")).as("ts_r_us"), col("event_id_r"))
        .orderBy("user_id", "ts_us", "event_id", "ts_r_us", "event_id_r")
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type
                    FROM events)
         SELECT l.user_id, l.us AS ts_us, l.event_id,
                r.us AS ts_r_us, r.event_id AS event_id_r
         FROM e l JOIN e r ON l.user_id = r.user_id
           AND l.event_type = 'click' AND r.event_type = 'purchase'
           AND r.us >= l.us AND r.us <= l.us + 3600000000
         ORDER BY 1, 2, 3, 4, 5"""),

    // watermarked tumbling-window totals (complete mode) vs the batch
    // hour-bucket group-by: final window state must match exactly, with
    // value decimal-routed so partial-agg order can't perturb the double
    Face("q_stream_windowed_counts", (s, dir) => {
      drainEvents(s, dir, "stream_windowed_counts", "complete") { src =>
        val ev = src.select(
          timestamp_micros(expr("ts div 1000")).as("event_ts"),
          col("event_type"), dec(col("value")).as("value"))
        graft.streaming.WindowedEventCounts.windowedTotals(ev, "event_ts")
      }.select(unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("n_events"),
          col("total_value").cast("double").as("total_value"))
        .orderBy("window_start_us", "event_type")
    },
      // Spark's window(ts, '1 hour') starts are epoch-aligned hour floors —
      // integer division of the micros timestamp in any engine
      """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
                event_type, COUNT(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),

    // stream-static dimension enrichment (streaming J1): the event
    // stream joins the static customer dim per micro-batch — stateless,
    // no watermark — then complete-mode totals per (segment, type);
    // the drained final state must equal the batch join+agg oracle
    Face("q_stream_static_enrich", (s, dir) => {
      drainEvents(s, dir, "stream_static_enrich", "complete") { src =>
        // the dim must load on the DRAIN's dedicated session — a frame
        // from the caller's session cannot join a stream of another
        val dim = Tables.load(src.sparkSession, dir, "customer")
        val ev = src.select(col("user_id"), col("event_type"),
          dec(col("value")).as("value"))
        graft.streaming.StreamStaticEnrich.enrichedTotals(
          ev, dim, "user_id", "c_custkey", "c_mktsegment")
      }.select(col("c_mktsegment"), col("event_type"), col("n_events"),
          col("total_value").cast("double").as("total_value"))
        .orderBy("c_mktsegment", "event_type")
    },
      // stream-static join enrichment: final state = the batch join+agg
      """SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // streaming monotone funnel frontier vs the batch sequential funnel:
    // the bounded drain is one micro-batch (single source file), where
    // the stage-advancement emissions are EXACTLY the batch funnel's
    // strictly-after stage times, unpivoted to (user, stage, ts) rows
    Face("q_stream_funnel", (s, dir) => {
      drainEvents(s, dir, "stream_funnel", "update") { src =>
        import s.implicits._
        val ev = src.select(col("user_id"), col("event_type"),
            expr("ts div 1000").as("ts"))
          .as[graft.streaming.StreamingFunnel.FunnelEvent]
        graft.streaming.StreamingFunnel.stageProgress(s, ev,
          Seq("view", "click", "purchase")).toDF()
      }.select(col("user_id"), col("stage").cast("long").as("stage"),
          col("ts").as("ts_us"))
        .orderBy("user_id", "stage")
    },
      // sequential funnel, strictly-after stage times, unpivoted: stage i
      // is the MIN event time of its type strictly after stage i-1's time
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
              s1 AS (SELECT user_id, MIN(us) AS t FROM e
                     WHERE event_type = 'view' GROUP BY 1),
              s2 AS (SELECT e.user_id, MIN(us) AS t FROM e
                     JOIN s1 USING (user_id)
                     WHERE event_type = 'click' AND us > s1.t GROUP BY 1),
              s3 AS (SELECT e.user_id, MIN(us) AS t FROM e
                     JOIN s2 USING (user_id)
                     WHERE event_type = 'purchase' AND us > s2.t GROUP BY 1)
         SELECT user_id, CAST(1 AS BIGINT) AS stage, t AS ts_us FROM s1
         UNION ALL SELECT user_id, CAST(2 AS BIGINT), t FROM s2
         UNION ALL SELECT user_id, CAST(3 AS BIGINT), t FROM s3
         ORDER BY user_id, stage"""),

    // ST4 at the oracle tier — the reference's one genuinely stateful
    // semantic (dashboard.py:104-119 "current stock"): the drained
    // flatMapGroupsWithState winners must equal the batch flagship
    // exactly (same oracle SQL as q_w1_latest_per_key)
    Face("q_stream_latest_per_key", (s, dir) =>
      drainLatestPerKey(s, dir, "stream_latest_per_key", Map.empty),
      // ST4 drains state the batch flagship's semantics verbatim — both
      // providers must reproduce q_w1_latest_per_key exactly
      """SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
         FROM (SELECT user_id, event_type, event_id, ts, value,
                      ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                         ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
               FROM events) t
         WHERE rn = 1 ORDER BY user_id, event_type"""),

    // the SAME drain on the RocksDB state-store provider — the provider
    // a 100 TB deployment needs (per-key state spills to executor-local
    // disk + spill-to-DFS snapshots instead of living on heap; see
    // SCALE.md "Streaming state-store provider"): agreement here pins
    // provider-independence of the stateful semantics
    Face("q_stream_latest_rocksdb", (s, dir) =>
      drainLatestPerKey(s, dir, "stream_latest_rocksdb",
        Map("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")),
      """SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
         FROM (SELECT user_id, event_type, event_id, ts, value,
                      ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                         ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
               FROM events) t
         WHERE rn = 1 ORDER BY user_id, event_type"""),

    // U1 from a STREAM: the foreachBatch upsert drains the q_u1_upsert
    // fresh slice into an AtomicStore-swapped parquet table seeded with
    // the base rows; the FINAL STORE must equal the batch upsert exactly
    // (same oracle shape as q_u1_upsert) — exercising the
    // recover→readOrEmpty→merge→atomic-swap path end to end, not just
    // its spec. Scratch lives under a fixed per-sf /tmp root rebuilt
    // from zero each invocation (fresh replay, bounded garbage).
    Face("q_stream_upsert", (s, dir) => {
      val base = t(s, dir, "events")
        .withColumn("ts_us", expr("ts div 1000"))
        .select("event_id", "ts_us", "user_id", "event_type", "value", "props")
      val fresh = base.filter(col("event_id") % 10 < 3)
        .withColumn("value", col("value") + 1000)
        .withColumn("props", lit("{\"upd\": true}"))
      val san = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = new org.apache.hadoop.fs.Path(
        s"$scratchRoot/graft_stream_upsert_$san")
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(root, true)
      // FEED cached per sf dir (deterministic projection of events —
      // the round-14 verdict #4 discipline); the STORE is seeded fresh
      // every run: it is the operator's mutable state, never cached.
      val feed = cachedFeed(s, s"graft_feed_upsert_$san",
          srcToken(s, dir, "events")) { fd =>
        fresh.coalesce(1).write.parquet(fd)
      }
      val store = s"$root/store"
      graft.pipelines.AtomicStore.overwrite(base, store)
      val q = graft.streaming.StreamingUpsert.start(s,
        s.readStream.schema(fresh.schema).parquet(feed), store,
        Seq("event_id"), "ts_us", s"$root/ckpt")
      try {
        if (!q.awaitTermination(600000L))
          throw new IllegalStateException(
            "stream upsert drain did not terminate within 600s")
      } finally if (q.isActive) q.stop()
      StoreTable.read(s, store).orderBy("event_id")
    },
      // the streamed upsert's final store must equal the batch
      // last-write-wins merge — the q_u1_upsert semantics verbatim
      """WITH base AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props FROM events),
              fresh AS (SELECT event_id, ts_us, user_id, event_type, value + 1000 AS value,
                               '{"upd": true}' AS props
                        FROM base WHERE event_id % 10 < 3),
              u AS (SELECT *, 1 AS pri FROM fresh UNION ALL SELECT *, 0 AS pri FROM base),
              r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                                                 ORDER BY pri DESC, ts_us DESC) AS rn FROM u)
         SELECT event_id, ts_us, user_id, event_type, value, props
         FROM r WHERE rn = 1 ORDER BY event_id"""),

    // watermark-DELAYED outer emission — the subtlest streaming
    // semantic in the repo (StreamStreamJoin.intervalJoinLeftOuter): an
    // unmatched click emits its null-purchase row only once the
    // watermark passes the end of its match window. Each side's
    // watermark node sees only ITS filtered substream, so the global
    // watermark (multipleWatermarkPolicy=min) lands at
    // min(max click ts, max purchase ts) — NOT the table max — and the
    // drain's trailing no-data batch flushes every left row whose match
    // window closed before that. Both engines restrict to windows
    // closing ≥1h clear of that boundary so eviction-edge strictness
    // can't flip a row.
    Face("q_stream_interval_join_outer", (s, dir) => {
      val batch = t(s, dir, "events")
      val horizon = batch
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("event_type").agg(max(expr("ts div 1000")).as("m"))
        .agg(min(col("m"))).head().getLong(0) -
        7200000000L // 2h = the 1h match window + 1h boundary margin
      drainEvents(s, dir, "stream_interval_join_outer", "append") { src =>
        def side(kind: String) = src.filter(col("event_type") === kind)
          .select(col("user_id"),
            timestamp_micros(expr("ts div 1000")).as("event_ts"),
            col("event_id"))
        graft.streaming.StreamStreamJoin.intervalJoinLeftOuter(
          side("click"), side("purchase"), "user_id", "event_ts",
          within = "1 hour", watermark = "0 seconds")
      }.filter(unix_micros(col("event_ts")) <= lit(horizon))
        .select(col("user_id"),
          unix_micros(col("event_ts")).as("ts_us"), col("event_id"),
          unix_micros(col("event_ts_r")).as("ts_r_us"), col("event_id_r"))
        .orderBy("user_id", "ts_us", "event_id", "ts_r_us", "event_id_r")
    },
      // batch left-outer range join over the same boundary-clear left set:
      // matched clicks carry every in-window purchase, unmatched clicks
      // carry nulls — exactly what the watermark-flushed drain must emit
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type
                    FROM events),
              l AS (SELECT user_id, us, event_id FROM e
                    WHERE event_type = 'click'
                      AND us <= LEAST(
                            (SELECT MAX(us) FROM e WHERE event_type = 'click'),
                            (SELECT MAX(us) FROM e WHERE event_type = 'purchase'))
                          - 7200000000),
              r AS (SELECT user_id, us, event_id FROM e
                    WHERE event_type = 'purchase')
         SELECT l.user_id, l.us AS ts_us, l.event_id,
                r.us AS ts_r_us, r.event_id AS event_id_r
         FROM l LEFT JOIN r ON l.user_id = r.user_id
           AND r.us >= l.us AND r.us <= l.us + 3600000000
         ORDER BY l.user_id, ts_us, l.event_id, ts_r_us, event_id_r""")
  )
}
