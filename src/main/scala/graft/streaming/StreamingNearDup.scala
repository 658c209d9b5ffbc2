package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming NEAR-duplicate detection — the continuous dual of
  * [[graft.operators.Dedup.incrementalNearDups]]: documents stream in,
  * each is banded with the same MinHash-LSH scheme as the batch
  * operators, and the stateful stage keeps, PER BAND BUCKET, the ids
  * already seen in that bucket. A new arrival emits one candidate pair
  * per prior bucket member, then joins the bucket.
  *
  * State shape — the part that must hold at 100 TB stream volume:
  *   - keyed by (band, key): cardinality ≈ distinct buckets, not stream
  *     length; hot buckets are exactly near-dup clusters.
  *   - each bucket's member list is CAPPED at `maxBucket` ids: a
  *     degenerate bucket (boilerplate shingles all hashing together)
  *     stops accumulating state and stops emitting pairs instead of
  *     exploding quadratically — the standard guard in production LSH
  *     dedup; the cap is recorded in the emitted `truncated` flag so
  *     downstream can route those docs to a batch pass.
  *   - `NoTimeout` here (exact within the run);
  *     [[candidatePairsExpiring]] bounds state with an event-time ttl.
  *
  * Candidate pairs are LSH candidates, not verified near-dups: the
  * verification (exact Jaccard on shingle arrays) happens downstream on
  * the tiny candidate stream — same split as the batch pipeline.
  */
object StreamingNearDup {

  case class BandedDoc(band: Int, key: String, doc_id: Long)

  /** Emitted stream. CONTRACT: rows with `truncated = true` are overflow
    * MARKERS, not candidate pairs — they carry `id_a == id_b` (the doc
    * that hit a full bucket). Consumers SPLIT the stream on the flag:
    * `filter(!col("truncated"))` is the pair-verification feed,
    * `filter(col("truncated"))` routes to the batch pass. A marker
    * reaching Jaccard verification would score 1.0 against itself and
    * read as a self-near-dup.
    */
  case class CandidatePair(id_a: Long, id_b: Long, band: Int, truncated: Boolean)

  /** Per-bucket state: joined member ids (capped at `maxBucket`) plus the
    * ids already routed to the batch pass via a truncation marker, so a
    * replayed/duplicated arrival doesn't re-emit its marker every time.
    *
    * MIGRATION NOTE: earlier versions stored a bare List[Long]; a
    * checkpoint written by them fails the state-store schema check on
    * restart — discard the checkpoint and re-bootstrap bucket state (the
    * batch index rebuild covers the gap).
    */
  case class BucketState(members: List[Long], marked: List[Long])

  case class BandedDocTs(band: Int, key: String, doc_id: Long,
                         ts: java.sql.Timestamp)

  /** Band a streaming document feed with the batch operators' MinHash
    * scheme (k-shingles → numHashes windowed-md5 mins → numBands keys) —
    * all map-side, no state. `carryCols` pass through unchanged (e.g. an
    * event-time column for the expiring variant).
    */
  def banded(docs: DataFrame, idCol: String, textCol: String,
             k: Int, numHashes: Int, numBands: Int,
             carryCols: Seq[String] = Nil): DataFrame = {
    require(numHashes % numBands == 0)
    val rows = numHashes / numBands
    val toks = filter(split(col(textCol), " "), x => x =!= "")
    val sh = array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - (k - 1), lit(0))),
      i => concat_ws(" ", slice(toks, i, lit(k)))))
    // STAGE the hashed-shingle array as a real column before fanning out
    // to the 16 signature mins (the batch minhashIndex discipline): as a
    // plain Column val, `hh` would be INLINED into every sig expression
    // and the md5-over-all-shingles pass would evaluate numHashes times
    // per row — measured 16× the map-side cost at sf0.1 (round-6 bench).
    // The digest-doubling is NESTED transforms (md5 once, then concat):
    // higher-order-function lambdas run interpreted with no common-
    // subexpression elimination, so the single-transform form
    // `concat(md5(s), md5(s))` digested every shingle TWICE — same
    // values, half the hashing (round-15, guide §1.2 per-task work).
    val sigs = (0 until numHashes).map(i =>
      array_min(transform(col("__hh"), h => substring(h, 1 + 2 * i, 16))).as(s"sig_$i"))
    val withSig = docs
      .filter(size(toks) >= k)
      .withColumn("__hh",
        transform(transform(sh, s => md5(s)), h => concat(h, h)))
      .select(col(idCol).as("doc_id") +: carryCols.map(col) ++: sigs: _*)
    val bands = (0 until numBands).map { b =>
      val sigCols = (b * rows until (b + 1) * rows).map(i => col(s"sig_$i"))
      struct(lit(b).as("band"), md5(concat(sigCols: _*)).as("key"))
    }
    withSig.select(col("doc_id") +: carryCols.map(col) :+ explode(array(bands: _*)).as("bk"): _*)
      .select(col("bk.band").as("band") +: col("bk.key").as("key") +:
        col("doc_id") +: carryCols.map(col): _*)
  }

  /** The shared per-bucket arrival fold: pairs for members, once-per-doc
    * markers past the cap. Mutates nothing outside its return.
    */
  private def foldArrivals(band: Int, docIds: Iterator[Long],
                           st0: BucketState, maxBucket: Int)
      : (BucketState, List[CandidatePair]) = {
    // markers-per-doc is bounded too: past this a degenerate bucket stops
    // deduplicating markers (the batch pass they route to is idempotent,
    // so an occasional repeat is harmless; unbounded state is not)
    val maxMarked = 8 * maxBucket
    var st = st0
    val out = scala.collection.mutable.ListBuffer[CandidatePair]()
    docIds.foreach { id =>
      if (!st.members.contains(id)) {
        if (st.members.size < maxBucket) {
          st.members.foreach { m =>
            out += CandidatePair(math.min(m, id), math.max(m, id), band,
              truncated = false)
          }
          st = st.copy(members = id :: st.members)
        } else if (!st.marked.contains(id)) {
          // full bucket: emit the overflow marker ONCE per doc (see
          // CandidatePair contract) and remember it
          out += CandidatePair(id, id, band, truncated = true)
          if (st.marked.size < maxMarked)
            st = st.copy(marked = id :: st.marked)
        }
      }
    }
    (st, out.toList)
  }

  /** Stateful candidate emission: for every banded arrival, one pair per
    * id already in its (band, key) bucket, bucket membership capped at
    * `maxBucket`. State never expires — exact within the run; for an
    * always-on stream use [[candidatePairsExpiring]].
    *
    * ARRIVAL-ORDER CAVEAT AT THE CAP (round-15 verdict #8): within one
    * micro-batch the emitted pair SET is arrival-order-invariant only
    * while every bucket stays BELOW `maxBucket` — the first `maxBucket`
    * arrivals join the bucket and later ones only emit markers, so WHICH
    * ids are members (and therefore which pairs exist and which ids
    * carry `truncated`) depends on within-bucket arrival order once the
    * cap binds. Arrival order inside a micro-batch follows the source's
    * file/partition layout, so a capped bucket's output is APPROXIMATE
    * under re-layout (e.g. the 8-file feeds): the pairs lost are exactly
    * the overflow the `truncated` contract already routes to the batch
    * pass, but they are not byte-stable across layouts. Deployments that
    * need layout-stable truncation should sort arrivals per key before
    * the fold (an extra per-batch sort) or treat capped buckets as
    * batch-pass-only, as the bounded gates here do by sizing the cap
    * above any bucket so it never binds on the agreement surface.
    */
  def candidatePairs(spark: SparkSession, bandedDocs: DataFrame,
                     maxBucket: Int = 64): Dataset[CandidatePair] = {
    import spark.implicits._
    bandedDocs.as[BandedDoc]
      .groupByKey(d => (d.band, d.key))
      .flatMapGroupsWithState[BucketState, CandidatePair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((band, _), docs, state: GroupState[BucketState]) =>
          val (st, out) = foldArrivals(band, docs.map(_.doc_id),
            state.getOption.getOrElse(BucketState(Nil, Nil)), maxBucket)
          state.update(st)
          out.iterator
      }
  }

  /** Bucket state plus its stored horizon deadline (max member event
    * time + ttl) for [[candidatePairsExpiring]], which registers the
    * deadline as the event-time timeout. The deadline only grows
    * (math.max), never overwritten, so a late-but-admitted arrival cannot
    * shrink the horizon an earlier member established. The name is
    * historical: a lazy-expiry variant that shared it lost to this form
    * (SCALE.md round 12).
    */
  case class BucketStateLazy(members: List[Long], marked: List[Long],
                             deadline: Long)

  /** [[candidatePairs]] with an EVENT-TIME ttl — the state bound an
    * always-on stream needs: without it bucket-key cardinality grows
    * with the corpus forever; with it the dedup horizon becomes
    * "near-dups within ttl of each other", and older history is the
    * batch pass's job (the same split as
    * [[graft.operators.Dedup.incrementalNearDups]]).
    *
    * Event-time (not processing-time) on purpose: the horizon is a
    * property of the DATA, so replays reproduce identical output, and
    * watermark-driven timeouts let drain triggers (AvailableNow)
    * terminate — a processing-time timeout keeps every micro-batch
    * engine's "maybe more timeouts" flag set forever.
    *
    * `bandedDocs` must carry a watermarked `ts` column (band with
    * `carryCols = Seq(tsCol)`, then `withWatermark`).
    */
  def candidatePairsExpiring(spark: SparkSession, bandedDocs: DataFrame,
                             ttl: java.time.Duration,
                             maxBucket: Int = 64): Dataset[CandidatePair] = {
    import spark.implicits._
    bandedDocs.as[BandedDocTs]
      .groupByKey(d => (d.band, d.key))
      .flatMapGroupsWithState[BucketStateLazy, CandidatePair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((band, _), docs, state: GroupState[BucketStateLazy]) =>
          if (state.hasTimedOut) {
            // bucket idle past the ttl horizon: drop it; a later near-dup
            // of an expired doc is the batch pass's to find
            state.remove()
            Iterator.empty
          } else {
            val ds = docs.toSeq
            val prior = state.getOption
            val (st, out) = foldArrivals(band, ds.iterator.map(_.doc_id),
              prior.map(s => BucketState(s.members, s.marked))
                .getOrElse(BucketState(Nil, Nil)), maxBucket)
            // deadline = max member event time + ttl, carried in state so
            // a LATE (but watermark-admitted) arrival cannot SHRINK the
            // horizon an earlier member established (review find: the
            // overwrite form silently tightened it)
            val maxTs = ds.iterator.map(_.ts.getTime).max
            val deadline = math.max(maxTs + ttl.toMillis,
              prior.map(_.deadline).getOrElse(Long.MinValue))
            state.update(BucketStateLazy(st.members, st.marked, deadline))
            state.setTimeoutTimestamp(deadline)
            out.iterator
          }
      }
  }
}
