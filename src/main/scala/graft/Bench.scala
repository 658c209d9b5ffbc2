package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{avg, col}

import graft.operators.{OpCache, Similarity}

/** Bench main — driver contract: one JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Each query is fully materialized through the noop sink (forces every
  * operator, unlike count() which lets Catalyst prune aggregates away).
  * One warm-up query runs first so JIT/classloading lands outside the
  * measured section. The session is [[Sessions.forRun]]: one shuffle
  * partition per core, and Spark's default AQE (coalescing + skew
  * handling), matching how the plans are meant to run on a real cluster.
  */
object Bench {

  /** IVF-PQ recall@10 against brute-force exact cosine over the sf
    * dir's embeddings (round-8 verdict #6): the ANN stack's QUALITY as a
    * bench-reported number, measured on the bench corpus rather than a
    * toy spec fixture. The 200 lowest vec_ids are the query set; recall
    * = mean per-query hit fraction vs exact top-10. Deterministic given
    * the data (IVF centroids are the first nCells vectors, PQ k-means
    * init is md5-seeded), so the value is comparable round over round.
    * `shortlist(corpus, queries)` builds the approximate top-10;
    * `exactTopK` is the shared exact frame when the caller already has
    * it. SimilaritySpec pins floors on sf0.1.
    */
  def recallAt10(spark: SparkSession, sfDir: String,
                 shortlist: (DataFrame, DataFrame) => DataFrame,
                 exactTopK: Option[DataFrame] = None): Double = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 200)
    val exact = exactTopK.getOrElse(
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 10))
    val r = Similarity.recallAtK(shortlist(emb, queries), exact)
      .agg(avg(col("recall"))).head().getDouble(0)
    OpCache.clear()
    r
  }

  /** The operating point of every recall field: the measured knee on
    * this corpus (r9 sweep; the embeddings are near-ISOTROPIC, ANN's
    * adversarial case — no cluster structure for IVF to exploit and
    * thin cosine margins that ADC noise swamps). Plain ADC recall@10
    * saturates ~0.3–0.5 across m/ksub/nProbe and the exact rerank buys
    * the rest: m=16/ksub=16/nProbe=8/rerank=100 measures 0.72, and
    * doubling any single knob from there pays ≥2× compute for ≤0.05
    * more.
    */
  private val Dim = 64
  private val NCells = 16
  private val NProbe = 8
  private val M = 16
  private val KSub = 16
  private val Iters = 5
  private val Rerank = 100

  /** The bench JSON's six recall fields, in emission order, each with
    * the shortlist it measures:
    *   - `ivfpq_recall_at10`: plain ADC shortlist + exact rerank;
    *   - `ivfpq_residual_recall_at10`: residual ADC shortlist + rerank;
    *   - `ivfpq_adc_recall_at10` / `ivfpq_adc_residual_recall_at10`:
    *     ADC only, plain vs residual encoding (round-9 verdict #2) —
    *     the shortlist quality the rerank builds from;
    *   - `ivfpq_adc_opq_recall_at10` / `ivfpq_opq_recall_at10`: the
    *     OPQ-rotated residual ADC, alone and reranked (round-10 verdict
    *     #3), read directly against the residual fields, win or lose.
    */
  val recallShortlists: ListMap[String, (DataFrame, DataFrame) => DataFrame] = ListMap(
    "ivfpq_recall_at10" -> ((emb, q) => Similarity.ivfPqRerankTopK(
      emb, q, "vec_id", "embedding", Dim, NCells, M, KSub, Iters, k = 10,
      nProbe = NProbe, rerank = Rerank)),
    "ivfpq_residual_recall_at10" -> ((emb, q) => Similarity.ivfPqResidualRerankTopK(
      emb, q, "vec_id", "embedding", Dim, NCells, M, KSub, Iters, k = 10,
      nProbe = NProbe, rerank = Rerank)),
    "ivfpq_adc_recall_at10" -> ((emb, q) => Similarity.ivfPqTopK(
      emb, q, "vec_id", "embedding", Dim, NCells, M, KSub, Iters, k = 10,
      nProbe = NProbe)),
    "ivfpq_adc_residual_recall_at10" -> ((emb, q) => Similarity.ivfPqResidualTopK(
      emb, q, "vec_id", "embedding", Dim, NCells, M, KSub, Iters, k = 10,
      nProbe = NProbe)),
    "ivfpq_adc_opq_recall_at10" -> ((emb, q) => Similarity.ivfPqResidualOpqTopK(
      emb, q, "vec_id", "embedding", Dim, NCells, M, KSub, Iters, k = 10,
      nProbe = NProbe)),
    "ivfpq_opq_recall_at10" -> ((emb, q) => Similarity.ivfPqResidualOpqRerankTopK(
      emb, q, "vec_id", "embedding", Dim, NCells, M, KSub, Iters, k = 10,
      nProbe = NProbe, rerank = Rerank)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated filter for local iteration on a few
    // queries (SPARK_GRAFT_ONLY=q_a,q_b); driver leaves it unset. An
    // unknown name throws before any session starts, as in Verify.
    val only = SparkEntry.selectOnly(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = Sessions.forRun("graft-bench")

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      OpCache.clear() // release operator-internal persists
      (System.nanoTime() - t0) / 1e9
    }

    // warm pass (not reported): parquet footers, OS page cache, codegen
    // compilation and JIT all land outside the measured pass — the
    // reported numbers are steady-state plan execution. Per-table try:
    // purpose-built fixture dirs (e.g. the zipf LM corpus) ship a table
    // SUBSET — an absent table only matters if a selected query reads
    // it, and that query fails loudly on its own
    Tables.all.foreach { n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm skip $n: ${e.getMessage.take(120)}")
      }
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { n =>
      val t = run(n); System.err.println(f"[bench] warm $n%-36s $t%7.3f s")
    }
    System.gc()

    // Measured passes are INTERLEAVED full sweeps (min per query):
    // multi-second host/GC stalls land at random times, and back-to-back
    // repetitions of one query sit inside the same stall window — full
    // passes spread each query's repetitions minutes apart so the min
    // picks a clean run. Pass count is env-tunable because warm + 3
    // measured sweeps over the full 100+-query suite no longer fits a
    // bounded harness budget: the default is ONE measured pass (warm +
    // measured ≈ 2 sweeps total); local tuning sessions can export
    // SPARK_GRAFT_BENCH_PASSES=3 for the lower-variance min-of-3. A
    // malformed value falls back to the default instead of crashing the
    // bench before any query runs (the emit-per-pass resilience would be
    // defeated by its own tuning knob).
    val nPasses = sys.env.get("SPARK_GRAFT_BENCH_PASSES") match {
      case None => 1
      case Some(v) =>
        scala.util.Try(v.trim.toInt).toOption.filter(_ >= 1).getOrElse {
          // visible, not silent: a tuning session that thinks it asked
          // for min-of-3 must not unknowingly record min-of-1 numbers
          System.err.println(
            s"[bench] SPARK_GRAFT_BENCH_PASSES='$v' is not a positive int — using 1")
          1
        }
    }
    // A complete cumulative JSON line is emitted after EVERY pass (and a
    // per-query progress line to stderr after every query), so an
    // external timeout that kills the JVM mid-pass still leaves the
    // previous pass's full result as the last stdout line instead of
    // zero data. Every emitted line has the same schema; the final line
    // is the final min-over-passes result.
    // quality metric, measured once (not per pass — it is not a timing):
    // skipped only when a SPARK_GRAFT_ONLY filter says this is a partial
    // local iteration
    def quality(name: String)(f: => Double): Option[(String, Double)] =
      if (only.nonEmpty) None
      else
        try {
          val v = f
          System.err.println(f"[bench] $name $v%.4f")
          Some(name -> v)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); None }
    // The brute-force exact top-10 frame is IDENTICAL across the six
    // recall metrics (same queries, same corpus, same k) but was
    // recomputed per metric — ~10 min of bench wall-clock outside
    // total_s re-deriving one 2000-row frame (round-15 verdict #6).
    // Compute it once, persist the tiny result, and hand it to every
    // metric: the recall VALUES are bit-identical (the same frame either
    // way — each metric's approx path is untouched). A failure in the
    // shared precompute falls back to per-metric recomputation so the
    // per-metric error isolation of `quality` is preserved.
    val sharedExact: Option[DataFrame] =
      if (only.nonEmpty) None
      else try {
        val emb = Tables.load(spark, sfDir, "embeddings")
        val ex = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 200), emb, "vec_id", "embedding", k = 10)
          .persist()
        ex.count() // materialize before OpCache.clear drops the inner persist
        OpCache.clear()
        Some(ex)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] shared exact top-k failed: ${e.getMessage}")
        None
      }
    val recalls = recallShortlists.toSeq.flatMap { case (name, shortlist) =>
      quality(name)(recallAt10(spark, sfDir, shortlist, sharedExact))
    }
    sharedExact.foreach(_.unpersist(blocking = false))

    var best = Map.empty[String, Double]
    def emit(): Unit = {
      val results = names.map(n => n -> best.getOrElse(n, -1.0))
      val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val total = results.map(_._2).filter(_ >= 0).sum
      val recallField = recalls.map { case (n, v) => s""","$n":$v""" }.mkString
      // headline emitted BOTH before and after the (long) per-query line:
      // the driver's artifact keeps the TAIL, so a leading headline is
      // lost when the big sibling line is truncated (round-6 verdict #3),
      // while head-truncation loses a trailing one (round-5 verdict #6) —
      // bracketing the big line survives either direction
      // the driver's artifact keeps a stdout TAIL with the long per-query
      // line truncated (parsed: null) — round-11 verdict #9: embed the
      // pointer to the committed full map in the SMALL bracketing
      // headline, which always survives, so trend tooling needs no
      // scraping
      // paths come from an env var — escape them (backslash + quote)
      // or a single odd character breaks the very parseability the
      // headline exists to provide
      def jstr(v: String): String =
        "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val mapPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        if (only.isEmpty) "tools/bench_full_last.json"
        else "tools/bench_filtered_last.json")
      // protocol stamp (round-14 verdict #9): the driver-run number is a
      // HOT single pass on a shared host; the load-bearing comparison
      // number is the committed quiet-host min-of-3 map. Recording the
      // pairing here stops future rounds re-deriving which is which.
      val protocol =
        if (nPasses >= 3) "quiet-min-of-" + nPasses
        else "driver-hot-single-pass; adjudicate vs tools/bench_local_r{N}.json (min-of-3)"
      val headline =
        s"""{"total_s":$total,"n_queries":${results.count(_._2 >= 0)},"sf":${jstr(sfDir)},"full_map":${jstr(mapPath)},"protocol":${jstr(protocol)}}"""
      val full =
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":${jstr(sfDir)}$recallField,"protocol":${jstr(protocol)}}"""
      // round-15 verdict #1 (PERF parse determinism): the driver's
      // round-over-round comparison needs the line WITH the per-query
      // map, so the full-map line is ALSO the LAST line emitted. The
      // small headlines still bracket each big line (truncation
      // resilience in either direction, unchanged), the pointer to the
      // committed full map still rides in them — this only pins which
      // parseable line a last-line parser lands on.
      println(headline)
      println(full)
      println(headline)
      println(full)
      System.out.flush()
      // The driver's artifact keeps only a stdout TAIL, so per-query data
      // for the first ~290 queries is lost to round-over-round trend
      // analysis (round-10 verdict #9). Persist the complete line to a
      // committable file as well — overwritten per emit, so a mid-pass
      // kill still leaves the previous pass's full map on disk. Path is
      // env-tunable; write failures must not take down the bench.
      // a FILTERED run (scaling sweeps, local iteration) must not
      // clobber the committed full map with a partial one — route it to
      // a sibling file unless the caller overrode the path explicitly
      val outPath = mapPath
      try {
        val p = java.nio.file.Paths.get(outPath)
        Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(p,
          (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
      }
    }
    for (pass <- 1 to nPasses) {
      names.foreach { n =>
        val t = run(n)
        System.err.println(f"[bench] pass $pass $n%-36s $t%7.3f s")
        if (t >= 0 && best.get(n).forall(t < _)) best += (n -> t)
      }
      emit()
    }
    spark.stop()
  }
}
