package graft
package faces

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.pipelines.StoreTable

import Fixtures._

/** LLM-data-pipeline text operators: token statistics, drift, heavy
  * hitters, the quality scorers (unigram/bigram CE, Naive Bayes, DSIR) and
  * their composed training mix, retrieval, decontamination, sampling and
  * mixing, splits, chunking, packing and the corpus gate — each with its
  * streaming dual where one exists.
  */
private[graft] object TextFaces extends Family("text") {

  /** Shared by `q_text_heavy_hitters` (batch sketch) and
    * `q_stream_heavy_hitters` (incrementally maintained sketch) — the
    * exact GROUP BY … HAVING form both sketch+verify paths must equal.
    */
  private val HeavyHittersOracle =
    """WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '),
                                              x -> x <> '')) AS token
                    FROM documents),
            tot AS (SELECT COUNT(*) AS n FROM tok),
            c AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token)
       SELECT token, cnt FROM c, tot
       WHERE cnt * 41 > n
       ORDER BY cnt DESC, token"""

  /** Shared by `q_drift_report` (batch) and `q_stream_drift` (the
    * complete-mode count-maintenance dual) — one oracle text, two
    * execution models.
    */
  private val DriftOracle =
    """WITH ref AS (SELECT lang FROM documents WHERE doc_id % 2 = 0),
              cur AS (SELECT lang FROM documents
                      WHERE doc_id % 2 = 1 AND lang <> 'zh'),
              rc AS (SELECT lang, COUNT(*) AS n FROM ref GROUP BY 1),
              cc AS (SELECT lang, COUNT(*) AS n FROM cur GROUP BY 1),
              rt AS (SELECT SUM(n) AS t FROM rc),
              ct AS (SELECT SUM(n) AS t FROM cc),
              j AS (SELECT COALESCE(rc.lang, cc.lang) AS lang,
                           COALESCE(rc.n, 0) AS ref_cnt,
                           COALESCE(cc.n, 0) AS cur_cnt,
                           COALESCE(CAST(rc.n AS DOUBLE) / rt.t, 0) AS p,
                           COALESCE(CAST(cc.n AS DOUBLE) / ct.t, 0) AS q,
                           GREATEST(COALESCE(CAST(rc.n AS DOUBLE) / rt.t, 0), 1e-6) AS ps,
                           GREATEST(COALESCE(CAST(cc.n AS DOUBLE) / ct.t, 0), 1e-6) AS qs
                    FROM rc FULL OUTER JOIN cc ON rc.lang = cc.lang, rt, ct)
         SELECT lang, ref_cnt, cur_cnt,
                round(p, 6) AS ref_frac, round(q, 6) AS cur_frac,
                round(qs - ps, 6) AS frac_diff,
                round((qs - ps) * ln(qs / ps), 6) AS psi_term
         FROM j ORDER BY lang"""

  /** The three quality-scorer oracle texts, factored so the composed
    * training-mix oracle can embed them verbatim as derived tables —
    * guaranteeing the composition is checked against EXACTLY the
    * per-operator semantics, not a re-derivation that could drift.
    */
  private val BigramCeSql: String =
    """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
                       FROM documents),
              unic AS (SELECT w2, COUNT(*) AS cu
                       FROM (SELECT unnest(t) AS w2 FROM toks) GROUP BY 1),
              tot AS (SELECT CAST(SUM(cu) AS DOUBLE) AS n, CAST(COUNT(*) AS DOUBLE) AS v FROM unic),
              bi AS (SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
                     FROM toks WHERE len(t) >= 2),
              tf AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bi GROUP BY 1, 2, 3),
              blm AS (SELECT w1, w2, SUM(tf) AS cb FROM tf GROUP BY 1, 2),
              ctx AS (SELECT w1, SUM(cb) AS cw1 FROM blm GROUP BY 1),
              lm AS (SELECT blm.w1, blm.w2,
                            ln(0.75 * (CAST(cb AS DOUBLE) / CAST(cw1 AS DOUBLE))
                               + 0.25 * ((CAST(cu AS DOUBLE) + 1.0) / (n + v))) AS lp
                     FROM blm JOIN ctx USING (w1) JOIN unic USING (w2) CROSS JOIN tot)
         SELECT doc_id, n_bigrams,
                CAST(CAST(CAST(ce AS VARCHAR) AS DECIMAL(18,6)) AS DOUBLE) AS bigram_ce
         FROM (SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
                      -CAST(SUM(CAST(tf.tf * lm.lp AS DECIMAL(38,6))) AS DOUBLE)
                      / CAST(SUM(tf.tf) AS DOUBLE) AS ce
               FROM tf JOIN lm USING (w1, w2)
               GROUP BY tf.doc_id) r
         ORDER BY doc_id"""

  private val NbLogOddsSql: String =
    """WITH toks AS (SELECT doc_id, COALESCE(lang = 'en', FALSE) AS y,
                              list_filter(string_split(text, ' '), x -> x <> '') AS t
                       FROM documents),
              tf AS (SELECT doc_id, y, term, COUNT(*) AS tf
                     FROM (SELECT doc_id, y, unnest(t) AS term FROM toks)
                     GROUP BY 1, 2, 3),
              cls AS (SELECT term,
                             SUM(CASE WHEN y THEN tf ELSE 0 END) AS c1,
                             SUM(CASE WHEN NOT y THEN tf ELSE 0 END) AS c0
                      FROM tf GROUP BY 1),
              tot AS (SELECT CAST(SUM(c1) AS DOUBLE) AS t1, CAST(SUM(c0) AS DOUBLE) AS t0,
                             CAST(COUNT(*) AS DOUBLE) AS v FROM cls),
              pri AS (SELECT CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
                             CAST(SUM(CASE WHEN NOT y THEN 1 ELSE 0 END) AS DOUBLE) AS n0
                      FROM toks WHERE len(t) >= 1),
              lnr AS (SELECT term,
                             ln((CAST(c1 AS DOUBLE) + 1.0) / (t1 + v))
                             - ln((CAST(c0 AS DOUBLE) + 1.0) / (t0 + v)) AS lnr
                      FROM cls CROSS JOIN tot)
         SELECT doc_id, n_tokens,
                CAST(CAST(CAST(score AS VARCHAR) AS DECIMAL(18,6)) AS DOUBLE) AS nb_log_odds,
                CAST(CAST(CAST(score AS VARCHAR) AS DECIMAL(18,6)) AS DOUBLE) > 0.0 AS pred
         FROM (SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
                      ln(n1 / n0) + CAST(SUM(CAST(tf.tf * lnr.lnr AS DECIMAL(38,6))) AS DOUBLE) AS score
               FROM tf JOIN lnr USING (term) CROSS JOIN pri
               GROUP BY tf.doc_id, n1, n0) r
         ORDER BY doc_id"""

  private val DsirCtes: String =
    """WITH toks AS (SELECT doc_id, lang,
                              list_filter(string_split(text, ' '), x -> x <> '') AS t
                       FROM documents),
              feats AS (SELECT doc_id, lang, f FROM
                          (SELECT doc_id, lang, unnest(t) AS f FROM toks)
                        UNION ALL
                        SELECT doc_id, lang, w1 || ' ' || w2 AS f FROM
                          (SELECT doc_id, lang, unnest(t[1:len(t)-1]) AS w1,
                                  unnest(t[2:len(t)]) AS w2
                           FROM toks WHERE len(t) >= 2)),
              fb AS (SELECT doc_id, lang,
                            CAST('0x' || substring(md5(f), 1, 13) AS BIGINT) % 4096 AS b
                     FROM feats),
              tf AS (SELECT doc_id, b, COUNT(*) AS tf FROM fb GROUP BY 1, 2),
              ct AS (SELECT b, COUNT(*) AS ct FROM fb WHERE lang = 'en' GROUP BY 1),
              cr AS (SELECT b, SUM(tf) AS cr FROM tf GROUP BY 1),
              m AS (SELECT COALESCE(cr.b, ct.b) AS b,
                           COALESCE(cr, 0) AS cr, COALESCE(ct, 0) AS ct
                    FROM cr FULL OUTER JOIN ct ON cr.b = ct.b),
              tot AS (SELECT CAST(SUM(ct) AS DOUBLE) AS tt, CAST(SUM(cr) AS DOUBLE) AS tr FROM m),
              lnr AS (SELECT b,
                             ln((CAST(ct AS DOUBLE) + 1.0) / (tt + 4096.0))
                             - ln((CAST(cr AS DOUBLE) + 1.0) / (tr + 4096.0)) AS lnr
                      FROM m CROSS JOIN tot)"""

  private val DsirSql: String =
    s"""$DsirCtes
         SELECT doc_id, n_feats,
                CAST(CAST(CAST(w AS VARCHAR) AS DECIMAL(18,6)) AS DOUBLE) AS dsir_log_weight
         FROM (SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_feats,
                      CAST(SUM(CAST(tf.tf * lnr.lnr AS DECIMAL(38,6))) AS DOUBLE) AS w
               FROM tf JOIN lnr USING (b)
               GROUP BY tf.doc_id) r
         ORDER BY doc_id"""

  /** The streaming dual quantizes PER FEATURE INSTANCE (the single-agg
    * identity Σ tf·lnr = Σ_instances lnr holds exactly only before the
    * per-term DECIMAL(38,6) rounding), so its oracle aggregates fb
    * directly instead of the bucket-level tf.
    */
  private val StreamDsirSql: String =
    s"""$DsirCtes
         SELECT doc_id, n_feats,
                CAST(CAST(CAST(w AS VARCHAR) AS DECIMAL(18,6)) AS DOUBLE) AS dsir_log_weight
         FROM (SELECT fb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
                      CAST(SUM(CAST(lnr.lnr AS DECIMAL(38,6))) AS DOUBLE) AS w
               FROM fb JOIN lnr USING (b)
               GROUP BY fb.doc_id) r
         ORDER BY doc_id"""

  /** The composed training-mix oracle: the three scorer texts above run
    * verbatim as derived-table CTEs, then keep (pred AND ce<=3.4) →
    * Gumbel-top-k on the log-weight (same md5 uniform as Spark) →
    * md5-fraction split. Shared by the heap-select query AND its
    * threshold-select twin — the set equality is the round-12 check.
    */
  private lazy val TrainingMixSql: String =
    s"""WITH ce AS (SELECT * FROM ($BigramCeSql)),
              nb AS (SELECT * FROM ($NbLogOddsSql)),
              ds AS (SELECT * FROM ($DsirSql)),
              kept AS (SELECT ce.doc_id, ce.bigram_ce, nb.nb_log_odds, ds.dsir_log_weight
                       FROM ce JOIN nb USING (doc_id) JOIN ds USING (doc_id)
                       WHERE nb.pred AND ce.bigram_ce <= 3.4),
              sel AS (SELECT doc_id, bigram_ce, nb_log_odds, dsir_log_weight,
                             dsir_log_weight
                             - ln(-ln((CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '_r11'), 1, 13) AS BIGINT) AS DOUBLE) + 0.5)
                                      / 4503599627370496.0)) AS gk
                      FROM kept WHERE isfinite(dsir_log_weight)),
              top AS (SELECT doc_id, bigram_ce, nb_log_odds, dsir_log_weight
                      FROM sel ORDER BY gk DESC, doc_id LIMIT 50),
              u AS (SELECT *, CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS DOUBLE)
                                / 4503599627370496.0 AS u
                    FROM top)
         SELECT doc_id, bigram_ce, nb_log_odds, dsir_log_weight,
                CASE WHEN u < 0.1 THEN 'test' WHEN u < 0.2 THEN 'val'
                     ELSE 'train' END AS split
         FROM u ORDER BY doc_id"""

  /** Shared by the batch gate and its streaming dual: one SQL text, one
    * agreement surface — the streaming drain must land on the batch rows
    * exactly (stateless column program, append mode, no watermark).
    */
  private val CorpusGateOracle: String =
    """WITH t AS (SELECT doc_id, text,
                         list_filter(string_split(text, ' '), x -> x <> '') AS tk
                  FROM documents),
            q AS (SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tokens,
                         CAST(length(replace(text, ' ', '')) AS DOUBLE)
                           / CAST(len(tk) AS DOUBLE) AS avg_token_len,
                         CAST(len(list_filter(tk, x -> x IN ('the','a','is','and','of','to','in'))) AS DOUBLE)
                           / CAST(len(tk) AS DOUBLE) AS stop_ratio
                  FROM t),
            qs AS (SELECT doc_id, n_tokens,
                          greatest(0.0, least(1.0,
                            stop_ratio * 0.3
                            + least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4
                            + least(1.0, avg_token_len / 8.0) * 0.3)) AS quality_score
                   FROM q),
            ser AS (SELECT unnest(generate_series(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM t))) AS i),
            bgr AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS b
                    FROM t CROSS JOIN ser WHERE i <= len(tk) - 1),
            rp0 AS (SELECT doc_id, COUNT(*) AS nb, COUNT(DISTINCT b) AS nub
                    FROM bgr GROUP BY doc_id),
            rp AS (SELECT t.doc_id,
                          COALESCE(round(CAST(rp0.nb - rp0.nub AS DOUBLE)
                                         / CAST(rp0.nb AS DOUBLE), 6), 0.0) AS rep_ratio
                   FROM t LEFT JOIN rp0 ON t.doc_id = rp0.doc_id),
            lh AS (SELECT doc_id,
                          CAST(len(list_filter(tk, x -> x IN ('the','a','is','and','of'))) AS INTEGER) AS en_hits,
                          CAST(len(list_filter(tk, x -> x IN ('el','la','de','que','y'))) AS INTEGER) AS es_hits,
                          CAST(len(list_filter(tk, x -> x IN ('le','les','des','et','une'))) AS INTEGER) AS fr_hits,
                          CAST(len(list_filter(tk, x -> x IN ('der','die','und','das','ist'))) AS INTEGER) AS de_hits
                   FROM t),
            ld AS (SELECT doc_id,
                          CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits
                                AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
                               WHEN es_hits >= fr_hits AND es_hits >= de_hits
                                AND es_hits > 0 THEN 'es'
                               WHEN fr_hits >= de_hits AND fr_hits > 0 THEN 'fr'
                               WHEN de_hits > 0 THEN 'de'
                               ELSE 'und' END AS detected
                   FROM lh),
            j AS (SELECT qs.doc_id, qs.n_tokens, rp.rep_ratio, qs.quality_score, ld.detected
                  FROM qs JOIN rp ON qs.doc_id = rp.doc_id
                          JOIN ld ON qs.doc_id = ld.doc_id),
            g AS (SELECT *, CASE WHEN n_tokens < 40 THEN 'too_short'
                                 WHEN rep_ratio > 0.1 THEN 'too_repetitive'
                                 WHEN quality_score < 0.55 THEN 'low_quality'
                                 WHEN detected NOT IN ('en','es','fr','de') THEN 'lang'
                            END AS drop_reason
                  FROM j)
       SELECT doc_id, n_tokens, rep_ratio, quality_score, detected,
              (drop_reason IS NULL) AS kept, drop_reason
       FROM g ORDER BY doc_id"""

  val faces: Seq[Face] = Seq(

    // token counting (whitespace + BPE-ish regex) + type-token ratio
    Face("q_text_tokens", (s, dir) => {
      TextAnalysis.withTokenStats(t(s, dir, "documents"), "text")
        .withColumn("n_tokens_re",
          size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))))
        .select("doc_id", "n_tokens", "n_unique", "ttr", "n_tokens_re")
        .orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, text,
                           list_filter(string_split(text, ' '), x -> x <> '') AS tk
                    FROM documents)
         SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tokens,
                CAST(len(list_distinct(tk)) AS INTEGER) AS n_unique,
                CASE WHEN len(tk) > 0
                     THEN CAST(len(list_distinct(tk)) AS DOUBLE)
                          / CAST(len(tk) AS DOUBLE) END AS ttr,
                CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INTEGER) AS n_tokens_re
         FROM t ORDER BY doc_id"""),

    // corpus-mix drift monitoring: PSI per language between an even-id
    // reference snapshot and an odd-id current snapshot with 'zh'
    // removed — the vanished-key side exercises the ε-smoothing path,
    // the survivors the plain-fraction path
    Face("q_drift_report", (s, dir) => {
      val docs = t(s, dir, "documents")
      Analytics.distributionDrift(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1 && col("lang") =!= "zh"),
          "lang")
        .orderBy("lang")
    }, DriftOracle),

    // numeric PSI drift: the current snapshot is the reference shifted
    // +20000 — an exact location shift that drains the low reference
    // bins and floods the top one, exercising both the equi-depth
    // binning (exact ref-quantile edges, rounded to 6 for cross-engine
    // bit-identical assignment) and the ε path for emptied bins
    Face("q_drift_numeric", (s, dir) => {
      val ord = t(s, dir, "orders")
      Analytics.numericDrift(
          ord.filter(pmod(col("o_orderkey"), lit(2)) === 0)
            .select(col("o_totalprice")),
          ord.filter(pmod(col("o_orderkey"), lit(2)) === 1)
            .select((col("o_totalprice") + 20000.0d).as("o_totalprice")),
          "o_totalprice", nBins = 8)
        .orderBy("bin")
    },
      """WITH ref AS (SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 0),
              cur AS (SELECT o_totalprice + 20000.0 AS v FROM orders
                      WHERE o_orderkey % 2 = 1),
              e AS (SELECT list_transform(
                             quantile_cont(v, [0.125, 0.25, 0.375, 0.5,
                                               0.625, 0.75, 0.875]),
                             x -> round(x, 6)) AS edges FROM ref),
              rb AS (SELECT CAST(len(list_filter(e.edges, x -> rf.v > x)) AS INTEGER) AS bin
                     FROM ref rf, e),
              cb AS (SELECT CAST(len(list_filter(e.edges, x -> cu.v > x)) AS INTEGER) AS bin
                     FROM cur cu, e),
              rc AS (SELECT bin, COUNT(*) AS n FROM rb GROUP BY 1),
              cc AS (SELECT bin, COUNT(*) AS n FROM cb GROUP BY 1),
              rt AS (SELECT SUM(n) AS t FROM rc),
              ct AS (SELECT SUM(n) AS t FROM cc),
              j AS (SELECT COALESCE(rc.bin, cc.bin) AS bin,
                           COALESCE(rc.n, 0) AS ref_cnt,
                           COALESCE(cc.n, 0) AS cur_cnt,
                           COALESCE(CAST(rc.n AS DOUBLE) / rt.t, 0) AS p,
                           COALESCE(CAST(cc.n AS DOUBLE) / ct.t, 0) AS q,
                           GREATEST(COALESCE(CAST(rc.n AS DOUBLE) / rt.t, 0), 1e-6) AS ps,
                           GREATEST(COALESCE(CAST(cc.n AS DOUBLE) / ct.t, 0), 1e-6) AS qs
                    FROM rc FULL OUTER JOIN cc ON rc.bin = cc.bin, rt, ct)
         SELECT bin, ref_cnt, cur_cnt,
                round(p, 6) AS ref_frac, round(q, 6) AS cur_frac,
                round(qs - ps, 6) AS frac_diff,
                round((qs - ps) * ln(qs / ps), 6) AS psi_term
         FROM j ORDER BY bin"""),

    // the 100 TB drift form: same PSI report, bin edges from the
    // mergeable quantile sketch instead of an exact percentile sort
    // over the reference — and still hash-checked, because the sketch
    // is engine-portable arithmetic (see Analytics.numericDriftSketch)
    Face("q_drift_numeric_sketch", (s, dir) => {
      val ord = t(s, dir, "orders")
      Analytics.numericDriftSketch(
          ord.filter(pmod(col("o_orderkey"), lit(2)) === 0)
            .select(col("o_totalprice")),
          ord.filter(pmod(col("o_orderkey"), lit(2)) === 1)
            .select((col("o_totalprice") + 20000.0d).as("o_totalprice")),
          "o_totalprice", nBins = 8)
        .orderBy("bin")
    },
      // same PSI arithmetic as q_drift_numeric, but the edge CTEs
      // recompute the decimal-DDSketch (quantileSketchOracle's text,
      // ungrouped) instead of quantile_cont — the sketch edges are
      // engine-portable, so even the APPROXIMATE drift path hash-checks
      """WITH ref AS (SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 0),
              cur AS (SELECT o_totalprice + 20000.0 AS v FROM orders
                      WHERE o_orderkey % 2 = 1),
              vals AS (SELECT CAST(CAST(CAST(CAST(v AS DOUBLE) AS VARCHAR) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS m
                       FROM ref WHERE v IS NOT NULL AND isfinite(CAST(v AS DOUBLE))),
              bk AS (SELECT CASE WHEN m > 0 THEN 1 WHEN m < 0 THEN -1 ELSE 0 END AS s,
                            CASE WHEN m = 0 THEN 0 ELSE LENGTH(CAST(ABS(m) AS VARCHAR)) - 1 END AS e,
                            CASE WHEN m = 0 THEN 0 ELSE CAST(SUBSTRING(CAST(ABS(m) AS VARCHAR), 1, 2) AS INT) END AS d
                     FROM vals),
              sk AS (SELECT s, e, d,
                            CASE WHEN s = 0 THEN CAST(0 AS BIGINT) ELSE CAST(RPAD(CAST(d AS VARCHAR), CAST(e + 1 AS INT), '0') AS BIGINT) END AS lo,
                            CASE WHEN s = 0 THEN CAST(0 AS BIGINT) ELSE CAST(RPAD('1', CAST(GREATEST(e, 1) AS INT), '0') AS BIGINT) END AS w,
                            COUNT(*) AS cnt
                     FROM bk GROUP BY 1, 2, 3, 4, 5),
              fr AS (SELECT CAST(f AS DOUBLE) AS q FROM (VALUES (0.125), (0.25), (0.375),
                       (0.5), (0.625), (0.75), (0.875)) t(f)),
              cw AS (SELECT q, s, lo, w,
                            CAST(SUM(cnt) OVER (PARTITION BY q ORDER BY s * lo
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                            CAST(SUM(cnt) OVER (PARTITION BY q) AS BIGINT) AS n_rows
                     FROM sk CROSS JOIN fr),
              pk AS (SELECT q, s, lo, w, n_rows,
                            ROW_NUMBER() OVER (PARTITION BY q ORDER BY s * lo) AS rn
                     FROM cw WHERE cum >= CEIL(q * CAST(n_rows AS DOUBLE))),
              est AS (SELECT q, CAST(s * (2 * lo + w) AS DOUBLE) / 2000000.0 AS est
                      FROM pk WHERE rn = 1),
              e AS (SELECT list_sort(list(est)) AS edges FROM est),
              rb AS (SELECT CAST(len(list_filter(e.edges, x -> rf.v > x)) AS INTEGER) AS bin
                     FROM ref rf, e),
              cb AS (SELECT CAST(len(list_filter(e.edges, x -> cu.v > x)) AS INTEGER) AS bin
                     FROM cur cu, e),
              rc AS (SELECT bin, COUNT(*) AS n FROM rb GROUP BY 1),
              cc AS (SELECT bin, COUNT(*) AS n FROM cb GROUP BY 1),
              rt AS (SELECT SUM(n) AS t FROM rc),
              ct AS (SELECT SUM(n) AS t FROM cc),
              j AS (SELECT COALESCE(rc.bin, cc.bin) AS bin,
                           COALESCE(rc.n, 0) AS ref_cnt,
                           COALESCE(cc.n, 0) AS cur_cnt,
                           COALESCE(CAST(rc.n AS DOUBLE) / rt.t, 0) AS p,
                           COALESCE(CAST(cc.n AS DOUBLE) / ct.t, 0) AS q,
                           GREATEST(COALESCE(CAST(rc.n AS DOUBLE) / rt.t, 0), 1e-6) AS ps,
                           GREATEST(COALESCE(CAST(cc.n AS DOUBLE) / ct.t, 0), 1e-6) AS qs
                    FROM rc FULL OUTER JOIN cc ON rc.bin = cc.bin, rt, ct)
         SELECT bin, ref_cnt, cur_cnt,
                round(p, 6) AS ref_frac, round(q, 6) AS cur_frac,
                round(qs - ps, 6) AS frac_diff,
                round((qs - ps) * ln(qs / ps), 6) AS psi_term
         FROM j ORDER BY bin"""),

    // the STREAMING dual of q_drift_report (one oracle text, two
    // execution models — the house pattern): a complete-mode
    // groupBy(lang).count() stream maintains the current snapshot's
    // counts incrementally (the stateful half — at production volumes
    // this is the live mix monitor updated per micro-batch), and the
    // PSI arithmetic derives from the drained count table exactly as
    // the batch path derives from its aggregation
    Face("q_stream_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      val raw = Tables.loadRaw(s, dir, "documents")
      val curCounts = graft.streaming.StreamDrain.drain(s,
          s"$dir/documents.parquet", raw.schema, "stream_drift", "complete") { src =>
        src.filter(pmod(col("doc_id"), lit(2)) === 1 && col("lang") =!= "zh")
          .groupBy("lang").agg(count(lit(1)).as("cur_cnt"))
      }
      Analytics.distributionDriftFromCounts(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0)
            .groupBy("lang").agg(count(lit(1)).as("ref_cnt")),
          curCounts, "lang")
        .orderBy("lang")
    },
      // streaming dual: the SAME oracle text (batch aggregation vs
      // complete-mode incremental count maintenance must agree exactly)
      DriftOracle),

    // exact heavy hitters via Misra–Gries sketch + exact verify: the
    // sketch's n/(k+1) survival guarantee makes it a COMPLETE candidate
    // generator, so the verified output equals the oracle's plain
    // GROUP BY … HAVING cnt·(k+1) > n — approximate machinery, exact
    // contract (k = 40 puts the 30 uniform vocabulary words above the
    // threshold and the rare `dup` marker below it, exercising both
    // sides of the filter)
    Face("q_text_heavy_hitters", (s, dir) => {
      TextAnalysis.heavyHitters(t(s, dir, "documents"), "text", k = 40)
        .orderBy(col("cnt").desc, col("token"))
    },
      // the exact form the sketch+verify must equal: plain GROUP BY with
      // the n/(k+1) threshold, k = 41 counters' worth of guarantee
      HeavyHittersOracle),

    // per-group heavy hitters: grouped MG aggregation (≤ k counters per
    // (partition, group) crossing the exchange) + per-group exact verify
    // against each group's own token total — per-lang k=40 keeps the
    // same 30-word outcome per language but with per-group counts
    Face("q_text_heavy_hitters_by_lang", (s, dir) => {
      TextAnalysis.heavyHittersByGroup(t(s, dir, "documents"),
          "lang", "text", k = 40)
        .orderBy(col("lang"), col("cnt").desc, col("token"))
    },
      """WITH tok AS (SELECT lang,
                             unnest(list_filter(string_split(text, ' '),
                                                x -> x <> '')) AS token
                      FROM documents),
              tot AS (SELECT lang, COUNT(*) AS n FROM tok GROUP BY lang),
              c AS (SELECT lang, token, COUNT(*) AS cnt
                    FROM tok GROUP BY lang, token)
         SELECT c.lang, c.token, c.cnt
         FROM c JOIN tot ON c.lang = tot.lang
         WHERE c.cnt * 41 > tot.n
         ORDER BY c.lang, c.cnt DESC, c.token"""),

    // the STREAMING dual: the Misra–Gries sketch maintained
    // INCREMENTALLY by a complete-mode stream (its state IS the
    // serialized sketch buffer, merged per micro-batch), then the exact
    // verify pass over the batch corpus — hash-equal to the batch dual
    // under the SAME oracle text because the n/(k+1) guarantee holds
    // under ANY merge order, streaming included; the verify pass makes
    // the answer exact regardless of which sub-threshold candidates the
    // streaming merge happened to keep
    Face("q_stream_heavy_hitters", (s, dir) => {
      val raw = Tables.loadRaw(s, dir, "documents")
      val cands = graft.streaming.StreamDrain.drain(s,
          s"$dir/documents.parquet", raw.schema,
          "stream_heavy_hitters", "complete") { src =>
        src.select(explode(TextAnalysis.tokens(col("text"))).as("token"))
          .filter(length(col("token")) > 0)
          .agg(graft.functions.MisraGriesAgg(src.sparkSession,
            col("token"), 40).as("c"))
      }.select(explode(col("c")).as("token"))
      TextAnalysis.heavyHittersVerify(t(s, dir, "documents"), "text", cands, k = 40)
        .orderBy(col("cnt").desc, col("token"))
    },
      // streaming dual: same oracle text — the guarantee holds under any
      // merge order, so the incrementally maintained sketch verifies to
      // the identical exact answer
      HeavyHittersOracle),

    // quality scoring: length/stopword/token-shape signals → [0,1] score
    Face("q_text_quality", (s, dir) => {
      TextAnalysis.withQuality(t(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "avg_token_len", "stop_ratio", "quality_score")
        .orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, text,
                           list_filter(string_split(text, ' '), x -> x <> '') AS tk
                    FROM documents),
              s AS (SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tokens,
                           CAST(length(replace(text, ' ', '')) AS DOUBLE)
                             / CAST(len(tk) AS DOUBLE) AS avg_token_len,
                           CAST(len(list_filter(tk, x -> x IN ('the','a','is','and','of','to','in'))) AS DOUBLE)
                             / CAST(len(tk) AS DOUBLE) AS stop_ratio
                    FROM t)
         SELECT doc_id, n_tokens, avg_token_len, stop_ratio,
                greatest(0.0, least(1.0,
                  stop_ratio * 0.3
                  + least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4
                  + least(1.0, avg_token_len / 8.0) * 0.3)) AS quality_score
         FROM s ORDER BY doc_id"""),

    // heuristic language ID via per-language stopword hits
    Face("q_text_langid", (s, dir) => {
      TextAnalysis.withLangId(t(s, dir, "documents"), "text")
        .select("doc_id", "lang", "detected",
                "en_hits", "es_hits", "fr_hits", "de_hits")
        .orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, lang,
                           list_filter(string_split(text, ' '), x -> x <> '') AS tk
                    FROM documents),
              h AS (SELECT doc_id, lang,
                           CAST(len(list_filter(tk, x -> x IN ('the','a','is','and','of'))) AS INTEGER) AS en_hits,
                           CAST(len(list_filter(tk, x -> x IN ('el','la','de','que','y'))) AS INTEGER) AS es_hits,
                           CAST(len(list_filter(tk, x -> x IN ('le','les','des','et','une'))) AS INTEGER) AS fr_hits,
                           CAST(len(list_filter(tk, x -> x IN ('der','die','und','das','ist'))) AS INTEGER) AS de_hits
                    FROM t)
         SELECT doc_id, lang,
                CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits
                      AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
                     WHEN es_hits >= fr_hits AND es_hits >= de_hits
                      AND es_hits > 0 THEN 'es'
                     WHEN fr_hits >= de_hits AND fr_hits > 0 THEN 'fr'
                     WHEN de_hits > 0 THEN 'de'
                     ELSE 'und' END AS detected,
                en_hits, es_hits, fr_hits, de_hits
         FROM h ORDER BY doc_id"""),

    // document fingerprinting (normalization hash) + collision count
    Face("q_text_fingerprint", (s, dir) => {
      val d = t(s, dir, "documents")
        .transform(Stage.spreadLarge(_)) // md5+regexp per row; exchange only pays on big inputs
        .withColumn("fingerprint", TextAnalysis.fingerprint(col("text")))
      d.withColumn("n_same",
          count(lit(1)).over(Window.partitionBy(col("fingerprint"))))
        .select("doc_id", "fingerprint", "n_same")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
                md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint,
                COUNT(*) OVER (PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))) AS n_same
         FROM documents ORDER BY doc_id"""),

    // 64-bit SimHash per document (md5-derived, oracle-reproducible)
    Face("q_text_simhash", (s, dir) => {
      TextAnalysis.withSimhash(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
      """WITH toks AS (SELECT doc_id,
                              unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
                       FROM documents),
              js AS (SELECT unnest(generate_series(0, 63)) AS j),
              bits AS (SELECT doc_id, j,
                              ((strpos('0123456789abcdef', substring(md5(tok), 1 + (j // 4), 1)) - 1)
                               >> (3 - (j % 4))) % 2 AS bit
                       FROM toks CROSS JOIN js),
              bal AS (SELECT doc_id, j, SUM(bit * 2 - 1) AS bal FROM bits GROUP BY 1, 2),
              sb AS (SELECT doc_id, j, CASE WHEN bal >= 0 THEN '1' ELSE '0' END AS b FROM bal)
         SELECT doc_id, string_agg(b, '' ORDER BY j) AS simhash
         FROM sb GROUP BY doc_id ORDER BY doc_id"""),

    // per-document k-gram novelty: fraction of the doc's distinct
    // 4-grams appearing in no other document — the prune-ranking score
    Face("q_text_novelty", (s, dir) => {
      Dedup.noveltyScore(t(s, dir, "documents"), "doc_id", "text", k = 4)
        .orderBy("doc_id")
    },
      """WITH docs AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
                       FROM documents),
              pos AS (SELECT doc_id, unnest(range(1, len(ts) - 2))::BIGINT AS p0, ts FROM docs),
              g AS (SELECT doc_id, array_to_string(ts[p0:p0+3], ' ') AS gram FROM pos),
              dg AS (SELECT DISTINCT doc_id, gram FROM g),
              f AS (SELECT gram, COUNT(*) AS n_docs FROM dg GROUP BY gram)
         SELECT dg.doc_id, COUNT(*) AS n_grams,
                CAST(SUM(CASE WHEN n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                CAST(SUM(CASE WHEN n_docs = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*) AS novelty
         FROM dg JOIN f USING (gram) GROUP BY dg.doc_id ORDER BY doc_id"""),

    // A15 — deterministic hash-based corpus subsample (5%)
    Face("q_sample_deterministic", (s, dir) => {
      Analytics.deterministicSample(t(s, dir, "documents"), "doc_id", 0.05)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS DOUBLE)
                 / 4503599627370496.0 < 0.05
         ORDER BY doc_id"""),

    // Efraimidis-Spirakis weighted sampling without replacement:
    // n_chars-weighted top-100, md5-deterministic draw (salt "r4")
    Face("q_sample_weighted", (s, dir) => {
      Analytics.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars",
          n = 100, salt = "r4")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
      // E-S key: ln(u)/w with u = (h52 + 0.5)/2^52 — identical
      // parenthesization to the Spark side so both engines rank the same
      // doubles; top-100 by (key DESC, doc_id), then the total ORDER BY
      """WITH k AS (SELECT doc_id, lang, n_chars,
                           ln((CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '_r4'), 1, 13) AS BIGINT) AS DOUBLE) + 0.5)
                              / 4503599627370496.0)
                             / CAST(n_chars AS DOUBLE) AS esk
                    FROM documents
                    WHERE isfinite(CAST(n_chars AS DOUBLE)) AND CAST(n_chars AS DOUBLE) > 0),
              top AS (SELECT doc_id, lang, n_chars FROM k
                      ORDER BY esk DESC, doc_id LIMIT 100)
         SELECT doc_id, lang, n_chars FROM top ORDER BY doc_id"""),

    // per-group quota form: up to 20 docs per language, weight-
    // proportional within each language cell (same deterministic draw)
    Face("q_sample_weighted_group", (s, dir) => {
      Analytics.weightedSamplePerGroup(t(s, dir, "documents"), Seq("lang"),
          "doc_id", "n_chars", nPerGroup = 20, salt = "r4")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
      """WITH k AS (SELECT doc_id, lang, n_chars,
                           ln((CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '_r4'), 1, 13) AS BIGINT) AS DOUBLE) + 0.5)
                              / 4503599627370496.0)
                             / CAST(n_chars AS DOUBLE) AS esk
                    FROM documents
                    WHERE isfinite(CAST(n_chars AS DOUBLE)) AND CAST(n_chars AS DOUBLE) > 0),
              r AS (SELECT doc_id, lang, n_chars,
                           ROW_NUMBER() OVER (PARTITION BY lang
                             ORDER BY esk DESC, doc_id) AS rn
                    FROM k)
         SELECT doc_id, lang, n_chars FROM r WHERE rn <= 20 ORDER BY doc_id"""),

    // deterministic train/val/test split (10% val, 10% test): label is a
    // pure function of doc_id — stable under corpus growth, no RNG
    Face("q_split_train_test", (s, dir) => {
      Analytics.withSplit(t(s, dir, "documents"), "doc_id",
          valRate = 0.1, testRate = 0.1)
        .select("doc_id", "lang", "split")
        .orderBy("doc_id")
    },
      """WITH u AS (SELECT doc_id, lang,
                CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS DOUBLE)
                  / 4503599627370496.0 AS u
              FROM documents)
         SELECT doc_id, lang,
                CASE WHEN u < 0.1 THEN 'test' WHEN u < 0.2 THEN 'val'
                     ELSE 'train' END AS split
         FROM u ORDER BY doc_id"""),

    // the admission-control gate on the CORPUS tables: text presence,
    // cross-column consistency (n_chars must equal length(text) — a rule
    // shape the orders gate doesn't exercise), vocab/range rules, key
    // uniqueness, and corpus↔embedding alignment (every doc embedded)
    Face("q_quality_corpus", (s, dir) => {
      Expectations.report(t(s, dir, "documents"), Seq(
          Expectations.notNull("text"),
          Expectations.RowRule("text_nonempty", length(col("text")) > 0),
          Expectations.RowRule("nchars_consistent",
            col("n_chars") === length(col("text"))),
          Expectations.inSet("lang", Seq("en", "de", "fr", "es")),
          Expectations.inRange("n_chars", 1, 100000),
          Expectations.Unique("unique_doc_id", Seq("doc_id")),
          Expectations.RefIntegrity("doc_has_embedding", "doc_id",
            t(s, dir, "embeddings"), "vec_id")))
        .orderBy("rule")
    },
      """SELECT * FROM (
           SELECT 'not_null_text' AS rule,
                  (SELECT COUNT(*) FROM documents) AS n_checked,
                  (SELECT COUNT(*) FROM documents WHERE text IS NULL) AS n_violations
           UNION ALL
           SELECT 'text_nonempty', (SELECT COUNT(*) FROM documents),
                  (SELECT COUNT(*) FROM documents
                   WHERE text IS NULL OR NOT (length(text) > 0))
           UNION ALL
           SELECT 'nchars_consistent', (SELECT COUNT(*) FROM documents),
                  (SELECT COUNT(*) FROM documents
                   WHERE text IS NULL OR n_chars IS NULL
                      OR NOT (n_chars = length(text)))
           UNION ALL
           SELECT 'in_set_lang', (SELECT COUNT(*) FROM documents),
                  (SELECT COUNT(*) FROM documents
                   WHERE lang IS NULL OR lang NOT IN ('en', 'de', 'fr', 'es'))
           UNION ALL
           SELECT 'in_range_n_chars', (SELECT COUNT(*) FROM documents),
                  (SELECT COUNT(*) FROM documents
                   WHERE n_chars IS NULL OR n_chars < 1 OR n_chars > 100000)
           UNION ALL
           SELECT 'unique_doc_id', (SELECT COUNT(*) FROM documents),
                  (SELECT COUNT(*) - COUNT(DISTINCT doc_id) FROM documents)
           UNION ALL
           SELECT 'doc_has_embedding', (SELECT COUNT(*) FROM documents),
                  (SELECT COUNT(*) FROM documents d WHERE NOT EXISTS
                     (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id))
         ) ORDER BY rule"""),

    // curriculum ordering: quantile difficulty buckets + deterministic
    // md5 within-bucket shuffle — the reproducible training schedule
    Face("q_curriculum_order", (s, dir) => {
      Analytics.curriculumOrder(t(s, dir, "documents"),
          "doc_id", "n_chars", nBuckets = 4, salt = "cur8")
        .select("doc_id", "bucket", "ord")
        .orderBy("bucket", "ord")
    },
      """WITH v AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS s FROM documents
                    WHERE n_chars IS NOT NULL
                      AND isfinite(CAST(n_chars AS DOUBLE))),
              b AS (SELECT round(quantile_cont(s, 0.25), 6) AS b1,
                           round(quantile_cont(s, 0.50), 6) AS b2,
                           round(quantile_cont(s, 0.75), 6) AS b3 FROM v),
              x AS (SELECT doc_id,
                           (CASE WHEN s > b1 THEN 1 ELSE 0 END
                          + CASE WHEN s > b2 THEN 1 ELSE 0 END
                          + CASE WHEN s > b3 THEN 1 ELSE 0 END) AS bucket
                    FROM v, b)
         SELECT doc_id, bucket,
                CAST(ROW_NUMBER() OVER (PARTITION BY bucket
                  ORDER BY md5(CAST(doc_id AS VARCHAR) || ':cur8'), doc_id)
                  AS INTEGER) AS ord
         FROM x ORDER BY bucket, ord"""),

    // PII redaction: count + mask urls/emails/ips/phones. The corpus text
    // has no PII, so both engines first append a deterministic synthetic
    // tail derived from doc_id, then scrub it.
    Face("q_text_redact", (s, dir) => {
      val withPii = t(s, dir, "documents").withColumn("pii_text",
        concat(col("text"), lit(" mail u"), col("doc_id"), lit("@ex.org see http://ex.org/"),
               col("doc_id"), lit(" ip 10.1.2."), pmod(col("doc_id"), lit(250)),
               lit(" tel 010-1234-"), lit(1000) + pmod(col("doc_id"), lit(9000))))
      TextAnalysis.withRedaction(withPii, "pii_text")
        .select("doc_id", "n_urls", "n_emails", "n_ips", "n_phones", "redacted")
        .orderBy("doc_id")
    },
      """WITH pii AS (SELECT doc_id,
                text || ' mail u' || doc_id || '@ex.org see http://ex.org/' || doc_id
                     || ' ip 10.1.2.' || (doc_id % 250)
                     || ' tel 010-1234-' || (1000 + doc_id % 9000) AS s
              FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(s, 'https?://[^ ]+')) AS INTEGER) AS n_urls,
                CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
                CAST(len(regexp_extract_all(s, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INTEGER) AS n_ips,
                CAST(len(regexp_extract_all(s, '\+?[0-9][0-9-]{7,}[0-9]')) AS INTEGER) AS n_phones,
                regexp_replace(regexp_replace(regexp_replace(regexp_replace(s,
                  'https?://[^ ]+', '<URL>', 'g'),
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
                  '\+?[0-9][0-9-]{7,}[0-9]', '<PHONE>', 'g') AS redacted
         FROM pii ORDER BY doc_id"""),

    // bigram repetition ratio (Gopher-style quality signal)
    Face("q_text_repetition", (s, dir) => {
      TextAnalysis.withRepetition(t(s, dir, "documents"), "text")
        .select("doc_id", "n_bigrams", "n_unique_bigrams", "rep_ratio")
        .orderBy("doc_id")
    },
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
                       FROM documents),
              ser AS (SELECT unnest(generate_series(1, (SELECT COALESCE(MAX(len(t)), 1) FROM toks))) AS i),
              bg AS (SELECT doc_id, t[i] || ' ' || t[i + 1] AS b
                     FROM toks CROSS JOIN ser WHERE i <= len(t) - 1),
              agg AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_bigrams,
                             CAST(COUNT(DISTINCT b) AS INTEGER) AS n_unique_bigrams
                      FROM bg GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
                COALESCE(a.n_unique_bigrams, 0) AS n_unique_bigrams,
                COALESCE(round(CAST(a.n_bigrams - a.n_unique_bigrams AS DOUBLE)
                               / CAST(a.n_bigrams AS DOUBLE), 6), 0.0) AS rep_ratio
         FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         ORDER BY d.doc_id"""),

    // per-document top TF-IDF term (two-phase agg + broadcast idf join)
    Face("q_text_tfidf", (s, dir) => {
      TextAnalysis.tfidfTop1(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
      """WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
                       FROM documents),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
              idf AS (SELECT term,
                             ln((CAST((SELECT COUNT(DISTINCT doc_id) FROM tf) AS DOUBLE) + 1.0)
                                / (CAST(COUNT(*) AS DOUBLE) + 1.0)) AS idf
                      FROM tf GROUP BY term),
              scored AS (SELECT tf.doc_id, tf.term, round(tf.tf * idf.idf, 6) AS score,
                                ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                  ORDER BY round(tf.tf * idf.idf, 6) DESC, tf.term) AS rn
                         FROM tf JOIN idf USING (term))
         SELECT doc_id, term AS top_term, score AS tfidf
         FROM scored WHERE rn = 1 ORDER BY doc_id"""),

    // unigram-LM cross-entropy quality signal (CCNet-style): token-weighted
    // mean −ln p(term) against the corpus's own unigram distribution
    Face("q_text_unigram_ce", (s, dir) => {
      TextAnalysis.unigramCrossEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
      // the VARCHAR→DECIMAL(18,6) hop replaces round(ce, 6): Spark's round
      // is HALF_UP over the double's SHORTEST decimal string
      // (BigDecimal.valueOf), and sf1 produced five CE values of the form
      // x.xxxxx4999999998 that DuckDB's round() pushes UP where Spark
      // rounds down — the hop reproduces Spark's string-based semantics
      // exactly (round-11 sf1-gate find)
      """WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
                       FROM documents),
              tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
              lm AS (SELECT term,
                            ln(CAST(SUM(tf) AS DOUBLE)
                               / (SELECT CAST(SUM(tf) AS DOUBLE) FROM tf)) AS lp
                     FROM tf GROUP BY term)
         SELECT doc_id, n_tokens,
                CAST(CAST(CAST(ce AS VARCHAR) AS DECIMAL(18,6)) AS DOUBLE) AS unigram_ce
         FROM (SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
                      -CAST(SUM(CAST(tf.tf * lm.lp AS DECIMAL(38,6))) AS DOUBLE)
                      / CAST(SUM(tf.tf) AS DOUBLE) AS ce
               FROM tf JOIN lm USING (term)
               GROUP BY tf.doc_id) r
         ORDER BY doc_id"""),

    // interpolated bigram-LM cross-entropy (CCNet/KenLM-style perplexity
    // filter): λ·bigram MLE + (1−λ)·add-one unigram back-off, λ=0.75;
    // in-row bigram formation, adaptive LM join (broadcast at test scale,
    // gram-keyed shuffle at 100 TB)
    Face("q_text_bigram_ce", (s, dir) => {
      TextAnalysis.bigramCrossEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
      // interpolated bigram LM: DuckDB zips the two shifted-slice unnests
      // positionally (same pairs as Spark's zip_with over slices); the
      // interpolation constants 0.75/0.25 are exactly binary-representable
      // so the double arithmetic is engine-identical; per-doc sum routed
      // through DECIMAL(38,6); final 6-dp via the VARCHAR hop (Spark round
      // semantics, see q_text_unigram_ce)
      BigramCeSql),

    // Naive-Bayes log-odds quality/domain classifier (fastText-filter
    // analog): train (class token counts, add-one smoothing) and score
    // fused in one plan; label = lang='en'; pred decided on the rounded
    // score so the boolean is engine-exact
    Face("q_text_nb_logodds", (s, dir) => {
      TextAnalysis.nbLogOdds(t(s, dir, "documents"), "doc_id", "text",
          coalesce(col("lang") === lit("en"), lit(false)))
        .orderBy("doc_id")
    },
      // NB log-odds: add-one smoothed class-conditional token LMs over the
      // shared vocabulary, identical parenthesization; evidence sum routed
      // through DECIMAL(38,6); prior added in double AFTER the cast; 6-dp
      // via the VARCHAR hop; pred compares the rounded value
      NbLogOddsSql),

    // DSIR importance log-weights: hashed uni+bigram bucket LLR of every
    // raw doc against a curated target slice (lang='en'); the hashed
    // model is O(buckets) by construction, so the score join broadcasts
    // at any corpus scale
    Face("q_text_dsir", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.dsirLogWeights(docs, docs.where(col("lang") === lit("en")),
          "doc_id", "text", buckets = 4096)
        .orderBy("doc_id")
    },
      // DSIR hashed-n-gram importance weights: feature stream = unigrams
      // UNION ALL space-joined bigrams (zipped shifted-slice unnests);
      // portable md5-window bucket hash ('0x'||hex ≡ Spark conv(...,16,10));
      // add-one smoothed bucket LLR, evidence through DECIMAL(38,6), 6-dp
      // via the VARCHAR hop
      DsirSql),

    // mergeable DSIR model: two models built over DISJOINT halves of
    // the corpus, folded by bucket-keyed sum, then scored — must equal
    // the one-shot model bit-for-bit (same oracle text), proving the
    // 100 TB keep-the-model-fold-the-delta posture
    Face("q_text_dsir_incremental", (s, dir) => {
      // the fused one-featurization form (round-13 verdict #9): half
      // models + merge + score off ONE persisted (id, bucket, tf) table
      // instead of ~3 corpus tokenize+hash passes; output bit-identical
      // to the composed dsirModel×2 + dsirMergeModels + dsirScore chain
      // (the shared one-shot oracle is the proof)
      val docs = t(s, dir, "documents")
      val en = coalesce(col("lang") === lit("en"), lit(false))
      TextAnalysis.dsirIncrementalScore(docs, en,
          col("doc_id") % 10 === 0, "doc_id", "text", buckets = 4096)
        .orderBy("doc_id")
    },
      // merged-model scoring must equal the one-shot model: the
      // incremental query shares the ONE-SHOT oracle text verbatim — the
      // equality IS the check (counts over disjoint doc sets are additive)
      DsirSql),

    // stored/merged bigram-LM scoring (round-11 verdict #2): the CE
    // model is trained as a TABLE over two disjoint corpus halves,
    // folded by gram-keyed sum, then scores the whole corpus — must
    // equal the fused train+score plan bit-for-bit (same oracle text),
    // proving the CCNet train-once/score-nightly posture
    Face("q_text_bigram_ce_stored", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merged = TextAnalysis.bigramCeMergeModels(
        TextAnalysis.bigramCeModel(docs.where(col("doc_id") % 10 =!= 0), "text"),
        TextAnalysis.bigramCeModel(docs.where(col("doc_id") % 10 === 0), "text"))
      TextAnalysis.bigramCeScore(docs, merged, "doc_id", "text")
        .orderBy("doc_id")
    },
      // stored/merged-model scoring must equal the fused train+score plan:
      // both stored queries share the fused oracles VERBATIM — the
      // equality IS the check (gram/term counts over disjoint doc sets
      // are additive; totals and smoothing derive from the model table)
      BigramCeSql),

    // stored/merged Naive-Bayes scoring: class counts + the doc-count
    // sentinel row trained over two disjoint halves, merged by term-
    // keyed sum, scored label-free — equals the fused plan (same oracle
    // text), the fastText train-once posture
    Face("q_text_nb_stored", (s, dir) => {
      val docs = t(s, dir, "documents")
      val en = coalesce(col("lang") === lit("en"), lit(false))
      val merged = TextAnalysis.nbMergeModels(
        TextAnalysis.nbModel(docs.where(col("doc_id") % 10 =!= 0), "text", en),
        TextAnalysis.nbModel(docs.where(col("doc_id") % 10 === 0), "text", en))
      TextAnalysis.nbScore(docs, merged, "doc_id", "text")
        .orderBy("doc_id")
    }, NbLogOddsSql),

    // streaming DSIR: documents stream scored against the stored model
    // via a STATELESS stream-static broadcast join + ONE streaming agg
    // (the Σ tf·lnr = Σ_instances lnr fold); instance-level oracle
    Face("q_stream_dsir", (s, dir) => {
      val batch = t(s, dir, "documents")
      // 8-file cached feed (guide §2, scan parallelism): the scoring
      // explode — tokenize + hash per feature instance, the drain's
      // dominant map-side work — ran as one scan task over the single
      // documents.parquet file. All 8 files land in the same
      // AvailableNow micro-batch, and every doc's features explode from
      // its own row, so the complete-mode per-doc aggregate is
      // identical. Shares the q_stream_neardup feed (same repartition(8)
      // of the documents table).
      val streamDir = cachedFeed(s,
          s"graft_feed_neardup8_${dir.replaceAll("[^A-Za-z0-9]", "_")}",
          srcToken(s, dir, "documents")) { fd =>
        batch.repartition(8).write.parquet(fd)
      }
      graft.streaming.StreamDrain.drain(s, streamDir,
          batch.schema, "stream_dsir", "complete") { src =>
        // the model must build on the DRAIN's dedicated session. It
        // reads the SAME rows via the cached 8-file feed (round-15
        // verdict #9) — the feed IS repartition(8) of the documents
        // table, token-invalidated with it — so the per-batch model
        // featurization gets 8 scan tasks instead of the one-file
        // table's single task. The model is count aggregation over
        // longs (layout-independent), so its rows are unchanged.
        val docs = StoreTable.read(src.sparkSession, streamDir)
        val en = coalesce(col("lang") === lit("en"), lit(false))
        val model = TextAnalysis.dsirModel(docs, docs.where(en), "text",
          buckets = 4096)
        graft.streaming.StreamingDsir.scored(src, model, "doc_id", "text",
          buckets = 4096)
      }.orderBy("doc_id")
    },
      // streaming DSIR scoring: the drained complete-mode state vs the
      // instance-level batch dual (see StreamDsirSql scaladoc)
      StreamDsirSql),

    // the composed training-mix pipeline: bigram-CE + NB + DSIR scorers
    // → rounded-threshold keep → Gumbel-top-k importance draw → md5
    // split; checks the STAGE BOUNDARIES of the statistical corpus flow
    Face("q_pipeline_training_mix", (s, dir) => {
      CorpusPrep.trainingMix(t(s, dir, "documents"), "doc_id", "text",
          coalesce(col("lang") === lit("en"), lit(false)),
          maxBigramCe = 3.4, n = 50, salt = "r11",
          valRate = 0.1, testRate = 0.1, buckets = 4096)
        .orderBy("doc_id")
    },
      // the composed training-mix pipeline: the three scorer texts above
      // run verbatim as derived-table CTEs (DuckDB allows WITH inside a
      // subquery), then keep (pred AND ce<=3.4) → Gumbel-top-k on the
      // log-weight (log-space softmax draw, same md5 uniform as Spark) →
      // md5-fraction split; every threshold compares the scorers'
      // 6-dp-rounded outputs so the kept set is engine-exact
      TrainingMixSql),

    // the same pipeline with the DISTRIBUTED threshold draw (round-11
    // verdict #1): gumbelSelect replaces the TakeOrderedAndProject heap
    // — identical selected set at equal (n, salt), proven by sharing
    // the heap form's oracle text verbatim; no driver-side k-row merge
    Face("q_pipeline_training_mix_threshold", (s, dir) => {
      CorpusPrep.trainingMix(t(s, dir, "documents"), "doc_id", "text",
          coalesce(col("lang") === lit("en"), lit(false)),
          maxBigramCe = 3.4, n = 50, salt = "r11",
          valRate = 0.1, testRate = 0.1, buckets = 4096,
          thresholdSelect = true)
        .orderBy("doc_id")
    },
      // the threshold-select twin must pick the IDENTICAL set: it shares
      // the heap form's oracle text verbatim — the equality is the check
      TrainingMixSql),

    // BM25 keyword retrieval: top-15 documents for a 4-term query —
    // Lucene-idf + saturation/length normalization, per-doc sums routed
    // through DECIMAL(38,6) so the ranking is engine-exact
    Face("q_text_bm25", (s, dir) => {
      TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "window", "merge", "stream"), topK = 15)
    },
      // BM25: Lucene idf + saturation/length normalization, identical
      // parenthesization both engines; per-doc sum through DECIMAL(38,6)
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
                       FROM documents),
              st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(len(t)) AS DOUBLE) AS tl
                     FROM toks),
              tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf
                     FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
                     WHERE term IN ('spark', 'window', 'merge', 'stream')
                     GROUP BY 1, 2, 3),
              dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              sc AS (SELECT doc_id,
                            ln(1.0 + (st.n - CAST(df AS DOUBLE) + 0.5)
                                     / (CAST(df AS DOUBLE) + 0.5))
                            * (CAST(tf AS DOUBLE) * 2.2)
                            / (CAST(tf AS DOUBLE)
                               + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (st.tl / st.n)))) AS s
                     FROM tf JOIN dft USING (term) CROSS JOIN st)
         SELECT doc_id, COUNT(*) AS n_matched,
                round(CAST(SUM(CAST(s AS DECIMAL(38,6))) AS DOUBLE), 6) AS bm25
         FROM sc GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id LIMIT 15"""),

    // corpus-vs-corpus token-distribution divergence (even/odd doc
    // split): add-one-smoothed KL(P‖Q) + cross-entropy over the union
    // vocabulary — the domain-shift diagnostic
    Face("q_text_divergence", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.tokenDivergence(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text")
    },
      // count-scale sums (see TextAnalysis.tokenDivergence): per-term
      // decimal routing at O(count) magnitude, closed-form remainder in
      // identical double parenthesization
      """WITH ta AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
                     FROM documents WHERE doc_id % 2 = 0),
              tb AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
                     FROM documents WHERE doc_id % 2 = 1),
              ga AS (SELECT term, COUNT(*) AS cnt_a FROM ta GROUP BY term),
              gb AS (SELECT term, COUNT(*) AS cnt_b FROM tb GROUP BY term),
              j AS (SELECT COALESCE(ga.cnt_a, 0) AS cnt_a,
                           COALESCE(gb.cnt_b, 0) AS cnt_b
                    FROM ga FULL JOIN gb ON ga.term = gb.term),
              s AS (SELECT COUNT(*) AS vocab,
                           SUM(cnt_a) AS na, SUM(cnt_b) AS nb,
                           SUM(CAST((CAST(cnt_a AS DOUBLE) + 1.0)
                                 * ln((CAST(cnt_a AS DOUBLE) + 1.0)
                                      / (CAST(cnt_b AS DOUBLE) + 1.0)) AS DECIMAL(38,6))) AS s1,
                           SUM(CAST((CAST(cnt_a AS DOUBLE) + 1.0)
                                 * ln(CAST(cnt_b AS DOUBLE) + 1.0) AS DECIMAL(38,6))) AS s2
                    FROM j)
         SELECT CAST(vocab AS BIGINT) AS vocab,
                CAST(na AS BIGINT) AS n_tokens_a,
                CAST(nb AS BIGINT) AS n_tokens_b,
                round(CAST(s1 AS DOUBLE) / (CAST(na AS DOUBLE) + CAST(vocab AS DOUBLE))
                      + ln((CAST(nb AS DOUBLE) + CAST(vocab AS DOUBLE))
                           / (CAST(na AS DOUBLE) + CAST(vocab AS DOUBLE))), 6) AS kl_ab,
                round(ln(CAST(nb AS DOUBLE) + CAST(vocab AS DOUBLE))
                      - CAST(s2 AS DOUBLE) / (CAST(na AS DOUBLE) + CAST(vocab AS DOUBLE)), 6) AS cross_entropy_ab
         FROM s"""),

    // per-language drift ranking: each language's KL against the whole
    // corpus's token distribution (closed-form absent-term correction —
    // no group×vocab cross product)
    Face("q_text_divergence_group", (s, dir) => {
      TextAnalysis.perGroupDivergence(t(s, dir, "documents"), "lang", "text")
        .orderBy(col("lang").asc_nulls_last)
    },
      // KL_g = (U_g − T)/A_g + ln(B/A_g): per-present-term u rows +
      // one corpus scalar T — the same closed form as the Spark side
      """WITH toks AS (SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
                       FROM documents),
              gt AS (SELECT lang, term, COUNT(*) AS cgt FROM toks GROUP BY 1, 2),
              ct AS (SELECT term, SUM(cgt) AS ct FROM gt GROUP BY term),
              tot AS (SELECT COUNT(*) AS v, SUM(ct) AS n,
                             SUM(CAST(ln(CAST(ct AS DOUBLE) + 1.0) AS DECIMAL(38,6))) AS t
                      FROM ct),
              pg AS (SELECT lang, SUM(cgt) AS n_tokens,
                            SUM(CAST((CAST(cgt AS DOUBLE) + 1.0)
                                  * ln((CAST(cgt AS DOUBLE) + 1.0)
                                       / (CAST(ct AS DOUBLE) + 1.0))
                                  + ln(CAST(ct AS DOUBLE) + 1.0) AS DECIMAL(38,6))) AS u
                     FROM gt JOIN ct USING (term) GROUP BY lang)
         SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
                round((CAST(u AS DOUBLE) - CAST(t AS DOUBLE))
                        / (CAST(n_tokens AS DOUBLE) + CAST(v AS DOUBLE))
                      + ln((CAST(n AS DOUBLE) + CAST(v AS DOUBLE))
                           / (CAST(n_tokens AS DOUBLE) + CAST(v AS DOUBLE))), 6) AS kl_vs_corpus
         FROM pg CROSS JOIN tot ORDER BY lang"""),

    // inverted index: per-term document frequency + sorted posting list
    Face("q_text_inverted_index", (s, dir) => {
      TextAnalysis.invertedIndex(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("term")
    },
      """WITH tk AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
                     FROM documents),
              td AS (SELECT DISTINCT term, doc_id FROM tk)
         SELECT term, COUNT(*) AS df,
                string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
         FROM td GROUP BY term ORDER BY term"""),

    // benchmark decontamination: corpus docs sharing any word 5-gram with
    // the probe slice (doc_id % 20 == 0)
    Face("q_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationReport(
          docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(20)) === 0),
          "doc_id", "text", k = 5)
        .orderBy("doc_id")
    },
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
                       FROM documents),
              ser AS (SELECT unnest(generate_series(1, (SELECT COALESCE(MAX(len(t)), 1) FROM toks))) AS i),
              sh AS (SELECT DISTINCT doc_id,
                            t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS s
                     FROM toks CROSS JOIN ser WHERE len(t) >= 5 AND i <= len(t) - 4),
              probe AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
              corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % 20 <> 0)
         SELECT c.doc_id, COUNT(DISTINCT c.s) AS n_shared
         FROM corpus c JOIN probe p ON c.s = p.s
         GROUP BY 1 ORDER BY doc_id"""),

    // composed split→leakage audit: the check a corpus owner runs after
    // cutting train/test — which TRAIN docs share 5-gram shingles with
    // the TEST split (withSplit's md5 split is reproduced by the oracle,
    // so the whole composition is hash-verified end to end)
    Face("q_split_leakage", (s, dir) => {
      val split = Analytics.withSplit(t(s, dir, "documents"), "doc_id",
        valRate = 0.1, testRate = 0.1)
      Dedup.contaminationReport(
          split.filter(col("split") === "train"),
          split.filter(col("split") === "test"),
          "doc_id", "text", k = 5)
        .orderBy("doc_id")
    },
      // split reproduced from the same md5 arithmetic, then the shingle
      // leakage join — the full composition hash-verified
      """WITH u AS (SELECT doc_id, text,
                CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) AS DOUBLE)
                  / 4503599627370496.0 AS u
              FROM documents),
         sp AS (SELECT doc_id, text,
                  CASE WHEN u < 0.1 THEN 'test' WHEN u < 0.2 THEN 'val'
                       ELSE 'train' END AS split
                FROM u),
         toks AS (SELECT doc_id, split,
                    list_filter(string_split(text, ' '), x -> x <> '') AS t
                  FROM sp),
         ser AS (SELECT unnest(generate_series(1, (SELECT COALESCE(MAX(len(t)), 1) FROM toks))) AS i),
         sh AS (SELECT DISTINCT doc_id, split,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS s
                FROM toks CROSS JOIN ser WHERE len(t) >= 5 AND i <= len(t) - 4),
         probe AS (SELECT DISTINCT s FROM sh WHERE split = 'test'),
         corpus AS (SELECT doc_id, s FROM sh WHERE split = 'train')
         SELECT c.doc_id, COUNT(DISTINCT c.s) AS n_shared
         FROM corpus c JOIN probe p ON c.s = p.s
         GROUP BY 1 ORDER BY doc_id"""),

    // the big-probe-set dual: Bloom-sketch prefilter in-plan (scalar
    // subquery, no broadcast, no driver collect), exact confirm join —
    // byte-identical output to q_decontaminate, same oracle SQL
    Face("q_decontaminate_bloom", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationReportBloom(
          docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(20)) === 0),
          "doc_id", "text", k = 5)
        .orderBy("doc_id")
    },
      // Bloom prefilter + exact confirm ≡ the exact join: same oracle text
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
                       FROM documents),
              ser AS (SELECT unnest(generate_series(1, (SELECT COALESCE(MAX(len(t)), 1) FROM toks))) AS i),
              sh AS (SELECT DISTINCT doc_id,
                            t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS s
                     FROM toks CROSS JOIN ser WHERE len(t) >= 5 AND i <= len(t) - 4),
              probe AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
              corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % 20 <> 0)
         SELECT c.doc_id, COUNT(DISTINCT c.s) AS n_shared
         FROM corpus c JOIN probe p ON c.s = p.s
         GROUP BY 1 ORDER BY doc_id"""),

    // context-window chunking: 40-token windows, 10-token overlap; chunk
    // text exported as md5 so the compare stays exact and narrow
    Face("q_text_chunks", (s, dir) => {
      TextAnalysis.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 40, overlap = 10)
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
                col("n_tokens"), md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
                       FROM documents),
              d AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
              ser AS (SELECT unnest(generate_series(0,
                        (SELECT COALESCE(MAX((n - 1) // 30), 0) FROM d))) AS ci),
              ch AS (SELECT doc_id, ci, ci * 30 AS start_tok,
                            LEAST(40, n - ci * 30) AS n_tokens, t
                     FROM d CROSS JOIN ser
                     WHERE ci <= (n - 1) // 30 AND (ci = 0 OR ci * 30 + 10 < n))
         SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
                CAST(start_tok AS INTEGER) AS start_tok,
                CAST(n_tokens AS INTEGER) AS n_tokens,
                md5(array_to_string(t[start_tok + 1 : start_tok + n_tokens], ' ')) AS chunk_md5
         FROM ch ORDER BY doc_id, chunk_idx"""),

    // token-budget packing: deterministic prefix-sum binning at 2000
    // tokens per training sequence
    Face("q_text_packing", (s, dir) => {
      TextAnalysis.packByTokenBudget(t(s, dir, "documents"), "doc_id", "text",
          budget = 2000L)
        .select("doc_id", "n_tokens", "bin_id")
        .orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id,
                           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
                    FROM documents),
              c AS (SELECT doc_id, n_tokens,
                           SUM(n_tokens) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                    FROM t)
         SELECT doc_id, n_tokens, CAST((cum - n_tokens) // 2000 AS BIGINT) AS bin_id
         FROM c ORDER BY doc_id"""),

    // composed corpus gate: min-tokens, repetition, quality, language
    // rules with first-failing-rule drop attribution
    Face("q_text_corpus_gate", (s, dir) => {
      TextAnalysis.corpusGate(t(s, dir, "documents"), "doc_id", "text",
          minTokens = 40, maxRepetition = 0.1, minQuality = 0.55,
          allowedLangs = Seq("en", "es", "fr", "de"))
        .select("doc_id", "n_tokens", "rep_ratio", "quality_score",
                "detected", "kept", "drop_reason")
        .orderBy("doc_id")
    }, CorpusGateOracle),

    // the SAME corpus-gate column program over a documents STREAM
    // (append mode, stateless, no watermark): proves the claim that the
    // text-analysis operators compose into readStream plans unchanged
    // (Stage scaladoc) at the oracle tier — identical SQL text as the
    // batch gate, so the drained rows must equal batch row-for-row
    Face("q_stream_corpus_gate", (s, dir) => {
      val batch = t(s, dir, "documents")
      graft.streaming.StreamDrain.drain(s, s"$dir/documents.parquet",
          batch.schema, "stream_corpus_gate", "append") { src =>
        TextAnalysis.corpusGate(src, "doc_id", "text",
            minTokens = 40, maxRepetition = 0.1, minQuality = 0.55,
            allowedLangs = Seq("en", "es", "fr", "de"))
          .select("doc_id", "n_tokens", "rep_ratio", "quality_score",
                  "detected", "kept", "drop_reason")
      }.orderBy("doc_id")
    },
      // identical agreement surface: the drained stream must equal batch
      CorpusGateOracle),

    // sharded token-budget packing — the 100 TB form: cumsum windows run
    // PER SHARD (here: language), so no single reducer sees the corpus
    Face("q_text_packing_sharded", (s, dir) => {
      TextAnalysis.packByTokenBudget(t(s, dir, "documents"), "doc_id", "text",
          budget = 2000L, extraParts = Seq("lang"))
        .select("doc_id", "lang", "n_tokens", "bin_id")
        .orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, lang,
                           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
                    FROM documents),
              c AS (SELECT doc_id, lang, n_tokens,
                           SUM(n_tokens) OVER (PARTITION BY lang
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                    FROM t)
         SELECT doc_id, lang, n_tokens, CAST((cum - n_tokens) // 2000 AS BIGINT) AS bin_id
         FROM c ORDER BY doc_id"""),

    // weighted training mix: 200 docs at en/es/fr/de = 5/2/2/1 (zh
    // excluded), deterministic md5-ordered picks per language
    Face("q_sample_mix", (s, dir) => {
      Analytics.weightedMix(t(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 0.5, "es" -> 0.2, "fr" -> 0.2, "de" -> 0.1), total = 200)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
      """WITH r AS (SELECT doc_id, lang,
                           ROW_NUMBER() OVER (PARTITION BY lang
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                    FROM documents)
         SELECT doc_id, lang FROM r
         WHERE (lang = 'en' AND rn <= 100) OR (lang = 'es' AND rn <= 40)
            OR (lang = 'fr' AND rn <= 40) OR (lang = 'de' AND rn <= 20)
         ORDER BY doc_id"""),

    // composed corpus preparation: quality gate → exact dedup →
    // temperature mix, quotas over the SURVIVOR counts — one oracle
    // checks the stage boundaries the unit queries can't see
    Face("q_pipeline_corpus_prep", (s, dir) => {
      graft.operators.CorpusPrep.prepare(t(s, dir, "documents"),
          "doc_id", "text", "lang", minTokens = 40, maxRepetition = 0.1,
          minQuality = 0.55, allowedLangs = Seq("en", "es", "fr", "de"),
          alpha = 0.5, total = 120)
        .orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, text,
                           list_filter(string_split(text, ' '), x -> x <> '') AS tk
                    FROM documents),
              q AS (SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tokens,
                           CAST(length(replace(text, ' ', '')) AS DOUBLE)
                             / CAST(len(tk) AS DOUBLE) AS avg_token_len,
                           CAST(len(list_filter(tk, x -> x IN ('the','a','is','and','of','to','in'))) AS DOUBLE)
                             / CAST(len(tk) AS DOUBLE) AS stop_ratio
                    FROM t),
              qs AS (SELECT doc_id, n_tokens,
                            greatest(0.0, least(1.0,
                              stop_ratio * 0.3
                              + least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4
                              + least(1.0, avg_token_len / 8.0) * 0.3)) AS quality_score
                     FROM q),
              ser AS (SELECT unnest(generate_series(1, (SELECT COALESCE(MAX(len(tk)), 1) FROM t))) AS i),
              bgr AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS b
                      FROM t CROSS JOIN ser WHERE i <= len(tk) - 1),
              rp0 AS (SELECT doc_id, COUNT(*) AS nb, COUNT(DISTINCT b) AS nub
                      FROM bgr GROUP BY doc_id),
              rp AS (SELECT t.doc_id,
                            COALESCE(round(CAST(rp0.nb - rp0.nub AS DOUBLE)
                                           / CAST(rp0.nb AS DOUBLE), 6), 0.0) AS rep_ratio
                     FROM t LEFT JOIN rp0 ON t.doc_id = rp0.doc_id),
              lh AS (SELECT doc_id,
                            CAST(len(list_filter(tk, x -> x IN ('the','a','is','and','of'))) AS INTEGER) AS en_hits,
                            CAST(len(list_filter(tk, x -> x IN ('el','la','de','que','y'))) AS INTEGER) AS es_hits,
                            CAST(len(list_filter(tk, x -> x IN ('le','les','des','et','une'))) AS INTEGER) AS fr_hits,
                            CAST(len(list_filter(tk, x -> x IN ('der','die','und','das','ist'))) AS INTEGER) AS de_hits
                     FROM t),
              ld AS (SELECT doc_id,
                            CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits
                                  AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
                                 WHEN es_hits >= fr_hits AND es_hits >= de_hits
                                  AND es_hits > 0 THEN 'es'
                                 WHEN fr_hits >= de_hits AND fr_hits > 0 THEN 'fr'
                                 WHEN de_hits > 0 THEN 'de'
                                 ELSE 'und' END AS detected
                     FROM lh),
              j AS (SELECT qs.doc_id, qs.n_tokens, rp.rep_ratio, qs.quality_score, ld.detected
                    FROM qs JOIN rp ON qs.doc_id = rp.doc_id
                            JOIN ld ON qs.doc_id = ld.doc_id),
              g AS (SELECT *, CASE WHEN n_tokens < 40 THEN 'too_short'
                                   WHEN rep_ratio > 0.1 THEN 'too_repetitive'
                                   WHEN quality_score < 0.55 THEN 'low_quality'
                                   WHEN detected NOT IN ('en','es','fr','de') THEN 'lang'
                              END AS drop_reason
                    FROM j),
              k AS (SELECT g.doc_id, d.lang, d.text, g.n_tokens
                    FROM g JOIN documents d ON d.doc_id = g.doc_id
                    WHERE g.drop_reason IS NULL),
              canon AS (SELECT md5(text) AS h, MIN(doc_id) AS kept_id
                        FROM k GROUP BY 1),
              s AS (SELECT k.doc_id, k.lang, k.n_tokens
                    FROM k JOIN canon ON k.doc_id = canon.kept_id),
              n AS (SELECT lang, COUNT(*) AS n FROM s GROUP BY 1),
              w AS (SELECT lang, CAST(round(sqrt(CAST(n AS DOUBLE)), 6)
                                      AS DECIMAL(18,6)) AS w FROM n),
              tt AS (SELECT SUM(w) AS ws FROM w),
              qq AS (SELECT lang, CAST(floor(120 * CAST(w AS DOUBLE)
                                             / CAST(ws AS DOUBLE) + 1e-9)
                                       AS BIGINT) AS quota
                     FROM w CROSS JOIN tt),
              r AS (SELECT doc_id, lang, n_tokens,
                           ROW_NUMBER() OVER (PARTITION BY lang
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                    FROM s)
         SELECT r.doc_id, r.lang, r.n_tokens
         FROM r JOIN qq ON qq.lang = r.lang
         WHERE r.rn <= qq.quota
         ORDER BY doc_id"""),

    // temperature-scaled mix: quotas from the data itself (w = sqrt of
    // each language's count, quota = floor(300·w/Σw)) — the multilingual
    // balancing rule; decimal weight sum keeps quotas engine-exact
    Face("q_mix_temperature", (s, dir) => {
      Analytics.temperatureMix(t(s, dir, "documents"), "lang", "doc_id",
          alpha = 0.5, total = 300)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
      """WITH n AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
              w AS (SELECT lang, CAST(round(sqrt(CAST(n AS DOUBLE)), 6)
                                      AS DECIMAL(18,6)) AS w FROM n),
              t AS (SELECT SUM(w) AS ws FROM w),
              q AS (SELECT lang, CAST(floor(300 * CAST(w AS DOUBLE)
                                            / CAST(ws AS DOUBLE) + 1e-9)
                                      AS BIGINT) AS quota
                    FROM w CROSS JOIN t),
              r AS (SELECT doc_id, d.lang,
                           ROW_NUMBER() OVER (PARTITION BY d.lang
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                    FROM documents d)
         SELECT r.doc_id, r.lang
         FROM r JOIN q ON q.lang = r.lang
         WHERE r.rn <= q.quota
         ORDER BY doc_id"""),

    // training-mix quota: at most 50 docs per source, chosen by md5 order
    Face("q_sample_stratified", (s, dir) => {
      Analytics.cappedPerGroup(t(s, dir, "documents"), Seq("source"), "doc_id", 50)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    },
      """WITH r AS (SELECT doc_id, source, lang,
                           ROW_NUMBER() OVER (PARTITION BY source
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                    FROM documents)
         SELECT doc_id, source, lang FROM r WHERE rn <= 50 ORDER BY doc_id""")
  )
}
