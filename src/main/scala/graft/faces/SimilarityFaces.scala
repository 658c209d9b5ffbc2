package graft
package faces

import org.apache.spark.sql.functions._

import graft.operators._

import Fixtures._

/** Vector similarity over the embeddings table: exact and int8 top-k,
  * IVF, PQ, IVF-PQ, LSH and Hadamard ANN, hard-negative mining, covariance,
  * mean pooling and recall.
  */
private[graft] object SimilarityFaces extends Family("similarity") {

  /** Shared by `q_sim_covariance` (one-shot pass) and
    * `q_sim_covariance_incremental` (three merged batch partials) — the
    * mergeability claim IS that both hash-equal this one text. The
    * VARCHAR hop pins DuckDB's DECIMAL(38,18)→DOUBLE double-rounding
    * divergence (see `Similarity.covarianceSums` scaladoc).
    */
  private val CovarianceOracle =
    """WITH ser AS (SELECT unnest(generate_series(1, 64)) AS i),
            e AS (SELECT vec_id, i, CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(18,9)) AS x
                  FROM embeddings CROSS JOIN ser
                  WHERE i <= len(embedding) AND len(embedding) = 64
                    AND len(list_filter(embedding,
                          x -> x IS NULL OR NOT isfinite(CAST(x AS DOUBLE)))) = 0),
            p AS (SELECT a.i AS i, b.i AS j, COUNT(*) AS n,
                         SUM(CAST(a.x * b.x AS DECIMAL(38,18))) AS s_ij
                  FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
                  GROUP BY 1, 2),
            s1 AS (SELECT i, SUM(CAST(x AS DECIMAL(38,18))) AS s FROM e GROUP BY i)
       SELECT CAST(p.i - 1 AS INTEGER) AS i, CAST(p.j - 1 AS INTEGER) AS j, p.n AS n,
              CAST(CAST(si.s AS VARCHAR) AS DOUBLE) AS s_i,
              CAST(CAST(sj.s AS VARCHAR) AS DOUBLE) AS s_j,
              CAST(CAST(p.s_ij AS VARCHAR) AS DOUBLE) AS s_ij,
              CAST(CAST(p.s_ij AS VARCHAR) AS DOUBLE) / p.n
                - (CAST(CAST(si.s AS VARCHAR) AS DOUBLE) / p.n)
                  * (CAST(CAST(sj.s AS VARCHAR) AS DOUBLE) / p.n) AS cov
       FROM p JOIN s1 si ON si.i = p.i JOIN s1 sj ON sj.i = p.j
       ORDER BY i, j"""

  /** The deterministic IVF-PQ ADC pipeline as CTEs ending at the ranked
    * shortlist `r` — shared by `q_sim_ivfpq_adc` (rank ≤ 3 head) and
    * `q_sim_ivfpq_rerank` (rank ≤ 10 shortlist reranked by exact
    * cosine): one chain, two retrieval depths.
    */
  private val IvfPqAdcCoreSql =
    """WITH ser AS (SELECT unnest(generate_series(1, 64)) AS i),
              es AS (SELECT vec_id, i,
                            CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(18,9)) AS x,
                            (i - 1) // 16 AS s
                     FROM embeddings CROSS JOIN ser WHERE i <= len(embedding)),
              nrm AS (SELECT vec_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm
                      FROM es GROUP BY vec_id),
              adots AS (SELECT v.vec_id, c.vec_id AS centroid_id, SUM(v.x * c.x) AS dot
                        FROM es v JOIN es c ON c.i = v.i AND c.vec_id < 16
                        GROUP BY 1, 2),
              asg AS (SELECT vec_id, centroid_id
                      FROM (SELECT a.vec_id, a.centroid_id,
                                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                     ORDER BY round(CAST(a.dot AS DOUBLE) / (nv.nrm * nc.nrm), 6) DESC,
                                              a.centroid_id) AS rn
                            FROM adots a
                            JOIN nrm nv ON nv.vec_id = a.vec_id
                            JOIN nrm nc ON nc.vec_id = a.centroid_id) t
                      WHERE rn = 1),
              cent AS (SELECT vec_id AS cid, s, i, x FROM es WHERE vec_id < 4),
              d2 AS (SELECT v.vec_id, v.s, c.cid,
                            SUM(CAST(CAST(v.x - c.x AS DECIMAL(18,9))
                                     * CAST(v.x - c.x AS DECIMAL(18,9))
                                     AS DECIMAL(38,18))) AS d2
                     FROM es v JOIN cent c ON v.i = c.i
                     GROUP BY 1, 2, 3),
              code AS (SELECT vec_id, s, cid
                       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                               ORDER BY d2, cid) AS rn FROM d2)
                       WHERE rn = 1),
              q AS (SELECT vec_id AS query_id, centroid_id FROM asg WHERE vec_id < 5),
              cand AS (SELECT q.query_id, a.vec_id AS cand_id, q.centroid_id
                       FROM q JOIN asg a ON a.centroid_id = q.centroid_id
                                        AND a.vec_id <> q.query_id),
              adc AS (SELECT cand.query_id, cand.cand_id, cand.centroid_id,
                             SUM(CAST(qe.x * c.x AS DECIMAL(38,18))) AS adot
                      FROM cand
                      JOIN es qe ON qe.vec_id = cand.query_id
                      JOIN code cd ON cd.vec_id = cand.cand_id AND cd.s = qe.s
                      JOIN cent c ON c.cid = cd.cid AND c.s = qe.s AND c.i = qe.i
                      GROUP BY 1, 2, 3),
              r AS (SELECT query_id, centroid_id, cand_id,
                           round(CAST(adot AS DOUBLE), 6) AS approx_dot,
                           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY round(CAST(adot AS DOUBLE), 6) DESC, cand_id)
                             AS INTEGER) AS rank
                    FROM adc)"""

  val faces: Seq[Face] = Seq(

    // brute-force cosine top-3 per query vector (exact ANN baseline)
    Face("q_sim_cosine_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 3)
        .orderBy("query_id", "rank")
    },
      """WITH ser AS (SELECT unnest(generate_series(1, 64)) AS i),
              e AS (SELECT vec_id, i, CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(18,9)) AS x
                    FROM embeddings CROSS JOIN ser WHERE i <= len(embedding)),
              nrm AS (SELECT vec_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm
                      FROM e GROUP BY vec_id),
              q AS (SELECT vec_id AS query_id, i, x FROM e WHERE vec_id < 5),
              dots AS (SELECT q.query_id, c.vec_id AS cand_id, SUM(q.x * c.x) AS dot
                       FROM q JOIN e c ON q.i = c.i AND q.query_id <> c.vec_id
                       GROUP BY 1, 2),
              sc AS (SELECT query_id, cand_id,
                            round(CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm), 6) AS cos_sim
                     FROM dots
                     JOIN nrm nq ON nq.vec_id = query_id
                     JOIN nrm nc ON nc.vec_id = cand_id),
              r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rank
                    FROM sc)
         SELECT query_id, cand_id, cos_sim, rank
         FROM r WHERE rank <= 3 ORDER BY query_id, rank"""),

    // int8-quantized cosine top-3: the 4× memory/bandwidth scale lever;
    // scoring is exact integer code dots, so the oracle checks it exactly
    Face("q_sim_int8_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.int8TopK(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", k = 3)
        .orderBy("query_id", "rank")
    },
      """WITH ser AS (SELECT unnest(generate_series(1, 64)) AS i),
              e AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
                    FROM embeddings CROSS JOIN ser WHERE i <= len(embedding)),
              sc AS (SELECT vec_id,
                            CASE WHEN MAX(abs(x)) > 0 THEN MAX(abs(x)) / 127.0
                                 ELSE 1.0 END AS scale
                     FROM e GROUP BY vec_id),
              c AS (SELECT e.vec_id, i, CAST(round(x / scale) AS BIGINT) AS cd
                    FROM e JOIN sc ON e.vec_id = sc.vec_id),
              nrm AS (SELECT vec_id, sqrt(CAST(SUM(cd * cd) AS DOUBLE)) AS nrm
                      FROM c GROUP BY vec_id),
              q AS (SELECT vec_id AS query_id, i, cd FROM c WHERE vec_id < 5),
              dots AS (SELECT q.query_id, t.vec_id AS cand_id, SUM(q.cd * t.cd) AS dot
                       FROM q JOIN c t ON q.i = t.i AND q.query_id <> t.vec_id
                       GROUP BY 1, 2),
              scd AS (SELECT query_id, cand_id,
                             CASE WHEN nq.nrm * nc.nrm > 0
                                  THEN round(CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm), 6)
                                  ELSE 0.0 END AS cos_sim
                      FROM dots
                      JOIN nrm nq ON nq.vec_id = query_id
                      JOIN nrm nc ON nc.vec_id = cand_id),
              r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rank
                    FROM scd)
         SELECT query_id, cand_id, cos_sim, rank
         FROM r WHERE rank <= 3 ORDER BY query_id, rank"""),

    // hard-negative mining (exact tier): for each of 5 query vectors,
    // the 3 most cosine-similar vectors with a DIFFERENT label — the
    // near-boundary negatives a contrastive loss trains on
    Face("q_sim_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", "label", k = 3)
        .orderBy("query_id", "rank")
    },
      """WITH ser AS (SELECT unnest(generate_series(1, 64)) AS i),
              e AS (SELECT vec_id, i, CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(18,9)) AS x
                    FROM embeddings CROSS JOIN ser WHERE i <= len(embedding)),
              nrm AS (SELECT vec_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm
                      FROM e GROUP BY vec_id),
              q AS (SELECT vec_id AS query_id, i, x FROM e WHERE vec_id < 5),
              lab AS (SELECT vec_id, label FROM embeddings),
              dots AS (SELECT q.query_id, c.vec_id AS cand_id, SUM(q.x * c.x) AS dot
                       FROM q JOIN e c ON q.i = c.i AND q.query_id <> c.vec_id
                       JOIN lab lq ON lq.vec_id = q.query_id
                       JOIN lab lc ON lc.vec_id = c.vec_id
                       WHERE lc.label IS DISTINCT FROM lq.label
                       GROUP BY 1, 2),
              sc AS (SELECT query_id, cand_id,
                            round(CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm), 6) AS cos_sim
                     FROM dots
                     JOIN nrm nq ON nq.vec_id = query_id
                     JOIN nrm nc ON nc.vec_id = cand_id),
              r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rank
                    FROM sc)
         SELECT query_id, cand_id, cos_sim, rank
         FROM r WHERE rank <= 3 ORDER BY query_id, rank"""),

    // hard-negative mining, IVF-cell-bounded (the 100 TB form): same
    // different-label predicate over the deterministic-cell candidate
    // join (cells = vec_id < 16, nProbe = 2), so candidate generation
    // AND scores are oracle-exact
    Face("q_sim_hard_negatives_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegativesIvf(emb, emb.filter(col("vec_id") < 5),
          nCells = 16, "vec_id", "embedding", "label", k = 3, nProbe = 2)
        .orderBy("query_id", "rank")
    },
      """WITH ser AS (SELECT unnest(generate_series(1, 64)) AS i),
              e AS (SELECT vec_id, i, CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(18,9)) AS x
                    FROM embeddings CROSS JOIN ser WHERE i <= len(embedding)),
              nrm AS (SELECT vec_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm
                      FROM e GROUP BY vec_id),
              adots AS (SELECT v.vec_id, c.vec_id AS centroid_id, SUM(v.x * c.x) AS dot
                        FROM e v JOIN e c ON c.i = v.i AND c.vec_id < 16
                        GROUP BY 1, 2),
              ascored AS (SELECT a.vec_id, a.centroid_id,
                                 round(CAST(a.dot AS DOUBLE) / (nv.nrm * nc.nrm), 6) AS cs
                          FROM adots a
                          JOIN nrm nv ON nv.vec_id = a.vec_id
                          JOIN nrm nc ON nc.vec_id = a.centroid_id),
              asg AS (SELECT vec_id, centroid_id
                      FROM (SELECT vec_id, centroid_id,
                                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cs DESC, centroid_id) AS rn
                            FROM ascored) t
                      WHERE rn = 1),
              probe AS (SELECT vec_id AS query_id, centroid_id
                        FROM (SELECT vec_id, centroid_id,
                                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY cs DESC, centroid_id) AS rn
                              FROM ascored WHERE vec_id < 5) t
                        WHERE rn <= 2),
              lab AS (SELECT vec_id, label FROM embeddings),
              cand AS (SELECT DISTINCT p.query_id, a.vec_id AS cand_id
                       FROM probe p
                       JOIN asg a ON a.centroid_id = p.centroid_id
                                 AND a.vec_id <> p.query_id
                       JOIN lab lq ON lq.vec_id = p.query_id
                       JOIN lab lc ON lc.vec_id = a.vec_id
                       WHERE lc.label IS DISTINCT FROM lq.label),
              dots AS (SELECT cand.query_id, cand.cand_id, SUM(qa.x * qb.x) AS dot
                       FROM cand
                       JOIN e qa ON qa.vec_id = cand.query_id
                       JOIN e qb ON qb.vec_id = cand.cand_id AND qb.i = qa.i
                       GROUP BY 1, 2),
              sc AS (SELECT query_id, cand_id,
                            round(CAST(dot AS DOUBLE) / (nq.nrm * nc2.nrm), 6) AS cos_sim
                     FROM dots
                     JOIN nrm nq ON nq.vec_id = query_id
                     JOIN nrm nc2 ON nc2.vec_id = cand_id),
              r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rank
                    FROM sc)
         SELECT query_id, cand_id, cos_sim, rank
         FROM r WHERE rank <= 3 ORDER BY query_id, rank"""),

    // product-quantization ADC top-3 with deterministic codebooks
    // (subvectors of vec_id < 4): codes and approximate dots are
    // decimal-exact, so the PQ approximation itself is oracle-checked
    Face("q_sim_pq_adc", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqAdcDeterministic(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", dim = 64, m = 4, ksub = 4, k = 3)
        .orderBy("query_id", "rank")
    },
      """WITH ser AS (SELECT unnest(generate_series(1, 64)) AS i),
              es AS (SELECT vec_id, i,
                            CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(18,9)) AS x,
                            (i - 1) // 16 AS s
                     FROM embeddings CROSS JOIN ser WHERE i <= len(embedding)),
              cent AS (SELECT vec_id AS cid, s, i, x FROM es WHERE vec_id < 4),
              d2 AS (SELECT v.vec_id, v.s, c.cid,
                            SUM(CAST(CAST(v.x - c.x AS DECIMAL(18,9))
                                     * CAST(v.x - c.x AS DECIMAL(18,9))
                                     AS DECIMAL(38,18))) AS d2
                     FROM es v JOIN cent c ON v.i = c.i
                     GROUP BY 1, 2, 3),
              code AS (SELECT vec_id, s, cid
                       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                               ORDER BY d2, cid) AS rn FROM d2)
                       WHERE rn = 1),
              adc AS (SELECT q.vec_id AS query_id, cd.vec_id AS cand_id,
                             SUM(CAST(q.x * c.x AS DECIMAL(38,18))) AS adot
                      FROM es q
                      JOIN code cd ON cd.s = q.s
                      JOIN cent c ON c.cid = cd.cid AND c.s = q.s AND c.i = q.i
                      WHERE q.vec_id < 5 AND cd.vec_id <> q.vec_id
                      GROUP BY 1, 2),
              r AS (SELECT query_id, cand_id,
                           round(CAST(adot AS DOUBLE), 6) AS approx_dot,
                           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY round(CAST(adot AS DOUBLE), 6) DESC, cand_id)
                             AS INTEGER) AS rank
                    FROM adc)
         SELECT query_id, cand_id, approx_dot, rank
         FROM r WHERE rank <= 3 ORDER BY query_id, rank"""),

    // composed IVF-PQ with deterministic cells (vec_id < 16) and
    // deterministic codebooks (subvectors of vec_id < 4): candidate set
    // AND approximate scores are decimal-exact → the whole two-level
    // approximation is oracle-checked
    Face("q_sim_ivfpq_adc", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqAdcDeterministic(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", dim = 64, nCells = 16, m = 4, ksub = 4, k = 3)
        .orderBy("query_id", "rank")
    },
      (IvfPqAdcCoreSql +
      """
         SELECT query_id, centroid_id, cand_id, approx_dot, rank
         FROM r WHERE rank <= 3 ORDER BY query_id, rank""")),

    // two-stage retrieval at the oracle tier: the SAME deterministic ADC
    // chain shortlists 10 per query, then the exact fixed-point cosine
    // reranks — the production shortlist-then-rerank shape whose trained
    // face (ivfPqRerankTopK) carries the bench recall metric
    Face("q_sim_ivfpq_rerank", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqAdcRerankDeterministic(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", dim = 64, nCells = 16, m = 4, ksub = 4,
          k = 3, rerank = 10)
        .orderBy("query_id", "rank")
    },
      // the ADC shortlist (rank ≤ 10 from the SAME CTE chain) reranked by
      // the exact fixed-point cosine — the two-stage retrieval oracle
      (IvfPqAdcCoreSql + """,
              rr AS (SELECT query_id, cand_id FROM r WHERE rank <= 10),
              ex AS (SELECT rr.query_id, rr.cand_id,
                            round(CAST(SUM(a.x * b.x) AS DOUBLE)
                                  / (na.nrm * nb.nrm), 6) AS cos_sim
                     FROM rr
                     JOIN es a ON a.vec_id = rr.query_id
                     JOIN es b ON b.vec_id = rr.cand_id AND b.i = a.i
                     JOIN nrm na ON na.vec_id = rr.query_id
                     JOIN nrm nb ON nb.vec_id = rr.cand_id
                     GROUP BY rr.query_id, rr.cand_id, na.nrm, nb.nrm),
              fin AS (SELECT query_id, cand_id, cos_sim,
                             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rank
                      FROM ex)
         SELECT query_id, cand_id, cos_sim, rank
         FROM fin WHERE rank <= 3 ORDER BY query_id, rank""")),

    // RESIDUAL IVFADC at the oracle tier (round-9 verdict #2): residuals
    // r = x − cell-centroid in exact decimal, codebook = residuals of
    // vec_ids 16..19, score = exact cell dot + residual ADC — the
    // residual decomposition the trained ivfPqResidualTopK uses, with
    // every arithmetic step recomputed by the DuckDB oracle
    Face("q_sim_ivfpq_residual", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqResidualAdcDeterministic(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", dim = 64, nCells = 16, m = 4, ksub = 4, k = 3)
        .orderBy("query_id", "rank")
    },
      // residual IVFADC: same cell-assignment CTEs as IvfPqAdcCoreSql,
      // then residual elements, residual codebook (vec_ids 16..19),
      // argmin-L2 codes over residuals, and score = exact decimal cell
      // dot + residual ADC — the residual decomposition recomputed
      """WITH ser AS (SELECT unnest(generate_series(1, 64)) AS i),
              es AS (SELECT vec_id, i,
                            CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(18,9)) AS x,
                            (i - 1) // 16 AS s
                     FROM embeddings CROSS JOIN ser WHERE i <= len(embedding)),
              nrm AS (SELECT vec_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm
                      FROM es GROUP BY vec_id),
              adots AS (SELECT v.vec_id, c.vec_id AS centroid_id, SUM(v.x * c.x) AS dot
                        FROM es v JOIN es c ON c.i = v.i AND c.vec_id < 16
                        GROUP BY 1, 2),
              asg AS (SELECT vec_id, centroid_id
                      FROM (SELECT a.vec_id, a.centroid_id,
                                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                     ORDER BY round(CAST(a.dot AS DOUBLE) / (nv.nrm * nc.nrm), 6) DESC,
                                              a.centroid_id) AS rn
                            FROM adots a
                            JOIN nrm nv ON nv.vec_id = a.vec_id
                            JOIN nrm nc ON nc.vec_id = a.centroid_id) t
                      WHERE rn = 1),
              res AS (SELECT v.vec_id, v.i, v.s,
                             CAST(v.x - c.x AS DECIMAL(18,9)) AS rx
                      FROM es v
                      JOIN asg ON asg.vec_id = v.vec_id
                      JOIN es c ON c.vec_id = asg.centroid_id AND c.i = v.i),
              cent AS (SELECT CAST(vec_id - 16 AS INTEGER) AS cid, s, i, rx
                       FROM res WHERE vec_id >= 16 AND vec_id < 20),
              d2 AS (SELECT v.vec_id, v.s, c.cid,
                            SUM(CAST(CAST(v.rx - c.rx AS DECIMAL(18,9))
                                     * CAST(v.rx - c.rx AS DECIMAL(18,9))
                                     AS DECIMAL(38,18))) AS d2
                     FROM res v JOIN cent c ON v.i = c.i
                     GROUP BY 1, 2, 3),
              code AS (SELECT vec_id, s, cid
                       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                               ORDER BY d2, cid) AS rn FROM d2)
                       WHERE rn = 1),
              q AS (SELECT vec_id AS query_id, centroid_id FROM asg WHERE vec_id < 5),
              cdot AS (SELECT q2.query_id,
                              SUM(CAST(qe.x * ce.x AS DECIMAL(38,18))) AS cdot
                       FROM q q2
                       JOIN es qe ON qe.vec_id = q2.query_id
                       JOIN es ce ON ce.vec_id = q2.centroid_id AND ce.i = qe.i
                       GROUP BY 1),
              cand AS (SELECT q.query_id, a.vec_id AS cand_id, q.centroid_id
                       FROM q JOIN asg a ON a.centroid_id = q.centroid_id
                                        AND a.vec_id <> q.query_id),
              adc AS (SELECT cand.query_id, cand.cand_id,
                             SUM(CAST(qe.x * c.rx AS DECIMAL(38,18))) AS adot
                      FROM cand
                      JOIN es qe ON qe.vec_id = cand.query_id
                      JOIN code cd ON cd.vec_id = cand.cand_id AND cd.s = qe.s
                      JOIN cent c ON c.cid = cd.cid AND c.s = qe.s AND c.i = qe.i
                      GROUP BY 1, 2),
              r AS (SELECT a.query_id, a.cand_id,
                           round(CAST(cd.cdot + a.adot AS DOUBLE), 6) AS approx_dot,
                           CAST(ROW_NUMBER() OVER (PARTITION BY a.query_id
                             ORDER BY round(CAST(cd.cdot + a.adot AS DOUBLE), 6) DESC,
                                      a.cand_id) AS INTEGER) AS rank
                    FROM adc a JOIN cdot cd ON cd.query_id = a.query_id)
         SELECT query_id, cand_id, approx_dot, rank
         FROM r WHERE rank <= 3 ORDER BY query_id, rank"""),

    // LSH-bucketed ANN top-3 (8 sign-projection planes) — the scale path
    Face("q_sim_ann_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", nPlanes = 8, dim = 64, k = 3)
        .orderBy("query_id", "rank")
    },
      """WITH ser AS (SELECT unnest(generate_series(1, 64)) AS i),
              pl AS (SELECT unnest(generate_series(0, 7)) AS p),
              sgn AS (SELECT p, i,
                             CASE WHEN (strpos('0123456789abcdef',
                                    substring(md5(CAST(p AS VARCHAR) || '_' || CAST(i - 1 AS VARCHAR)), 1, 1)) - 1) % 2 = 1
                                  THEN 1 ELSE -1 END AS sgn
                      FROM pl CROSS JOIN ser),
              e AS (SELECT vec_id, i, CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(18,9)) AS x
                    FROM embeddings CROSS JOIN ser WHERE i <= len(embedding)),
              proj AS (SELECT vec_id, p, SUM(x * sgn) AS proj
                       FROM e JOIN sgn ON e.i = sgn.i GROUP BY 1, 2),
              bucket AS (SELECT vec_id,
                                string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0' END, ''
                                           ORDER BY p) AS bucket
                         FROM proj GROUP BY vec_id),
              nrm AS (SELECT vec_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm
                      FROM e GROUP BY vec_id),
              q AS (SELECT vec_id AS query_id, bucket FROM bucket WHERE vec_id < 5),
              cand AS (SELECT q.query_id, c.vec_id AS cand_id, q.bucket
                       FROM q JOIN bucket c ON c.bucket = q.bucket
                                           AND c.vec_id <> q.query_id),
              dots AS (SELECT cand.query_id, cand.cand_id, cand.bucket,
                              SUM(a.x * b.x) AS dot
                       FROM cand
                       JOIN e a ON a.vec_id = cand.query_id
                       JOIN e b ON b.vec_id = cand.cand_id AND b.i = a.i
                       GROUP BY 1, 2, 3),
              sc AS (SELECT query_id, bucket, cand_id,
                            round(CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm), 6) AS cos_sim
                     FROM dots
                     JOIN nrm nq ON nq.vec_id = query_id
                     JOIN nrm nc ON nc.vec_id = cand_id),
              r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rank
                    FROM sc)
         SELECT query_id, bucket, cand_id, cos_sim, rank
         FROM r WHERE rank <= 3 ORDER BY query_id, rank"""),

    // IVF ANN top-3: nearest-centroid cells (16 deterministic centroids),
    // exact cosine within the query's cell (nProbe=1)
    Face("q_sim_ivf_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), nCells = 16,
          "vec_id", "embedding", k = 3)
        .orderBy("query_id", "rank")
    },
      """WITH ser AS (SELECT unnest(generate_series(1, 64)) AS i),
              e AS (SELECT vec_id, i, CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(18,9)) AS x
                    FROM embeddings CROSS JOIN ser WHERE i <= len(embedding)),
              nrm AS (SELECT vec_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm
                      FROM e GROUP BY vec_id),
              adots AS (SELECT v.vec_id, c.vec_id AS centroid_id, SUM(v.x * c.x) AS dot
                        FROM e v JOIN e c ON c.i = v.i AND c.vec_id < 16
                        GROUP BY 1, 2),
              asg AS (SELECT vec_id, centroid_id
                      FROM (SELECT a.vec_id, a.centroid_id,
                                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                     ORDER BY round(CAST(a.dot AS DOUBLE) / (nv.nrm * nc.nrm), 6) DESC,
                                              a.centroid_id) AS rn
                            FROM adots a
                            JOIN nrm nv ON nv.vec_id = a.vec_id
                            JOIN nrm nc ON nc.vec_id = a.centroid_id) t
                      WHERE rn = 1),
              q AS (SELECT vec_id AS query_id, centroid_id FROM asg WHERE vec_id < 5),
              cand AS (SELECT q.query_id, a.vec_id AS cand_id, q.centroid_id
                       FROM q JOIN asg a ON a.centroid_id = q.centroid_id
                                        AND a.vec_id <> q.query_id),
              dots AS (SELECT cand.query_id, cand.cand_id, cand.centroid_id,
                              SUM(qa.x * qb.x) AS dot
                       FROM cand
                       JOIN e qa ON qa.vec_id = cand.query_id
                       JOIN e qb ON qb.vec_id = cand.cand_id AND qb.i = qa.i
                       GROUP BY 1, 2, 3),
              sc AS (SELECT query_id, centroid_id, cand_id,
                            round(CAST(dot AS DOUBLE) / (nq.nrm * nc2.nrm), 6) AS cos_sim
                     FROM dots
                     JOIN nrm nq ON nq.vec_id = query_id
                     JOIN nrm nc2 ON nc2.vec_id = cand_id),
              r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rank
                    FROM sc)
         SELECT query_id, centroid_id, cand_id, cos_sim, rank
         FROM r WHERE rank <= 3 ORDER BY query_id, rank"""),

    // PCA step 1 (the only data-sized pass): exact second-moment sums +
    // covariance of the embedding column — the driver-side Jacobi eigen
    // step consumes exactly these 2 080 scalars (spec-verified); this
    // oracle proves the distributed pass bit-exactly
    Face("q_sim_covariance", (s, dir) => {
      Similarity.covarianceSums(t(s, dir, "embeddings"), "embedding", dim = 64)
        .orderBy("i", "j")
    }, CovarianceOracle),

    // training-free JL reduction: exact top-k cosine in 16-dim Hadamard-
    // projected space — the projection, norms, dots, and ranking are ALL
    // oracle-verified (unnormalized ±sums stay exact 9-place decimals)
    Face("q_sim_ann_hadamard", (s, dir) => {
      val proj = Similarity.hadamardProject(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 16, dim = 64)
      Similarity.bruteForceTopK(proj.filter(col("vec_id") < 5), proj,
        "vec_id", "proj", k = 3)
    },
      """WITH ser AS (SELECT unnest(generate_series(1, 64)) AS i),
              e AS (SELECT vec_id, i, CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(18,9)) AS x
                    FROM embeddings CROSS JOIN ser
                    WHERE i <= len(embedding) AND len(embedding) = 64),
              cs AS (SELECT unnest(generate_series(0, 15)) AS c),
              proj AS (SELECT vec_id, c,
                              CAST(SUM(CASE WHEN bit_count((e.i - 1) & (cs.c * 4)) % 2 = 0
                                       THEN CAST(x AS DECIMAL(38,9))
                                       ELSE -CAST(x AS DECIMAL(38,9)) END)
                                   AS DECIMAL(18,9)) AS y
                       FROM e CROSS JOIN cs GROUP BY 1, 2),
              nrm AS (SELECT vec_id, sqrt(CAST(SUM(y * y) AS DOUBLE)) AS nrm
                      FROM proj GROUP BY vec_id),
              q AS (SELECT vec_id AS query_id, c, y FROM proj WHERE vec_id < 5),
              dots AS (SELECT q.query_id, p.vec_id AS cand_id, SUM(q.y * p.y) AS dot
                       FROM q JOIN proj p ON q.c = p.c AND q.query_id <> p.vec_id
                       GROUP BY 1, 2),
              sc AS (SELECT query_id, cand_id,
                            round(CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm), 6) AS cos_sim
                     FROM dots
                     JOIN nrm nq ON nq.vec_id = query_id
                     JOIN nrm nc ON nc.vec_id = cand_id),
              r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rank
                    FROM sc)
         SELECT query_id, cand_id, cos_sim, rank
         FROM r WHERE rank <= 3 ORDER BY query_id, rank"""),

    // ANN quality as a hash-checked query: recall@3 of the Hadamard-
    // reduced search against the full-space exact top-k — both sides
    // deterministic, so the DuckDB oracle reproduces the evaluation
    Face("q_sim_recall_eval", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val exact = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 3)
      val proj = Similarity.hadamardProject(emb, "vec_id", "embedding",
        k = 16, dim = 64)
      val approx = Similarity.bruteForceTopK(
        proj.filter(col("vec_id") < 5), proj, "vec_id", "proj", 3)
      Similarity.recallAtK(approx, exact).orderBy("query_id")
    },
      """WITH ser AS (SELECT unnest(generate_series(1, 64)) AS i),
              e AS (SELECT vec_id, i, CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(18,9)) AS x
                    FROM embeddings CROSS JOIN ser
                    WHERE i <= len(embedding) AND len(embedding) = 64),
              nrmx AS (SELECT vec_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm
                       FROM e GROUP BY vec_id),
              qx AS (SELECT vec_id AS query_id, i, x FROM e WHERE vec_id < 5),
              dotsx AS (SELECT qx.query_id, c.vec_id AS cand_id, SUM(qx.x * c.x) AS dot
                        FROM qx JOIN e c ON qx.i = c.i AND qx.query_id <> c.vec_id
                        GROUP BY 1, 2),
              scx AS (SELECT query_id, cand_id,
                             round(CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm), 6) AS cos_sim
                      FROM dotsx
                      JOIN nrmx nq ON nq.vec_id = query_id
                      JOIN nrmx nc ON nc.vec_id = cand_id),
              rx AS (SELECT query_id, cand_id,
                            ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, cand_id) AS rank
                     FROM scx),
              cs AS (SELECT unnest(generate_series(0, 15)) AS c),
              proj AS (SELECT vec_id, c,
                              CAST(SUM(CASE WHEN bit_count((e.i - 1) & (cs.c * 4)) % 2 = 0
                                       THEN CAST(x AS DECIMAL(38,9))
                                       ELSE -CAST(x AS DECIMAL(38,9)) END)
                                   AS DECIMAL(18,9)) AS y
                       FROM e CROSS JOIN cs GROUP BY 1, 2),
              nrmh AS (SELECT vec_id, sqrt(CAST(SUM(y * y) AS DOUBLE)) AS nrm
                       FROM proj GROUP BY vec_id),
              qh AS (SELECT vec_id AS query_id, c, y FROM proj WHERE vec_id < 5),
              dotsh AS (SELECT qh.query_id, p.vec_id AS cand_id, SUM(qh.y * p.y) AS dot
                        FROM qh JOIN proj p ON qh.c = p.c AND qh.query_id <> p.vec_id
                        GROUP BY 1, 2),
              sch AS (SELECT query_id, cand_id,
                             round(CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm), 6) AS cos_sim
                      FROM dotsh
                      JOIN nrmh nq ON nq.vec_id = query_id
                      JOIN nrmh nc ON nc.vec_id = cand_id),
              rh AS (SELECT query_id, cand_id,
                            ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, cand_id) AS rank
                     FROM sch)
         SELECT x.query_id, COUNT(*) AS n_exact, COUNT(h.cand_id) AS n_hit,
                CAST(COUNT(h.cand_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
         FROM (SELECT query_id, cand_id FROM rx WHERE rank <= 3) x
         LEFT JOIN (SELECT query_id, cand_id FROM rh WHERE rank <= 3) h
           ON x.query_id = h.query_id AND x.cand_id = h.cand_id
         GROUP BY 1 ORDER BY x.query_id"""),

    // chunk→doc / class-centroid pooling: per-label element-wise mean
    // of the embedding column, decimal-exact in long format
    Face("q_sim_meanpool", (s, dir) => {
      Similarity.meanPoolEmbeddings(t(s, dir, "embeddings"),
          "label", "embedding", dim = 64)
        .orderBy("label", "i")
    },
      """WITH ser AS (SELECT unnest(generate_series(1, 64)) AS i),
              e AS (SELECT label, i,
                           CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(18,9)) AS x
                    FROM embeddings CROSS JOIN ser
                    WHERE i <= len(embedding) AND len(embedding) = 64
                      AND len(list_filter(embedding,
                            x -> x IS NULL OR NOT isfinite(CAST(x AS DOUBLE)))) = 0),
              g AS (SELECT label, i, COUNT(*) AS n,
                           SUM(CAST(x AS DECIMAL(38,18))) AS s
                    FROM e GROUP BY 1, 2)
         SELECT label, CAST(i - 1 AS INTEGER) AS i, n,
                CAST(CAST(s AS VARCHAR) AS DOUBLE) / n AS mean
         FROM g ORDER BY label, i"""),

    // incremental PCA maintenance: three batch partials folded by exact
    // decimal addition must hash-equal the one-shot covariance pass —
    // SAME oracle SQL as q_sim_covariance (the mergeability proof)
    Face("q_sim_covariance_incremental", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val parts = (0 to 2).map { b =>
        Similarity.covariancePartials(
          emb.filter(pmod(col("vec_id"), lit(3)) === b), "embedding", dim = 64)
      }
      Similarity.finalizeCovariance(parts.reduce(Similarity.mergeCovariance))
        .orderBy("i", "j")
    }, CovarianceOracle)
  )
}
