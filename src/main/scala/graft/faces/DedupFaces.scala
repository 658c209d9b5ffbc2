package graft
package faces

import org.apache.spark.sql.functions._

import graft.operators._

import Fixtures._

/** Near-duplicate detection and clustering: exact, n-gram Jaccard and
  * containment, SimHash, MinHash-LSH (one-shot, incremental, stored index,
  * streaming), exact-substring spans, embedding and semantic dedup,
  * connected-component clusters and the cluster-safe split.
  */
private[graft] object DedupFaces extends Family("dedup") {

  /** Shared by `q_dedup_clusters` (one-shot) and
    * `q_dedup_clusters_incremental` (labels-as-edges ∪ new pairs) — the
    * incremental fold must reach the exact same labels.
    */
  private lazy val ClustersOracle =
    s"""$SimhashCandCte,
            pairs AS (SELECT id_a, id_b FROM cand WHERE hamming(sim_a, sim_b) <= 8),
            nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
            edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach AS (SELECT id, id AS comp FROM nodes
                      UNION
                      SELECT e.dst AS id, r.comp
                      FROM reach r JOIN edges e ON e.src = r.id)
       SELECT id AS doc_id, MIN(comp) AS cluster_id
       FROM reach GROUP BY id ORDER BY doc_id"""

  /** Shared CTE chain for the MinHash-LSH oracles: shingles → doubled
    * md5 hashes → 16 windowed-min signatures → 4 band keys.
    */
  private val MinhashBkCte: String =
    """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
                       FROM documents),
              ser AS (SELECT unnest(generate_series(1, (SELECT COALESCE(MAX(len(t)), 1) FROM toks))) AS i),
              sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS s
                     FROM toks JOIN ser ON i <= len(t) - 4),
              hh AS (SELECT doc_id, md5(s) || md5(s) AS hv FROM sh),
              sig AS (SELECT doc_id,
                             MIN(substring(hv, 1, 16)) AS s0,
                             MIN(substring(hv, 3, 16)) AS s1,
                             MIN(substring(hv, 5, 16)) AS s2,
                             MIN(substring(hv, 7, 16)) AS s3,
                             MIN(substring(hv, 9, 16)) AS s4,
                             MIN(substring(hv, 11, 16)) AS s5,
                             MIN(substring(hv, 13, 16)) AS s6,
                             MIN(substring(hv, 15, 16)) AS s7,
                             MIN(substring(hv, 17, 16)) AS s8,
                             MIN(substring(hv, 19, 16)) AS s9,
                             MIN(substring(hv, 21, 16)) AS s10,
                             MIN(substring(hv, 23, 16)) AS s11,
                             MIN(substring(hv, 25, 16)) AS s12,
                             MIN(substring(hv, 27, 16)) AS s13,
                             MIN(substring(hv, 29, 16)) AS s14,
                             MIN(substring(hv, 31, 16)) AS s15
                      FROM hh GROUP BY doc_id),
              bk AS (SELECT doc_id, b,
                            CASE b WHEN 0 THEN md5(s0 || s1 || s2 || s3)
                                   WHEN 1 THEN md5(s4 || s5 || s6 || s7)
                                   WHEN 2 THEN md5(s8 || s9 || s10 || s11)
                                   ELSE md5(s12 || s13 || s14 || s15) END AS key
                     FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b))"""

  /** Incremental-dedup oracle, shared verbatim by the inline-index and
    * stored-index queries — both must produce the identical result.
    */
  private lazy val IncrementalDedupOracle: String =
    s"""$MinhashBkCte,
              candAll AS (SELECT DISTINCT a.doc_id AS x, c.doc_id AS y
                          FROM bk a JOIN bk c ON a.b = c.b AND a.key = c.key
                                             AND a.doc_id <> c.doc_id),
              orient AS (SELECT DISTINCT
                                CASE WHEN x % 5 = 0 AND y % 5 = 0
                                     THEN LEAST(x, y) ELSE x END AS id_fresh,
                                CASE WHEN x % 5 = 0 AND y % 5 = 0
                                     THEN GREATEST(x, y) ELSE y END AS id_other
                         FROM candAll WHERE x % 5 = 0),
              cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              shr AS (SELECT id_fresh, id_other, COUNT(*) AS shared
                      FROM orient
                      JOIN sh sa ON sa.doc_id = id_fresh
                      JOIN sh sb ON sb.doc_id = id_other AND sb.s = sa.s
                      GROUP BY 1, 2)
         SELECT id_fresh, id_other,
                CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) AS jaccard
         FROM shr JOIN cnt ca ON ca.doc_id = id_fresh JOIN cnt cb ON cb.doc_id = id_other
         WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.5
         ORDER BY id_fresh, id_other"""

  /** The simhash banding candidate CTE chain, optionally with the
    * hot-bucket df-cap mirrored (buckets with more than `cap` members
    * leave the universe before the self-join — the Spark side's
    * `maxBucketDf` guard, round-13).
    */
  private def simhashCandCte(cap: Option[Long]): String = {
    val base =
      """WITH RECURSIVE toks AS (SELECT doc_id,
                              unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
                       FROM documents),
              js AS (SELECT unnest(generate_series(0, 63)) AS j),
              bits AS (SELECT doc_id, j,
                              ((strpos('0123456789abcdef', substring(md5(tok), 1 + (j // 4), 1)) - 1)
                               >> (3 - (j % 4))) % 2 AS bit
                       FROM toks CROSS JOIN js),
              bal AS (SELECT doc_id, j, SUM(bit * 2 - 1) AS bal FROM bits GROUP BY 1, 2),
              sb AS (SELECT doc_id, j, CASE WHEN bal >= 0 THEN '1' ELSE '0' END AS b FROM bal),
              sim AS (SELECT doc_id, string_agg(b, '' ORDER BY j) AS simhash
                      FROM sb GROUP BY doc_id),
              ch AS (SELECT doc_id, simhash, c AS band,
                            substring(simhash, c * 16 + 1, 16) AS key
                     FROM sim CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c))"""
    val (capCtes, src) = cap match {
      case Some(c) => (
        s""",
              hot AS (SELECT band, key FROM ch GROUP BY band, key HAVING COUNT(*) > $c),
              chc AS (SELECT ch.doc_id, ch.simhash, ch.band, ch.key
                      FROM ch LEFT JOIN hot ON ch.band = hot.band AND ch.key = hot.key
                      WHERE hot.band IS NULL)""", "chc")
      case None => ("", "ch")
    }
    base + capCtes +
      s""",
              cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                              a.simhash AS sim_a, b.simhash AS sim_b
                       FROM $src a JOIN $src b ON a.band = b.band AND a.key = b.key
                                          AND a.doc_id < b.doc_id)"""
  }

  /** Shared candidate CTE for the simhash-pair oracles (RECURSIVE is
    * harmless when unused and required by the clusters oracle).
    */
  private val SimhashCandCte: String = simhashCandCte(None)

  val faces: Seq[Face] = Seq(

    // exact dedup: canonical doc per identical text
    Face("q_dedup_exact", (s, dir) => {
      Dedup.exactCanonical(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash")
    },
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS kept_id, COUNT(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY content_hash"""),

    // n-gram Jaccard near-dup pairs (5-gram word shingles, ≥0.8)
    Face("q_dedup_ngram_jaccard", (s, dir) => {
      Dedup.jaccardPairsFromText(t(s, dir, "documents"), "doc_id", "text",
          k = 5, threshold = 0.8)
        .orderBy("id_a", "id_b")
    },
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
                       FROM documents),
              ser AS (SELECT unnest(generate_series(1, (SELECT COALESCE(MAX(len(t)), 1) FROM toks))) AS i),
              sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS s
                     FROM toks JOIN ser ON i <= len(t) - 4),
              cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
                    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
         SELECT id_a, id_b, shared,
                CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) AS jaccard
         FROM p JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
         WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.8
         ORDER BY id_a, id_b"""),

    // hot-shingle df-cap: same Jaccard pair form, but shingles in more
    // than maxShingleDf docs leave the universe before the self-join —
    // the guard that keeps boilerplate from making the direct pair form
    // quadratic; scores are exact over the capped universe
    Face("q_dedup_jaccard_capped", (s, dir) => {
      Dedup.jaccardPairsFromText(t(s, dir, "documents"), "doc_id", "text",
          k = 5, threshold = 0.2, maxShingleDf = Some(2L))
        .orderBy("id_a", "id_b")
    },
      // capped universe: shingles with df > 2 are dropped BEFORE the pair
      // join, and per-doc counts are recomputed over the survivors — the
      // engine's maxShingleDf semantics, mirrored term for term
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
                       FROM documents),
              ser AS (SELECT unnest(generate_series(1, (SELECT COALESCE(MAX(len(t)), 1) FROM toks))) AS i),
              sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS s
                     FROM toks JOIN ser ON i <= len(t) - 4),
              hot AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) > 2),
              u AS (SELECT sh.doc_id, sh.s FROM sh ANTI JOIN hot USING (s)),
              cnt AS (SELECT doc_id, COUNT(*) AS n FROM u GROUP BY doc_id),
              p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
                    FROM u a JOIN u b ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
         SELECT id_a, id_b, shared,
                CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) AS jaccard
         FROM p JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
         WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.2
         ORDER BY id_a, id_b"""),

    // asymmetric containment pairs: |A∩B| / min(|A|,|B|) over 5-gram
    // shingles — catches a short doc quoted inside a long one, which
    // Jaccard's union-denominator structurally misses
    Face("q_dedup_containment", (s, dir) => {
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
          k = 5, threshold = 0.9)
        .orderBy("id_a", "id_b")
    },
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
                       FROM documents),
              ser AS (SELECT unnest(generate_series(1, (SELECT COALESCE(MAX(len(t)), 1) FROM toks))) AS i),
              sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS s
                     FROM toks JOIN ser ON i <= len(t) - 4),
              cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
                    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
         SELECT id_a, id_b, ca.n AS n_a, cb.n AS n_b, shared,
                CAST(shared AS DOUBLE) / CAST(least(ca.n, cb.n) AS DOUBLE) AS containment
         FROM p JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
         WHERE CAST(shared AS DOUBLE) / CAST(least(ca.n, cb.n) AS DOUBLE) >= 0.9
         ORDER BY id_a, id_b"""),

    // SimHash near-dup pairs: 16-bit chunk banding + Hamming ≤ 8 verify
    Face("q_dedup_simhash_pairs", (s, dir) => {
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 8)
        .orderBy("id_a", "id_b")
    },
      s"""$SimhashCandCte
         SELECT id_a, id_b, CAST(hamming(sim_a, sim_b) AS INTEGER) AS hamming
         FROM cand WHERE hamming(sim_a, sim_b) <= 8
         ORDER BY id_a, id_b"""),

    // hot-bucket df-cap on the simhash banding (round-13, from the sf10
    // gate's 169M-pair find): buckets with more than 12 members leave
    // the candidate universe before the self-join — the maxShingleDf
    // guard applied to simhash; pairs exact over the capped universe
    Face("q_dedup_simhash_capped", (s, dir) => {
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 8, maxBucketDf = Some(12L))
        .orderBy("id_a", "id_b")
    },
      s"""${simhashCandCte(Some(12L))}
         SELECT id_a, id_b, CAST(hamming(sim_a, sim_b) AS INTEGER) AS hamming
         FROM cand WHERE hamming(sim_a, sim_b) <= 8
         ORDER BY id_a, id_b"""),

    // MinHash (16 hashes) + LSH (4 bands) candidates, exact-Jaccard ≥0.5
    Face("q_dedup_minhash_lsh", (s, dir) => {
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
          k = 5, numHashes = 16, numBands = 4, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },
      s"""$MinhashBkCte,
              cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
                       FROM bk a JOIN bk c ON a.b = c.b AND a.key = c.key
                                          AND a.doc_id < c.doc_id),
              cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              shr AS (SELECT id_a, id_b, COUNT(*) AS shared
                      FROM cand
                      JOIN sh sa ON sa.doc_id = id_a
                      JOIN sh sb ON sb.doc_id = id_b AND sb.s = sa.s
                      GROUP BY 1, 2)
         SELECT id_a, id_b,
                CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) AS jaccard
         FROM shr JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
         WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.5
         ORDER BY id_a, id_b"""),

    // incremental ingestion dedup: fresh slice (doc_id % 5 == 0) checked
    // against the stored index of the rest + itself, via band-key probes
    Face("q_dedup_incremental", (s, dir) => {
      // ONE index pass over the corpus, split by the fresh flag — the
      // same cost shape as reading a stored index table twice
      val all = graft.operators.OpCache.persist(
        Dedup.minhashIndex(t(s, dir, "documents"), "doc_id", "text",
          k = 5, numHashes = 16, numBands = 4))
      Dedup.incrementalNearDups(
          all.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          all.filter(pmod(col("doc_id"), lit(5)) === 0),
          "doc_id", threshold = 0.5)
        .orderBy("id_fresh", "id_other")
    }, IncrementalDedupOracle),

    // end-to-end corpus dedup: LSH candidates → Jaccard ≥0.5 → connected
    // components → canonical survivor per cluster, with cluster sizes
    Face("q_dedup_corpus", (s, dir) => {
      Dedup.dedupCorpus(t(s, dir, "documents"), "doc_id", "text",
          k = 5, numHashes = 16, numBands = 4, threshold = 0.5)
        .orderBy("doc_id")
    },
      // WITH RECURSIVE prefix: harmless for the non-recursive shared CTEs,
      // required by the reachability CTE (same pattern as SimhashCandCte)
      s"""${MinhashBkCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
              candAll AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
                          FROM bk a JOIN bk c ON a.b = c.b AND a.key = c.key
                                             AND a.doc_id < c.doc_id),
              cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              shr AS (SELECT id_a, id_b, COUNT(*) AS shared
                      FROM candAll
                      JOIN sh sa ON sa.doc_id = id_a
                      JOIN sh sb ON sb.doc_id = id_b AND sb.s = sa.s
                      GROUP BY 1, 2),
              pairs AS (SELECT id_a, id_b
                        FROM shr JOIN cnt ca ON ca.doc_id = id_a
                                 JOIN cnt cb ON cb.doc_id = id_b
                        WHERE CAST(shared AS DOUBLE)
                              / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.5),
              nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
              edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                        UNION SELECT id_b, id_a FROM pairs),
              reach AS (SELECT id, id AS comp FROM nodes
                        UNION
                        SELECT e.dst AS id, r.comp
                        FROM reach r JOIN edges e ON e.src = r.id),
              lab AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
              canon AS (SELECT comp AS doc_id, COUNT(*) AS cluster_size
                        FROM lab GROUP BY comp),
              uniq AS (SELECT doc_id, CAST(1 AS BIGINT) AS cluster_size
                       FROM documents WHERE doc_id NOT IN (SELECT id FROM lab))
         SELECT doc_id, cluster_size
         FROM (SELECT * FROM canon UNION ALL SELECT * FROM uniq)
         ORDER BY doc_id"""),

    // quality-preferring corpus dedup: each near-dup cluster keeps its
    // LONGEST member (n_chars desc, id tie-break) — the CCNet/
    // RefinedWeb keep-best-rendition policy, vs dedupCorpus's min-id
    Face("q_dedup_corpus_best", (s, dir) => {
      Dedup.dedupCorpusBy(t(s, dir, "documents"), "doc_id", "text", "n_chars",
          k = 5, numHashes = 16, numBands = 4, threshold = 0.5)
        .orderBy("doc_id")
    },
      // same clustering as q_dedup_corpus; the survivor is the per-component
      // best by (n_chars DESC, id) instead of the min id
      s"""${MinhashBkCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
              candAll AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
                          FROM bk a JOIN bk c ON a.b = c.b AND a.key = c.key
                                             AND a.doc_id < c.doc_id),
              cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              shr AS (SELECT id_a, id_b, COUNT(*) AS shared
                      FROM candAll
                      JOIN sh sa ON sa.doc_id = id_a
                      JOIN sh sb ON sb.doc_id = id_b AND sb.s = sa.s
                      GROUP BY 1, 2),
              pairs AS (SELECT id_a, id_b
                        FROM shr JOIN cnt ca ON ca.doc_id = id_a
                                 JOIN cnt cb ON cb.doc_id = id_b
                        WHERE CAST(shared AS DOUBLE)
                              / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.5),
              nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
              edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                        UNION SELECT id_b, id_a FROM pairs),
              reach AS (SELECT id, id AS comp FROM nodes
                        UNION
                        SELECT g.dst AS id, r.comp
                        FROM reach r JOIN edges g ON g.src = r.id),
              lab AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
              sz AS (SELECT comp, COUNT(*) AS cluster_size FROM lab GROUP BY comp),
              best AS (SELECT id, comp
                       FROM (SELECT lab.id, lab.comp,
                                    ROW_NUMBER() OVER (PARTITION BY lab.comp
                                      ORDER BY d.n_chars DESC, lab.id) AS rn
                             FROM lab JOIN documents d ON d.doc_id = lab.id) t
                       WHERE rn = 1),
              canon AS (SELECT best.id AS doc_id, sz.cluster_size
                        FROM best JOIN sz ON sz.comp = best.comp),
              uniq AS (SELECT doc_id, CAST(1 AS BIGINT) AS cluster_size
                       FROM documents WHERE doc_id NOT IN (SELECT id FROM lab))
         SELECT doc_id, cluster_size
         FROM (SELECT * FROM canon UNION ALL SELECT * FROM uniq)
         ORDER BY doc_id"""),

    // most-duplicated passages: top-20 word 4-grams by total occurrence
    // count — the boilerplate diagnostic behind span dedup
    Face("q_dedup_top_grams", (s, dir) => {
      Dedup.topDuplicatedGrams(t(s, dir, "documents"), "doc_id", "text",
          k = 4, topN = 20)
        .orderBy(col("n_occurrences").desc, col("gram").asc)
    },
      """WITH docs AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
                       FROM documents),
              pos AS (SELECT doc_id, unnest(range(1, len(ts) - 2))::BIGINT AS p0, ts FROM docs),
              g AS (SELECT doc_id, array_to_string(ts[p0:p0+3], ' ') AS gram FROM pos)
         SELECT gram, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
         FROM g GROUP BY gram ORDER BY n_occurrences DESC, gram LIMIT 20"""),

    // exact-substring span dedup (Lee et al. 2022): maximal 1-based token
    // spans covered by any word 4-gram occurring >= 2 times corpus-wide
    // (counting repeats within a document)
    Face("q_dedup_spans", (s, dir) => {
      Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text", k = 4)
        .orderBy("doc_id", "span_start")
    },
      """WITH docs AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
                       FROM documents),
              pos AS (SELECT doc_id, unnest(range(1, len(ts) - 2))::BIGINT AS p0, ts FROM docs),
              g AS (SELECT doc_id, p0, array_to_string(ts[p0:p0+3], ' ') AS s FROM pos),
              dup AS (SELECT s FROM g GROUP BY s HAVING COUNT(*) >= 2),
              cov AS (SELECT DISTINCT g.doc_id, g.p0 + r.range AS p
                      FROM g JOIN dup USING (s) CROSS JOIN range(0, 4) r),
              runs AS (SELECT doc_id, p,
                              p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
                       FROM cov)
         SELECT doc_id, MIN(p) AS span_start, MAX(p) AS span_end, COUNT(*) AS span_len
         FROM runs GROUP BY doc_id, grp ORDER BY doc_id, span_start"""),

    // the matching removal: every document with its duplicated spans cut
    // out (kept tokens re-joined in order) and the removed-token count
    Face("q_dedup_span_removal", (s, dir) => {
      Dedup.removeDuplicateSpans(t(s, dir, "documents"), "doc_id", "text", k = 4)
        .orderBy("doc_id")
    },
      """WITH docs AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
                       FROM documents),
              pos AS (SELECT doc_id, unnest(range(1, len(ts) - 2))::BIGINT AS p0, ts FROM docs),
              g AS (SELECT doc_id, p0, array_to_string(ts[p0:p0+3], ' ') AS s FROM pos),
              dup AS (SELECT s FROM g GROUP BY s HAVING COUNT(*) >= 2),
              cov AS (SELECT DISTINCT g.doc_id, g.p0 + r.range AS p
                      FROM g JOIN dup USING (s) CROSS JOIN range(0, 4) r),
              toks AS (SELECT doc_id, unnest(ts) AS tok,
                              generate_subscripts(ts, 1)::BIGINT AS p FROM docs),
              kept AS (SELECT t.doc_id, t.tok, t.p
                       FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.p
                       WHERE c.p IS NULL),
              agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text
                      FROM kept GROUP BY doc_id),
              nr AS (SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(a.clean_text, '') AS clean_text,
                COALESCE(nr.n_removed, 0) AS n_removed
         FROM docs d LEFT JOIN agg a USING (doc_id) LEFT JOIN nr USING (doc_id)
         ORDER BY d.doc_id"""),

    // stored-index BUILD half of the incremental-dedup pair (see the
    // memo at the top of the object): hash the corpus slice (doc_id %
    // 5 != 0), write the (band,key)-bucketed + id-bucketed tables.
    // Rebuilds every call — this entry's bench time IS the build cost.
    // Result: per-band entry/distinct-key counts read back from the
    // stored table, so the oracle checks the written keys themselves.
    Face("q_dedup_index_build", (s, dir) => {
      buildDedupIndex(s, dir)
      s.table(DedupIdxBands)
        .groupBy(col("band").cast("long").as("band"))
        .agg(count(lit(1)).as("n_entries"), countDistinct(col("key")).as("n_keys"))
        .orderBy("band")
    },
      // the build half: the written band table must hold exactly the
      // corpus slice's band keys — per-band row and distinct-key counts
      // recomputed from text in SQL
      s"""$MinhashBkCte
         SELECT b AS band, COUNT(*) AS n_entries, COUNT(DISTINCT key) AS n_keys
         FROM bk WHERE doc_id % 5 <> 0
         GROUP BY b ORDER BY band"""),

    // stored-index PROBE half: the fresh batch (doc_id % 5 == 0) is
    // hashed and served against the bucketed tables — corpus text was
    // hashed once at build time, the probe join co-locates against the
    // bucketed scan (≤1 exchange, asserted by DedupSpec). The index is
    // built lazily once per session if the build entry hasn't run.
    Face("q_dedup_incremental_stored", (s, dir) => {
      ensureDedupIndex(s, dir)
      val fresh = Dedup.minhashIndex(
        t(s, dir, "documents").filter(pmod(col("doc_id"), lit(5)) === 0),
        "doc_id", "text", k = 5, numHashes = 16, numBands = 4)
      Dedup.incrementalNearDupsStored(s, DedupIdxBands, DedupIdxDocs,
          fresh, "doc_id", threshold = 0.5)
        .orderBy("id_fresh", "id_other")
    },
      // same contract as q_dedup_incremental: the stored-table round-trip
      // must be result-invisible — only the physical serving shape changes
      IncrementalDedupOracle),

    // embedding-cosine near-dup pairs: LSH-prefiltered exact cosine ≥ 0.3
    Face("q_dedup_embedding_cosine", (s, dir) => {
      Similarity.nearDupPairs(t(s, dir, "embeddings"),
          "vec_id", "embedding", nPlanes = 4, dim = 64, threshold = 0.3)
        .orderBy("id_a", "id_b")
    },
      """WITH ser AS (SELECT unnest(generate_series(1, 64)) AS i),
              pl AS (SELECT unnest(generate_series(0, 3)) AS p),
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
              cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket
                       FROM bucket a JOIN bucket b ON a.bucket = b.bucket
                                                  AND a.vec_id < b.vec_id),
              dots AS (SELECT id_a, id_b, bucket, SUM(qa.x * qb.x) AS dot
                       FROM cand
                       JOIN e qa ON qa.vec_id = id_a
                       JOIN e qb ON qb.vec_id = id_b AND qb.i = qa.i
                       GROUP BY 1, 2, 3),
              sc AS (SELECT id_a, id_b, bucket,
                            round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cos_sim
                     FROM dots
                     JOIN nrm na ON na.vec_id = id_a
                     JOIN nrm nb ON nb.vec_id = id_b)
         SELECT id_a, id_b, bucket, cos_sim
         FROM sc WHERE cos_sim >= 0.3 ORDER BY id_a, id_b"""),

    // SemDeDup semantic dedup (Abbas et al. 2023): 16 deterministic
    // cells, within-cell cosine ≥ 0.3 components, min-id survivor per
    // component with its cluster size. The generous maxCellSize keeps
    // the oversized-cell guard in the exercised plan (it never trips on
    // balanced cells — it exists to fail degenerate centroid sets loudly)
    Face("q_dedup_semantic", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semanticDedup(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 16), threshold = 0.3,
          maxCellSize = Some(1000000L))
        .orderBy("vec_id")
    },
      // semantic dedup: the cell assignment is the q_sim_ivf_topk asg CTE
      // verbatim (same rounded-cosine argmax, same tie-break), pairs are
      // within-cell exact cosine ≥ 0.3, components via the recursive
      // reachability of the dedup-corpus oracle, survivor = min id
      """WITH RECURSIVE ser AS (SELECT unnest(generate_series(1, 64)) AS i),
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
              cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                       FROM asg a JOIN asg b ON a.centroid_id = b.centroid_id
                                            AND a.vec_id < b.vec_id),
              dots AS (SELECT id_a, id_b, SUM(qa.x * qb.x) AS dot
                       FROM cand
                       JOIN e qa ON qa.vec_id = id_a
                       JOIN e qb ON qb.vec_id = id_b AND qb.i = qa.i
                       GROUP BY 1, 2),
              pairs AS (SELECT id_a, id_b
                        FROM dots
                        JOIN nrm na ON na.vec_id = id_a
                        JOIN nrm nb ON nb.vec_id = id_b
                        WHERE round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) >= 0.3),
              nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
              edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                        UNION SELECT id_b, id_a FROM pairs),
              reach AS (SELECT id, id AS comp FROM nodes
                        UNION
                        SELECT g.dst AS id, r.comp
                        FROM reach r JOIN edges g ON g.src = r.id),
              lab AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
              canon AS (SELECT comp AS vec_id, COUNT(*) AS cluster_size
                        FROM lab GROUP BY comp),
              uniq AS (SELECT vec_id, CAST(1 AS BIGINT) AS cluster_size
                       FROM embeddings WHERE vec_id NOT IN (SELECT id FROM lab))
         SELECT u.vec_id, asg.centroid_id, cluster_size
         FROM (SELECT * FROM canon UNION ALL SELECT * FROM uniq) u
         JOIN asg ON asg.vec_id = u.vec_id
         ORDER BY u.vec_id"""),

    // streaming LSH near-dup candidates vs the batch band-bucket join:
    // the drained per-band stateful emissions, de-banded and distinct'd,
    // must equal the batch candidate pair set exactly. maxBucket sits
    // far above any bucket at these scales so the cap (its spec's job)
    // never truncates the agreement surface — cap/TTL off IS the
    // bounded-drain configuration, matching the batch dual.
    Face("q_stream_neardup", (s, dir) => {
      val batch = t(s, dir, "documents")
      // FEED cached per sf dir as 8 files (guide §2/§6 — scan
      // parallelism): documents.parquet is ONE file ≈ one scan task, so
      // the banding (the drain's dominant map-side work, measured ~3 s
      // of the 4.2 s at sf0.1) ran single-threaded. All 8 files land in
      // the SAME AvailableNow micro-batch (no maxFilesPerTrigger), so
      // bucket state sees the identical arrival set and the emitted
      // candidate-pair SET is unchanged — pair emission within one batch
      // is arrival-order-invariant below the (1<<20) cap, and the query
      // takes distinct() anyway. Same 8-files-per-slice discipline as
      // the quantile-sketch/incremental-agg feeds.
      val streamDir = cachedFeed(s,
          s"graft_feed_neardup8_${dir.replaceAll("[^A-Za-z0-9]", "_")}",
          srcToken(s, dir, "documents")) { fd =>
        batch.repartition(8).write.parquet(fd)
      }
      graft.streaming.StreamDrain.drain(s, streamDir,
          batch.schema, "stream_neardup", "append") { src =>
        graft.streaming.StreamingNearDup.candidatePairs(s,
          graft.streaming.StreamingNearDup.banded(src, "doc_id", "text",
            k = 5, numHashes = 16, numBands = 4),
          maxBucket = 1 << 20).toDF()
      }.filter(!col("truncated"))
        .select("id_a", "id_b").distinct()
        .orderBy("id_a", "id_b")
    },
      // streaming LSH candidates = the batch band-bucket equi-join's
      // distinct pair set (min, max orientation)
      s"""$MinhashBkCte
         SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
         FROM bk a JOIN bk c ON a.b = c.b AND a.key = c.key
                            AND a.doc_id < c.doc_id
         ORDER BY id_a, id_b"""),

    // ST6 at the oracle tier for the near-dup path itself (round-7
    // verdict #7): candidatePairsExpiring's EVENT-TIME eviction, driven
    // through a 3-micro-batch drain. Docs get a synthetic event time
    // (doc_id minutes) and arrive as doc_id terciles via
    // maxFilesPerTrigger=1 over three mod-time-ordered files. The
    // OBSERVABLE eviction contract under Spark's timeout mechanics
    // (timeouts fire only for buckets with NO data in the batch): a
    // batch1→batch3 candidate pair is suppressed iff its bucket has no
    // batch-2 member AND the bucket's last batch-1 arrival lies more
    // than ttl before batch 1's watermark (max event time, 0s delay) —
    // every other pair is identical to the non-TTL dual. The +30 s ttl
    // offset keeps every bucket a half-minute clear of the eviction
    // boundary, so >-vs-≥ timeout strictness can't flip a row (same
    // margin discipline as the interval-join oracle). At sf0.01 this
    // suppresses 6 of 25 pairs and keeps surviving idle buckets — both
    // behaviors exercised, and the oracle re-derives the suppressed set
    // relationally in doc_id units.
    Face("q_stream_neardup_ttl", (s, dir) => {
      // ts = (doc_id + 1) minutes, NOT doc_id minutes: doc 0 at epoch 0
      // collides with the INITIAL watermark (0 ms) and Spark's stateful
      // late-row filter silently drops it in batch 1, losing its pairs
      // (surfaced at sf0.001, where doc 0 shares a batch-1 bucket; the
      // sf0.01 gate was blind luck). The uniform +1-minute shift cancels
      // in the oracle's suppression inequality (m1*60+ttl < w*60 shifts
      // both sides by 60), so the oracle SQL is unchanged.
      val batch = t(s, dir, "documents")
        .withColumn("ts",
          timestamp_micros((col("doc_id") + lit(1L)) * lit(60000000L)))
      val mx = batch.agg(max("doc_id")).head().getLong(0) // O(1) scalar
      val d1 = mx / 3
      val d2 = (2 * mx) / 3
      val ttlSecs = (d1 * 4 / 10) * 60 + 30
      // FEED cached per sf dir (deterministic tercile split of the
      // documents table); the mx scalar above stays per-run because the
      // OPERATOR's ttl derives from it. The drain — banding + stateful
      // TTL eviction, the semantics under test — runs from scratch every
      // time (guide §1.4, the q_stream_quantile_sketch pattern).
      // 8 files per tercile + maxFilesPerTrigger=8 (guide §2, scan
      // parallelism — the one-file-per-batch layout ran the banding
      // single-threaded): each tercile is pmod-split into EXACTLY 8
      // files (an empty pmod slice still writes its schema-only file, so
      // batch boundaries never drift) sharing that tercile's mod time,
      // so micro-batch composition — and therefore watermark advance and
      // eviction — is byte-identical to the one-file-per-batch layout,
      // and within a batch the pair set is arrival-order-invariant
      // below the (1<<20) cap. Oracle unchanged.
      val streamDir = cachedFeed(s,
          s"graft_feed_neardup_ttl8_${dir.replaceAll("[^A-Za-z0-9]", "_")}",
          srcToken(s, dir, "documents")) { fd =>
        val slices = Seq(
          ("b1", batch.filter(col("doc_id") <= d1), 1000000L),
          ("b2", batch.filter(col("doc_id") > d1 && col("doc_id") <= d2), 2000000L),
          ("b3", batch.filter(col("doc_id") > d2), 3000000L))
        for ((name, slice, modMs) <- slices; j <- 0 until 8)
          emitFeedFile(slice.filter(pmod(col("doc_id"), lit(8)) === j),
            fd, s"${name}_$j", modMs)
      }
      graft.streaming.StreamDrain.drain(s, streamDir,
          batch.schema, "stream_neardup_ttl", "append",
          sourceOptions = Map("maxFilesPerTrigger" -> "8")) { src =>
        graft.streaming.StreamingNearDup.candidatePairsExpiring(s,
          graft.streaming.StreamingNearDup.banded(src, "doc_id", "text",
            k = 5, numHashes = 16, numBands = 4, carryCols = Seq("ts"))
            .withWatermark("ts", "0 seconds"),
          ttl = java.time.Duration.ofSeconds(ttlSecs),
          maxBucket = 1 << 20).toDF()
      }.filter(!col("truncated"))
        .select("id_a", "id_b").distinct()
        .orderBy("id_a", "id_b")
    },
      // the non-TTL pair set MINUS batch1→batch3 pairs whose bucket went
      // idle past the ttl (no batch-2 member, last batch-1 arrival more
      // than ttl_sec before batch 1's max event time) — the query-side
      // comment derives why this is exactly the eviction-visible set.
      // Constants mirror the Spark side in doc_id units: terciles of
      // MAX(doc_id), ts = doc_id minutes, ttl = (d1*4/10)*60+30 seconds.
      s"""$MinhashBkCte,
              lim AS (SELECT MAX(doc_id) // 3 AS d1,
                             (2 * MAX(doc_id)) // 3 AS d2,
                             ((MAX(doc_id) // 3) * 4 // 10) * 60 + 30 AS ttl_sec
                      FROM documents),
              mem AS (SELECT doc_id, b, key,
                             CASE WHEN doc_id <= (SELECT d1 FROM lim) THEN 1
                                  WHEN doc_id <= (SELECT d2 FROM lim) THEN 2
                                  ELSE 3 END AS bat
                      FROM bk),
              bu AS (SELECT b, key,
                            MAX(CASE WHEN bat = 1 THEN doc_id END) AS m1,
                            SUM(CASE WHEN bat = 2 THEN 1 ELSE 0 END) AS n2
                     FROM mem GROUP BY b, key),
              w1 AS (SELECT MAX(doc_id) AS w FROM mem WHERE bat = 1)
         SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
         FROM mem a JOIN mem c ON a.b = c.b AND a.key = c.key
                              AND a.doc_id < c.doc_id
         JOIN bu ON bu.b = a.b AND bu.key = a.key
         WHERE NOT (a.bat = 1 AND c.bat = 3 AND bu.n2 = 0
                    AND bu.m1 * 60 + (SELECT ttl_sec FROM lim)
                        < (SELECT w FROM w1) * 60)
         ORDER BY id_a, id_b"""),

    // dedup clustering: near-dup pairs → connected components → canonical
    // cluster id (min doc id) per document
    Face("q_dedup_clusters", (s, dir) => {
      val pairs = Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 8)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
        .orderBy("doc_id")
    }, ClustersOracle),

    // incremental dedup clustering: old labels + the pairs touching the
    // newly ingested half must fold to the SAME labels as a full
    // recompute (same oracle SQL as q_dedup_clusters)
    Face("q_dedup_clusters_incremental", (s, dir) => {
      // Two pair derivations on purpose: a one-pass persist-and-filter
      // variant (pairs(A) = persisted pairs(corpus) ∩ A×A, valid by
      // pairwise-locality) measured SLOWER at sf0.1 (7.0 s vs 6.0 s) —
      // the half-corpus signature pass is cheaper than materializing
      // the full pair set, and the CC rounds dominate either way. A
      // deployment doesn't face the choice: the old era's pairs are
      // never re-derived at all, only its label table is read.
      val docs = t(s, dir, "documents")
      val oldPairs = Dedup.simhashPairs(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text",
        maxHamming = 8)
      val labels = Dedup.connectedComponents(oldPairs, "id_a", "id_b")
      val newPairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8)
        .filter(pmod(col("id_a"), lit(2)) === 1 || pmod(col("id_b"), lit(2)) === 1)
      Dedup.incrementalClusters(labels, newPairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
        .orderBy("doc_id")
    },
      // incremental maintenance must converge to the SAME labels as the
      // full recompute — one oracle text serves both
      ClustersOracle),

    // leakage-SAFE split: the fix for what q_split_leakage measures —
    // the split key is the near-dup cluster representative (coalesced to
    // the doc itself for unclustered docs), so near-duplicates land in
    // the same split by construction
    Face("q_split_by_cluster", (s, dir) => {
      Dedup.splitByCluster(t(s, dir, "documents"), "doc_id", "text",
          valRate = 0.1, testRate = 0.1,
          k = 5, numHashes = 16, numBands = 4, threshold = 0.5)
        .select("doc_id", "lang", "cluster_key", "split")
        .orderBy("doc_id")
    },
      // leakage-safe split: q_dedup_corpus's component labels give the
      // cluster representative, coalesced to the doc itself; then the
      // q_split_train_test md5 rule runs on that cluster_key
      s"""${MinhashBkCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
              candAll AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
                          FROM bk a JOIN bk c ON a.b = c.b AND a.key = c.key
                                             AND a.doc_id < c.doc_id),
              cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              shr AS (SELECT id_a, id_b, COUNT(*) AS shared
                      FROM candAll
                      JOIN sh sa ON sa.doc_id = id_a
                      JOIN sh sb ON sb.doc_id = id_b AND sb.s = sa.s
                      GROUP BY 1, 2),
              pairs AS (SELECT id_a, id_b
                        FROM shr JOIN cnt ca ON ca.doc_id = id_a
                                 JOIN cnt cb ON cb.doc_id = id_b
                        WHERE CAST(shared AS DOUBLE)
                              / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.5),
              nodes AS (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs),
              edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                        UNION SELECT id_b, id_a FROM pairs),
              reach AS (SELECT id, id AS comp FROM nodes
                        UNION
                        SELECT e.dst AS id, r.comp
                        FROM reach r JOIN edges e ON e.src = r.id),
              lab AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id),
              ck AS (SELECT d.doc_id, d.lang,
                            COALESCE(l.comp, d.doc_id) AS cluster_key
                     FROM documents d LEFT JOIN lab l ON l.id = d.doc_id),
              u AS (SELECT doc_id, lang, cluster_key,
                CAST(CAST('0x' || substring(md5(CAST(cluster_key AS VARCHAR)), 1, 13) AS BIGINT) AS DOUBLE)
                  / 4503599627370496.0 AS u
              FROM ck)
         SELECT doc_id, lang, cluster_key,
                CASE WHEN u < 0.1 THEN 'test' WHEN u < 0.2 THEN 'val'
                     ELSE 'train' END AS split
         FROM u ORDER BY doc_id""")
  )
}
