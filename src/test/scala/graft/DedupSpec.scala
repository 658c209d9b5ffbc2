package graft

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.operators.Dedup
import org.apache.spark.graftspec.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, explode, lit}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val near1 = "the quick brown fox jumps over the lazy dog near the old river bank today"
  private val near2 = "the quick brown fox jumps over the lazy dog near the old river bank tonight"
  private val other = "completely different content with no overlap at all in any shingle window here"

  test("exactCanonical groups identical texts and keeps min id") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "unique")).toDF("doc_id", "text")
    val out = Dedup.exactCanonical(df, "doc_id", "text")
      .orderBy("kept_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("wordShingles produces distinct k-grams; short docs drop out") {
    val df = Seq((1L, "a b c d e f"), (2L, "too short")).toDF("doc_id", "text")
    val sh = Dedup.wordShingles(df, "doc_id", "text", 5).collect()
    assert(sh.map(_.getLong(0)).forall(_ == 1L))
    assert(sh.map(_.getString(1)).sorted.toSeq == Seq("a b c d e", "b c d e f"))
  }

  test("jaccardPairs finds near-duplicates above threshold only") {
    val df = Seq((1L, near1), (2L, near2), (3L, other)).toDF("doc_id", "text")
    val sh = Dedup.wordShingles(df, "doc_id", "text", 5)
    val pairs = Dedup.jaccardPairs(sh, "doc_id", 0.5).collect()
    assert(pairs.length == 1)
    assert((pairs.head.getLong(0), pairs.head.getLong(1)) == (1L, 2L))
    assert(pairs.head.getDouble(3) > 0.5 && pairs.head.getDouble(3) < 1.0)
  }

  test("containmentPairs flags a short doc quoted inside a long one that Jaccard misses") {
    // doc 2 = doc 1's text embedded in much longer surrounding prose:
    // every 5-gram of doc 1 appears in doc 2 → containment 1.0, while
    // Jaccard is diluted by doc 2's extra shingles
    val long = "opening words before the quote begin here " + near1 +
      " and then a very long tail of additional commentary keeps going " +
      "with many more unrelated tokens stretching the document further and further"
    val df = Seq((1L, near1), (2L, long), (3L, other)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(df, "doc_id", "text", k = 5, threshold = 0.9)
      .collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(cont.head.getAs[Double]("containment") == 1.0)
    // the same pair is BELOW a 0.9 Jaccard bar — containment is the
    // signal that catches it
    val jac = Dedup.jaccardPairsFromText(df, "doc_id", "text", k = 5, threshold = 0.9)
    assert(jac.count() == 0)
  }

  test("maxShingleDf drops a planted hot shingle: pair count bounded, cold scores untouched") {
    // 12 boilerplate docs share ONE hot 5-gram run (a license header) but
    // are otherwise pairwise-disjoint — the quadratic blowup shape: the
    // hot shingles alone produce all C(12,2)=66 pairs uncapped
    val boiler = "licensed under the creative commons attribution license"
    val docs = (1L to 12L).map(i =>
      (i, s"$boiler unique${i}a unique${i}b unique${i}c unique${i}d unique${i}e")) ++
      Seq((21L, near1), (22L, near2)) // a genuine near-dup pair, df=2 shingles
    val df = docs.toDF("doc_id", "text")
    val uncapped = Dedup.jaccardPairsFromText(df, "doc_id", "text", k = 5, threshold = 0.01)
      .collect()
    assert(uncapped.count(r => r.getLong(0) <= 12L) == 66)
    // cap at df 5: the hot shingles (df=12) leave the universe; the 66
    // boilerplate pairs vanish while the near-dup pair survives with its
    // score EXACTLY as uncapped (its shingles' df=2 is under the cap and
    // its docs carry no hot shingle, so n_a/n_b are unchanged)
    val capped = Dedup.jaccardPairsFromText(df, "doc_id", "text", k = 5,
      threshold = 0.01, maxShingleDf = Some(5L)).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((21L, 22L)))
    val uncappedNearDup = uncapped.find(_.getLong(0) == 21L).get
    assert(capped.head.getAs[Double]("jaccard") == uncappedNearDup.getAs[Double]("jaccard"))
    // same cap on the containment form; a doc whose EVERY shingle is hot
    // (pure boilerplate) simply drops out of the capped universe
    val pure = df.union(Seq((30L, boiler)).toDF("doc_id", "text"))
    val cont = Dedup.containmentPairs(pure, "doc_id", "text", k = 5,
      threshold = 0.5, maxShingleDf = Some(5L)).collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((21L, 22L)))
    // the composable string-shingle form takes the same cap
    val viaShingles = Dedup.jaccardPairs(
        Dedup.wordShingles(df, "doc_id", "text", 5), "doc_id",
        threshold = 0.01, maxShingleDf = Some(5L)).collect()
    assert(viaShingles.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((21L, 22L)))
    assert(viaShingles.head.getAs[Double]("jaccard")
      == uncappedNearDup.getAs[Double]("jaccard"))
  }

  test("minhashLshPairs recovers the same near-dup pair via banding") {
    val df = Seq((1L, near1), (2L, near2), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text",
      k = 5, numHashes = 16, numBands = 4, threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("identical docs always share all LSH bands") {
    val df = Seq((1L, near1), (2L, near1)).toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(df, "doc_id", "text", 5, 16, 4)
    val byDoc = idx.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("bands"))
          .map(b => (b.getAs[Int]("band"), b.getAs[String]("key"))).sorted)
      .toMap
    assert(byDoc.keySet == Set(1L, 2L))
    assert(byDoc(1L).map(_._1) == Seq(0, 1, 2, 3))
    assert(byDoc(1L) == byDoc(2L))
    // window i+16 of the doubled md5 digest repeats window i
    intercept[IllegalArgumentException](Dedup.minhashIndex(df, "doc_id", "text", 5, 32, 4))
  }

  test("connectedComponents groups chained pairs into one cluster (min-id canonical)") {
    import spark.implicits._
    // chain 1-2-3 (1~2, 2~3 but not 1~3), separate pair 10-11, singleton edge 20-21
    val pairs = Seq((1L,2L),(2L,3L),(10L,11L),(20L,21L)).toDF("id_a","id_b")
    val comp = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp(20L) == 20L && comp(21L) == 20L)
    graft.operators.OpCache.clear()
  }

  test("connectedComponents labels self-pair-only nodes as singletons, once") {
    import spark.implicits._
    // 5 appears ONLY as (5,5): must come back as (5,5), not vanish
    // (round-5 advice); 2 has a self-pair AND a real edge: the component
    // label must win and the node must appear exactly once
    val pairs = Seq((5L, 5L), (1L, 2L), (2L, 2L)).toDF("id_a", "id_b")
    val rows = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length == rows.map(_._1).distinct.length, s"duplicate ids in $rows")
    val comp = rows.toMap
    assert(comp == Map(5L -> 5L, 1L -> 1L, 2L -> 1L), s"got $comp")
    graft.operators.OpCache.clear()
  }

  test("connectedComponents passes an already-converged star forest through unchanged") {
    import spark.implicits._
    // a converged star forest is a FIXPOINT of both stars — pin that
    // claim directly: a converged input (two stars rooted at their
    // component minima) must come back with identical labels even though
    // the loop always runs one round over it before its first probe.
    val star = Seq((5L, 0L), (3L, 0L), (7L, 0L), (12L, 10L)).toDF("id_a", "id_b")
    val labels = graft.operators.Dedup.connectedComponents(star, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(0L -> 0L, 3L -> 0L, 5L -> 0L, 7L -> 0L,
      10L -> 10L, 12L -> 10L), s"got $labels")
    graft.operators.OpCache.clear()
  }

  test("connectedComponents converges in O(log^2) rounds on a 100-node path, not in diameter rounds") {
    import spark.implicits._
    // a 100-node path (diameter 99): label propagation would need ~50
    // double-hop rounds; star contraction must stay logarithmic. The
    // balanced comparison shape is a complete binary tree over the same
    // 100 nodes (diameter ~12) — the verdict's bound: path rounds ≤ 2×
    // balanced rounds.
    val path = (0L until 99L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (pl, pathRounds) = graft.operators.Dedup
      .connectedComponentsWithRounds(path, "id_a", "id_b")
    val pathComp = pl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pathComp.size == 100 && pathComp.values.forall(_ == 0L),
      s"path must collapse to one min-id component, got ${pathComp.values.toSet}")
    // balanced tree with ARBITRARY labels (heap indexing would hand the
    // min-orientation a head start): a fixed modular bijection scrambles
    // node ids while keeping the structure balanced
    def p(i: Long): Long = (37L * i + 11L) % 100L
    val tree = (1L until 100L).map(i => (p(i), p((i - 1) / 2))).toDF("id_a", "id_b")
    val (tl, treeRounds) = graft.operators.Dedup
      .connectedComponentsWithRounds(tree, "id_a", "id_b")
    assert(tl.collect().map(_.getLong(1)).toSet.size == 1,
      "scrambled tree must still collapse to one component")
    assert(pathRounds <= 2 * treeRounds,
      s"path took $pathRounds rounds vs balanced $treeRounds — diameter-bound, not log-bound")
    graft.operators.OpCache.clear()
  }

  test("connectedComponents' cost as counts: exact star rounds and Spark jobs on the path and the tree") {
    // one large-star + small-star round per checkpoint and per probe, so
    // the round count is exact and the job count follows from it: each
    // round is a checkpoint plus one probe, and their AQE query stages
    // are jobs of their own. The same 100-node path and scrambled tree
    // as the O(log^2) test, on a fresh session so that settings other
    // specs leave on the shared one cannot move a count.
    val s = spark.newSession()
    import s.implicits._
    val path = (0L until 99L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def p(i: Long): Long = (37L * i + 11L) % 100L
    val tree = (1L until 100L).map(i => (p(i), p((i - 1) / 2))).toDF("id_a", "id_b")
    val started = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id", "")).getOrElse(""))
    }
    val sc = s.sparkContext
    sc.addSparkListener(listener)
    def cost(pairs: DataFrame): (Int, Long, Int) = {
      val group = s"cc-jobs-${UUID.randomUUID()}"
      sc.setJobGroup(group, "connected components job count", interruptOnCancel = false)
      try {
        val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs, "id_a", "id_b")
        val n = labels.count()
        BusDrain.drain(sc)
        (rounds, n, started.asScala.count(_ == group))
      } finally sc.clearJobGroup()
    }
    try {
      val (pathRounds, pathN, pathJobs) = cost(path)
      val (treeRounds, treeN, treeJobs) = cost(tree)
      assert(pathN == 100 && treeN == 100)
      assert(pathRounds == 7 && treeRounds == 5,
        s"star rounds: path $pathRounds (pinned 7), tree $treeRounds (pinned 5)")
      assert(pathJobs == 72 && treeJobs == 52,
        s"jobs: path $pathJobs (pinned 72), tree $treeJobs (pinned 52)")
    } finally sc.removeSparkListener(listener)
    graft.operators.OpCache.clear()
  }

  test("incrementalNearDups finds fresh-vs-index and fresh-vs-fresh pairs, once each") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq((1L, base), (2L, "totally different words here for doc two ok fine"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (10L, base + " lambda"),                       // near-dup of indexed 1
      (11L, "brand new content first variant shared tail words common suffix"),
      (12L, "brand new content second variant shared tail words common suffix"),
      (13L, "nothing like anything else at all in this batch truly"))
      .toDF("doc_id", "text")
    val idx = graft.operators.Dedup.minhashIndex(corpus, "doc_id", "text",
      k = 3, numHashes = 16, numBands = 8)
    val fidx = graft.operators.Dedup.minhashIndex(fresh, "doc_id", "text",
      k = 3, numHashes = 16, numBands = 8)
    val pairs = graft.operators.Dedup.incrementalNearDups(idx, fidx, "doc_id", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 1L)), s"fresh-vs-index missing: $pairs")
    assert(pairs.contains((11L, 12L)) && !pairs.contains((12L, 11L)),
      s"fresh-fresh must appear once, smaller id first: $pairs")
    assert(!pairs.exists(p => p._1 == 13L || p._2 == 13L))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
    graft.operators.OpCache.clear()
  }

  test("stored bucketed index round-trip matches the inline incremental result") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq((1L, base), (2L, "totally different words here for doc two ok fine"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (10L, base + " lambda"),
      (11L, "brand new content first variant shared tail words common suffix"),
      (12L, "brand new content second variant shared tail words common suffix"))
      .toDF("doc_id", "text")
    val idx = graft.operators.Dedup.minhashIndex(corpus, "doc_id", "text",
      k = 3, numHashes = 16, numBands = 8)
    val fidx = graft.operators.Dedup.minhashIndex(fresh, "doc_id", "text",
      k = 3, numHashes = 16, numBands = 8)
    try {
      graft.operators.Dedup.writeIndexTables(idx, "doc_id",
        "test_idx_bands", "test_idx_docs", nBuckets = 2)
      val stored = graft.operators.Dedup.incrementalNearDupsStored(spark,
          "test_idx_bands", "test_idx_docs", fidx, "doc_id", 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val inline = graft.operators.Dedup.incrementalNearDups(idx, fidx, "doc_id", 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(stored == inline, s"stored=$stored inline=$inline")
      assert(stored.exists(p => p._1 == 10L && p._2 == 1L))
      // the probe join must use the band table's bucketing: no exchange on
      // the stored (corpus-sized) scan side
      val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val fk = fidx.select(col("doc_id"), explode(col("bands")).as("bk"))
          .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
        val probe = fk.join(spark.table("test_idx_bands"), Seq("band", "key"))
        val plan = probe.queryExecution.executedPlan.toString
        // exactly one hash exchange (the small fresh side); the bucketed
        // side reads straight from its buckets
        val nExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
        assert(nExchanges <= 1, s"stored side shuffled:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    } finally {
      spark.sql("DROP TABLE IF EXISTS test_idx_bands")
      spark.sql("DROP TABLE IF EXISTS test_idx_docs")
      graft.operators.OpCache.clear()
    }
  }

  test("dedupCorpus keeps one canonical per near-dup cluster and all uniques") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base + " lambda"), (3L, base + " mu"), // one cluster
      (7L, "totally different words in this one here now ok fine yes"),
      (9L, "another unrelated document with its own words entirely here"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.dedupCorpus(docs, "doc_id", "text",
        k = 3, numHashes = 16, numBands = 8, threshold = 0.3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cluster {1,2,3} → canonical 1 with size 3; 7 and 9 survive alone
    assert(out == Map(1L -> 3L, 7L -> 1L, 9L -> 1L), s"got $out")
    graft.operators.OpCache.clear()
  }

  test("contaminationReport counts shared shingles against the probe set only") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // shares 5-grams with probe
      (2L, "completely different words in this one here")).toDF("doc_id", "text")
    val probe = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.contaminationReport(corpus, probe, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L)) // exactly "the quick brown fox jumps"
  }

  test("sessionize splits on gaps strictly greater than the threshold") {
    import spark.implicits._
    val ev = Seq((1L, 0L, 1L), (1L, 100L, 2L), (1L, 101L, 3L), (1L, 250L, 4L),
                 (2L, 0L, 5L)).toDF("user_id", "t", "eid")
    val out = graft.operators.Analytics.sessionize(ev, Seq("user_id"), "t", Seq("eid"), gap = 100L)
      .select("user_id", "eid", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((1L,1L)) == 1 && out((1L,2L)) == 1) // gap == 100 does NOT split
    assert(out((1L,3L)) == 1)
    assert(out((1L,4L)) == 2) // gap 149 > 100 splits
    assert(out((2L,5L)) == 1)
  }

  test("positional shingle hashes keep every occurrence, index = start position") {
    import org.apache.spark.sql.functions.{expr, xxhash64, lit}
    val df = Seq((1L, Seq("a", "b", "a", "b"))).toDF("doc_id", "toks")
    val hs = df.select(graft.functions.ShingleHash64.positional(
        spark, col("toks"), 2).as("hs"))
      .collect().head.getSeq[Long](0)
    assert(hs.length == 3)          // "a b", "b a", "a b" — no dedup
    assert(hs(0) == hs(2) && hs(0) != hs(1))
    val direct = df.select(xxhash64(lit("a b")), xxhash64(lit("b a")))
      .collect().head
    assert(hs(0) == direct.getLong(0) && hs(1) == direct.getLong(1))
    // distinct variant on the same input keeps first occurrences only
    val dist = df.select(graft.functions.ShingleHash64(
        spark, col("toks"), 2).as("hs")).collect().head.getSeq[Long](0)
    assert(dist == Seq(hs(0), hs(1)))
  }

  private val spanDocs = Seq(
    (1L, "a b c d e f g h"),            // shares "a b c","b c d" with doc 2
    (2L, "x x a b c d y z"),
    (3L, "p q r s t u v w"),            // fully unique
    (4L, "m n o m n o m n o"))          // self-repeating: fully covered

  test("duplicateSpans merges overlapping duplicated k-grams into maximal spans") {
    val out = Dedup.duplicateSpans(spanDocs.toDF("doc_id", "text"),
        "doc_id", "text", k = 3)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq((1L, 1L, 4L, 4L), (2L, 3L, 6L, 4L), (4L, 1L, 9L, 9L)))
  }

  test("topDuplicatedGrams counts occurrences and docs, ties broken by gram") {
    val df = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "b c d")).toDF("doc_id", "text")
    val out = Dedup.topDuplicatedGrams(df, "doc_id", "text", k = 2, topN = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // "a b": doc1 twice + doc2 once = 3 occurrences / 2 docs; then "b c" ×2/2
    assert(out == Seq(("a b", 3L, 2L), ("b c", 2L, 2L), ("b a", 1L, 1L)))
  }

  test("noveltyScore: duplicated docs score 0, fresh 1, mixed by gram fraction") {
    val docs = Seq(
      (1L, "x y z w q"),          // identical to doc 2 → every gram shared
      (2L, "x y z w q"),
      (3L, "fresh words only here now"), // all grams unique → 1.0
      (4L, "x y z w end"))        // "x y z w" shared, "y z w end" unique → 0.5
      .toDF("doc_id", "text")
    val got = Dedup.noveltyScore(docs, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      (1L, 2L, 0L, 0.0), (2L, 2L, 0L, 0.0),
      (3L, 2L, 2L, 1.0), (4L, 2L, 1L, 0.5)))
  }

  test("removeDuplicateSpans cuts covered tokens, keeps unique docs verbatim") {
    val out = Dedup.removeDuplicateSpans(spanDocs.toDF("doc_id", "text"),
        "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq(
      (1L, "e f g h", 4L),
      (2L, "x x y z", 4L),
      (3L, "p q r s t u v w", 0L),
      (4L, "", 9L)))                    // fully duplicated → empty, gate downstream
  }

  test("dedupCorpusBy keeps the best-quality member per cluster, not the min id") {
    import spark.implicits._
    // docs 1/2 are exact text duplicates but doc 2 has the higher quality
    // score (pre-cleaning n_chars): dedupCorpus would keep min-id 1,
    // dedupCorpusBy must keep 2; unrelated doc 3 survives alone
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", 10L),
      (2L, "alpha beta gamma delta epsilon zeta", 99L),
      (3L, "one two three four five six seven eight", 5L))
      .toDF("doc_id", "text", "n_chars")
    val best = Dedup.dedupCorpusBy(docs, "doc_id", "text", "n_chars",
        k = 5, numHashes = 16, numBands = 4, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(best == Map(2L -> 2L, 3L -> 1L))
    graft.operators.OpCache.clear()
    val minId = Dedup.dedupCorpus(docs, "doc_id", "text",
        k = 5, numHashes = 16, numBands = 4, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(minId == Map(1L -> 2L, 3L -> 1L))
    graft.operators.OpCache.clear()
  }

  test("exact-text collapse == uncollapsed pairs->CC on random duplicate-" +
      "heavy corpora (round-9 quadratic fix: identical texts are Jaccard 1 " +
      "by construction, so connectivity cannot change)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Seq("a", "b", "c", "d", "e", "f", "g", "h")
    def text() = Seq.fill(6 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.length)))
      .mkString(" ")
    for (trial <- 1 to 2) {
      // 12 base texts, each repeated 1-8 times (heavy identical groups),
      // plus a couple of degenerate short docs (< k tokens → no shingles)
      val bases = Seq.fill(12)(text())
      var id = -1L
      val docs = (bases.flatMap { t =>
        Seq.fill(1 + rnd.nextInt(8)) { id += 1; (id, t) }
      } ++ Seq({ id += 1; (id, "x y") }, { id += 1; (id, "z") })).toDF("doc_id", "text")
      val viaCollapse = Dedup.dedupCorpus(docs, "doc_id", "text",
          k = 3, numHashes = 16, numBands = 4, threshold = 0.5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.operators.OpCache.clear()
      // the pre-collapse construction, from the same public pieces
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
          k = 3, numHashes = 16, numBands = 4, threshold = 0.5)
        .select("id_a", "id_b")
      val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val canon = labels.groupBy(col("comp")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val labeled = labels.select("id").collect().map(_.getLong(0)).toSet
      graft.operators.OpCache.clear()
      val unique = (0L to id).filterNot(labeled)
        .map(_ -> 1L).toMap
      assert(viaCollapse == canon ++ unique, s"trial $trial diverged")
    }
  }

  test("splitByCluster keeps near-duplicates in one split, always") {
    // two near-identical docs (one token differs over 12) + one unique
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val docs = Seq(
      (10L, base), (11L, base.replace("w12", "w12x")),
      (12L, "completely different tokens here nothing shared at all ok")
    ).toDF("doc_id", "text")
    val out = Dedup.splitByCluster(docs, "doc_id", "text",
        valRate = 0.3, testRate = 0.3,
        k = 3, numHashes = 8, numBands = 4, threshold = 0.5)
      .select("doc_id", "cluster_key", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    graft.operators.OpCache.clear()
    // the pair shares one cluster key (the min member id) and one split
    assert(out(10L)._1 == 10L && out(11L)._1 == 10L)
    assert(out(10L)._2 == out(11L)._2)
    // the unique doc represents itself
    assert(out(12L)._1 == 12L)
    // a per-document split CAN disagree on the pair only if md5(10) and
    // md5(11) land in different buckets — the point of the cluster key
    // is that the pair's fate follows ONE key, proven above regardless
  }
}
