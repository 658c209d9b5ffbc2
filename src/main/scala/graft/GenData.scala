package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator for scale factors the driver
  * does not ship — the round-8 verdict's top item: every measured
  * scaling decade so far (sf0.001→0.1) is FIXED-COST-dominated
  * (α ≤ 0.46), so the 100 TB linearity claim rested on plan shapes, not
  * measurements. sf1 (10× sf0.1: 6 M lineitem, 50 k documents, 20 k
  * embeddings, 1 M events) is generated here into the repo's own
  * `testdata/` (NEVER into the read-only driver dirs) so
  * `tools/scaling.py` can measure a data-dominated decade.
  *
  * Faithfulness to the driver recipe (measured from the sf0.01/0.1
  * parquet, see SCALE.md "sf1 generation"): same schemas (column names,
  * physical types), same value ranges and categorical distributions,
  * same documents vocabulary (the 30 non-`dup` words), same word-count
  * span (10–100), ~5 % planted near-dups carrying the `dup` marker,
  * ~0.16 % exact-dup pairs, unit-norm isotropic 64-d embeddings
  * (Box–Muller over hash-uniforms — the sf0.1 embeddings measure
  * within-label cosine ≈ cross-label ≈ 0, i.e. no cluster structure to
  * replicate). All randomness is `xxhash64(id, salt)`-derived: fully
  * deterministic, partition-count-independent, re-runnable.
  *
  * Usage: `runMain graft.GenData <outDir> [mult]` — mult scales the
  * sf0.1 row counts (default 10 = sf1).
  */
object GenData {

  /** Uniform in [0, 1): the low 30 bits of xxhash64(id, salt). */
  private def u01(id: Column, salt: Int): Column =
    (pmod(xxhash64(id, lit(salt)), lit(1L << 30)).cast("double")
      / lit((1L << 30).toDouble))

  /** Uniform integer in [0, n). */
  private def uniPick(id: Column, salt: Int, n: Int): Column =
    pmod(xxhash64(id, lit(salt)), lit(n.toLong))

  private def pick(id: Column, salt: Int, values: Seq[String]): Column =
    element_at(typedlit(values), uniPick(id, salt, values.size).cast("int") + 1)

  /** Standard normal via Box–Muller over two hash-uniforms; the +0.5/2^30
    * offset keeps u1 strictly positive for the log. */
  private def gauss(id: Column, salt: Int): Column = {
    val u1 = (pmod(xxhash64(id, lit(salt)), lit(1L << 30)).cast("double") + 0.5) /
      lit((1L << 30).toDouble)
    val u2 = u01(id, salt + 1000003)
    sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.forRun("graft-gendata")
    if (args.headOption.contains("--aniso")) {
      val outDir = if (args.length > 1) args(1) else "/root/repo/testdata/aniso"
      val n = if (args.length > 2) args(2).toLong else 2000L
      anisoEmbeddings(spark, outDir, n)
    } else if (args.headOption.contains("--zipf")) {
      val outDir = if (args.length > 1) args(1) else "/root/repo/testdata/zipf"
      val n = if (args.length > 2) args(2).toLong else 50000L
      val vocab = if (args.length > 3) args(3).toInt else 100000
      zipfDocuments(spark, outDir, n, vocab)
    } else {
      val outDir = args.headOption.getOrElse("/root/repo/testdata/sf1")
      val mult = if (args.length > 1) args(1).toInt else 10
      val srcDims = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
      generate(spark, outDir, mult, srcDims)
    }
    spark.stop()
  }

  /** ANISOTROPIC / CLUSTERED embedding fixture (round-11 verdict #6):
    * the driver corpus is deliberately isotropic — within-label cosine ≈
    * cross-label ≈ 0 — which is ANN's adversarial case and, by
    * construction, gives an OPQ rotation NOTHING to exploit (the r11
    * measurement was honestly null for that reason). This generator
    * builds the structured complement so the recall levers can be
    * evaluated where real embedding corpora live:
    *
    *   x = normalize(H₂(H₁(0.8·c_label + noise)))
    *
    *   - 10 unit cluster centers c_k (labels are REAL neighborhoods:
    *     same-label vectors share a direction);
    *   - axis-decaying noise σ_j = exp(−j/8): the covariance spectrum
    *     spans ~3 orders of magnitude (anisotropy for the eigen
    *     allocation to find);
    *   - two fixed Householder reflections H₁H₂ rotate the spectrum OFF
    *     the coordinate axes, so a plain positional subspace split
    *     mixes high- and low-variance directions — exactly the defect
    *     OPQ's rotation is designed to undo.
    *
    * Centers / reflection vectors / spectrum are driver-side constants
    * from a fixed-seed RNG (embedded as literals); per-vector noise is
    * the usual xxhash64 Box–Muller — fully deterministic, re-runnable.
    * Written as `embeddings.parquet` in its own dir so the bench's recall
    * fields ([[Bench.recallAt10]]) and every Similarity operator read it
    * unchanged.
    */
  def anisoEmbeddings(spark: SparkSession, outDir: String, n: Long): Unit = {
    val dim = 64
    val rnd = new java.util.Random(20260815L)
    def unit(): Seq[Double] = {
      val a = Array.fill(dim)(rnd.nextGaussian())
      val nn = math.sqrt(a.map(x => x * x).sum)
      a.map(_ / nn).toSeq
    }
    val centers: Seq[Seq[Double]] = Seq.fill(10)(unit())
    val h1 = unit()
    val h2 = unit()
    val sigma: Seq[Double] = (0 until dim).map(j => math.exp(-j / 8.0))

    val label = uniPick(col("id"), 45, 10).cast("int")
    val center = element_at(typedlit(centers), label + 1)
    val noise = transform(sequence(lit(0), lit(dim - 1)),
      j => gauss(col("id") * dim + j, 46) * element_at(typedlit(sigma), j + 1))
    val y = zip_with(center, noise, (c, e) => c * lit(0.8) + e)
    // Each Householder stage ends in an exchange barrier: without it,
    // CollapseProject inlines the previous stage's array expression into
    // the next stage's per-element lambda AND into the dot-product
    // aggregate — the nested re-evaluation is exponential in the stage
    // count (the first cut of this generator burned 15 cores for
    // minutes on 2000 rows). With the barrier the per-stage worst case
    // is one dot re-evaluated per element: dim² cheap ops.
    def householder(df: DataFrame, inCol: String, v: Seq[Double],
                    outCol: String): DataFrame = {
      val vl = typedlit(v)
      val dot = aggregate(zip_with(col(inCol), vl, (a, b) => a * b),
        lit(0.0), (acc, t) => acc + t)
      df.withColumn(outCol,
          zip_with(col(inCol), vl, (a, b) => a - lit(2.0) * dot * b))
        .drop(inCol)
        .repartition(8)
    }
    val staged = spark.range(n)
      .select(col("id").as("vec_id"), label.as("label"), y.as("__y"))
      .repartition(8)
    val rotated = householder(householder(staged, "__y", h1, "__r1"),
      "__r1", h2, "__r2")
    val nrm = sqrt(aggregate(col("__r2"), lit(0.0), (acc, x) => acc + x * x))
    rotated.select(
        col("vec_id"),
        transform(col("__r2"), x => (x / nrm).cast("float")).as("embedding"),
        col("label"))
      .write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
    println(s"[gendata] wrote aniso embeddings -> $outDir (n=$n)")
  }

  /** REALISTIC-VOCABULARY documents fixture (round-12 verdict #3): the
    * driver corpus's 30-word vocabulary saturates the bigram table at
    * ~900 rows, so the measured LM-filter flattening (α 0.15/0.11) is
    * partly fixture-specific — SCALE.md says so itself. This generator
    * draws tokens from a ZIPF(≈1) distribution over `vocab` types via
    * inverse-CDF (rank = ⌊V^u⌋, P(r) ∝ 1/r up to the continuous
    * approximation), which also reproduces HEAPS' LAW: the observed
    * vocabulary (and hence the bigram model) GROWS sublinearly with the
    * corpus instead of saturating — the regime where the hint-free
    * LM-join's broadcast↔shuffle adaptivity actually matters. Same
    * schema/word-count span as `documents` so every text operator reads
    * it unchanged; tokens are "w<rank>". Deterministic xxhash64 draws,
    * like everything here.
    */
  def zipfDocuments(spark: SparkSession, outDir: String, nDocs: Long,
                    vocab: Int): Unit = {
    val files = math.max(8, (nDocs / 50000L).toInt)
    val nWords = (pmod(xxhash64(col("id"), lit(60)), lit(91L)) + 10).cast("int")
    val lnV = math.log(vocab.toDouble)
    def u(j: Column, salt: Int): Column =
      (pmod(xxhash64(col("id"), lit(salt), j), lit(1L << 30)).cast("double") + 0.5) /
        lit((1L << 30).toDouble)
    val text = array_join(
      transform(sequence(lit(1), nWords),
        j => concat(lit("w"),
          floor(exp(u(j, 61) * lit(lnV))).cast("long").cast("string"))),
      " ")
    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
    spark.range(nDocs).select(
        col("id").as("doc_id"),
        text.as("text"),
        pick(col("id"), 62, langs).as("lang"),
        concat(lit("src"), uniPick(col("id"), 63, 20).cast("string")).as("source"),
        length(text).cast("long").as("n_chars"))
      .repartition(files)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    println(s"[gendata] wrote zipf documents -> $outDir (n=$nDocs, V=$vocab)")
  }

  def generate(spark: SparkSession, outDir: String, mult: Int,
               srcDims: String): Unit = {
    val nCustomer = 15000L * mult
    val nSupplier = 1000L * mult
    val nPart = 20000L * mult
    val nOrders = 150000L * mult
    val nLineitem = 600000L * mult
    val nEvents = 100000L * mult
    val nUsers = 1500L * mult
    val nDocs = 5000L * mult
    val nEmb = 2000L * mult
    val files = math.max(8, mult) // multiple row groups → honest scan splits

    def write(df: DataFrame, name: String): Unit = {
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[gendata] wrote $name")
    }

    // dims are catalog-sized at every sf: copy the driver's verbatim
    Seq("region", "nation").foreach { n =>
      spark.read.parquet(s"$srcDims/$n.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n.parquet")
    }

    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write(spark.range(nCustomer).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uniPick(col("id"), 1, 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u01(col("id"), 2) * 10999.8, 2).as("c_acctbal"),
      pick(col("id"), 3, segs).as("c_mktsegment")), "customer")

    write(spark.range(nSupplier).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uniPick(col("id"), 4, 25).cast("int").as("s_nationkey"),
      round(lit(-999.99) + u01(col("id"), 5) * 10999.8, 2).as("s_acctbal")), "supplier")

    val adjs = Seq("large", "hot", "blue", "old", "cold", "small", "new", "red")
    val nouns = Seq("ring", "bolt", "plate", "screw", "case", "wheel", "box", "cap")
    val types = Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
    write(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(col("id"), 6, adjs), pick(col("id"), 7, nouns)).as("p_name"),
      concat(lit("Brand#"), (uniPick(col("id"), 8, 25) + 1).cast("string")).as("p_brand"),
      pick(col("id"), 9, types).as("p_type"),
      (uniPick(col("id"), 10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(2000L)).cast("double") / 10.0, 2)
        .as("p_retailprice")), "part")

    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write(spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      uniPick(col("id"), 11, nCustomer.toInt).as("o_custkey"),
      pick(col("id"), 12, Seq("O", "P", "F")).as("o_orderstatus"),
      round(lit(1000.0) + u01(col("id"), 13) * 499000.0, 2).as("o_totalprice"),
      date_add(to_date(lit("1995-01-01")), uniPick(col("id"), 14, 2404).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      pick(col("id"), 15, prios).as("o_orderpriority")), "orders")

    // ~4 lines per order (id div 4), line numbers 1..4 — the driver data
    // measures 600 k lines over 147 k distinct orders (avg 4.07)
    write(spark.range(nLineitem).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      uniPick(col("id"), 16, nPart.toInt).as("l_partkey"),
      uniPick(col("id"), 17, nSupplier.toInt).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (uniPick(col("id"), 18, 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u01(col("id"), 19) * 104100.0, 2).as("l_extendedprice"),
      (uniPick(col("id"), 20, 11).cast("double") / 100.0).as("l_discount"),
      (uniPick(col("id"), 21, 9).cast("double") / 100.0).as("l_tax"),
      pick(col("id"), 22, Seq("A", "N", "R")).as("l_returnflag"),
      pick(col("id"), 23, Seq("F", "O")).as("l_linestatus"),
      date_add(to_date(lit("1995-01-02")), uniPick(col("id"), 24, 2498).cast("int"))
        .cast("timestamp").as("l_shipdate")), "lineitem")

    write(spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) // 2024-01-01T00:00:00Z
        + pmod(xxhash64(col("id"), lit(25)), lit(30L * 86400 * 1000000))).as("ts"),
      uniPick(col("id"), 26, nUsers.toInt).as("user_id"),
      pick(col("id"), 27, Seq("click", "view", "purchase", "signup", "error"))
        .as("event_type"),
      round(lit(0.01) + u01(col("id"), 28) * 490.01, 2).as("value"),
      format_string("{\"k\": %d}", uniPick(col("id"), 29, 100)).as("props")), "events")

    // documents: words drawn per (seedId, position) from the driver's
    // 30-word vocabulary; ~5 % of docs are near-dups of their PREDECESSOR
    // (same word stream + trailing `dup` markers — prefix-sharing pairs,
    // the sf0.1 structure), and ~0.16 % are EXACT copies (the 8-pairs-per-
    // 5000 rate). Both are pure projections of a derived seed id, no
    // cross-row join.
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge",
      "order", "part", "query", "row", "scan", "slow", "small", "sort",
      "spark", "stream", "table", "the", "value", "vector", "window")
    val isNear = pmod(col("id"), lit(20L)) === 19 && col("id") > 0
    val isExact = pmod(col("id"), lit(625L)) === 624 && col("id") > 0
    val seedId = when(isNear || isExact, col("id") - 1).otherwise(col("id"))
    val nWords = (pmod(xxhash64(seedId, lit(30)), lit(91L)) + 10).cast("int")
    val baseText = array_join(
      transform(sequence(lit(1), nWords),
        j => element_at(typedlit(vocab),
          pmod(xxhash64(seedId, lit(31), j), lit(30L)).cast("int") + 1)),
      " ")
    val text = when(isExact, baseText)
      .when(isNear, concat(baseText, lit(" dup dup dup")))
      .otherwise(baseText)
    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh") // en ≈ 43 %
    write(spark.range(nDocs).select(
      col("id").as("doc_id"),
      text.as("text"),
      pick(col("id"), 32, langs).as("lang"),
      concat(lit("src"), uniPick(col("id"), 33, 20).cast("string")).as("source"),
      length(text).cast("long").as("n_chars")), "documents")

    // embeddings: unit-norm isotropic 64-d float vectors, labels 0..9
    val raw = transform(sequence(lit(0), lit(63)),
      j => gauss(col("id") * 64 + j, 34))
    val nrm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    write(spark.range(nEmb).select(
      col("id").as("vec_id"),
      transform(raw, x => (x / nrm).cast("float")).as("embedding"),
      uniPick(col("id"), 35, 10).cast("int").as("label")), "embeddings")

    println(s"[gendata] done -> $outDir (mult=$mult)")
  }
}
