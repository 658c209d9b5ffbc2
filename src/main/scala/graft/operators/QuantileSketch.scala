package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable relative-error quantile sketch — the 100 TB quantile path.
  *
  * The exact quantile operators in this pack (`percentileByGroup`,
  * `equiDepthHistogram`, per-group z-score) sort every group's values
  * inside a `percentile` aggregate: correct, but the buffer is O(group)
  * and the answer is NOT mergeable — a nightly job cannot combine last
  * night's state with today's batch, and a 100 TB scan cannot afford a
  * per-group sort just to read p99. The documented swap so far was
  * `approx_percentile`, which scales but is engine-private (its KLL-ish
  * buffer has no cross-engine dual, so no DuckDB oracle can check it)
  * and still not a stored/mergeable face.
  *
  * This sketch is the DDSketch idea (Masson et al., VLDB'19: log-spaced
  * buckets ⇒ bounded RELATIVE error, counts mergeable by key-sum) built
  * from arithmetic BOTH engines evaluate bit-identically — the
  * [[graft.functions.DotFixedPoint]] / VARCHAR-hop discipline applied to
  * bucketing instead of a float `log()`, whose last-ulp differences
  * between libm and StrictMath would flip boundary buckets:
  *
  *   1. value → exact fixed-point micros: the VARCHAR→DECIMAL(18,6) hop
  *      (shortest-roundtrip string, HALF_UP decimal parse — identical in
  *      Spark and DuckDB), ×10⁶, to BIGINT. Exact for |x| < ~1e12.
  *   2. micros → bucket (s, e, d): sign, decimal exponent
  *      e = LENGTH(str(|m|)) − 1, and the first TWO significant digits
  *      d — pure integer/string ops, no float anywhere. The bucket is
  *      [d·10^(e−1), (d+1)·10^(e−1)) in micros: a base-10 mantissa
  *      sketch with relative bucket width 1/d ≤ 1/10.
  *   3. bucket bounds lo = d·10^(e−1) and width w = 10^(e−1) via RPAD
  *      zero-padding — integer powers of ten WITHOUT `pow()` (whose
  *      999.999… corner would need a rounding policy per engine).
  *
  * The sketch is the bucket-count table: ≤ 2·18·90+1 ≈ 3.2k rows per
  * group regardless of corpus size. Build is ONE partial-aggregable
  * groupBy (the exchange carries bucket counts, not rows); merge is a
  * keyed count-sum (exactly mergeable, like the KMV union); quantile
  * extraction is a window cumsum over the tiny sketch. The estimate —
  * the bucket midpoint — is within w/2 of the true order statistic, so
  * relative error ≤ 1/(2·10) = 5 % for any value ≥ 10 micro-units;
  * below that (|x| < 10⁻⁵ — DDSketch's near-zero corner, where no
  * log-bucket scheme can bound RELATIVE error without unbounded bucket
  * count) the error is ABSOLUTE, ≤ 5·10⁻⁷. That is the
  * guarantee a corpus-profiling p99 needs, at a per-batch cost of one
  * narrow scan, with nightly state the size of a config file.
  *
  * Cross-engine exactness: every step above is integer or string
  * arithmetic both engines define identically; the only doubles are the
  * final midpoint (the exact integer s·(2·lo + w) through ONE IEEE
  * division by 2·10⁶) and `ceil(q·n)` — single IEEE ops, identical bit
  * patterns in JVM and C++, and no `round()` anywhere (its HALF_UP vs
  * HALF_EVEN tie policies differ per engine). The DuckDB oracle
  * recomputes the whole sketch from the same arithmetic and must
  * hash-match, which is precisely what `approx_percentile`'s
  * engine-private buffer could never offer.
  *
  * Domain: finite values. The bucketing is EXACT (integer/string ops on
  * the micros BIGINT) for |x| < 10¹² — the DECIMAL(18,6) range; the e=0
  * bucket there is [d, d+1) micros, width w=1. The reported midpoint is
  * the exact integer s·(2·lo+w) through one IEEE division, and that
  * integer is ~2·|micros|, so the midpoint itself is bit-exact only for
  * |x| < 2^53/(2·10⁶) ≈ 4.5e9; past that both engines still round the
  * int64→double cast identically (hashes keep matching), but the
  * "exact integer through ONE IEEE division" guarantee degrades to
  * correctly-rounded. Values AT or beyond the DECIMAL(18,6) range
  * (|x| ≥ 10¹²) no longer throw (round-13 verdict #4): the VARCHAR hop
  * uses `try_cast`, and the nulled-out micros route to an explicit
  * ±overflow bucket (e=19, lo=10¹⁸, w=0 — disjoint from every real
  * bucket, whose max e is 17) so one stray 1e13 on a 100 TB profiling
  * scan degrades the estimate (a quantile landing there reports the
  * saturated domain edge ±10⁶ s·lo/10¹² = ±1e12) instead of killing the
  * job; the overflow rows still count toward n_rows, so every other
  * quantile stays right. Non-finite values are excluded like null (the
  * [[Analytics.finite]] convention). Zero gets its own exact bucket
  * (s=0).
  */
object QuantileSketch {

  /** Micros value of the overflow bucket's lower bound: disjoint from
    * (strictly above) every real bucket's lo, whose maximum is
    * 99·10¹⁶ (e=17). `s·lo` ordering and the midpoint arithmetic both
    * stay monotone/finite with it.
    */
  private val OverflowLo = 1000000000000000000L // 10^18

  /** A sketch bucket's coordinates: with the group columns, the key
    * [[build]] counts by and [[merge]] sums by.
    */
  private val BucketCols = Seq("s", "e", "d", "lo", "w")

  /** Fold-store bucket count of [[foldIntoStore]]: a sketch is at most
    * ~3.2k rows per group, so one bucket (a whole-sketch rewrite per
    * fold) is all it needs.
    */
  private val StoreBuckets = 1

  /** Bucket-assignment columns from a micros BIGINT column `__m` and
    * the raw double `__v` (needed only for an overflowed value's sign —
    * `__m` is NULL there). Kept private and tiny: (s, e, d, lo, w) are
    * pure codegen'd integer/string expressions — no shuffle, no UDF, no
    * float. `__m IS NULL` marks a finite value the DECIMAL(18,6) hop
    * could not hold (|x| ≥ 10¹²): it routes to the ±overflow sentinel
    * bucket (e=19, lo=10¹⁸, w=0) instead of throwing.
    */
  private def withBuckets(df: DataFrame): DataFrame = {
    val am = abs(col("__m"))
    val astr = am.cast("string")
    val over = col("__m").isNull
    val s = when(over, when(col("__v") < 0, lit(-1)).otherwise(lit(1)))
      .when(col("__m") > 0, lit(1)).when(col("__m") < 0, lit(-1))
      .otherwise(lit(0))
    val e = when(over, lit(19))
      .when(col("__m") === 0, lit(0))
      .otherwise(length(astr) - lit(1))
    val d = when(over, lit(0))
      .when(col("__m") === 0, lit(0))
      .otherwise(substring(astr, 1, 2).cast("int"))
    df.withColumn("s", s)
      .withColumn("e", e)
      .withColumn("d", d)
      .withColumn("lo",
        when(col("e") === 19, lit(OverflowLo))
          .when(col("s") === 0, lit(0L))
          .otherwise(expr("rpad(CAST(d AS STRING), CAST(e + 1 AS INT), '0')")
            .cast("long")))
      .withColumn("w",
        when(col("e") === 19, lit(0L))
          .when(col("s") === 0, lit(0L))
          .otherwise(expr("rpad('1', CAST(greatest(e, 1) AS INT), '0')")
            .cast("long")))
      .drop("__v")
  }

  /** Build the sketch: one narrow scan → bucket counts.
    * Output: groupCols ++ (s, e, d, lo, w, cnt). The groupBy exchange
    * carries O(groups × 3.2k) rows at ANY corpus size — partial
    * aggregation collapses each map partition to its touched buckets
    * first, the map-side-combine shape every 100 TB aggregate needs.
    */
  def build(df: DataFrame, valueCol: String,
            groupCols: Seq[String] = Nil): DataFrame = {
    val keyed = df
      .filter(Analytics.finite(col(valueCol)))
      .select((groupCols.map(col) :+
        col(valueCol).cast("double").as("__v")): _*)
      // try_cast, not cast: a value past the DECIMAL(18,6) domain nulls
      // out here and withBuckets routes it to the ±overflow bucket —
      // graceful degradation instead of an ANSI throw mid-scan
      .withColumn("__m",
        (expr("try_cast(CAST(__v AS STRING) AS decimal(18,6))") *
          lit(1000000)).cast("long"))
    withBuckets(keyed)
      .groupBy((groupCols ++ BucketCols).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge sketches — the stored/mergeable face: last night's sketch +
    * today's batch sketch = the sketch of the union, EXACTLY (counts
    * sum by bucket; no approximation is introduced by merging, the
    * DDSketch property that makes it a store-and-fold state). The
    * merged-equals-one-shot equality is oracle-pinned by
    * `q_quantile_sketch_merged` sharing its oracle text VERBATIM with
    * `q_quantile_sketch`.
    */
  def merge(a: DataFrame, b: DataFrame, groupCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy((groupCols ++ BucketCols).map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Nightly-state lifecycle: fold one ingestion batch's sketch into a
    * durable store — sketch today's batch and fold it into the stored
    * state through [[graft.pipelines.BucketedFoldStore]], the fold store
    * every fold sink shares. The store stays bucket-count-sized
    * (≤3.2k rows per group) however much history it summarizes, and
    * any reader ([[readStore]]) can take quantiles off it between folds
    * without touching the corpus.
    *
    * The fold keys are the merge's own grouping key (groupCols plus the
    * bucket coordinates), so the merge is key-local and the key set is
    * never empty. A sketch is small, so the store has ONE bucket and
    * each fold rewrites the whole sketch.
    *
    * EXACTLY-ONCE under batch re-delivery: the store's manifest commits
    * the new counts and the processed-batch ledger entry in one rename,
    * so there is no window where the counts landed but the ledger did
    * not. A re-delivered `batchId` is a no-op, so a retried nightly
    * pipeline (or a restarted foreachBatch stream, whose micro-batch ids
    * Spark re-delivers verbatim) can call this blindly.
    */
  def foldIntoStore(spark: org.apache.spark.sql.SparkSession,
                    batch: DataFrame, valueCol: String,
                    groupCols: Seq[String], storePath: String,
                    batchId: String): Unit = {
    graft.pipelines.BucketedFoldStore.foldOnce(spark, storePath, batchId,
      build(batch, valueCol, groupCols), groupCols ++ BucketCols,
      StoreBuckets)(merge(_, _, groupCols))
    ()
  }

  /** The sketch state of a [[foldIntoStore]] store at its current
    * committed generation — the frame [[quantiles]] reads.
    */
  def readStore(spark: org.apache.spark.sql.SparkSession,
                storePath: String): DataFrame =
    graft.pipelines.BucketedFoldStore.readState(spark, storePath)

  /** Read quantile estimates off a sketch. For each requested fraction
    * q the answer is the midpoint of the bucket holding the
    * rank-⌈q·n⌉ order statistic: order buckets by true numeric
    * position (s·lo — disjoint magnitude ranges keep this monotone
    * across the sign change), cumsum, first bucket with cum ≥ rank.
    *
    * Cost: the sketch is ≤ 3.2k rows per group; the explode×fractions,
    * window cumsum, and pick are all over that tiny frame — this stage
    * never touches the corpus. Output: groupCols ++ (q, est, n_rows).
    * est is computed as s·(2·lo + w) — an exact integer, the midpoint
    * in HALF-micros — cast to double and divided by 2·10⁶ once: a
    * single IEEE division both engines evaluate bit-identically, so no
    * round() (whose HALF_UP-vs-HALF_EVEN tie policies differ per
    * engine) appears anywhere in the sketch.
    */
  def quantiles(sketch: DataFrame, groupCols: Seq[String],
                fractions: Seq[Double]): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(f => f > 0 && f <= 1),
      s"quantiles: fractions must be in (0, 1], got $fractions")
    val keyCols = (groupCols :+ "q").map(col)
    val ordered = Window.partitionBy(keyCols: _*).orderBy(col("__ord"))
    val whole = Window.partitionBy(keyCols: _*)
    sketch
      .withColumn("q", explode(array(fractions.map(lit): _*)))
      .withColumn("__ord", col("s").cast("long") * col("lo"))
      .withColumn("__cum", sum(col("cnt")).over(
        ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_rows", sum(col("cnt")).over(whole))
      .withColumn("__rank", ceil(col("q") * col("n_rows").cast("double")))
      .filter(col("__cum") >= col("__rank"))
      .withColumn("__rn", row_number().over(ordered))
      .filter(col("__rn") === 1)
      .select((groupCols.map(col) :+ col("q") :+
        ((col("s").cast("long") * (lit(2L) * col("lo") + col("w")))
          .cast("double") / lit(2000000.0)).as("est") :+
        col("n_rows")): _*)
  }

  /** One-shot convenience: build + quantiles in a single plan. */
  def groupQuantiles(df: DataFrame, valueCol: String,
                     groupCols: Seq[String],
                     fractions: Seq[Double]): DataFrame =
    quantiles(build(df, valueCol, groupCols), groupCols, fractions)
}
