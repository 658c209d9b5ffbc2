package graft

import org.apache.spark.sql.functions._

import graft.operators.QuantileSketch
import graft.pipelines.BucketedFoldStore

/** The decimal-DDSketch quantile sketch: exact bucket arithmetic on
  * hand-computed fixtures (the integer/string path has no float to
  * hide in), exact mergeability in any merge order, the documented
  * error bound against true order statistics, and the one-exchange
  * build plan.
  */
class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  private def df(vs: Seq[(String, Double)]) = vs.toDF("g", "x")

  test("bucket assignment matches the hand-computed (s,e,d,lo,w) exactly") {
    // micros = x·10⁶ through the VARCHAR→DECIMAL hop; e = digits−1,
    // d = first two significant digits, lo = d·10^(e−1), w = 10^(e−1)
    val fixture = Seq(
      ("a", 3.2),        // m=3200000  e=6 d=32 lo=3200000      w=100000
      ("a", 0.000004),   // m=4        e=0 d=4  lo=4            w=1
      ("a", -5.5),       // m=-5500000 s=-1 e=6 d=55 lo=5500000 w=100000
      ("a", 0.0),        // zero bucket: all-zero row
      ("a", 999999.99))  // m=999999990000 e=11 d=99 lo=990000000000 w=10000000000
    val got = QuantileSketch.build(df(fixture), "x", Seq("g"))
      .select("s", "e", "d", "lo", "w", "cnt")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val want = Set(
      (1, 6, 32, 3200000L, 100000L, 1L),
      (1, 0, 4, 4L, 1L, 1L),
      (-1, 6, 55, 5500000L, 100000L, 1L),
      (0, 0, 0, 0L, 0L, 1L),
      (1, 11, 99, 990000000000L, 10000000000L, 1L))
    assert(got == want, s"got $got")
  }

  private def manyRows: Seq[(String, Double)] = {
    // deterministic 2-dp values spanning signs and 6 decades — 2 dp keeps
    // the micros hop exact so the spec's own order statistics are the
    // sketch's (the corpus gates cover free-form doubles)
    val r = new scala.util.Random(42)
    (1 to 500).map { i =>
      val mag = math.pow(10, r.nextInt(6)) // 1..1e5
      val v = math.floor(r.nextDouble() * mag * 100) / 100.0
      val signed = if (i % 5 == 0) -v else v
      (if (i % 2 == 0) "a" else "b", signed)
    }
  }

  test("three-batch merge equals the one-shot sketch, in any merge order") {
    val all = df(manyRows)
    val oneShot = QuantileSketch.build(all, "x", Seq("g"))
      .collect().map(_.toSeq).toSet
    val parts = (0 to 2).map(i =>
      QuantileSketch.build(all.filter(pmod(hash(col("x")), lit(3)) === i),
        "x", Seq("g")))
    for (order <- Seq(parts, parts.reverse, Seq(parts(1), parts(2), parts(0)))) {
      val merged = order.reduce(QuantileSketch.merge(_, _, Seq("g")))
      val got = merged.collect().map(_.toSeq).toSet
      assert(got == oneShot, "merged sketch diverged from one-shot")
    }
  }

  test("estimates honor the documented error bound vs true order statistics") {
    val rows = manyRows
    val fractions = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    val got = QuantileSketch.groupQuantiles(df(rows), "x", Seq("g"), fractions)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    for (g <- Seq("a", "b"); q <- fractions) {
      val vs = rows.filter(_._1 == g).map(_._2).sorted
      val v = vs(math.ceil(q * vs.size).toInt - 1) // rank-⌈q·n⌉ order statistic
      val est = got((g, q))
      if (math.abs(v) >= 1e-5)
        assert(math.abs(est - v) <= 0.051 * math.abs(v),
          s"g=$g q=$q: est=$est vs true=$v exceeds 5% relative bound")
      else
        assert(math.abs(est - v) <= 5.1e-7,
          s"g=$g q=$q: est=$est vs true=$v exceeds near-zero absolute bound")
    }
  }

  test("estimates are monotone in q") {
    val ests = QuantileSketch.groupQuantiles(
        df(manyRows), "x", Seq("g"), Seq(0.1, 0.5, 0.9))
      .orderBy("g", "q").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(2)).toSeq)
    for ((g, es) <- ests)
      assert(es == es.sorted, s"group $g estimates not monotone: $es")
  }

  test("build is ONE exchange (partial-aggregable bucket counts)") {
    val plan = QuantileSketch.build(df(manyRows), "x", Seq("g"))
      .queryExecution.executedPlan.toString
    val exchanges = "(?i)exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges in:\n$plan")
    assert(!plan.toLowerCase.contains("sortaggregate") || plan.contains("HashAggregate"),
      s"bucket agg should hash-aggregate:\n$plan")
  }

  test("store lifecycle: three folds into the fold store equal the one-shot sketch") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_qsketch_spec_").toString + "/store"
    val all = df(manyRows)
    (0 to 2).foreach { i =>
      QuantileSketch.foldIntoStore(spark,
        all.filter(pmod(hash(col("x")), lit(3)) === i), "x", Seq("g"), root,
        s"batch_$i")
    }
    val stored = QuantileSketch.readStore(spark, root)
      .collect().map(_.toSeq).toSet
    val oneShot = QuantileSketch.build(all, "x", Seq("g"))
      .collect().map(_.toSeq).toSet
    assert(stored == oneShot, "stored sketch diverged from one-shot")
    // and the store is sketch-sized: bucket counts, not history
    assert(stored.size == oneShot.size)
  }

  test("fold is exactly-once: a re-delivered batch id is a ledger no-op") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_qsketch_spec_").toString + "/store"
    val all = df(manyRows)
    (0 to 2).foreach { i =>
      val batch = all.filter(pmod(hash(col("x")), lit(3)) === i)
      QuantileSketch.foldIntoStore(spark, batch, "x", Seq("g"), root,
        s"batch_$i")
      // retry storm: the same batch re-delivered twice more
      QuantileSketch.foldIntoStore(spark, batch, "x", Seq("g"), root,
        s"batch_$i")
      QuantileSketch.foldIntoStore(spark, batch, "x", Seq("g"), root,
        s"batch_$i")
    }
    val stored = QuantileSketch.readStore(spark, root)
      .collect().map(_.toSeq).toSet
    val oneShot = QuantileSketch.build(all, "x", Seq("g"))
      .collect().map(_.toSeq).toSet
    assert(stored == oneShot,
      "re-delivered folds double-counted despite the ledger")
    // the ledger holds each distinct batch id, and only those
    (0 to 2).foreach { i =>
      assert(BucketedFoldStore.processed(spark, root, s"batch_$i"))
    }
    assert(!BucketedFoldStore.processed(spark, root, "batch_3"))
  }

  test("values past the DECIMAL(18,6) domain route to ±overflow buckets, not a throw") {
    // 1e13 and -3e14 are finite but beyond the decimal hop (~1e12);
    // pre-round-14 these threw mid-scan under ANSI
    val vs = Seq(("a", 1.0e13), ("a", -3.0e14), ("a", 5.0),
      ("a", 8.9e11))                       // just inside the domain
    val got = QuantileSketch.build(df(vs), "x", Seq("g"))
      .select("s", "e", "d", "lo", "w", "cnt")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val over = 1000000000000000000L
    assert(got.contains((1, 19, 0, over, 0L, 1L)), s"+overflow missing: $got")
    assert(got.contains((-1, 19, 0, over, 0L, 1L)), s"-overflow missing: $got")
    // in-domain rows bucket normally alongside
    assert(got.exists { case (s, e, _, _, _, _) => s == 1 && e == 6 }, s"got $got")
    assert(got.exists { case (s, e, _, _, _, _) => s == 1 && e == 17 }, s"got $got")
  }

  test("overflow rows count toward n_rows and a quantile landing there saturates to ±1e12") {
    // 9 in-domain values + 1 huge: p50 must stay a real estimate while
    // p99 (rank 10) lands in the overflow bucket and reports the
    // documented saturated domain edge
    val vs = (1 to 9).map(i => ("a", i * 100.0)) :+ (("a", 7.7e15))
    val q = QuantileSketch.groupQuantiles(df(vs), "x", Seq("g"),
        Seq(0.5, 0.99))
      .collect().map(r => r.getDouble(1) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    assert(q(0.5)._2 == 10L, s"n_rows must include overflow rows: $q")
    assert(math.abs(q(0.5)._1 - 500.0) <= 0.051 * 500.0, s"p50 off: $q")
    assert(q(0.99)._1 == 1.0e12, s"overflow quantile must saturate: $q")
  }

  test("empty input yields an empty sketch and empty quantiles, no errors") {
    val empty = df(Nil)
    val sk = QuantileSketch.build(empty, "x", Seq("g"))
    assert(sk.count() == 0L)
    assert(QuantileSketch.quantiles(sk, Seq("g"), Seq(0.5)).count() == 0L)
  }

  test("non-finite values are excluded like null (the finite convention)") {
    val vs = Seq(("a", 1.0), ("a", Double.NaN),
      ("a", Double.PositiveInfinity), ("a", Double.NegativeInfinity))
    val sk = QuantileSketch.build(df(vs), "x", Seq("g"))
    assert(sk.agg(sum("cnt")).collect()(0).getLong(0) == 1L)
  }
}
