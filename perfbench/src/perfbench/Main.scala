package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one client thread, `local[4]`.
  *
  * {{{
  *   Main --workload W --seed N --seconds S --trace 0|1
  *        --data DIR --work DIR --out DIR --expected FILE
  * }}}
  *
  * Prints the workload's own figures on a `report` line, then the result
  * line: `{"correct", "attempted", "failed", "metrics"}`. Untraced runs
  * report the end-to-end metrics; traced runs (untraced and traced passes
  * in ABBA order) report the per-layer metrics and write the spans and
  * per-op counts to --out.
  */
object Main {
  val SetupReps = 5
  val MinPasses = 2
  val Cores = 4

  /** Measured passes of a run: enough nominal-length passes to cover
    * --seconds, at least [[MinPasses]].
    */
  def measuredPasses(seconds: Double, wl: Workload): Int =
    math.max(MinPasses, math.ceil(seconds / wl.nominalPassSeconds).toInt)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String,
                        expected: String)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("work"), need("out"), need("expected"))
  }

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder().master(s"local[$Cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def loadExpected(path: String): Map[String, String] = {
    val f = new File(path)
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\t")).collect { case Array(n, d) => n -> d }.toMap
      finally src.close()
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.work, "tmp").mkdirs()
    new File(a.out).mkdirs()
    val spark = session(a)
    val code = try run(spark, a) finally spark.stop()
    sys.exit(code)
  }

  private val t00 = Util.nowMs()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(Util.nowMs() - t00) / 1000}%7.2f s  $what")

  private def run(root: SparkSession, a: Args): Int = {
    phase("session up")
    Inputs.ensure(root, a.data)
    val wl: Workload = a.workload match {
      case "dashboard_adhoc" => new Dashboard(a.data, a.seed)
      case "corpus_batch" => new Corpus(a.data, a.seed)
      case "store_ingest" => new Store(a.data, a.work, a.seed)
      case other => System.err.println(s"unknown workload $other"); return 2
    }

    phase("inputs ready")
    val prep = new Runner(root, Map.empty, new Tracer(root), new File(a.work, "tmp"))
    wl.prepare(prep)
    phase("prepared")

    // set-up, repeated on fresh sessions (the first repetition also pays
    // the process's cold start); the last session serves the run
    var spark = root
    val setupMs = (1 to SetupReps).map { _ =>
      spark = root.newSession()
      val t0 = Util.nowMs()
      wl.setup(spark)
      Util.nowMs() - t0
    }

    val tracer = new Tracer(spark)
    val r = new Runner(spark, loadExpected(a.expected), tracer, new File(a.work, "tmp"))
    phase("set up")
    // warm-up ops keep their (negative) pass number: they count in
    // attempted and failed, and only the timing figures leave them out
    (1 to wl.warmupPasses).foreach { p => r.pass = -p; wl.pass(r, -p) }
    var heapPeak = Layers.retainedHeapMb(spark)

    // measured passes: a fixed number, from --seconds and the workload's
    // nominal pass length only, never from how fast the passes run, so a
    // faster or slower program is measured with the same estimator. A
    // traced run runs 2 * MinPasses passes instead, in untraced-traced-
    // traced-untraced order.
    val passMs = mutable.ArrayBuffer.empty[Double]
    val passTraced = mutable.ArrayBuffer.empty[Boolean]
    val passes = if (a.trace) 2 * MinPasses else measuredPasses(a.seconds, wl)
    (1 to passes).foreach { p =>
      val traced = a.trace && (p % 4 == 2 || p % 4 == 3) // ABBA: JIT drift cancels
      if (traced) tracer.enable() else tracer.disable()
      r.pass = p
      val before = r.recs.size
      wl.pass(r, p)
      passMs += r.recs.drop(before).map(_.ms).sum
      passTraced += traced
      tracer.disable()
      heapPeak = math.max(heapPeak, Layers.retainedHeapMb(spark))
    }
    phase("measured")
    r.pass = 0
    wl.verify(r)
    phase("verified")

    // every op counts in attempted and failed: preparation, warm-up,
    // measured passes and the end-of-run checks
    val all = prep.recs.toSeq ++ r.recs.toSeq
    val failed = all.count(!_.ok)
    val serving = all.filter(rec => rec.pass > 0 && wl.isServing(rec))
    val untraced = serving.filter(!_.traced)
    val best = Util.perOpBest(untraced)

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed,
      "passes" -> passMs.size, "ops" -> all.size, "failed_ops" -> all.filter(!_.ok).map(o => s"${o.name}: ${o.err}"),
      "ops_failed_ratio" -> failed.toDouble / all.size,
      "setup_reps_s" -> setupMs.map(_ / 1000), "pass_s" -> passMs.map(_ / 1000),
      // each figure below is over this many op positions (best of the
      // measured passes each); a *_p95_ms among them is the tail of that
      // small sample, not a percentile with ten samples beyond it
      "op_positions" -> best.size)
    wl.report(best, untraced)
      .foreach { case (n, v, u) => report(n) = Map("value" -> v, "unit" -> u) }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", Util.median(setupMs) / 1000, "s"),
        ("pass_s", best.map(_.ms).sum / 1000, "s"),
        ("heap_peak_mb", heapPeak, "MB"))
      else {
        val traced = all.filter(o => o.traced && o.pass > 0)
        val out = PerLayer.metrics(traced, passTraced.count(identity), untraced, wl)
        PerLayer.writeTrace(a, tracer, traced)
        report("trace_spans") = tracer.spans.size
        out
      }
    println(Util.json(report))
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> all.size, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) }: _*))
    println(Util.json(result))
    System.out.flush()
    0
  }
}
