package perfbench

import org.apache.spark.sql.SparkSession

/** `dashboard_adhoc`: the dashboard and text-to-SQL agent users. Closed
  * loop, one client: every request waits for its full answer. The request
  * list holds dashboard faces (W1 latest-per-key, A* aggregates, J* joins,
  * F* field transforms), an agent face and the TPC-H sentinel q3 (reached
  * through `SparkEntry.queries`), and a SQL-fuzz text (through
  * `Tables.registerAll` + `spark.sql`). It is kept short so that a run
  * (set-up, a warm-up pass, three measured passes) fits the benchmark's time
  * budget. Each pass is a seed-shuffled sweep of the list, so every face
  * repeats once per pass, as a dashboard refresh repeats its queries.
  */
final class Dashboard(data: String, seed: Long) extends Workload {
  import Dashboard._

  private val fuzzSql = graft.SqlFuzz.cases.toMap

  def setup(spark: SparkSession): Unit = graft.Tables.registerAll(spark, data)

  private def request(r: Runner, name: String): Unit =
    r.op(name, if (fuzzSql.contains(name)) "sql" else "face") { ctx =>
      val df = fuzzSql.get(name) match {
        case Some(sql) =>
          ctx.layer("tables.register")(graft.Tables.registerAll(ctx.spark, data))
          ctx.layer("sql.parse")(ctx.spark.sql(sql))
        case None =>
          ctx.layer("entry.build")(graft.SparkEntry.queries(name)(ctx.spark, data))
      }
      ctx.collect(df)
    }

  def pass(r: Runner, p: Int): Unit =
    new scala.util.Random(seed * 7919L + p).shuffle(Requests)
      .foreach(request(r, _))

  /** A warm sweep of the 9 requests takes about 7.5 s. */
  def nominalPassSeconds: Double = 7.5

  def report(best: Seq[Util.OpFigure], recs: Seq[OpRec]): Seq[(String, Double, String)] = {
    val ms = best.map(_.ms)
    Seq(("adhoc_p50_ms", Util.quantile(ms, 0.5), "ms"),
      ("adhoc_p95_ms", Util.quantile(ms, 0.95), "ms"),
      ("adhoc_qps", Requests.size / (ms.sum / 1000.0), "1/s"))
  }
}

object Dashboard {
  val Faces: Seq[String] = Seq(
    "q_w1_latest_per_key", "q_a3_topk_customers", "q_a4_top_days", "q_j1_dim_rollup",
    "q_j6_fuzzy_title", "q_f2_json_props", "q_sql_agent_topk", "q3_shipping_priority")

  val Fuzz: Seq[String] = Seq("q_sql_fuzz_00")

  val Requests: Seq[String] = Faces ++ Fuzz
}
