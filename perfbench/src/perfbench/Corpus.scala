package perfbench

import org.apache.spark.sql.SparkSession

/** `corpus_batch`: heavy training-data jobs over the documents and
  * embeddings, run back to back by one batch client. A pass runs the
  * fixed job list once, in a seed-chosen order; its makespan is the figure
  * a batch user waits for.
  */
final class Corpus(data: String, seed: Long) extends Workload {
  import Corpus._

  def setup(spark: SparkSession): Unit =
    Seq("documents", "embeddings").foreach(n => graft.Tables.load(spark, data, n).count())

  private def job(r: Runner, name: String): Unit =
    r.op(name, Family(name)) { ctx =>
      ctx.collect(ctx.layer("entry.build")(graft.SparkEntry.queries(name)(ctx.spark, data)))
    }

  def pass(r: Runner, p: Int): Unit =
    new scala.util.Random(seed * 7919L + p).shuffle(Jobs).foreach(job(r, _))

  /** A warm run of the 3 jobs takes about 15 s. */
  def nominalPassSeconds: Double = 15.0

  def report(best: Seq[Util.OpFigure], recs: Seq[OpRec]): Seq[(String, Double, String)] =
    Seq(("corpus_makespan_s", best.map(_.ms).sum / 1000.0, "s"))

  override def layerExtras(traced: Seq[OpRec]): Map[String, Double] = {
    val cc = traced.filter(r => CcJobs.contains(r.name))
    Seq("dedup", "text", "sim").map { f =>
      s"corpus.${f}_ms" -> traced.filter(_.kind == f).map(_.ms).sum
    }.toMap ++ Map(
      "corpus.cc_jobs" -> cc.map(_.layers.getOrElse("exec.jobs", 0.0)).sum,
      "corpus.cc_shuffle_bytes" -> cc.map(_.layers.getOrElse("exec.shuffle_write_bytes", 0.0)).sum)
  }
}

object Corpus {
  /** Job -> family. `q_dedup_clusters` (simhash pairs + connected
    * components) carries the CC family.
    */
  val Family: Map[String, String] = Map(
    "q_dedup_clusters" -> "dedup",
    "q_text_simhash" -> "text",
    "q_sim_ivfpq_rerank" -> "sim")

  val CcJobs: Set[String] = Set("q_dedup_clusters")

  val Jobs: Seq[String] = Family.keys.toSeq.sorted
}
