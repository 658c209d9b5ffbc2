package perfbench

import org.apache.spark.sql.SparkSession

/** One named workload: untimed preparation, a set-up that can be
  * repeated, and passes of ops. A pass is the workload's unit of repeated
  * work (one sweep of the request list, one run of the batch jobs, one
  * block of simulated days).
  */
trait Workload {
  /** Untimed preparation before the set-up (inputs the set-up opens). */
  def prepare(r: Runner): Unit = ()

  /** One set-up repetition on a fresh session (timed as `setup_s`). */
  def setup(spark: SparkSession): Unit

  def pass(r: Runner, p: Int): Unit

  /** A measured pass's length on the 4-core reference host. With
    * --seconds it fixes the number of measured passes (`Main.measuredPasses`).
    */
  def nominalPassSeconds: Double

  /** Unmeasured passes run before the measured ones: each op's first run
    * in a process also pays its plan compile and the JIT warm-up.
    */
  def warmupPasses: Int = 1

  /** End-of-run checks, run as ops (a mismatch is a failed op). */
  def verify(r: Runner): Unit = ()

  /** The workload's own named figures (value, unit), printed before the
    * result line, from the per-op figures and the untraced ops.
    */
  def report(best: Seq[Util.OpFigure], recs: Seq[OpRec]): Seq[(String, Double, String)]

  /** Workload-specific per-layer figures over the traced ops. */
  def layerExtras(traced: Seq[OpRec]): Map[String, Double] = Map.empty

  /** Ops that verify rather than serve; they count as attempted ops but
    * not toward the latency figures.
    */
  def isServing(rec: OpRec): Boolean = rec.kind != "verify"
}
