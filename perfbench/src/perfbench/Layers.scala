package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark execution counts of one op, gathered by [[ExecListener]] from the
  * jobs that carry the op's job group.
  */
final class ExecStats {
  var jobs, stages, tasks = 0L
  var taskRunMs, scanBytes, shuffleWrite, shuffleRead, spill = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Int, String, Long, Long)] // id, layer, start, end
  val jobsByLayer = mutable.Map.empty[String, Long].withDefaultValue(0L)

  /** Wall time covered by the op's jobs (union of their intervals). */
  def jobWallMs: Double = {
    val iv = jobSpans.map(j => (j._3, j._4)).sortBy(_._1)
    var total = 0L; var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total.toDouble
  }
}

/** The benchmark's own SparkListener: attributes every job, stage and task
  * to the op whose job group started it. Registered only in traced runs.
  */
final class ExecListener extends SparkListener {
  private val byOp = new ConcurrentHashMap[String, ExecStats]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val running = new ConcurrentHashMap[Int, (String, String, Long)]()

  private def stats(op: String) = byOp.computeIfAbsent(op, _ => new ExecStats)

  def take(op: String): ExecStats = Option(byOp.remove(op)).getOrElse(new ExecStats)

  /** The op in flight. A streaming query runs its micro-batch jobs under
    * its own job group; with one client, any job that is not in an op's
    * group belongs to the op in flight (the bus is drained at the end of
    * every op, so no event of one op is delivered during the next).
    */
  @volatile var current: String = null

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Layers.OpPrefix))
    (group orElse Option(current)).foreach { op =>
      val layer = if (group.isEmpty) "streaming.batch"
        else props.flatMap(p => Option(p.getProperty(Layers.LayerProp))).getOrElse("?")
      val s = stats(op)
      s.jobs += 1
      s.jobsByLayer(layer) += 1
      e.stageIds.foreach(stageOp.put(_, op))
      running.put(e.jobId, (op, layer, e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(running.remove(e.jobId)).foreach { case (op, layer, t0) =>
      stats(op).jobSpans += ((e.jobId, layer, t0, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach(op => stats(op).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val s = stats(op)
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.taskRunMs += m.executorRunTime
        s.scanBytes += m.inputMetrics.bytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
      }
    }
}

/** Micro-batch durations of every streaming query, from the benchmark's
  * own StreamingQueryListener. Registered only in traced runs.
  */
final class StreamListener extends StreamingQueryListener {
  private val started = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()
  val sums = new ConcurrentHashMap[String, java.lang.Double]()

  private def add(k: String, v: Double): Unit = sums.merge(k, v, (a, b) => a + b)

  def take(): Map[String, Double] = {
    val m = sums.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    sums.clear(); m
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    started.put(e.runId, java.time.Instant.parse(e.timestamp).toEpochMilli)

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    Option(started.remove(p.runId)).foreach { t0 =>
      add("streaming.start_ms", java.time.Instant.parse(p.timestamp).toEpochMilli
        + p.batchDuration - t0.longValue)
    }
    if (p.durationMs.containsKey("addBatch")) add("streaming.batches", 1)
    Seq("latestOffset" -> "streaming.latest_offset_ms", "addBatch" -> "streaming.add_batch_ms",
      "walCommit" -> "streaming.wal_commit_ms", "commitOffsets" -> "streaming.commit_offsets_ms")
      .foreach { case (k, name) =>
        Option(p.durationMs.get(k)).foreach(v => add(name, v.doubleValue))
      }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    started.remove(e.runId)
}

/** One traced span: a call from the benchmark into a layer, or a Spark job
  * (tied to its op through the job group). All spans of one op share
  * `op`; `parent` is the enclosing span's id (0 = op root).
  */
final case class Span(id: Int, parent: Int, op: String, name: String, startMs: Double, endMs: Double)

object Layers {
  val LayerProp = "perfbench.layer"
  val OpPrefix = "op:"

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** (collections, collection ms) summed over the JVM's collectors (JMX). */
  def gc(): (Long, Long) =
    (gcBeans.map(b => math.max(0L, b.getCollectionCount)).sum,
      gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum)

  /** Heap still in use after a full collection (JMX), in MB. A trivial
    * query first replaces the last op's execution state, so the figure
    * does not depend on which op ran last; two collections with a pause
    * between them let Spark's context cleaner release what the first one
    * found unreachable.
    */
  def retainedHeapMb(spark: SparkSession): Double = {
    spark.range(1).count()
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Tasks whose hash aggregate fell back to sort, read from the final
    * (post-AQE) physical plan of `qe`, subqueries included.
    */
  def aggFallbackTasks(qe: QueryExecution): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    try walk(qe.executedPlan).flatMap(_.metrics.get("numTasksFallBacked")).map(_.value).sum
    catch { case _: Exception => 0L }
  }

  /** Catalyst phase times (ms) recorded by the query's planning tracker. */
  def catalystMs(qe: QueryExecution): Map[String, Double] = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").map { k =>
      s"catalyst.${k}_ms" -> ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    }.toMap
  }
}

/** The traced run's instruments: listeners plus the span buffer. Spans stay
  * in memory and are written out when the run ends.
  */
final class Tracer(spark: SparkSession) {
  val exec = new ExecListener
  val stream = new StreamListener
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var on = false

  def enabled: Boolean = on

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(exec)
    spark.streams.addListener(stream)
    on = true
  }

  def disable(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(exec)
    spark.streams.removeListener(stream)
    on = false
  }

  def drain(): Unit = org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)

  /** Open a span under the current one; returns its id. */
  def open(): Int = { nextId += 1; stack = nextId :: stack; nextId }

  def close(id: Int, op: String, name: String, t0: Double, t1: Double): Unit = {
    stack = stack.dropWhile(_ == id)
    spans += Span(id, stack.headOption.getOrElse(0), op, name, t0, t1)
  }

  /** Job spans of an op, parented under the span of the layer that
    * launched them (job wall clock is epoch ms; spans use the monotonic
    * clock, so the job times are shifted by the clock offset).
    */
  def addJobs(op: String, st: ExecStats, layerSpan: String => Int, offsetMs: Double): Unit =
    st.jobSpans.foreach { case (jobId, layer, s, e) =>
      nextId += 1
      spans += Span(nextId, layerSpan(layer), op, s"spark.job[$layer]", s - offsetMs, e - offsetMs)
    }
}
