package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution

/** What an op hands back: rows consumed, the order-independent digest of
  * its full result (empty when the op checks itself), and the executed
  * query when there is one.
  */
final case class Result(rows: Long, digest: String, qe: Option[QueryExecution] = None)

/** One measured op. `layers` holds the per-layer figures of a traced op. */
final case class OpRec(pass: Int, seq: Int, name: String, kind: String, ms: Double,
                       ok: Boolean, err: String, rows: Long, traced: Boolean,
                       layers: Map[String, Double])

object Digest {
  /** Canonical text of a value: stable across runs, independent of object
    * identity (binary as hex, nested values recursively).
    */
  def canon(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => canonRow(r)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "→" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  /** A row as `name=value` pairs in column-name order. */
  def canonRow(r: Row): String =
    if (r.schema == null) r.toSeq.map(canon).mkString("(", ",", ")")
    else r.schema.fieldNames.zipWithIndex.sortBy(_._1)
      .map { case (n, i) => n + "=" + canon(r.get(i)) }.mkString("(", ",", ")")

  /** Order-independent multiset digest: row count plus the sum of two
    * 32-bit hashes of every row's canonical text.
    */
  def ofCanon(rows: Iterator[String]): String = {
    var n = 0L; var a = 0L; var b = 0L
    rows.foreach { s =>
      n += 1
      a += MurmurHash3.stringHash(s, 0x5eed) & 0xffffffffL
      b += MurmurHash3.stringHash(s, 0xbeef) & 0xffffffffL
    }
    f"$n:$a%x:$b%x"
  }

  def ofRows(rows: Array[Row]): String = ofCanon(rows.iterator.map(canonRow))
}

/** Per-op context handed to an op's body. Every call the body makes into
  * an engine layer goes through [[layer]], which times it from outside
  * and, in a traced op, records a span and tags the Spark jobs the call
  * launches with the layer's name.
  */
final class Ctx(val spark: SparkSession, val op: String, tracer: Option[Tracer]) {
  def traced: Boolean = tracer.isDefined
  val layerMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val layerCalls = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val extra = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private[perfbench] val layerSpanIds = mutable.Map.empty[String, Int]

  def layer[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Layers.LayerProp)
    val id = tracer.map(_.open()).getOrElse(0)
    if (tracer.isDefined) sc.setLocalProperty(Layers.LayerProp, name)
    val t0 = Util.nowMs()
    try body
    finally {
      val t1 = Util.nowMs()
      if (tracer.isDefined) sc.setLocalProperty(Layers.LayerProp, prev)
      layerMs(name) += t1 - t0
      layerCalls(name) += 1
      tracer.foreach { tr =>
        tr.close(id, op, name, t0, t1)
        layerSpanIds.getOrElseUpdate(name, id)
      }
    }
  }

  /** Consume a query's full result (as a dashboard or batch client does)
    * and digest it.
    */
  def collect(df: DataFrame): Result = {
    val rows = layer("exec.action")(df.collect())
    Result(rows.length, Digest.ofRows(rows), Some(df.queryExecution))
  }
}

/** Runs ops: times them, checks results against expected digests, counts
  * what each op leaves behind, and (in traced ops) gathers its per-layer
  * figures.
  */
final class Runner(val spark: SparkSession, expected: Map[String, String],
                   val tracer: Tracer, scratch: File) {
  val recs = mutable.ArrayBuffer.empty[OpRec]
  var pass = 0
  private var seq = 0

  private def scratchEntries: Int = Option(scratch.listFiles()).map(_.length).getOrElse(0)

  /** Run one op. A non-empty result digest must match the expected table;
    * an op that checks itself returns an empty one.
    */
  def op(name: String, kind: String)(body: Ctx => Result): OpRec = {
    seq += 1
    val traced = tracer.enabled
    val opId = s"${Layers.OpPrefix}p$pass-$seq-$name"
    val sc = spark.sparkContext
    if (traced) {
      sc.setJobGroup(opId, name, interruptOnCancel = false)
      tracer.exec.current = opId
    }
    val ctx = new Ctx(spark, opId, if (traced) Some(tracer) else None)
    val rdds0 = sc.getPersistentRDDs.size
    val scratch0 = scratchEntries
    val (gcN0, gcMs0) = Layers.gc()
    val rootId = if (traced) tracer.open() else 0
    val t0 = Util.nowMs()
    val clockOffset = System.currentTimeMillis() - t0
    var err = ""
    val res = try Some(body(ctx)) catch {
      case e: Throwable =>
        err = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
        None
    }
    val t1 = Util.nowMs()
    if (traced) tracer.close(rootId, opId, s"op $name", t0, t1)
    // hygiene, measured from outside after every op (not part of op time)
    ctx.layer("opcache.clear")(graft.operators.OpCache.clear())
    if (traced) sc.clearJobGroup()
    val rddsLeft = sc.getPersistentRDDs.size - rdds0
    val streamsLeft = spark.streams.active.length
    val scratchLeft = scratchEntries - scratch0
    val ok = res.exists { r =>
      if (r.digest.isEmpty) true
      else expected.get(name) match {
        case Some(d) if d == r.digest => true
        case Some(d) => err = s"digest ${r.digest} != expected $d"; false
        case None => err = "no expected digest"; false
      }
    }
    val layers = mutable.Map.empty[String, Double]
    if (traced) {
      tracer.drain()
      tracer.exec.current = null
      val st = tracer.exec.take(opId)
      tracer.addJobs(opId, st, l => ctx.layerSpanIds.getOrElse(l, rootId), clockOffset)
      ctx.layerMs.foreach { case (k, v) => layers(k + "_ms") = v }
      ctx.layerCalls.foreach { case (k, v) => layers(k + "_calls") = v }
      layers ++= ctx.extra
      res.flatMap(_.qe).foreach { qe =>
        layers ++= Layers.catalystMs(qe)
        layers("exec.agg_fallback_tasks") = Layers.aggFallbackTasks(qe).toDouble
      }
      layers("exec.ms") = st.jobWallMs
      layers("exec.jobs") = st.jobs.toDouble
      layers("exec.stages") = st.stages.toDouble
      layers("exec.tasks") = st.tasks.toDouble
      layers("exec.task_run_ms") = st.taskRunMs.toDouble
      layers("exec.scan_bytes") = st.scanBytes.toDouble
      layers("exec.shuffle_write_bytes") = st.shuffleWrite.toDouble
      layers("exec.shuffle_read_bytes") = st.shuffleRead.toDouble
      layers("exec.spill_bytes") = st.spill.toDouble
      layers("exec.result_rows") = res.map(_.rows.toDouble).getOrElse(0.0)
      layers("entry.build_jobs") = st.jobsByLayer("entry.build").toDouble
      tracer.stream.take().foreach { case (k, v) => layers(k) = v }
      val (gcN1, gcMs1) = Layers.gc()
      layers("jvm.gc_count") = (gcN1 - gcN0).toDouble
      layers("jvm.gc_ms") = (gcMs1 - gcMs0).toDouble
      layers("opcache.rdds_left") = rddsLeft.toDouble
      layers("streaming.streams_left_active") = streamsLeft.toDouble
      layers("hygiene.scratch_dirs_left") = scratchLeft.toDouble
    }
    val rec = OpRec(pass, seq, name, kind, t1 - t0, ok, err,
      res.map(_.rows).getOrElse(0L), traced, layers.toMap)
    if (!ok) System.err.println(s"[perfbench] FAILED $name: $err")
    else System.err.println(f"[perfbench] pass $pass%d $name%-32s ${t1 - t0}%9.1f ms")
    recs += rec
    rec
  }
}
