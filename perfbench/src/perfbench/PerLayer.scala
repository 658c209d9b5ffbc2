package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

/** The traced run's per-layer figures. Unless a name says otherwise
  * (`_ratio`, `_pct`, `pipelines.store_bytes`), each is a total per
  * traced pass: summed over the traced ops, divided by the number of
  * traced passes.
  */
object PerLayer {

  /** (metric, unit, source key in the per-op layer maps) */
  val PerPass: Seq[(String, String, String)] = Seq(
    ("tables.register_ms", "ms", "tables.register_ms"),
    ("tables.register_calls", "count", "tables.register_calls"),
    ("entry.build_ms", "ms", "entry.build_ms"),
    ("entry.build_jobs", "count", "entry.build_jobs"),
    ("catalyst.analysis_ms", "ms", "catalyst.analysis_ms"),
    ("catalyst.optimization_ms", "ms", "catalyst.optimization_ms"),
    ("catalyst.planning_ms", "ms", "catalyst.planning_ms"),
    ("exec.ms", "ms", "exec.ms"),
    ("exec.jobs", "count", "exec.jobs"),
    ("exec.stages", "count", "exec.stages"),
    ("exec.tasks", "count", "exec.tasks"),
    ("exec.task_run_ms", "ms", "exec.task_run_ms"),
    ("exec.scan_bytes", "bytes", "exec.scan_bytes"),
    ("exec.shuffle_write_bytes", "bytes", "exec.shuffle_write_bytes"),
    ("exec.shuffle_read_bytes", "bytes", "exec.shuffle_read_bytes"),
    ("exec.spill_bytes", "bytes", "exec.spill_bytes"),
    ("exec.agg_fallback_tasks", "count", "exec.agg_fallback_tasks"),
    ("exec.result_rows", "count", "exec.result_rows"),
    ("opcache.clear_ms", "ms", "opcache.clear_ms"),
    ("opcache.rdds_left", "count", "opcache.rdds_left"),
    ("pipelines.ingest_daily_ms", "ms", "pipelines.ingest_daily_ms"),
    ("pipelines.upsert_dim_ms", "ms", "pipelines.upsert_dim_ms"),
    ("pipelines.fold_ms", "ms", "pipelines.fold_ms"),
    ("pipelines.compact_ms", "ms", "pipelines.compact_ms"),
    ("pipelines.recover_ms", "ms", "pipelines.recover_ms"),
    ("pipelines.bytes_written", "bytes", "pipelines.bytes_written"),
    ("pipelines.files_written", "count", "pipelines.files_written"),
    ("streaming.start_ms", "ms", "streaming.start_ms"),
    ("streaming.latest_offset_ms", "ms", "streaming.latest_offset_ms"),
    ("streaming.add_batch_ms", "ms", "streaming.add_batch_ms"),
    ("streaming.wal_commit_ms", "ms", "streaming.wal_commit_ms"),
    ("streaming.commit_offsets_ms", "ms", "streaming.commit_offsets_ms"),
    ("streaming.batches", "count", "streaming.batches"),
    ("streaming.streams_left_active", "count", "streaming.streams_left_active"),
    ("api.read_ms", "ms", "api.read_ms"),
    ("jvm.gc_ms", "ms", "jvm.gc_ms"),
    ("jvm.gc_count", "count", "jvm.gc_count"),
    ("hygiene.scratch_dirs_left", "count", "hygiene.scratch_dirs_left"))

  /** Workload extras: per pass, except the two store figures. */
  val Extras: Seq[(String, String)] = Seq(
    "corpus.dedup_ms" -> "ms", "corpus.text_ms" -> "ms", "corpus.sim_ms" -> "ms",
    "corpus.cc_jobs" -> "count",
    "corpus.cc_shuffle_bytes" -> "bytes",
    "pipelines.redelivery_noop_ratio" -> "ratio", "pipelines.store_bytes" -> "bytes")

  private val NotPerPass = Set("pipelines.redelivery_noop_ratio", "pipelines.store_bytes")

  private def sum(ops: Seq[OpRec], k: String) = ops.map(_.layers.getOrElse(k, 0.0)).sum

  /** Share of op time spent in Spark jobs vs. everywhere else. */
  private def jobWall(ops: Seq[OpRec]) = sum(ops, "exec.ms")

  def metrics(traced: Seq[OpRec], passes: Int, untraced: Seq[OpRec],
              wl: Workload): Seq[(String, Double, String)] = {
    val n = math.max(1, passes).toDouble
    val serving = traced.filter(wl.isServing)
    val opMs = serving.map(_.ms).sum
    val perPass = PerPass.map { case (name, unit, key) => (name, sum(serving, key) / n, unit) }
    val extras = wl.layerExtras(serving)
    val ex = Extras.map { case (name, unit) =>
      val v = extras.getOrElse(name, 0.0)
      (name, if (NotPerPass(name)) v else v / n, unit)
    }
    val polls = serving.filter(_.name == "stock_poll")
    val commits = serving.filter(_.kind == "commit")
    val storeLayers = Seq("pipelines.ingest_daily_ms", "pipelines.upsert_dim_ms", "pipelines.fold_ms",
      "pipelines.compact_ms", "streaming.query_start_ms", "streaming.await_ms")
    val ratios = Seq(
      ("streaming.poll_ms", polls.map(_.ms).sum / n, "ms"),
      ("exec.core_busy_ratio", if (opMs > 0) sum(serving, "exec.task_run_ms") / (opMs * Main.Cores) else 0.0, "ratio"),
      ("share.outside_jobs_pct", if (opMs > 0) 100.0 * (opMs - jobWall(serving)) / opMs else 0.0, "%"),
      ("share.store_layers_pct", {
        val c = commits.map(_.ms).sum
        if (c > 0) 100.0 * storeLayers.map(sum(commits, _)).sum / c else 0.0
      }, "%"),
      ("trace.overhead_pct", overheadPct(serving, untraced), "%"))
    perPass ++ ex ++ ratios
  }

  /** Tracing overhead: per op position, the best traced time vs. the best
    * untraced time in the same process, summed over the positions both
    * sides ran.
    */
  def overheadPct(traced: Seq[OpRec], untraced: Seq[OpRec]): Double = {
    val t = Util.perOpBest(traced).map(f => f.key -> f.ms).toMap
    val u = Util.perOpBest(untraced).map(f => f.key -> f.ms).toMap
    val common = t.keySet.intersect(u.keySet).toSeq
    val ut = common.map(u).sum
    if (ut > 0) 100.0 * (common.map(t).sum / ut - 1) else 0.0
  }

  /** Self time of every span: its duration minus the time its child spans
    * cover (children clipped to the parent).
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.filter(_.parent != 0).groupBy(s => (s.op, s.parent))
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = kids.getOrElse((s.op, s.id), Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0; var end = Double.MinValue
        iv.foreach { case (a, b) =>
          if (a > end) { covered += b - a; end = b }
          else if (b > end) { covered += b - end; end = b }
        }
        (s.endMs - s.startMs) - covered
      }.sum
    }
  }

  /** Spans, self times and per-op counts of a traced run, written to --out. */
  def writeTrace(a: Main.Args, tracer: Tracer, traced: Seq[OpRec]): Unit = {
    def write(name: String, v: Any): Unit = {
      val w = new PrintWriter(new File(a.out, name), "UTF-8")
      try w.println(Util.json(v)) finally w.close()
    }
    val spans = tracer.spans.toSeq
    val opOf = spans.filter(_.name.startsWith("op ")).map(s => s.op -> s.name.drop(3)).toMap
    write(s"trace-${a.workload}-${a.seed}.json", Map(
      "spans" -> spans.map(s => Seq(s.id, s.parent, s.op, s.name, s.startMs, s.endMs)),
      "span_fields" -> Seq("id", "parent", "op", "name", "start_ms", "end_ms"),
      "self_ms_by_name" -> selfTimes(spans),
      "ops" -> opOf.size))
    val countKeys = Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_bytes",
      "exec.shuffle_read_bytes", "exec.agg_fallback_tasks", "exec.result_rows",
      "pipelines.bytes_written", "pipelines.files_written", "opcache.rdds_left")
    val perOp = traced.map { o =>
      mutable.LinkedHashMap[String, Any]("pass" -> o.pass, "seq" -> o.seq, "name" -> o.name) ++
        countKeys.map(k => k -> o.layers.getOrElse(k, 0.0))
    }
    val totals = countKeys.map(k => k -> traced.map(_.layers.getOrElse(k, 0.0)).sum).toMap
    write(s"counts-${a.workload}-${a.seed}.json", Map("ops" -> perOp, "totals" -> totals))
  }
}
