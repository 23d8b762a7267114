package graft.perfbench

/** Turns a measured window into the reported metrics: the end-to-end set
  * of an untraced run and the per-layer set of a traced one. Every
  * per-layer metric is reported on every workload; a layer the workload
  * does not run reads 0. */
object Layers {
  val TrainedArtifacts = Seq("shingle_index", "ivf_centroids",
    "ivf_assignments", "pq_codes")

  private val MB = 1024.0 * 1024.0

  /** One traced op's counters: task totals over the whole op, jobs and
    * Catalyst phases of its execution window, and that window's job wall
    * time. */
  def opLayers(all: Map[String, Double], exec: Map[String, Double],
      jobWallMs: Double): Map[String, Double] = {
    def a(k: String) = all.getOrElse(k, 0.0)
    def e(k: String) = exec.getOrElse(k, 0.0)
    Map("jobs" -> e("jobs"), "tasks" -> a("tasks"), "task_cpu_ms" -> a("task_cpu_ms"),
      "task_gc_ms" -> a("task_gc_ms"), "input_bytes" -> a("input_bytes"),
      "shuffle_write_bytes" -> a("shuffle_write_bytes"),
      "fetch_wait_ms" -> a("fetch_wait_ms"), "spill_bytes" -> a("spill_bytes"),
      "exec_run_ms" -> e("task_run_ms"), "wall_ms" -> jobWallMs,
      "analysis_ms" -> e("phase.analysis"), "optimization_ms" -> e("phase.optimization"),
      "planning_ms" -> e("phase.planning"))
  }

  private def timed(o: Outcome) = o.samples.filter(_.kind != "failed")

  def endToEnd(o: Outcome, setupS: Double): Map[String, (Double, String)] = {
    val lat = timed(o).map(_.ms)
    Map(
      "latency_p50_ms" -> (Stats.quantile(lat, 0.5), "ms"),
      "latency_p90_ms" -> (Stats.quantile(lat, 0.9), "ms"),
      "throughput_ops_s" -> (lat.size / o.windowS, "1/s"),
      "cpu_ms_per_op" -> (o.cpuMs / lat.size.max(1), "ms"),
      "rss_peak_mb" -> (Jvm.rssPeakMb, "MB"),
      "setup_s" -> (setupS, "s"))
  }

  def perLayer(o: Outcome, cores: Int): Map[String, (Double, String)] = {
    val traced = timed(o).filter(_.traced)
    val untraced = timed(o).filterNot(_.traced)
    val queries = traced.filter(_.kind == "query")
    def mean(xs: Seq[Sample], k: String) = Stats.mean(xs.map(_.layers.getOrElse(k, 0.0)))
    def sum(k: String) = traced.map(_.layers.getOrElse(k, 0.0)).sum
    val wall = sum("wall_ms")
    val idle = if (wall > 0) 1.0 - sum("exec_run_ms") / (wall * cores) else 0.0
    val unexplained = Stats.mean(queries.map(s => s.ms - Seq("build_ms",
      "optimization_ms", "planning_ms", "wall_ms").map(s.layers.getOrElse(_, 0.0)).sum))
    val p50 = Stats.quantile(traced.map(_.ms), 0.5)
    val p50Untraced = Stats.quantile(untraced.map(_.ms), 0.5)
    val extra = Seq(
      "sources.append_ms" -> "ms", "sources.slices" -> "count",
      "sources.compact_ms" -> "ms", "sources.write_amp" -> "ratio",
      "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
      "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
      "streaming.state_rows" -> "count", "streaming.state_mem_mb" -> "MB",
      "streaming.state_commit_ms" -> "ms", "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms")
      .map { case (k, unit) => k -> (o.extra.getOrElse(k, 0.0), unit) }
    Map(
      "queries.build_ms" -> (mean(queries, "build_ms"), "ms"),
      "queries.eager_jobs" -> (mean(queries, "eager_jobs"), "count"),
      "catalyst.analysis_ms" -> (mean(traced, "analysis_ms"), "ms"),
      "catalyst.optimization_ms" -> (mean(traced, "optimization_ms"), "ms"),
      "catalyst.planning_ms" -> (mean(traced, "planning_ms"), "ms"),
      "exec.jobs" -> (mean(traced, "jobs"), "count"),
      "exec.tasks" -> (mean(traced, "tasks"), "count"),
      "exec.wall_ms" -> (mean(traced, "wall_ms"), "ms"),
      "exec.idle_frac" -> (idle, "ratio"),
      "exec.task_cpu_ms" -> (mean(traced, "task_cpu_ms"), "ms"),
      "exec.gc_ms" -> (mean(traced, "task_gc_ms"), "ms"),
      "exec.input_mb" -> (mean(traced, "input_bytes") / MB, "MB"),
      "exec.shuffle_write_mb" -> (mean(traced, "shuffle_write_bytes") / MB, "MB"),
      "exec.shuffle_fetch_wait_ms" -> (mean(traced, "fetch_wait_ms"), "ms"),
      "exec.spill_mb" -> (mean(traced, "spill_bytes") / MB, "MB"),
      "render.svg_ms" -> (Stats.mean(traced.filter(_.kind == "render").map(_.ms)), "ms"),
      "trace.unexplained_ms" -> (unexplained, "ms"),
      "trace.traced_p50_ms" -> (p50, "ms"),
      "trace.untraced_p50_ms" -> (p50Untraced, "ms"),
      "trace.overhead_frac" -> (if (p50Untraced > 0) p50 / p50Untraced - 1 else 0.0, "ratio"),
      "trace.ops" -> (traced.size.toDouble, "count")) ++ extra
  }
}
