package perfbench

/** Per-layer metrics shared by every workload, from the traced steps of
  * a run: scheduler counters per op and self time per layer. */
object Layers {
  /** Every per-layer metric a traced run prints (BENCHMARK.json
    * `per_layer`). A metric whose layer a workload does not exercise is
    * printed as 0. */
  val families = Seq("tpch", "agg", "join", "window_sort_set", "dedup", "ann", "text",
    "pipeline", "multimodal", "stream", "graph", "geo", "zarr_mdio")
  val layerNames = Seq("bench", "operators", "sources", "queries", "spark")
  val names: Seq[(String, String)] = Seq(
    "zarr.decode_mb_s" -> "MB/s", "zarr.encode_mb_s" -> "MB/s",
    "zarr.meta_read_ms" -> "ms", "zarr.shard_read_ms" -> "ms",
    "sources.plan_ms" -> "ms", "sources.tasks_per_op" -> "count",
    "sources.fetched_mb" -> "MB", "sources.fetch_per_returned" -> "ratio",
    "sources.scan_task_s" -> "s", "sources.write_task_s" -> "s",
    "sources.commit_ms" -> "ms", "sources.sidecar_read_ms" -> "ms",
    "operators.open_ms" -> "ms", "operators.slice_build_ms" -> "ms",
    "operators.stats_attach_ms" -> "ms",
    "queries.build_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_only_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.stage_skew" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.peak_exec_mem_mb" -> "MB",
    "trace.overhead_ms" -> "ms") ++
    families.map(f => s"queries.family.${f}_s" -> "s") ++
    layerNames.map(l => s"self.${l}_s" -> "s")

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Median duration (ms) of the traced spans called `name`. */
  def spanMedianMs(ctx: Ctx, name: String): Double = {
    val xs = ctx.tracer.spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** Duration (ms) of the span called `name`, by op id. */
  def spanMsByOp(ctx: Ctx, name: String): Map[Int, Double] =
    ctx.tracer.spans.filter(_.name == name).map(s => s.op -> (s.endNs - s.startNs) / 1e6).toMap

  /** Scheduler metrics as means per traced op, and self time per layer
    * per traced op. */
  def common(ctx: Ctx): Map[String, M] = {
    val ops = ctx.ops.filter(o => o.traced && o.ok).toSeq
    def per(f: Op => Double) = mean(ops.map(f))
    val skews = ops.filter(_.counts.tasks > 0).map(_.counts.stageSkew)
    val self = ctx.tracer.selfSecondsByLayer
    Map(
      "spark.jobs" -> M(per(_.counts.jobs), "count"),
      "spark.stages" -> M(per(_.counts.stages), "count"),
      "spark.tasks" -> M(per(_.counts.tasks), "count"),
      "spark.driver_only_s" -> M(per(o => o.counts.driverOnlyMs(o.t0Ms, o.t1Ms) / 1000.0), "s"),
      "spark.executor_run_s" -> M(per(_.counts.executorRunMs / 1000.0), "s"),
      "spark.executor_cpu_s" -> M(per(_.counts.executorCpuNs / 1e9), "s"),
      "spark.gc_s" -> M(per(_.counts.gcMs / 1000.0), "s"),
      "spark.stage_skew" -> M(if (skews.isEmpty) 0.0 else Stats.median(skews), "ratio"),
      "spark.shuffle_write_mb" -> M(per(_.counts.shuffleWriteBytes / 1e6), "MB"),
      "spark.shuffle_read_mb" -> M(per(_.counts.shuffleReadBytes / 1e6), "MB"),
      "spark.spill_mb" -> M(per(_.counts.spillBytes / 1e6), "MB"),
      "spark.peak_exec_mem_mb" -> M(if (ops.isEmpty) 0.0 else ops.map(_.counts.peakExecMem / 1e6).max, "MB")) ++
      layerNames.map(l => s"self.${l}_s" -> M(self.getOrElse(l, 0.0) / math.max(1, ops.size), "s"))
  }

  /** The workload's layer metrics, with every name present. */
  def complete(ms: Map[String, M]): Map[String, M] =
    names.map { case (n, u) => n -> ms.getOrElse(n, M(0.0, u)) }.toMap
}
