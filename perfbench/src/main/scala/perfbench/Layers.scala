package perfbench

/** The per-layer metrics of a traced run, by name and unit. Every traced
  * run reports all of them; a layer the workload never calls reads 0. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    // engine: graft.FuseRankEngine
    "engine.index_call_s" -> "s",
    "engine.materialize_s" -> "s",
    "engine.index_mb" -> "MB",
    "engine.search_call_s" -> "s",
    "engine.search_collect_s" -> "s",
    "engine.search_batch_s" -> "s",
    // encode: graft.encode
    "encode.fuse_text_s" -> "s",
    "encode.product_s" -> "s",
    // profile: graft.profile.Profiler
    "profile.s" -> "s",
    // query: graft.query.QueryEncoder (and the embedder it is fed from)
    "query.embed_us" -> "us",
    "query.encode_us" -> "us",
    // search: graft.search.Search
    "search.fused_topk_s" -> "s",
    "search.multitopk_s" -> "s",
    "search.multitopk_tasks" -> "count",
    "search.multitopk_task_skew" -> "ratio",
    "search.rows_scored_per_query" -> "count",
    // rerank: graft.rerank.Rerank
    "rerank.collect_s" -> "s",
    // serve: graft.serve.IvfIndex
    "serve.write_s" -> "s",
    "serve.cells_probed" -> "count",
    "serve.files_read_per_batch" -> "count",
    "serve.bytes_read_per_batch" -> "bytes",
    "serve.probe_batch_s" -> "s",
    "serve.recall_at_10" -> "fraction",
    // pipeline: graft.queries.Pipeline with graft.dedup
    "pipeline.build_state_s" -> "s",
    "pipeline.screen_s" -> "s",
    "pipeline.accepted_share" -> "fraction",
    // incremental: graft.incremental.IncrementalState
    "incremental.advance_s" -> "s",
    "incremental.compact_s" -> "s",
    "incremental.state_files" -> "count",
    "incremental.bytes_written_per_batch" -> "bytes",
    // spark: the engine underneath, seen through the listener; "per op"
    // is per foreground call of the workload (search, batch or cycle)
    "spark.catalyst_s" -> "s",
    "spark.jobs_per_query" -> "count",
    "spark.jobs_per_batch" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.cores_busy" -> "fraction",
    "spark.task_skew" -> "ratio",
    "spark.task_cpu_s" -> "s",
    "spark.shuffle_write_mb" -> "MB",
    "spark.gc_s" -> "s",
    "spark.spill_mb" -> "MB",
    "spark.input_mb" -> "MB",
    // self time per layer over the traced half of the window
    "self.engine_s" -> "s",
    "self.query_s" -> "s",
    "self.search_s" -> "s",
    "self.rerank_s" -> "s",
    "self.serve_s" -> "s",
    "self.pipeline_s" -> "s",
    "self.incremental_s" -> "s",
    "self.bench_s" -> "s",
    // traced minus untraced median latency of the foreground call
    "trace.overhead_s" -> "s")

  private val unitOf = units.toMap

  def report(values: Map[String, Double]): Map[String, Metric] = {
    val unknown = values.keySet -- unitOf.keySet
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    units.map { case (n, u) => n -> Metric(values.getOrElse(n, 0.0), u) }.toMap
  }

  /** Listener counters of the spans under `root`, per foreground call. */
  def sparkPerOp(r: Run, root: String, ops: Int, wallSecs: Double): Map[String, Double] = {
    val a = r.tracer.spark(r.tracer.subtree(root))
    val n = math.max(ops, 1).toDouble
    Map(
      "spark.tasks_per_op" -> a.tasks / n,
      "spark.cores_busy" -> a.coresBusy(wallSecs, r.cores),
      "spark.task_skew" -> a.skew,
      "spark.task_cpu_s" -> a.cpuNs / 1e9 / n,
      "spark.shuffle_write_mb" -> a.shuffleWriteBytes / 1e6 / n,
      "spark.gc_s" -> a.gcMs / 1e3 / n,
      "spark.spill_mb" -> a.spillBytes / 1e6 / n,
      "spark.input_mb" -> a.inputBytes / 1e6 / n)
  }

  /** Self time of each traced layer, as `self.<layer>_s`. */
  def selfTimes(r: Run): Map[String, Double] =
    r.tracer.selfSecs.collect { case (layer, s) if unitOf.contains(s"self.${layer}_s") =>
      s"self.${layer}_s" -> s
    }
}
