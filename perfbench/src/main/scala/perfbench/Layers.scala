package perfbench

/** The per-layer metrics of a traced phase. Every traced run reports
  * every name below; a layer a workload does not reach reads 0. Times
  * and counts are per operation of the workload (statement, pipeline
  * pass, landed file) unless the name counts the operations themselves
  * (`bql.statements`, `streaming.batches`). */
object Layers {

  /** Stages of `pipeline_batch`, in pass order: (metric prefix, query
    * key of `graft.SparkEntry.queries`). */
  val Stages: Seq[(String, String)] = Seq(
    "p01" -> "p01_dedup_exact", "p02" -> "p02_minhash_lsh", "p03" -> "p03_simhash",
    "p09" -> "p09_quality", "p10" -> "p10_lang_id", "p34" -> "p34_lm_quality",
    "p37" -> "p37_tfidf_terms", "p41" -> "p41_gopher_rules", "p44" -> "p44_bm25",
    "p76" -> "p76_hll_cardinality", "p78" -> "p78_token_bin_export")

  /** Layers that spans are recorded at (self time is reported for each). */
  val SpanLayers: Seq[String] = Seq(
    "bql", "catalyst", "exec", "backends", "engine", "operators", "streaming", "bench")

  val Streaming: Seq[String] = Seq("batches", "rows_per_batch", "trigger_ms",
    "add_batch_ms", "query_planning_ms", "latest_offset_ms", "get_batch_ms",
    "wal_commit_ms", "commit_offsets_ms", "state_commit_ms", "state_rows",
    "state_mem_bytes", "backlog_files_max").map("streaming." + _)

  val Names: Seq[String] =
    Seq("bql.parse_ms", "bql.plan_ms", "bql.statements",
      "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
      "codegen.compile_ms", "codegen.compiles") ++
    Seq("jobs", "stages", "tasks", "job_ms", "driver_gap_ms", "executor_run_ms",
      "executor_cpu_ms", "gc_ms", "input_bytes", "shuffle_read_bytes",
      "shuffle_write_bytes", "spill_bytes", "task_failures", "cached_bytes")
      .map("exec." + _) ++
    Seq("backends.analyze_ms", "backends.analyze_iterations",
      "engine.scan_ms", "engine.rows_scored", "engine.scan_executor_cpu_ms") ++
    Stages.flatMap { case (p, _) =>
      Seq(s"operators.$p.wall_ms", s"operators.$p.rows_out", s"operators.$p.executor_cpu_ms") } ++
    Streaming ++
    Seq("setup.session_ms", "setup.register_ms", "setup.fit_ms", "setup.warmup_ms") ++
    SpanLayers.map(l => s"$l.self_ms") ++
    Seq("trace.overhead_pct", "trace.unattributed_pct")

  private val CatalystPhases = Map(
    "analysis" -> "catalyst.analysis", "optimization" -> "catalyst.optimization",
    "planning" -> "catalyst.planning")

  /** Catalyst phases arrive through the listener in epoch ms; places
    * them under the spans they ran in. */
  def attachCatalyst(t: Tracer, ls: Listeners): Unit =
    t.attach(ls.catalyst.all.collect { case (ph, s, e) if CatalystPhases.contains(ph) =>
      (CatalystPhases(ph), "catalyst", t.epochMsToNs(s), t.epochMsToNs(e)) })

  /** Per-layer values of a traced phase `p`, except the setup and trace
    * overhead entries, which need the whole run. */
  def perLayer(ctx: Ctx, ls: Listeners, p: Phase, wl: Workload): Map[String, Double] = {
    val t = ctx.tracer
    attachCatalyst(t, ls)
    val spans = t.all
    val ops = math.max(p.ops, 1).toDouble
    def ms(ns: Double) = ns / 1e6
    def spanMs(name: String) = ms(spans.filter(_.name == name).map(_.dur).sum) / ops
    val tags = ctx.tagKinds.synchronized(ctx.tagKinds.toMap)
    def execFor(pred: String => Boolean) = ls.exec.forOps(tags.collect { case (k, v) if pred(v) => k })
    val all = ls.exec.forOps(tags.keys ++ Seq(0L))
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Names.foreach(out(_) = 0.0)
    out("bql.parse_ms") = spanMs("bql.parse")
    out("bql.plan_ms") = spanMs("bql.plan")
    out("bql.statements") = spans.count(_.name == "bql.parse").toDouble
    CatalystPhases.foreach { case (ph, name) =>
      out(s"${name}_ms") = ms(Stats.unionLength(spans.filter(_.name == name)
        .map(s => (s.start, s.end)))) / ops }
    out("exec.jobs") = all.jobs / ops
    out("exec.stages") = all.stages / ops
    out("exec.tasks") = all.tasks / ops
    out("exec.job_ms") = ms(all.jobNs) / ops
    out("exec.driver_gap_ms") = math.max(0.0, ms(p.wallNs) - ms(all.jobNs)) / ops
    out("exec.executor_run_ms") = all.executorRunMs / ops
    out("exec.executor_cpu_ms") = ms(all.executorCpuNs) / ops
    out("exec.gc_ms") = all.gcMs / ops
    out("exec.input_bytes") = all.inputBytes / ops
    out("exec.shuffle_read_bytes") = all.shuffleReadBytes / ops
    out("exec.shuffle_write_bytes") = all.shuffleWriteBytes / ops
    out("exec.spill_bytes") = all.spillBytes / ops
    out("exec.task_failures") = all.taskFailures.toDouble
    out("exec.cached_bytes") = ls.cachedBytes().toDouble
    out("engine.scan_executor_cpu_ms") = ms(execFor(_ == "scan").executorCpuNs) / ops
    Stages.foreach { case (pfx, _) =>
      out(s"operators.$pfx.executor_cpu_ms") = ms(execFor(_ == s"stage:$pfx").executorCpuNs) / ops }
    val self = Trace.selfByLayer(spans)
    SpanLayers.foreach(l => out(s"$l.self_ms") = ms(self.getOrElse(l, 0L).toDouble) / ops)
    out("trace.unattributed_pct") = Trace.unattributedPct(spans, p.wallNs, wl.backToBack)
    // workload-specific values (backends, engine, operators, streaming)
    // are measured by the workload itself
    p.layer.foreach { case (k, v) =>
      require(out.contains(k), s"undeclared per-layer metric $k")
      out(k) = v
    }
    out.toMap
  }
}
