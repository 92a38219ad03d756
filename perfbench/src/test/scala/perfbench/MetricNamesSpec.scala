package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The metric names the benchmark reports are the ones its definition
  * (the tables in README.md) and BENCHMARK.json name. */
class MetricNamesSpec extends AnyFunSuite {

  private val definedWorkloadMetrics = Map(
    "bql_interactive" -> Seq("bql_latency_p50_ms", "bql_latency_p95_ms"),
    "pipeline_batch" -> Seq("pipeline_docs_per_s"),
    "stream_ingest" -> Seq("stream_latency_p50_ms", "stream_latency_p90_ms",
      "stream_drain_docs_per_s"))

  private val definedLayerMetrics = Seq(
    "bql.parse_ms", "bql.plan_ms", "bql.statements",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "codegen.compile_ms", "codegen.compiles",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.job_ms", "exec.driver_gap_ms",
    "exec.executor_run_ms", "exec.executor_cpu_ms", "exec.gc_ms", "exec.input_bytes",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.task_failures", "exec.cached_bytes",
    "backends.analyze_ms", "backends.analyze_iterations",
    "engine.scan_ms", "engine.rows_scored", "engine.scan_executor_cpu_ms",
    "streaming.batches", "streaming.rows_per_batch", "streaming.trigger_ms",
    "streaming.add_batch_ms", "streaming.query_planning_ms", "streaming.latest_offset_ms",
    "streaming.get_batch_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.state_commit_ms", "streaming.state_rows", "streaming.state_mem_bytes",
    "streaming.backlog_files_max",
    "setup.session_ms", "setup.register_ms", "setup.fit_ms", "setup.warmup_ms",
    "trace.overhead_pct", "trace.unattributed_pct") ++
    Seq("p01", "p02", "p03", "p09", "p10", "p34", "p37", "p41", "p44", "p76", "p78")
      .flatMap(p => Seq("wall_ms", "rows_out", "executor_cpu_ms").map(m => s"operators.$p.$m"))

  private val benchmark = Main.json.readTree(new File("../BENCHMARK.json"))
  private def names(key: String): Seq[String] =
    benchmark.get(key).elements().asScala.map(_.get("name").asText()).toSeq

  test("every per-layer metric of the definition is reported, and listed in BENCHMARK.json") {
    assert(definedLayerMetrics.toSet.subsetOf(Layers.Names.toSet))
    assert(Layers.Names.distinct == Layers.Names)
    assert(names("per_layer").toSet == Layers.Names.toSet)
  }

  test("the generic end-to-end metrics come from each workload's own metrics") {
    val generic = Set("latency_p50_ms", "throughput_per_s")
    Main.workloads.foreach { case (name, make) =>
      val wl = make()
      val own = definedWorkloadMetrics(name).map(_ -> Metric(1.0, "u", 1)).toMap
      // each workload builds its end-to-end metrics from the metrics the
      // definition names; a renamed metric fails the lookup here
      val e2e = wl.endToEnd(Phase(1, 1L, 1.0, own ++ Map(
        "bql_statements_per_s" -> Metric(1.0, "1/s", 1),
        "pipeline_pass_ms" -> Metric(1.0, "ms", 1))))
      assert(e2e.keySet == generic, name)
    }
    assert(names("end_to_end").toSet == generic ++ Set("setup_s", "mem_live_mb"))
    assert(names("workloads").toSet == Main.workloads.keySet)
  }
}
