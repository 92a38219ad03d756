package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** A measured value with its unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, samples: Int)

final case class Config(workload: String, seed: Long, seconds: Double,
    trace: Boolean, inputs: String, work: String, digests: String,
    record: String, writeDigests: Boolean)

/** Operations attempted and failed, with the reason of every failure. */
final class Record {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def failed: Long = failures.size.toLong
}

/** What one timed phase of a workload measured. `ops` counts the
  * phase's operations (statement, pipeline pass, landed file), the
  * unit per-layer values are normalized by. */
final case class Phase(ops: Int, wallNs: Long, primary: Double,
    metrics: Map[String, Metric], layer: Map[String, Double] = Map.empty)

/** Shared state of one workload run. */
final class Ctx(val cfg: Config, val rec: Record) {
  var spark: SparkSession = _
  var tracer: Tracer = new Tracer(false)
  var listeners: Option[Listeners] = None
  /** Spark job tag -> the kind of unit that submitted it. */
  val tagKinds = mutable.Map.empty[Long, String]

  private val expected: Map[String, String] = readDigests()
  val digestsSeen = mutable.LinkedHashMap.empty[String, String]

  def isDefaultSeed: Boolean = cfg.seed == Main.DefaultSeed

  /** Runs `body` with its Spark jobs tagged as `kind` when a traced phase
    * is listening. */
  def unit[A](kind: String)(body: => A): A = listeners match {
    case None => body
    case Some(l) =>
      val tag = tracer.newId()
      tagKinds.synchronized(tagKinds(tag) = kind)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(l.exec.OpKey)
      sc.setLocalProperty(l.exec.OpKey, tag.toString)
      try body finally sc.setLocalProperty(l.exec.OpKey, prev)
  }

  /** Materializes `df` (see [[Spark.materialize]]). In a traced phase it
    * also hands `df`'s own planning phases to the Catalyst listener:
    * Spark analyzes a DataFrame when it is made, inside the call that
    * returned it, but the write executes a wrapper plan, so the listener
    * alone never sees that analysis. */
  def materialize(df: DataFrame): Observation = {
    val obs = Spark.materialize(df)
    listeners.foreach(_.catalyst.record(df.queryExecution))
    obs
  }

  /** Counts one operation; a throw or a failed check marks it failed and
    * records why. Returns false on failure. */
  def attempt(label: String)(body: => Unit): Boolean = {
    rec.attempted += 1
    try { body; true }
    catch { case e: Throwable =>
      rec.failures += s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      false
    }
  }

  /** Checks the schema and, when `nonempty`, a non-zero row count. */
  def checkShape(label: String, df: DataFrame, columns: Option[Seq[String]],
      rows: Long, nonempty: Boolean): Unit = {
    columns.foreach { c =>
      if (df.columns.toSeq != c)
        throw new IllegalStateException(
          s"$label: columns ${df.columns.mkString(",")} != ${c.mkString(",")}")
    }
    if (nonempty && rows <= 0)
      throw new IllegalStateException(s"$label: no rows")
  }

  /** On the default seed, checks `df`'s order-insensitive digest against
    * the digest file kept with the benchmark (or records it when the
    * file is being written). */
  def checkDigest(key: String, df: => DataFrame): Unit = if (isDefaultSeed) {
    val got = graft.BenchDigest.of(df)
    digestsSeen(key) = got
    if (!cfg.writeDigests) expected.get(key) match {
      case Some(want) if want == got => ()
      case Some(want) => throw new IllegalStateException(s"digest of $key: $got != $want")
      case None => throw new IllegalStateException(s"no digest on file for $key")
    }
  }

  private def digestFile = new File(cfg.digests, s"${cfg.workload}.json")

  private def readDigests(): Map[String, String] =
    if (!digestFile.exists()) Map.empty
    else {
      val node = Main.json.readTree(digestFile)
      val it = node.get("digests").fields()
      val out = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); out += e.getKey -> e.getValue.asText() }
      out.result()
    }

  def writeDigests(): Unit = {
    digestFile.getParentFile.mkdirs()
    Main.json.writerWithDefaultPrettyPrinter().writeValue(digestFile,
      Map("seed" -> cfg.seed, "digests" -> digestsSeen.toSeq.sortBy(_._1).toMap))
  }

  def timed[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = body
    (a, System.nanoTime() - t0)
  }
}

/** One workload: its set-up, warm-up and timed phase. */
trait Workload {
  /** Generator threads this workload runs beside Spark. */
  def generatorThreads: Int = 0
  /** Whether the primary metric (the one trace overhead is taken on) is
    * better when lower. */
  def primaryLowerIsBetter: Boolean
  /** Operations run back to back (gaps between them count as
    * unattributed time) rather than overlapping. */
  def backToBack: Boolean = true
  /** Stages the benchmark's own inputs; not part of set-up time. */
  def prepare(ctx: Ctx): Unit = ()
  /** One set-up repetition on a fresh session; returns sub-phase times
    * (register, fit) in ms. */
  def setup(ctx: Ctx, rep: Int): Map[String, Double]
  /** Releases what a set-up repetition holds before its session stops. */
  def release(ctx: Ctx): Unit = ()
  def warmup(ctx: Ctx): Unit
  def run(ctx: Ctx, seconds: Double): Phase
  /** Untimed, after the timed phase, on the default seed only: checks
    * result digests on the inputs the timed phase ran on. */
  def verify(ctx: Ctx): Unit
  /** Generic end-to-end metrics from this workload's own metrics. */
  def endToEnd(p: Phase): Map[String, Metric]
}

object Main {
  val DefaultSeed = 1L
  val SetupReps = 3
  val MaxCores = 3
  val MemReadings = 5

  /** Units of the end-to-end metrics every workload reports; the items a
    * throughput counts differ per workload (statements, rows, docs). */
  val EndToEndUnits = Map("latency_p50_ms" -> "ms", "throughput_per_s" -> "1/s")

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  val workloads: Map[String, () => Workload] = Map(
    "bql_interactive" -> (() => new BqlInteractive),
    "pipeline_batch" -> (() => new PipelineBatch),
    "stream_ingest" -> (() => new StreamIngest))

  def parse(args: Array[String]): Config = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("inputs"), req("work"), req("digests"), req("record"),
      kv.get("write-digests").contains("1"))
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val wl = workloads.getOrElse(cfg.workload,
      throw new IllegalArgumentException(s"unknown workload ${cfg.workload}"))()
    val rec = new Record
    val ctx = new Ctx(cfg, rec)
    val nproc = Runtime.getRuntime.availableProcessors()
    // one core stays free for the driver thread, the JIT and the GC, so
    // their work does not queue behind the task threads; N is capped so
    // that partitioning, and with it every result digest, is the same on
    // any box with at least MaxCores + 1 cores
    val cores = math.max(1, math.min(MaxCores, nproc - 1) - wl.generatorThreads)
    Files.createDirectories(Paths.get(cfg.work))

    wl.prepare(ctx)
    // set-up, repeated on fresh sessions; the median is reported
    val setups = (1 to SetupReps).map { rep =>
      val (spark, sessionNs) = ctx.timed(Spark.session(cores, cfg.work))
      ctx.spark = spark
      val (parts, fixtureNs) = ctx.timed(wl.setup(ctx, rep))
      if (rep < SetupReps) { wl.release(ctx); spark.stop() }
      parts ++ Map("session" -> sessionNs / 1e6, "total" -> (sessionNs + fixtureNs) / 1e6)
    }
    val (_, warmNs) = ctx.timed(wl.warmup(ctx))
    val timedStart = System.nanoTime()

    val e2e = mutable.LinkedHashMap.empty[String, Metric]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    var workloadMetrics: Map[String, Metric] = Map.empty
    if (!cfg.trace) {
      val p = wl.run(ctx, cfg.seconds)
      workloadMetrics = p.metrics
      e2e ++= wl.endToEnd(p).map { case (k, m) => k -> m.copy(unit = EndToEndUnits(k)) }
    } else {
      // untraced quarter, traced half, untraced quarter: drift that is
      // linear in time (the JIT still warming) cancels out of the
      // traced-versus-untraced comparison
      val before = wl.run(ctx, cfg.seconds / 4)
      ctx.tracer = new Tracer(true)
      val ls = new Listeners(ctx.spark)
      ctx.listeners = Some(ls)
      val (compiles0, compileNs0) = Codegen.snapshot()
      val p = wl.run(ctx, cfg.seconds / 2)
      val (compiles1, compileNs1) = Codegen.snapshot()
      ls.drain()
      workloadMetrics = p.metrics
      layer ++= Layers.perLayer(ctx, ls, p, wl)
      val ops = math.max(p.ops, 1).toDouble
      layer("codegen.compiles") = (compiles1 - compiles0) / ops
      layer("codegen.compile_ms") = (compileNs1 - compileNs0) / 1e6 / ops
      ctx.listeners = None
      ls.remove()
      val untraced = Tracer.disabled(ctx)(wl.run(ctx, cfg.seconds / 4))
      val base = (before.primary + untraced.primary) / 2
      val ratio = if (wl.primaryLowerIsBetter) p.primary / base else base / p.primary
      layer("trace.overhead_pct") = 100.0 * (ratio - 1.0)
      layer("setup.session_ms") = Stats.median(setups.map(_("session")))
      layer("setup.register_ms") = Stats.median(setups.map(_.getOrElse("register", 0.0)))
      layer("setup.fit_ms") = Stats.median(setups.map(_.getOrElse("fit", 0.0)))
      layer("setup.warmup_ms") = warmNs / 1e6
      val spansFile = new File(cfg.work, "spans.json")
      json.writeValue(spansFile, Trace.toJson(ctx.tracer.all))
    }
    val timedNs = System.nanoTime() - timedStart
    // live heap at the end of the timed phase: the least heap in use
    // after each of several full collections, a pause apart. What one
    // collection finds unreachable can still hold memory through Spark's
    // context cleaner (blocks of dropped frames) until a later one.
    val rt = Runtime.getRuntime
    val heapMb = (1 to MemReadings).map { _ =>
      System.gc()
      // read at once: the streaming query allocates while idle
      val used = (rt.totalMemory() - rt.freeMemory()) / 1048576.0
      Thread.sleep(300)
      used
    }
    val liveMb = heapMb.min
    e2e("setup_s") = Metric(Stats.median(setups.map(_("total"))) / 1000.0, "s", setups.size)
    e2e("mem_live_mb") = Metric(liveMb, "MB", 1)
    val (_, verifyNs) = ctx.timed(if (ctx.isDefaultSeed) Tracer.disabled(ctx)(wl.verify(ctx)))
    if (cfg.writeDigests) ctx.writeDigests()

    val env = envEcho(ctx, nproc, cores)
    ctx.spark.stop()
    val out = Map(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "seconds" -> cfg.seconds,
      "trace" -> cfg.trace, "env" -> env,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "failures" -> rec.failures.toList,
      "end_to_end" -> metricMap(e2e.toMap),
      "workload_metrics" -> metricMap(workloadMetrics ++ Map(
        "setup_s" -> e2e("setup_s"), "mem_live_mb" -> e2e("mem_live_mb"))),
      "per_layer" -> layer.toMap,
      "setup_ms" -> setups, "warmup_ms" -> warmNs / 1e6, "timed_ms" -> timedNs / 1e6,
      "verify_ms" -> verifyNs / 1e6, "heap_after_gc_mb" -> heapMb)
    json.writerWithDefaultPrettyPrinter().writeValue(new File(cfg.record), out)
  }

  private def metricMap(m: Map[String, Metric]): Map[String, Map[String, Any]] =
    m.map { case (k, v) => k -> Map("value" -> v.value, "unit" -> v.unit, "samples" -> v.samples) }

  private def envEcho(ctx: Ctx, nproc: Int, cores: Int): Map[String, Any] = {
    val spark = ctx.spark
    Map(
      "confs" -> Spark.confs(cores, ctx.cfg.work).map(_._1)
        .map(k => k -> spark.conf.getOption(k).orElse(spark.sparkContext.getConf.getOption(k))
          .getOrElse("")).toMap,
      "nproc" -> nproc, "local_n" -> cores,
      "generator_threads" -> (nproc - cores),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "spark_version" -> spark.version,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "seed" -> ctx.cfg.seed)
  }
}
