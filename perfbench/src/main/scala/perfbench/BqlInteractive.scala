package perfbench

import scala.collection.mutable
import scala.io.Source

import graft.bql.{BayesDB, Parser}
import graft.operators.BqlQueries
import org.apache.spark.sql.DataFrame

/** `bql_interactive`: one client sends the seeded statement list back to
  * back (a closed loop) to the standard BQL engine of
  * `BqlQueries.bdb`. Statements are small, so the fixed per-statement
  * cost (parse, plan, Catalyst, codegen, job scheduling) dominates. Each
  * round also writes model state (ANALYZE) and scores a 10k-row range
  * with a per-row estimator, so the backends and engine layers are
  * measured here too. */
final class BqlInteractive extends Workload {
  val primaryLowerIsBetter = true

  final case class Stmt(template: String, bql: String, columns: Option[Seq[String]],
      nonempty: Boolean)

  private var bdb: BayesDB = _
  private var stmts: IndexedSeq[Stmt] = IndexedSeq.empty
  private var cursor = 0

  private def load(path: String): IndexedSeq[Stmt] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().map { line =>
      val n = Main.json.readTree(line)
      val cols = Option(n.get("columns")).filterNot(_.isNull).map { a =>
        (0 until a.size).map(a.get(_).asText()) }
      Stmt(n.get("template").asText(), n.get("bql").asText(), cols, n.get("nonempty").asBoolean())
    }.toIndexedSeq
    finally src.close()
  }

  def setup(ctx: Ctx, rep: Int): Map[String, Double] = {
    if (stmts.isEmpty) stmts = load(s"${ctx.cfg.inputs}/statements.jsonl")
    // a fresh directory name per repetition, so the engine registry
    // builds a new engine instead of returning the previous one
    val dir = Inputs.alias(ctx, "tables", s"bql-setup$rep")
    val (b, ns) = ctx.timed(BqlQueries.bdb(ctx.spark, dir))
    bdb = b
    Map("fit" -> ns / 1e6)
  }

  /** Runs the first statement of every template twice, and checks its
    * result digest on the default seed. */
  def warmup(ctx: Ctx): Unit = {
    val firsts = stmts.groupBy(_.template).values.map(_.head).toSeq.sortBy(_.template)
    for (round <- 1 to 2; s <- firsts) ctx.attempt(s"warm-up ${s.template}") {
      val df = bdb.execute(s.bql)
      val obs = Spark.materialize(df)
      ctx.checkShape(s.template, df, s.columns, Spark.rows(obs), s.nonempty)
      if (round == 1) ctx.checkDigest(s.template, bdb.execute(s.bql))
    }
  }

  /** Runs the list's second round on a fresh engine and checks every
    * result's digest: statements past the warm-up's, with their own
    * literals, against the model state that the round's ANALYZE writes.
    * A fresh engine keeps the results independent of how many rounds
    * the timed phase ran. */
  def verify(ctx: Ctx): Unit = {
    val fresh = BqlQueries.bdb(ctx.spark, Inputs.alias(ctx, "tables", "bql-verify"))
    val roundLen = stmts.map(_.template).distinct.size
    stmts.slice(roundLen, 2 * roundLen).foreach { s =>
      ctx.attempt(s"verify ${s.template}") {
        val df = fresh.execute(s.bql)
        ctx.checkShape(s.template, df, s.columns, Spark.rows(Spark.materialize(df)), s.nonempty)
        ctx.checkDigest(s"round2.${s.template}", df)
      }
    }
  }

  /** Templates whose statements evaluate model estimators per row; their
    * materialization is charged to the engine layer. */
  val EstimatorTemplates = Set("predictive_probability", "predictive_probability_wide",
    "similarity_pairwise", "dependence_pairwise", "simulate", "infer_predict", "regress")
  /** The template that writes model state; its command runs in the plan
    * call and is charged to the backends layer. */
  val AnalyzeTemplate = "analyze"
  private val Iterations = """FOR (\d+) ITERATIONS""".r.unanchored

  def run(ctx: Ctx, seconds: Double): Phase = {
    val t = ctx.tracer
    val lat = mutable.ArrayBuffer.empty[Double]
    val byTemplate = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var scoredRows = 0L
    var scoredMs = 0.0
    var iterations = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    // whole rounds only (the list holds one statement per template per
    // round), so every run times the same template mix
    val roundLen = stmts.map(_.template).distinct.size
    val roundNs = mutable.ArrayBuffer.empty[Double]
    var roundStart = System.nanoTime()
    while (System.nanoTime() < deadline || cursor % roundLen != 0) {
      val s = stmts(cursor % stmts.size)
      cursor += 1
      val estimator = EstimatorTemplates.contains(s.template)
      val analyze = s.template == AnalyzeTemplate
      var ms = Double.NaN
      val ok = ctx.attempt(s"statement ${s.template}") {
        t.op("statement") {
          val start = System.nanoTime()
          val (df, obs) = ctx.unit(if (estimator) "scan" else "statement") {
            val df: DataFrame =
              if (!t.enabled) bdb.execute(s.bql)
              else {
                val parsed = t.span("bql.parse", "bql")(Parser.parseOne(s.bql))
                if (analyze) t.span("backends.analyze", "backends")(bdb.executeParsed(parsed, Nil))
                else t.span("bql.plan", "bql")(bdb.executeParsed(parsed, Nil))
              }
            (df, if (estimator) t.span("engine.scan", "engine")(ctx.materialize(df))
                 else t.span("exec.materialize", "exec")(ctx.materialize(df)))
          }
          ms = (System.nanoTime() - start) / 1e6
          val rows = t.span("bench.check", "bench") {
            val rows = Spark.rows(obs)
            ctx.checkShape(s.template, df, s.columns, rows, s.nonempty)
            rows
          }
          if (estimator) { scoredRows += rows; scoredMs += ms }
          if (analyze) s.bql match {
            case Iterations(k) => iterations += k.toLong
            case _ => ()
          }
        }
      }
      // one sample per statement; a failed one misses any latency limit
      lat += (if (ok) ms else Double.PositiveInfinity)
      byTemplate.getOrElseUpdate(s.template, mutable.ArrayBuffer.empty) += lat.last
      if (cursor % roundLen == 0) {
        roundNs += System.nanoTime() - roundStart
        roundStart = System.nanoTime()
      }
    }
    val wall = System.nanoTime() - t0
    val n = lat.size
    val p50 = Stats.median(lat.toSeq)
    val p95 = Stats.percentile(lat.toSeq, 95.0)
    val (tailPct, tailMs) = Stats.tail(lat.toSeq)
    val analyzeMs = byTemplate.getOrElse(AnalyzeTemplate, mutable.ArrayBuffer.empty[Double]).toSeq
    val spans = t.all
    def spanMs(layer: String) = spans.filter(_.layer == layer).map(_.dur).sum / 1e6 / n
    Phase(n, wall, p50, Map(
      "bql_latency_p50_ms" -> Metric(p50, "ms", n),
      "bql_latency_p95_ms" -> Metric(p95, "ms", n),
      "bql_samples_beyond_p95" -> Metric(Stats.beyond(n, 95.0), "count", n),
      "bql_latency_tail_ms" -> Metric(tailMs, "ms", n),
      "bql_latency_tail_pct" -> Metric(tailPct, "%", n),
      // per round, median of rounds: one slow statement moves one round
      "bql_statements_per_s" -> Metric(roundLen / (Stats.median(roundNs.toSeq) / 1e9), "1/s",
        roundNs.size),
      "bql_analyze_ms" -> Metric(Stats.medianOr0(analyzeMs), "ms", analyzeMs.size),
      "bql_estimate_rows_per_s" -> Metric(scoredRows / (scoredMs / 1000.0), "rows/s",
        byTemplate.filter(e => EstimatorTemplates.contains(e._1)).map(_._2.size).sum)) ++
      byTemplate.map { case (k, v) =>
        s"bql_template_p50_ms.$k" -> Metric(Stats.median(v.toSeq), "ms", v.size) },
      layer = if (!t.enabled) Map.empty else Map(
        "backends.analyze_ms" -> spanMs("backends"),
        "backends.analyze_iterations" -> iterations.toDouble / n,
        "engine.scan_ms" -> spanMs("engine"),
        "engine.rows_scored" -> scoredRows.toDouble / n))
  }

  def endToEnd(p: Phase): Map[String, Metric] = Map(
    "latency_p50_ms" -> p.metrics("bql_latency_p50_ms"),
    "throughput_per_s" -> p.metrics("bql_statements_per_s"))
}
