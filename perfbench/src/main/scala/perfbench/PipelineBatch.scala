package perfbench

import scala.collection.mutable

import graft.{SparkEntry, Tables}

/** `pipeline_batch`: passes of the near-duplicate corpus through the
  * LLM-data pipeline stages, one after another. Each pass reads the
  * corpus under a fresh directory name, so no stage reuses what an
  * earlier pass memoized. The row-local text kernels and the shuffles
  * of the operators dominate; no BQL runs. */
final class PipelineBatch extends Workload {
  val primaryLowerIsBetter = false

  /** Output columns of each stage, by metric prefix. */
  val Columns: Map[String, Seq[String]] = Map(
    "p01" -> Seq("content_hash", "keeper_id", "n_copies"),
    "p02" -> Seq("id0", "id1", "est_jaccard"),
    "p03" -> Seq("id0", "id1", "hamming"),
    "p09" -> Seq("doc_id", "n_chars_m", "n_tokens", "punct_ratio", "stopword_ratio",
      "mean_word_len", "quality_score"),
    "p10" -> Seq("lang", "pred_lang", "n"),
    "p34" -> Seq("doc_id", "n_bigrams", "lm_logprob", "bucket"),
    "p37" -> Seq("doc_id", "rank", "term", "score"),
    "p41" -> Seq("doc_id", "n_tokens", "n_lines", "r_word_count", "r_mean_word_len",
      "r_symbol_ratio", "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words", "r_stopwords",
      "gopher_pass"),
    "p44" -> Seq("doc_id", "score"),
    "p76" -> Seq("p_bits", "source", "m", "v_zero", "raw_estimate", "estimate",
      "exact_distinct", "rel_error"),
    "p78" -> Seq("shard", "n_docs", "n_tokens", "n_bytes_bin", "n_bytes_idx", "checksum"))

  private var docs = 0L
  private var passes = 0

  def setup(ctx: Ctx, rep: Int): Map[String, Double] = {
    val dir = Inputs.alias(ctx, "corpus", s"corpus-setup$rep")
    val (n, ns) = ctx.timed(Spark.rows(Spark.materialize(Tables.load(ctx.spark, dir, "documents"))))
    docs = n
    Map("register" -> ns / 1e6)
  }

  /** One pass through every stage over the corpus `sub`; returns (stage
    * prefix, wall ms, rows), with an infinite time for a failed stage.
    * With `digests`, checks each stage's result digest under the key
    * prefixed with it. */
  private def pass(ctx: Ctx, sub: String, digests: Option[String]): Seq[(String, Double, Long)] = {
    passes += 1
    val dir = Inputs.alias(ctx, sub, s"corpus-pass$passes")
    val t = ctx.tracer
    val queries = SparkEntry.queries
    Layers.Stages.map { case (pfx, key) =>
      // a failed stage misses any time limit
      var out = (pfx, Double.PositiveInfinity, 0L)
      ctx.attempt(s"stage $key") {
        val ((df, obs), ns) = ctx.timed(ctx.unit(s"stage:$pfx") {
          t.span(s"operators.$pfx", "operators") {
            val df = queries(key)(ctx.spark, dir)
            (df, ctx.materialize(df))
          }
        })
        val rows = t.span("bench.check", "bench") {
          val rows = Spark.rows(obs)
          ctx.checkShape(key, df, Columns.get(pfx), rows, nonempty = true)
          digests.foreach(prefix => ctx.checkDigest(prefix + key, df))
          rows
        }
        out = (pfx, ns / 1e6, rows)
      }
      out
    }
  }

  /** Compiles and loads every stage's code on a small corpus; also
    * checks result digests there on the default seed. */
  def warmup(ctx: Ctx): Unit = pass(ctx, "corpus_warm", digests = Some(""))

  /** One more pass over the full corpus, every stage's digest checked. */
  def verify(ctx: Ctx): Unit = pass(ctx, "corpus", digests = Some("full."))

  def run(ctx: Ctx, seconds: Double): Phase = {
    val t = ctx.tracer
    val results = mutable.ArrayBuffer.empty[Seq[(String, Double, Long)]]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    // a pass starts only if it can end by the deadline (the first always
    // runs): the number of passes, and with it what the per-pass memos
    // hold at the end, stays the same from run to run
    var lastNs = 0L
    while (results.isEmpty || System.nanoTime() + lastNs <= deadline) {
      val start = System.nanoTime()
      results += t.op("pass")(pass(ctx, "corpus", digests = None))
      lastNs = System.nanoTime() - start
    }
    val wall = System.nanoTime() - t0
    val passMs = results.map(_.map(_._2).sum).toSeq
    val med = Stats.median(passMs)
    val n = results.size.toDouble
    Phase(results.size, wall, docs / (med / 1000.0), Map(
      "pipeline_docs_per_s" -> Metric(docs / (med / 1000.0), "docs/s", results.size),
      "pipeline_pass_ms" -> Metric(med, "ms", results.size),
      "pipeline_docs" -> Metric(docs.toDouble, "count", 1)) ++
      Layers.Stages.map { case (pfx, _) =>
        val ms = results.flatMap(_.filter(_._1 == pfx)).map(_._2).toSeq
        s"pipeline_stage_ms.$pfx" -> Metric(Stats.medianOr0(ms), "ms", ms.size) },
      layer = if (!t.enabled) Map.empty else Layers.Stages.flatMap { case (pfx, _) =>
        val mine = results.flatMap(_.filter(_._1 == pfx))
        Seq(s"operators.$pfx.wall_ms" -> mine.map(_._2).sum / n,
          s"operators.$pfx.rows_out" -> mine.map(_._3).sum / n)
      }.toMap)
  }

  def endToEnd(p: Phase): Map[String, Metric] = Map(
    "latency_p50_ms" -> p.metrics("pipeline_pass_ms"),
    "throughput_per_s" -> p.metrics("pipeline_docs_per_s"))
}
