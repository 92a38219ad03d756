package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (engine
  * extensions; BASELINE.json north star): token counting, quality
  * scoring, language identification, document fingerprinting.
  *
  * Everything except the fingerprint/lang-id UDFs is pure native
  * expressions — whole-stage codegen, filters/projections push to the
  * scan, no shuffle at all (row-local transforms).
  */
object TextAnalysis {

  /** Whitespace token count; 0 for empty/blank. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword count: word-boundary pieces + digits + punctuation
    * as separate tokens (a cheap, deterministic stand-in for a real BPE
    * vocabulary; same plan shape — [[bpeTrain]]/[[bpeTokenizeCorpus]]
    * are the LEARNED counterpart). One codegen'd pass
    * ([[graft.functions.SubwordCountExpr]]) — the lookaround split +
    * interpreted filter lambda it replaced read 114 s at the 100×
    * probe; parity pinned by PipelineSpec. */
  def subwordCount(text: Column): Column =
    graft.functions.SubwordCountExpr(text)

  /** The composed form [[subwordCount]] replaced, kept as the
    * independent semantics pin for the parity spec (and the template
    * the p16 oracle's closed form mirrors). */
  private[graft] def composedSubwordCount(text: Column): Column =
    size(filter(
      split(text, "(?=[^a-zA-Z0-9])|(?<=[^a-zA-Z0-9])"),
      t => length(trim(t)) > 0))

  private[graft] val Stopwords = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "were", "it", "that", "this", "with", "for", "on", "as", "at")

  /** Quality metrics: length, tokens, punctuation ratio, stopword ratio,
    * mean word length, and a composite [0,1] score (monotone in
    * stopword presence and sane word lengths — the standard cheap
    * heuristics, cf. Gopher/C4-style quality rules). The four counting
    * stats come from ONE codegen'd pass
    * ([[graft.functions.QualityStats]]; see its scaladoc for the
    * bit-parity contract with the composed form it replaced — the
    * previous shape paid two regexp_replace rewrites, a token-array
    * split, and an interpreted higher-order stopword lambda per row,
    * which read 7× over linear at the 100× probe). */
  def qualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    // NULL text ≡ blank — the uniform contract across the text-analysis
    // surface (gopherRules/chunkTokens/bm25TopK do the same), so a NULL
    // row scores like an empty document instead of nulling out every
    // metric and silently dropping from downstream aggregates.
    val t = coalesce(col(textCol), lit(""))
    val stats = graft.functions.QualityStats(t)
    // one named column, then derive — whole-stage codegen's
    // subexpression elimination keeps the kernel at one call per row
    // even after CollapseProject inlines the reference
    val nTokens = col("__qstats").getItem(0)
    val nChars = length(t)
    df
      .withColumn("__qstats", stats)
      .withColumn("n_chars_m", nChars.cast("long"))
      .withColumn("n_tokens", nTokens)
      .withColumn("punct_ratio",
        when(nChars === 0, 0.0)
          .otherwise(col("__qstats").getItem(1).cast("double") / nChars))
      .withColumn("stopword_ratio",
        when(nTokens === 0, 0.0)
          .otherwise(col("__qstats").getItem(2).cast("double") / nTokens))
      .withColumn("mean_word_len",
        when(nTokens === 0, 0.0)
          .otherwise(col("__qstats").getItem(3).cast("double") / nTokens))
      .withColumn("quality_score",
        round(greatest(lit(0.0), least(lit(1.0),
          lit(0.5)
            + lit(0.5) * least(col("stopword_ratio") * 2.5, lit(1.0))
            - lit(0.5) * col("punct_ratio")
            - when(col("mean_word_len") < 2.0 || col("mean_word_len") > 12.0, 0.25)
              .otherwise(0.0))), 6))
      .drop("__qstats")
  }

  /** The composed higher-order-function form [[qualityMetrics]]
    * replaced, kept as the independent semantics pin for the parity
    * spec (and the template the p09/p30/p47/st03 DuckDB oracles
    * mirror). */
  private[graft] def composedQualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val tokens = split(trim(lower(t)), "\\s+")
    val nTokens = tokenCount(t)
    val nChars = length(t)
    val punct = nChars - length(regexp_replace(t, "[\\p{Punct}]", ""))
    val stop = size(filter(tokens, w => w.isin(Stopwords: _*)))
    df
      .withColumn("n_chars_m", nChars.cast("long"))
      .withColumn("n_tokens", nTokens.cast("long"))
      .withColumn("punct_ratio",
        when(nChars === 0, 0.0).otherwise(punct.cast("double") / nChars))
      .withColumn("stopword_ratio",
        when(nTokens === 0, 0.0).otherwise(stop.cast("double") / nTokens))
      .withColumn("mean_word_len",
        when(nTokens === 0, 0.0)
          .otherwise((length(regexp_replace(trim(t), "\\s+", "")).cast("double")) / nTokens))
      .withColumn("quality_score",
        round(greatest(lit(0.0), least(lit(1.0),
          lit(0.5)
            + lit(0.5) * least(col("stopword_ratio") * 2.5, lit(1.0))
            - lit(0.5) * col("punct_ratio")
            - when(col("mean_word_len") < 2.0 || col("mean_word_len") > 12.0, 0.25)
              .otherwise(0.0))), 6))
  }

  /** Per-language marker lexicons for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose. Shared with the p10/st01 DuckDB oracles
    * so both engines score the same lexicons (canonical copy lives with
    * the fused expression). */
  private[graft] val LangMarkers: Seq[(String, Seq[String])] =
    graft.functions.LanguageIdExpr.Markers

  /** Language ID: score = fraction of tokens hitting each language's
    * marker set (+ a decisive Han-script probe for zh); argmax wins,
    * 'und' when nothing matches. One codegen'd pass
    * ([[graft.functions.LanguageIdExpr]]) — the previous composed form
    * ran five interpreted ArrayFilter lambdas per row. */
  def languageId(text: Column): Column =
    // NULL ≡ blank → 'und' (matches the composed form's three-valued
    // fall-through; the raw Expression stays null-intolerant).
    graft.functions.LanguageIdExpr(coalesce(text, lit("")))

  /** The composed higher-order-function form [[languageId]] replaced,
    * kept as the independent semantics pin for the parity spec (and the
    * template the DuckDB oracles mirror). */
  private[graft] def composedLanguageId(text: Column): Column = {
    val tokens = split(trim(lower(text)), "\\s+")
    val n = greatest(size(tokens), lit(1)).cast("double")
    val scores = LangMarkers.map { case (lang, markers) =>
      val hits = size(filter(tokens, w => w.isin(markers: _*))).cast("double") / n
      struct(hits.as("score"), lit(lang).as("lang"))
    }
    // CJK characters are decisive for zh
    val cjk = length(regexp_replace(text, "[^\\p{IsHan}]", "")) > 0
    val best = array_max(array(scores: _*))
    when(cjk, lit("zh"))
      .when(best.getField("score") > 0.0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** Host of the FIRST extracted URL in `text` (leftmost
    * [[UrlPattern]] match), NULL when the text carries none — the
    * "document's domain" convention p31's blocklist/cap uses. Row-local
    * codegen'd regexps; also SQL-exposed as `graft_url_domain`. */
  def urlDomain(text: Column): Column = {
    val u = regexp_extract(text, UrlPattern, 0)
    when(length(u) > 0, regexp_extract(u, "https?://([^/]+)", 1))
  }

  /** Corpus-wide top-k n-gram frequencies — the vocabulary/bigram
    * statistics a tokenizer-training or corpus-analysis pass computes
    * (token coverage, merge candidates, boilerplate phrases).
    * Tokenization is the whitespace split the quality/lang-id kernels
    * use, so the oracle restates it verbatim.
    *
    * Scale shape: n-gram construction is row-local (one codegen'd
    * higher-order expression); the ONLY corpus shuffle is the count
    * aggregate, map-side combined so the exchange carries (distinct
    * n-gram, partial count), not token occurrences; the top-k runs as
    * TakeOrderedAndProject — per-partition heaps of k rows merged on
    * the driver, never a global sort. The (count DESC, n-gram ASC)
    * order is total, so the k-boundary is deterministic. */
  def topNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame = {
    require(n > 0, "n must be positive")
    require(k > 0, "k must be positive")
    val tk = split(trim(lower(col(textCol))), "\\s+")
    val grams =
      // n=1: trim+split of a blank/whitespace-only doc yields [""] — a
      // phantom empty "token" the n>=2 path's size guard never emits;
      // filter it so unigram counts aren't polluted by blank docs.
      if (n == 1) filter(tk, t => length(t) > 0)
      // bindArray: the window lambda must reference the token array as
      // a BOUND variable — an expression reference re-splits the whole
      // document once per window (O(tokens²) per row)
      else graft.functions.BindOnce.bindArray(tk, tks =>
        when(size(tks) >= n,
          transform(sequence(lit(0), size(tks) - n),
            i => array_join(slice(tks, i + lit(1), lit(n)), " ")))
          .otherwise(array()))
    df.select(explode(grams).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(k)
  }

  /** 64-bit content fingerprint by winnowing (Schleimer et al., MOSS):
    * rolling Rabin–Karp hashes of char k-grams, minimum per window,
    * fingerprint = combined distinct window minima. Row-local, native
    * Catalyst expression ([[graft.functions.WinnowFingerprint]]). */
  def fingerprint(k: Int = 8, window: Int = 16): org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    text => graft.functions.WinnowFingerprint(text, k, window)

  /** Gopher-style repetition metrics (the cheap excessive-repetition
    * quality signals: boilerplate, keyword stuffing, generation loops):
    * adds `top_unigram_frac` (fraction of tokens that are the single
    * most frequent token) and `dup_bigram_frac` (fraction of bigram
    * occurrences duplicating an earlier one). One row-local codegen'd
    * pass ([[graft.functions.RepetitionStats]]); NULL for blank text. */
  def repetitionMetrics(df: DataFrame, textCol: String): DataFrame = {
    // CollapseProject inlines the kernel into both extractions; on the
    // codegen path (the hot one) subexpression elimination
    // (spark.sql.subexpressionElimination.enabled, default true)
    // collapses them back to ONE kernel call per row — interpreted
    // fallback projections may evaluate it twice, which is wasted work
    // but never wrong
    val stats = graft.functions.RepetitionStats(col(textCol))
    df.withColumn("__rep", stats)
      .withColumn("top_unigram_frac", col("__rep").getItem(0))
      .withColumn("dup_bigram_frac", col("__rep").getItem(1))
      .drop("__rep")
  }

  /** The 13 [[graft.functions.GopherRepetition]] fraction columns, in
    * kernel output order. */
  val RepetitionColumns: Seq[String] = Seq(
    "dup_line_frac", "dup_line_char_frac",
    "dup_para_frac", "dup_para_char_frac",
    "top_2gram_char_frac", "top_3gram_char_frac", "top_4gram_char_frac",
    "dup_5gram_char_frac", "dup_6gram_char_frac", "dup_7gram_char_frac",
    "dup_8gram_char_frac", "dup_9gram_char_frac", "dup_10gram_char_frac")

  /** Gopher Table A1's published drop thresholds, aligned with
    * [[RepetitionColumns]]: a document is dropped when ANY fraction
    * STRICTLY exceeds its threshold. */
  val RepetitionThresholds: Seq[Double] = Seq(
    0.30, 0.20, 0.30, 0.20,
    0.20, 0.18, 0.16,
    0.15, 0.14, 0.13, 0.12, 0.11, 0.10)

  /** The FULL Gopher repetition-filter battery (Rae et al. 2021,
    * Table A1) — duplicate line/paragraph fractions (count and
    * character), top-{2,3,4}-gram character fraction, duplicated-
    * {5..10}-gram character fraction, and the keep/drop verdict under
    * the published thresholds. The within-document excessive-repetition
    * gate every Gopher/RefinedWeb/Dolma-class curation pipeline runs;
    * complements [[repetitionMetrics]]' two cheap signals.
    *
    * Scale shape: ONE row-local codegen'd kernel
    * ([[graft.functions.GopherRepetition]]) — zero shuffle, zero state;
    * the 13 extractions + verdict collapse to one kernel call per row
    * under subexpression elimination (the [[repetitionMetrics]]
    * argument). At 100 TB this is embarrassingly parallel scan work.
    * NULL text is scored as blank (all-zero fractions, 'keep'). */
  def gopherRepetition(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val stats = graft.functions.GopherRepetition(
      coalesce(col(textCol), lit("")))
    val base = df.select(col(idCol), stats.as("__rep"))
    val withCols = RepetitionColumns.zipWithIndex.foldLeft(base) {
      case (d, (name, i)) => d.withColumn(name, col("__rep").getItem(i))
    }
    val dropCond = RepetitionColumns.zip(RepetitionThresholds)
      .map { case (c, t) => col(c) > lit(t) }
      .reduce(_ || _)
    withCols
      .withColumn("verdict", when(dropCond, lit("drop")).otherwise(lit("keep")))
      .drop("__rep")
  }

  /** C4-style line/document cleaning (Raffel et al. 2020 §2.2 — the
    * OTHER canonical filter family next to [[gopherRepetition]]'s
    * Gopher battery; C4/Dolma/FineWeb-class pipelines run exactly this
    * line-level pass before quality scoring). Per line of the literal
    * '\n' split, KEEP iff the space-trimmed line (a) ends in terminal
    * punctuation (. ! ? "), (b) has ≥ 5 whitespace-run words, and
    * (c) does not contain "javascript" (case-insensitive). Per
    * document: `clean_text` = kept lines joined with '\n',
    * `n_sentences` = count of [.!?] codepoints in the kept text, and
    * verdict 'drop' iff the ORIGINAL text contains "lorem ipsum"
    * (case-insensitive) or '{', or fewer than 3 sentences survive.
    * NULL text cleans as blank.
    *
    * The terminal-punctuation test is a LAST-CHAR set membership, not
    * a `[.!?"]$` regex — Java's `$` also matches before a final \r
    * (line-terminator semantics) where RE2's does not, so the regex
    * form would silently diverge from the oracle on \r-bearing lines.
    *
    * Scale shape: entirely row-local (split → higher-order filter →
    * join — native collection expressions, no UDF, no shuffle); the
    * per-line predicates are arithmetic on the line, so the whole
    * clean is one scan pass at any corpus size. */
  def c4LineFilter(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val lines = split(t, "\n", -1)
    val kept = filter(lines, l => {
      val l2 = trim(l)
      substring(l2, -1, 1).isin(".", "!", "?", "\"") &&
        (size(filter(split(l2, "\\s+"), w => length(w) > 0)) >= 5) &&
        !lower(l2).contains("javascript")
    })
    def nOcc(c: Column, ch: String): Column =
      length(c) - length(replace(c, lit(ch), lit("")))
    df.select(
        col(idCol),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_lines_kept"),
        array_join(kept, "\n").as("clean_text"),
        t.as("__t"))
      .withColumn("n_sentences",
        (nOcc(col("clean_text"), ".") + nOcc(col("clean_text"), "!") +
          nOcc(col("clean_text"), "?")).cast("long"))
      .withColumn("verdict",
        when(lower(col("__t")).contains("lorem ipsum") ||
          col("__t").contains("{") || col("n_sentences") < 3, lit("drop"))
          .otherwise(lit("keep")))
      .select(col(idCol), col("n_lines"), col("n_lines_kept"),
        col("n_sentences"), col("verdict"), col("clean_text"))
  }

  /** The URL shape [[domainStats]] extracts — http/https, dotted host
    * ending alphanumeric, optional safe-charset path. Like
    * [[graft.functions.PiiScan]]'s patterns, chosen so Java regex and
    * RE2 agree (greedy character classes, no alternation ambiguity), so
    * the DuckDB oracle restates extraction verbatim. Query strings and
    * exotic hosts are out of scope by design — domain STATISTICS, not a
    * validating parser. */
  val UrlPattern: String =
    "https?://[A-Za-z0-9.-]+[A-Za-z0-9](/[A-Za-z0-9._/-]*)?"

  /** Per-domain corpus statistics — the input to domain-level filtering
    * (blocklists, per-domain caps), the step CCNet/RefinedWeb-style
    * pipelines run before quality scoring: extract URLs (codegen'd
    * regexp_extract_all, full-match), reduce to registrable host, count
    * URLs and DISTINCT documents per domain.
    *
    * Scale shape: extraction is row-local; the only shuffle is the
    * (domain) aggregate — map-side combinable, cardinality = distinct
    * domains (orders of magnitude below rows). The distinct-doc count
    * dedups (domain, id) BEFORE the final aggregate, so the exchange
    * carries one row per (domain, doc), not per URL occurrence.
    *
    * Per-domain CAP enforcement (keep ≤ n docs per domain) is
    * [[graft.operators.Sampling.stratifiedSample]] with the domain as
    * the stratum — deterministic exact-k per domain in one window
    * shuffle. */
  def domainStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val urls = df.select(col(idCol).as("id"),
        explode(regexp_extract_all(col(textCol), lit(UrlPattern), lit(0))).as("url"))
      .withColumn("domain", regexp_extract(col("url"), "https?://([^/]+)", 1))
    urls.groupBy("domain", "id").agg(count(lit(1)).as("n"))
      .groupBy("domain")
      .agg(sum("n").as("n_urls"), count(lit(1)).as("n_docs"))
      .select(col("domain"), col("n_urls").cast("long").as("n_urls"),
        col("n_docs").cast("long").as("n_docs"))
  }

  /** PII detection + redaction (emails, NANP phones, IPv4) — adds
    * n_emails/n_phones/n_ipv4 counts and a `redacted` text column in one
    * row-local codegen'd pass ([[graft.functions.PiiScan]]; the patterns
    * ARE the semantics — see its scaladoc for the Java↔RE2 agreement
    * argument the DuckDB oracle rests on). Same CSE shape as
    * [[repetitionMetrics]]: codegen dedups the kernel to one call. */
  def piiStats(df: DataFrame, textCol: String): DataFrame = {
    val s = graft.functions.PiiScan(col(textCol))
    df.withColumn("__pii", s)
      .withColumn("n_emails", col("__pii.n_emails"))
      .withColumn("n_phones", col("__pii.n_phones"))
      .withColumn("n_ipv4", col("__pii.n_ipv4"))
      .withColumn("redacted", col("__pii.redacted"))
      .drop("__pii")
  }

  /** Winnowed fingerprint SET (distinct sorted window minima, position-
    * independent — see [[graft.functions.WinnowPrintSet]]): the
    * containment-matching form of [[fingerprint]]. */
  def fingerprintSet(k: Int = 8, window: Int = 16): org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    text => graft.functions.WinnowPrintSet(text, k, window)

  /** Benchmark decontamination: which training documents CONTAIN text
    * from a benchmark/eval corpus (the training-data hygiene step every
    * large-scale pipeline runs before pretraining). A document is
    * contaminated when its winnowing print set overlaps the benchmark's:
    * winnowing guarantees any shared substring of length ≥ k + window − 1
    * chars contributes at least one common print (Schleimer et al.'s
    * coverage theorem), position-independently on both sides.
    *
    * Returns one row per CONTAMINATED doc: (id, n_matched, n_prints,
    * contamination = n_matched/n_prints). Clean docs emit nothing.
    *
    * Scale shape (the 100 TB case): the benchmark side reduces to
    * DISTINCT print hashes — benchmarks are MBs against a corpus of TBs,
    * so AQE broadcasts the semi-join's build side and the corpus streams
    * through in ONE scan with no corpus-wide shuffle; only MATCHED
    * (id, print) rows — a vanishing fraction — reach the per-doc count,
    * whose groupBy is map-side combinable. Nothing in the plan grows
    * with corpus × benchmark.
    *
    * SQL recipe (REPL surface — `graft_winnow_prints` is registered by
    * [[graft.GraftFunctions.register]]; GraftExtensionsSpec pins that
    * this spelling hash-matches this operator AND keeps the broadcast
    * semi-join shape):
    * {{{
    * WITH refp AS (
    *   SELECT DISTINCT explode(graft_winnow_prints(text)) AS print FROM benchmark),
    * docp AS (
    *   SELECT doc_id, size(prints) AS n_prints, explode(prints) AS print
    *   FROM (SELECT doc_id, graft_winnow_prints(text) AS prints FROM corpus)
    *   WHERE prints IS NOT NULL)
    * SELECT doc_id AS id, count(1) AS n_matched, n_prints,
    *        CAST(count(1) AS DOUBLE) / n_prints AS contamination
    * FROM docp WHERE print IN (SELECT print FROM refp)
    * GROUP BY doc_id, n_prints
    * }}} */
  def contamination(docs: org.apache.spark.sql.DataFrame,
      refs: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String,
      k: Int = 8, window: Int = 16): org.apache.spark.sql.DataFrame = {
    val winnowWindow = window // shadowed below by sql.functions.window
    import org.apache.spark.sql.functions._
    val fp = fingerprintSet(k, winnowWindow)
    val refPrints = refs
      .select(explode(fp(col(textCol))).as("print")).distinct()
    val docPrints = docs
      .select(col(idCol).as("id"), fp(col(textCol)).as("prints"))
      .filter(col("prints").isNotNull)
      .select(col("id"), size(col("prints")).as("n_prints"),
        explode(col("prints")).as("print"))
    docPrints.join(refPrints, Seq("print"), "left_semi")
      .groupBy("id", "n_prints")
      .agg(count(lit(1)).as("n_matched"))
      .select(col("id"), col("n_matched"), col("n_prints").cast("long").as("n_prints"),
        (col("n_matched").cast("double") / col("n_prints")).as("contamination"))
  }

  /** Exact corpus-wide length-percentile filter — the Gopher/CCNet
    * "drop the shortest and longest P%" hygiene rule, with EXACT
    * discrete quantiles instead of approx_percentile (a filter
    * boundary that drifts with sampling would make reruns
    * non-reproducible). The q-quantile is the SMALLEST length v with
    * ceil(q·N) rows of length ≤ v; thresholds use pure integer
    * arithmetic ((pct·N + 99) div 100), so both engines agree exactly
    * — no floating percentile interpolation anywhere.
    *
    * Scale shape (100 TB): NEVER a corpus sort. Pass 1 reduces the
    * corpus to a length HISTOGRAM (map-side-combined groupBy; the
    * exchange carries distinct lengths, bounded by the longest
    * document, not by corpus rows). The cumulative sum then runs as an
    * un-partitioned window over the histogram — single-partition by
    * construction, and correct AT ANY CORPUS SCALE because its input
    * is bounded by distinct lengths (~10³–10⁵ rows), not documents.
    * The two thresholds collapse to ONE broadcast row and pass 2 is a
    * row-local verdict over one corpus scan.
    *
    * Returns (id, n_tokens, p_lo, p_hi, kept). */
  def lengthQuantileFilter(docs: DataFrame, textCol: String, idCol: String,
      loPct: Int, hiPct: Int): DataFrame = {
    require(0 < loPct && loPct < hiPct && hiPct <= 100,
      "need 0 < loPct < hiPct <= 100")
    val n = tokenCount(col(textCol)).cast("long")
    val hist = docs.select(n.as("len"))
      .groupBy("len").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("len")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val thr = hist.withColumn("cum", sum("c").over(w))
      .crossJoin(broadcast(hist.agg(sum("c").as("N"))))
      .agg(
        min(when(col("cum") >= expr(s"($loPct * N + 99) div 100"), col("len"))).as("p_lo"),
        min(when(col("cum") >= expr(s"($hiPct * N + 99) div 100"), col("len"))).as("p_hi"))
    docs.select(col(idCol), n.as("n_tokens"))
      .crossJoin(broadcast(thr))
      .withColumn("kept", col("n_tokens") >= col("p_lo") && col("n_tokens") <= col("p_hi"))
  }

  /** Per-document TF-IDF top-k terms — the keyword/topic-tagging pass
    * of a corpus-analysis pipeline (and the classic relevance weight,
    * Salton & Buckley). tf is the in-document term count, idf the
    * smoothed ln((N+1)/(df+1)) + 1 (sklearn's convention: never zero,
    * defined for unseen terms), score = tf·idf, and each document
    * keeps its k highest-scoring terms under the TOTAL order
    * (score DESC, term ASC) — the tie-break makes the k-boundary
    * deterministic on every engine.
    *
    * Scale shape (100 TB): three linear, map-side-combined exchanges —
    * (doc, term) counts (the exchange carries distinct pairs, not
    * token occurrences); document frequency from those pairs (distinct
    * terms); the df join back is hash-co-partitioned on term (build
    * side is one (term, df) row per key — a stop-word's skew sits on
    * the probe side, AQE-splittable); the per-doc top-k is a window
    * rank over doc-vocabulary-sized groups, shuffled by doc id. N
    * rides along as a broadcast 1-row cross join — fully lazy. */
  def tfidfTopTerms(docs: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val tk = split(trim(lower(col(textCol))), "\\s+")
    val dt = docs.select(col(idCol), explode(tk).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = dt.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("N"))
    val scored = dt.join(df, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") * (log((col("N") + 1.0) / (col("df") + 1.0)) + 1.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("long").as("rank"),
        col("term"), col("score"))
  }

  /** HTML → text extraction — the first step of every web-crawl
    * pipeline (reference has no analogue). A deterministic, fixed-order
    * strip chain; each stage is a codegen'd regexp_replace/replace over
    * patterns chosen so Java regex and RE2 agree (inline (?is) flags,
    * lazy quantifiers, no backrefs — the PiiScan discipline), so a SQL
    * engine restates the chain verbatim:
    *   1. <script>/<style> elements drop WITH their content (lazy
    *      match to the nearest closing tag; case-insensitive,
    *      dot-matches-newline);
    *   2. comments `<!-- … -->` and CDATA sections `<![CDATA[ … ]]>`
    *      drop whole (a comment hiding a fake tag never resurfaces);
    *   3. every remaining tag `<[^>]*>` becomes a SPACE (block
    *      boundaries must not glue words: `a<br>b` → `a b`);
    *   4. the named-entity subset decodes — &lt; &gt; &quot; &apos;
    *      &#39; &nbsp; first, &amp; LAST (so `&amp;lt;` correctly
    *      yields the literal text `&lt;`, never a double decode);
    *   5. whitespace runs collapse to one space and the result trims.
    * Unterminated script/style/comment blocks survive stage 1–2 and
    * degrade to tag-stripping — deterministic, never an error. NULL in
    * → NULL out. Entirely row-local: no shuffle, whole-stage codegen,
    * linear in document bytes. */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noCdata = regexp_replace(noComment, "(?s)<!\\[CDATA\\[.*?\\]\\]>", " ")
    val noTags = regexp_replace(noCdata, "<[^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&apos;" -> "'", "&#39;" -> "'", "&nbsp;" -> " ")
      .foldLeft(noTags) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    val decoded = replace(ent, lit("&amp;"), lit("&"))
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Gopher quality-rule battery (Rae et al., "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", §A1.1;
    * reference has no analogue) — the published repetition-free rule
    * set a pretraining pipeline applies after extraction and before
    * dedup. Every rule here is evaluated in INTEGER cross-multiplied
    * arithmetic (`10·bullet_lines ≤ 9·n_lines`, never
    * `bullet_lines/n_lines ≤ 0.9`), so the boolean flags are exact on
    * any engine — no float-threshold boundary can drift between the
    * JVM and a SQL oracle. One row-local pass: no shuffle, whole-stage
    * codegen, linear in document bytes.
    *
    * Rules (flag TRUE = the document PASSES that rule):
    *  - word count within [minTokens, maxTokens]  (Gopher: 50–100k)
    *  - mean word length within [3, 10] chars
    *  - symbol-to-word ratio ('#' chars + '...' occurrences) ≤ 0.1
    *  - lines starting with a bullet ("- " / "* ") ≤ 90 %
    *  - lines ending with an ellipsis ("...") ≤ 30 %
    *  - words containing ≥ 1 alphabetic char ≥ 80 %
    *  - ≥ 2 stop-word hits (the [[Stopwords]] lexicon)
    * `gopher_pass` = all seven. Blank text fails the word-count rule
    * and passes the vacuous ratios (0 ≤ bound); NULL text coalesces to
    * blank (a null-text doc must FAIL the gate, not ride through with
    * NULL flags that downstream filters silently drop or keep). */
  def gopherRules(df: DataFrame, textCol: String, idCol: String,
      minTokens: Long = 50L, maxTokens: Long = 100000L): DataFrame = {
    require(0 < minTokens && minTokens <= maxTokens,
      "need 0 < minTokens <= maxTokens")
    // all nine counting stats in ONE codegen'd pass
    // ([[graft.functions.GopherStats]]; see its scaladoc for the
    // bit-parity contract with the composed form it replaced, which
    // paid four interpreted lambdas — one running a regex per token)
    val t = coalesce(col(textCol), lit(""))
    val g = col("__gstats")
    val nTok = g.getItem(0); val sumLen = g.getItem(1)
    val nLines = g.getItem(2); val nBullet = g.getItem(3)
    val nEllLine = g.getItem(4); val nHash = g.getItem(5)
    val nEllipsis = g.getItem(6); val nAlpha = g.getItem(7)
    val nStop = g.getItem(8)
    df.withColumn("__gstats", graft.functions.GopherStats(t))
      .select(col(idCol),
        nTok.as("n_tokens"),
        nLines.as("n_lines"),
        (nTok >= minTokens && nTok <= maxTokens).as("r_word_count"),
        (lit(3L) * nTok <= sumLen && sumLen <= lit(10L) * nTok).as("r_mean_word_len"),
        (lit(10L) * (nHash + nEllipsis) <= nTok).as("r_symbol_ratio"),
        (lit(10L) * nBullet <= lit(9L) * nLines).as("r_bullet_lines"),
        (lit(10L) * nEllLine <= lit(3L) * nLines).as("r_ellipsis_lines"),
        (lit(5L) * nAlpha >= lit(4L) * nTok).as("r_alpha_words"),
        (nStop >= 2L).as("r_stopwords"))
      .withColumn("gopher_pass",
        col("r_word_count") && col("r_mean_word_len") && col("r_symbol_ratio") &&
          col("r_bullet_lines") && col("r_ellipsis_lines") &&
          col("r_alpha_words") && col("r_stopwords"))
  }

  /** The composed form [[gopherRules]] replaced, kept as the
    * independent semantics pin for the parity spec (and the template
    * the p41 oracle mirrors). */
  private[graft] def composedGopherRules(df: DataFrame, textCol: String, idCol: String,
      minTokens: Long = 50L, maxTokens: Long = 100000L): DataFrame = {
    require(0 < minTokens && minTokens <= maxTokens,
      "need 0 < minTokens <= maxTokens")
    val t = coalesce(col(textCol), lit(""))
    val tokens = split(trim(lower(t)), "\\s+")
    val nTok = tokenCount(t).cast("long")
    val sumLen = length(regexp_replace(trim(t), "\\s+", "")).cast("long")
    val lines = split(t, "\n", -1)
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines,
      l => l.like("- %") || l.like("* %"))).cast("long")
    val nEllLine = size(filter(lines, l => l.like("%..."))).cast("long")
    val nHash = (length(t) - length(replace(t, lit("#"), lit("")))).cast("long")
    val nEllipsis = ((length(t) - length(replace(t, lit("..."), lit("")))) / 3)
      .cast("long")
    val nAlpha = size(filter(tokens, w => w.rlike("[a-z]"))).cast("long")
    val nStop = size(filter(tokens, w => w.isin(Stopwords: _*))).cast("long")
    df.select(col(idCol),
      nTok.as("n_tokens"),
      nLines.as("n_lines"),
      (nTok >= minTokens && nTok <= maxTokens).as("r_word_count"),
      (lit(3L) * nTok <= sumLen && sumLen <= lit(10L) * nTok).as("r_mean_word_len"),
      (lit(10L) * (nHash + nEllipsis) <= nTok).as("r_symbol_ratio"),
      (lit(10L) * nBullet <= lit(9L) * nLines).as("r_bullet_lines"),
      (lit(10L) * nEllLine <= lit(3L) * nLines).as("r_ellipsis_lines"),
      (lit(5L) * nAlpha >= lit(4L) * nTok).as("r_alpha_words"),
      (nStop >= 2L).as("r_stopwords"))
      .withColumn("gopher_pass",
        col("r_word_count") && col("r_mean_word_len") && col("r_symbol_ratio") &&
          col("r_bullet_lines") && col("r_ellipsis_lines") &&
          col("r_alpha_words") && col("r_stopwords"))
  }

  /** Fixed-size token-window chunking with stride — the step that turns
    * filtered documents into model-sized pieces (embedding pipelines,
    * long-document splitting before packing; reference has no
    * analogue). Chunk i covers tokens [i·stride, i·stride + chunk); the
    * last chunk may be short; a document emits chunks at starts 0,
    * stride, 2·stride, … while more than `chunk` tokens remain past the
    * previous start — exactly
    * `n ≤ chunk ? 1 : 1 + ceil((n − chunk)/stride)` chunks, so no
    * trailing chunk is a strict subrange of its predecessor. A blank
    * document emits one empty chunk (present, not dropped).
    *
    * Scale shape: entirely row-local — the token array materializes
    * once per document (a projection, not a re-split per chunk), starts
    * are a generated sequence, and the explode multiplies rows by
    * ~n/stride with no shuffle anywhere (the per-doc start array is
    * O(n/stride) — a pathological multi-GB single document should be
    * chunked upstream). NULL text coalesces to blank, so the doc still
    * emits its one empty chunk instead of silently vanishing from the
    * explode. Downstream repartitioning is the caller's choice.
    * Returns (id, chunk_idx, start_tok, n_chunk_tokens, chunk_text). */
  def chunkTokens(docs: DataFrame, textCol: String, idCol: String,
      chunk: Int, stride: Int): DataFrame = {
    require(chunk > 0, "chunk must be positive")
    require(0 < stride && stride <= chunk, "need 0 < stride <= chunk")
    val base = docs.select(col(idCol),
      split(trim(lower(coalesce(col(textCol), lit("")))), "\\s+").as("__tk"),
      tokenCount(coalesce(col(textCol), lit(""))).cast("long").as("__n"))
    val nStarts = when(col("__n") <= chunk, lit(1L))
      .otherwise(lit(1L) + expr(s"(__n - $chunk + ${stride - 1}) div $stride"))
    base
      .select(col(idCol), col("__tk"), col("__n"),
        posexplode(transform(sequence(lit(0L), nStarts - 1),
          i => i * stride)).as(Seq("chunk_idx", "start_tok")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok"),
        least(lit(chunk.toLong), col("__n") - col("start_tok")).as("n_chunk_tokens"),
        array_join(slice(col("__tk"), col("start_tok").cast("int") + 1,
          least(lit(chunk.toLong), col("__n") - col("start_tok")).cast("int")), " ")
          .as("chunk_text"))
  }

  /** Query-parameter names stripped by [[canonicalUrl]] — the tracking
    * params a crawl URL-dedup pass removes (UTM suite, click ids, bare
    * referrer tags). Anchored full-name match: `refresh=1` survives,
    * `ref=tw` does not. Like [[UrlPattern]], only syntax Java regex and
    * RE2 interpret identically (anchors, alternation of literals, one
    * optional group — no backrefs, no lookaround). */
  val TrackingParamPattern: String = "^(utm_[a-z0-9_]*|fbclid|gclid|ref)(=.*)?$"

  /** URL canonicalization — the normalization step before URL-level
    * dedup / frontier dedup in a crawl pipeline: scheme and host
    * lowercase (case-insensitive per RFC 3986), fragment dropped,
    * tracking query params ([[TrackingParamPattern]]) removed, the
    * surviving params sorted byte-wise so param order cannot split one
    * logical URL into many, and the '?' dropped when nothing survives.
    * Path case and ports are preserved (path case is significant;
    * default-port stripping is scheme-dependent policy, out of scope by
    * design). A string with no `scheme://host` shape canonicalizes to
    * NULL — never a silently-wrong fragment like "://" (a frontier
    * dedup keyed on that would collapse every malformed URL into one
    * group). NULL in → NULL out. Entirely row-local: regexp part
    * extraction + an array filter/sort/join, no shuffle, no UDF. */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val path = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val query = regexp_extract(url, "^[^?#]*\\?([^#]*)", 1)
    val params = when(length(query) > 0, split(query, "&", -1))
      .otherwise(array().cast("array<string>"))
    val kept = filter(params,
      p => length(p) > 0 && !p.rlike(TrackingParamPattern))
    when(length(scheme) > 0 && length(host) > 0,
      concat(scheme, lit("://"), host, path,
        when(size(kept) > 0, concat(lit("?"), array_join(sort_array(kept), "&")))
          .otherwise(lit(""))))
  }

  /** BM25 top-k retrieval (Robertson & Spärck Jones; the Lucene
    * `k1 = 1.2, b = 0.75, idf = ln(1 + (N − df + ½)/(df + ½))` form) —
    * the ranked-search primitive over a corpus the TF-IDF pass (p37)
    * tags. Scoring is restricted to `queryTerms` BEFORE the (doc, term)
    * aggregate, so the exchange carries only query-term postings —
    * O(docs containing a query term), not corpus vocabulary. Document
    * length and N/avglen reduce map-side and ride a broadcast row; the
    * top-k is TakeOrderedAndProject under the total (score DESC, id)
    * order. Determinism note: the per-doc score sums one double per
    * matched query term — with ≤ 2 query terms the sum is a single
    * commutative addition, bit-identical under any aggregation order;
    * callers passing 3+ terms accept last-ulp aggregation-order noise
    * (fine under the gate's float tolerance, and rank-stable when
    * adjacent scores are separated — audited ≥ 7e-4 here). */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, "k must be positive")
    // NULL text coalesces to blank: the doc counts as length-0 in the
    // avglen statistic instead of skewing it as a NULL the sum skips
    // while the count still counts
    val tk = split(trim(lower(coalesce(col(textCol), lit("")))), "\\s+")
    val lens = docs.select(col(idCol),
      tokenCount(coalesce(col(textCol), lit(""))).cast("long").as("len"))
    val tot = lens.agg(count(lit(1)).as("N"),
      (sum("len").cast("double") / count(lit(1))).as("avglen"))
    val dt = docs.select(col(idCol), explode(tk).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // df as a window over the postings, NOT a second aggregate joined
    // back: a groupBy+join would re-derive the postings subtree (Spark
    // does not share common sub-plans), paying a second corpus scan;
    // the window re-partitions only the tiny query-term posting list
    val dfW = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val contrib = dt.withColumn("df", count(lit(1)).over(dfW))
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(tot))
      .select(col(idCol),
        (log(lit(1.0) + (col("N") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("len") / col("avglen")))).as("c"))
    contrib.groupBy(col(idCol)).agg(sum("c").as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Pairwise n-gram containment decontamination — the fuzzy companion
    * to [[contamination]]: instead of a per-doc flag against the whole
    * benchmark, report WHICH benchmark item each training document
    * overlaps and by how much (the eval-leakage audit format). For each
    * (train, bench) pair sharing at least one word n-gram,
    *   containment = |grams(bench) ∩ grams(train)| / |grams(bench)|
    * over DISTINCT n-grams — asymmetric on purpose: a benchmark item
    * fully embedded in a long document scores 1.0. Pairs with
    * containment ≥ minContainment are returned as (id, ref_id,
    * n_matched, n_ref_grams, containment). `sameIdSpace` (default
    * true) states that docs and refs share ONE id space (the benchmark
    * is a slice of the corpus) and suppresses id-equal self-pairs;
    * pass false when the two sides have unrelated id spaces, where an
    * accidental id collision would otherwise hide a real leakage pair.
    *
    * Scale shape (100 TB corpus, MB benchmark): the benchmark side
    * reduces to distinct (ref_id, gram) rows — broadcast-sized by the
    * same argument as [[contamination]] — so the corpus streams through
    * ONE scan into a broadcast hash join; only MATCHED (id, ref_id)
    * rows reach the pair aggregate, which is map-side combinable.
    * Nothing grows with corpus × benchmark. Documents shorter than n
    * tokens contribute no grams and appear in no pair. */
  def ngramContainment(docs: DataFrame, refs: DataFrame,
      textCol: String, idCol: String, refIdCol: String,
      n: Int, minContainment: Double,
      sameIdSpace: Boolean = true): DataFrame = {
    require(n > 0, "n must be positive")
    require(minContainment >= 0, "minContainment must be >= 0")
    def gramSet(c: Column): Column = {
      val tk = split(trim(lower(c)), "\\s+")
      // bindArray: an unbound token array inside the window lambda
      // re-splits the document once per window — O(tokens²)/row
      array_distinct(graft.functions.BindOnce.bindArray(tk, tks =>
        when(size(tks) >= n,
          transform(sequence(lit(0), size(tks) - n),
            i => array_join(slice(tks, i + lit(1), lit(n)), " ")))
          .otherwise(array().cast("array<string>"))))
    }
    val refGrams = refs.select(col(refIdCol).as("ref_id"),
        gramSet(col(textCol)).as("__g"))
      .select(col("ref_id"), size(col("__g")).cast("long").as("n_ref_grams"),
        explode(col("__g")).as("gram"))
    val docGrams = docs.select(col(idCol), explode(gramSet(col(textCol))).as("gram"))
    val joined = docGrams.join(broadcast(refGrams), Seq("gram"))
    // The self-pair exclusion only makes sense when docs and refs draw
    // ids from ONE space (the benchmark is a slice of the corpus, the
    // p45 shape); with sameIdSpace = false an accidental id collision
    // between unrelated sides is a legitimate leakage pair and kept.
    val nonSelf =
      if (sameIdSpace) joined.filter(col(idCol) =!= col("ref_id")) else joined
    nonSelf
      .groupBy(col(idCol), col("ref_id"), col("n_ref_grams"))
      .agg(count(lit(1)).as("n_matched"))
      .withColumn("containment",
        col("n_matched").cast("double") / col("n_ref_grams"))
      .filter(col("containment") >= minContainment)
      .select(col(idCol), col("ref_id"), col("n_matched"),
        col("n_ref_grams"), col("containment"))
  }

  /** Bloom-filter decontamination gate — the CONSTANT-MEMORY membership
    * rung under the exact paths ([[contamination]] winnow-join,
    * [[ngramContainment]] broadcast-join): build one m-bit Bloom filter
    * from the reference slice's token `shingle`-grams
    * (Kirsch–Mitzenmacher double hashing, `probes` positions per gram
    * — [[graft.functions.BloomKernel]]), then count, per corpus doc,
    * how many of ITS grams the filter accepts. False positives are the
    * price of the compression and are BIT-IDENTICAL across engines:
    * the whole position computation restates in DuckDB through the
    * shared FNV/splitmix chain, so the oracle reproduces every FP,
    * not just every true hit. (Spark's own `stat.bloomFilter` exists
    * but its hash is engine-private — useless under a cross-engine
    * determinism contract.)
    *
    * Scale shape (100 TB): the build is ONE distinct-position
    * aggregate over the REFERENCE slice (the exchange is bounded by m
    * positions — never reference grams); the m/8-byte bitset embeds in
    * the probe expression as a plan reference object, so the
    * corpus-wide probe is a row-local codegen'd projection with ZERO
    * exchanges — the p20 exact path shuffles corpus-sized print sets
    * instead. Size m to the REFERENCE (which does not grow with the
    * corpus): m ≈ −n·ln(p)/(ln 2)² bits for n grams at FP rate p
    * (~21 bits/gram + 4 probes ≈ 5·10⁻⁶/gram — at that sizing the
    * 100× probe row flags EXACTLY the exact-join's doc set, 6.6×
    * faster, behind a 256 KB broadcast instead of a distinct-gram
    * broadcast join). The plan-reference embedding is honest to ~10⁹
    * bits (≤128 MB); a benchmark-decontamination reference (10⁶–10⁸
    * grams) fits comfortably — beyond that, shard the filter by
    * gram-hash prefix or fall back to the exact join. Returns every
    * doc: (id, n_grams, n_hits, flagged). NULL text ≡ blank. */
  /** Banned-phrase blocklist gate — the C4 §2.2 "List of Dirty, Naughty
    * … Words" step (Raffel et al. drop any page with a blocklist hit)
    * generalized to COUNTED, auditable verdicts: one Aho–Corasick
    * automaton walk per document ([[graft.functions.AcScan]]) reports
    * the total occurrence count (overlaps and nested matches included —
    * the AC contract) and the number of distinct patterns present, so a
    * curation run can threshold, not just drop. Matching is case-folded
    * substring match; NULL text ≡ blank.
    *
    * Scale shape (100 TB): the automaton is a pure function of the
    * bounded blocklist, built ONCE driver-side under explicit budgets
    * (named errors) and shipped as a plan reference object — the
    * corpus scan is row-local codegen with ZERO exchanges, vs
    * |patterns| LIKE/regex passes or an exploded token join. Returns
    * every doc: (id, n_matches, n_patterns, flagged). */
  def blocklistFilter(docs: DataFrame, textCol: String, idCol: String,
      patterns: Seq[String]): DataFrame = {
    val ac = graft.functions.AcScan(coalesce(col(textCol), lit("")), patterns)
    docs.select(col(idCol), ac.as("__ac"))
      .select(col(idCol),
        element_at(col("__ac"), 1).as("n_matches"),
        element_at(col("__ac"), 2).as("n_patterns"))
      .withColumn("flagged", col("n_matches") > 0L)
  }

  /** robots.txt fetch gate (RFC 9309 core — see
    * [[graft.functions.RobotsKernel]] for the group-selection and
    * longest-match contract): every URL row gets (allowed, rule) for
    * `agent` against its host's robots text. A host with no robots row
    * allows everything (the crawl convention for a missing file).
    *
    * Scale shape: the parse is paid once per DOMAIN (the robots table
    * is bounded far below the URL corpus) and the verdict is one
    * codegen'd array walk per URL after a host join — the frontier
    * never shuffles beyond that join, and when the domain table is
    * small it broadcasts. */
  def robotsGate(urls: DataFrame, idCol: String, hostCol: String,
      pathCol: String, robots: DataFrame, robotsHostCol: String,
      rulesCol: String, agent: String): DataFrame = {
    val parsed = robots.select(col(robotsHostCol).as("__rhost"),
      graft.functions.RobotsParse(coalesce(col(rulesCol), lit("")), agent)
        .as("__rules"))
    val noRules = graft.functions.RobotsParse(lit(""), agent)
    val verdict = graft.functions.RobotsMatch(
      coalesce(col("__rules"), noRules), col(pathCol))
    urls.join(parsed, col(hostCol) === col("__rhost"), "left")
      .select(col(idCol), col(hostCol), col(pathCol), verdict.as("__v"))
      .select(col(idCol), col(hostCol), col(pathCol),
        col("__v.allowed").as("allowed"), col("__v.rule").as("rule"))
  }

  def bloomDecontaminate(docs: DataFrame, textCol: String, idCol: String,
      refCond: Column, shingle: Int = 5, mBits: Int = 4096,
      probes: Int = 2): DataFrame = {
    val bits = bloomBuild(docs.filter(refCond), textCol, shingle, mBits, probes)
    bloomProbe(docs, textCol, idCol, bits, shingle, probes)
  }

  /** Build half of [[bloomDecontaminate]]: the m-bit filter over the
    * reference frame's grams (ONE distinct-position aggregate, exchange
    * bounded by m). Exposed so a STREAMING ingest can build the filter
    * once from a static reference and probe micro-batches row-locally
    * (st19). */
  def bloomBuild(ref: DataFrame, textCol: String, shingle: Int,
      mBits: Int, probes: Int): Array[Long] = {
    require(shingle > 0, "shingle must be positive")
    require(mBits > 0 && mBits % 64 == 0,
      "mBits must be a positive multiple of 64")
    require(probes > 0, "probes must be positive")
    val positions = ref
      .select(explode(graft.functions.BloomGramPositions(
        coalesce(col(textCol), lit("")), shingle, probes, mBits)).as("pos"))
      .distinct().collect().map(_.getLong(0))
    require(positions.nonEmpty,
      "reference slice has no grams — an empty filter would clear everything")
    val bits = new Array[Long](mBits / 64)
    positions.foreach(p => bits(p.toInt >>> 6) |= (1L << (p.toInt & 63)))
    bits
  }

  /** Probe half of [[bloomDecontaminate]]: row-local, zero-exchange
    * membership counting against a built bitset. Works identically on
    * a batch frame and a streaming micro-batch frame. */
  def bloomProbe(docs: DataFrame, textCol: String, idCol: String,
      bits: Array[Long], shingle: Int, probes: Int): DataFrame = {
    val nGrams = greatest(
      tokenCount(col(textCol)).cast("long") - (shingle - 1).toLong, lit(0L))
    docs.select(col(idCol), nGrams.as("n_grams"),
        graft.functions.BloomCountHits(coalesce(col(textCol), lit("")),
          shingle, probes, bits.toSeq).as("n_hits"))
      .withColumn("flagged", col("n_hits") > 0L)
  }

  /** Vocabulary coverage report — the tokenizer-planning analytics pass
    * (what fraction of token OCCURRENCES does a top-k vocabulary
    * cover?): the corpus token histogram ranked by (count DESC, token
    * ASC), with each rank's cumulative occurrence count and coverage
    * fraction; the top `k` ranks are returned. The (count, token) order
    * is total, so ranks are deterministic on every engine.
    *
    * Scale shape: ONE map-side-combined count shuffle (the exchange
    * carries distinct tokens + partial counts, never occurrences — the
    * p32 shape); the rank/cumsum window is un-partitioned but runs over
    * the VOCABULARY histogram, bounded by distinct tokens (10⁵–10⁷ at
    * web scale), not corpus rows — the same bounded-histogram
    * justification as [[lengthQuantileFilter]]. The occurrence total
    * rides a broadcast row. Returns (rank, token, n, cum, coverage). */
  def vocabCoverage(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val tk = split(trim(lower(col(textCol))), "\\s+")
    val hist = docs.select(explode(tk).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token"))
    // "__tot", not "N": Spark resolves case-insensitively by default,
    // so an "N" column would be ambiguous with the histogram's "n"
    val tot = hist.agg(sum("n").as("__tot"))
    hist
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum("n").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .filter(col("rank") <= k)
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("token"), col("n"), col("cum"),
        (col("cum").cast("double") / col("__tot")).as("coverage"))
  }

  /** N-gram LM quality scoring — the CCNet filter (Wenzek et al.,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data"; reference has no analogue): train an add-k-smoothed
    * BIGRAM language model on a trusted reference slice of the corpus
    * (CCNet trains on Wikipedia; here `refCond` picks the slice), then
    * score every document by its mean per-transition log-probability
    *   lp(w1→w2) = ln((c2(w1,w2) + k) / (c1(w1) + k·V))
    * where c2/c1 are reference bigram/unigram counts and V the
    * reference vocabulary size. Higher = more reference-like;
    * perplexity = exp(−score). Unseen transitions back off to the
    * uniform ln(k/(kV)) = −ln(V) floor — every value is defined, no
    * OOV special-casing. Documents with fewer than two tokens report
    * n_bigrams = 0 and a NULL score (present, not dropped).
    *
    * Scale shape (100 TB): the model is two aggregates over the
    * REFERENCE slice only (map-side-combined; the exchanges carry
    * distinct unigrams/bigrams + partial counts, never token
    * occurrences). Scoring is a stream of (id, w1, w2) rows — one per
    * corpus token — through two hash-co-partitioned LEFT joins against
    * the count tables (build row per key is one count; a hot function
    * word skews only the probe side, which AQE skew-split handles),
    * then ONE per-doc aggregate. V rides along as a broadcast 1-row
    * cross join, so the plan stays fully lazy — no driver-side
    * collect. Token strings are the join keys; at petabyte scale the
    * (w1, w2) exchange can be further shrunk by hashing the pair, at
    * the cost of the oracle's string-keyed restatement. */
  def bigramLmScore(docs: DataFrame, textCol: String, idCol: String,
      refCond: Column, k: Double = 1.0): DataFrame = {
    require(k > 0, "smoothing k must be positive")
    val tk = split(trim(lower(col(textCol))), "\\s+")
    // bindArray: an unbound `tk` inside the lambda re-splits the whole
    // document once per TRANSITION — O(tokens²) per row (measured ~25×
    // on the p38 LM stage)
    val prs = graft.functions.BindOnce.bindArray(tk, tks =>
      transform(sequence(lit(0), size(tks) - 2),
        i => struct(element_at(tks, i + 1).as("w1"), element_at(tks, i + 2).as("w2"))))
    def bigrams(d: DataFrame) = d.filter(size(tk) >= 2)
      .select(col(idCol), explode(prs).as("pr"))
      .select(col(idCol), col("pr.w1").as("w1"), col("pr.w2").as("w2"))
    val ref = docs.filter(refCond)
    val uni = ref.select(explode(tk).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).cast("double").as("__V"))
    val refB = bigrams(ref).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val perDoc = bigrams(docs)
      .join(refB, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        log((coalesce(col("c2"), lit(0L)) + lit(k)) /
          (coalesce(col("c1"), lit(0L)) + lit(k) * col("__V"))).as("lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), avg(col("lp")).as("lm_logprob"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lm_logprob"))
  }

  /** [[bigramLmScore]]'s per-transition log-probabilities WITH the
    * transition position (id, pos, lp) — the ordered-fold scoring
    * variants build on this. Same model, same joins, same lp
    * arithmetic. */
  private def lmTransitionLogProbs(docs: DataFrame, textCol: String,
      idCol: String, refCond: Column, k: Double): DataFrame = {
    val tk = split(trim(lower(col(textCol))), "\\s+")
    val prs = graft.functions.BindOnce.bindArray(tk, tks =>
      transform(sequence(lit(0), size(tks) - 2),
        i => struct(i.cast("long").as("pos"),
          element_at(tks, i + 1).as("w1"), element_at(tks, i + 2).as("w2"))))
    def bigrams(d: DataFrame) = d.filter(size(tk) >= 2)
      .select(col(idCol), explode(prs).as("pr"))
      .select(col(idCol), col("pr.pos").as("pos"),
        col("pr.w1").as("w1"), col("pr.w2").as("w2"))
    val ref = docs.filter(refCond)
    val uni = ref.select(explode(tk).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).cast("double").as("__V"))
    val refB = bigrams(ref).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    bigrams(docs)
      .join(refB, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol), col("pos"),
        log((coalesce(col("c2"), lit(0L)) + lit(k)) /
          (coalesce(col("c1"), lit(0L)) + lit(k) * col("__V"))).as("lp"))
  }

  /** [[bigramLmScore]] with a DETERMINISTIC per-doc mean: the
    * transition log-probs fold in transition order (sort_array over
    * (pos, lp) structs, then a sequential aggregate — the p53/p58
    * ordered-fold discipline) instead of `avg`'s partition-order
    * reassociation. Same model, same values — but the score is now a
    * pure function of the text, reproducible to the ulp on any cluster
    * layout, which is what lets DATA-DERIVED rank cutoffs
    * ([[ccnetLangBuckets]]) sit on it without the cut flipping between
    * runs. Cross-ENGINE noise reduces to libm `ln` ulps on identical
    * arguments (no summation-order term), ~1e-14 relative. */
  def bigramLmScoreOrdered(docs: DataFrame, textCol: String, idCol: String,
      refCond: Column, k: Double = 1.0): DataFrame = {
    require(k > 0, "smoothing k must be positive")
    val perDoc = lmTransitionLogProbs(docs, textCol, idCol, refCond, k)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (aggregate(sort_array(collect_list(struct(col("pos"), col("lp")))),
          lit(0.0), (acc, x) => acc + x.getField("lp")) / count(lit(1)))
          .as("lm_logprob"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lm_logprob"))
  }

  /** [[bigramLmScore]]'s (id, n_bigrams, lm_logprob) surface computed
    * the CCNet-deployment way: collect the reference-slice model once
    * ([[lmModelFor]], entry-budgeted) and score every document with the
    * row-local [[graft.functions.LmDocScore]] codegen kernel — a single
    * stateless projection — instead of exploding every corpus bigram
    * through two hash joins (guide §3.1/§2.4: the model IS the small
    * side; broadcasting it removes the corpus-token exchanges
    * entirely). Scores are the kernel's document-order fold —
    * bit-parity with [[bigramLmScoreOrdered]] (spec-pinned), within
    * ulps of [[bigramLmScore]]'s `avg` (summation order only). */
  def bigramLmScoreKernel(docs: DataFrame, textCol: String, idCol: String,
      refCond: Column, k: Double = 1.0,
      model: Option[graft.functions.LmModel] = None): DataFrame = {
    val m = model.getOrElse(lmModelFor(docs, textCol, refCond, k))
    Dedup.spread(docs).select(col(idCol),
        graft.functions.LmDocScore(col(textCol), m).as("__s"))
      .select(col(idCol),
        coalesce(element_at(col("__s"), 1).cast("long"), lit(0L)).as("n_bigrams"),
        element_at(col("__s"), 2).as("lm_logprob"))
  }

  /** Collect the reference-slice bigram LM into a shippable
    * [[graft.functions.LmModel]] (st30's streaming scorer): exact
    * unigram/bigram counts off the SAME expressions the batch join
    * pipeline aggregates, under an explicit entry budget with a named
    * error — the CCNet deployment shape (the model trains once on the
    * bounded reference slice and ships to executors; vocabulary² is
    * bounded by the reference slice, not the corpus). */
  def lmModelFor(docs: DataFrame, textCol: String, refCond: Column,
      k: Double = 1.0, maxEntries: Int = 1 << 22): graft.functions.LmModel = {
    require(k > 0, "smoothing k must be positive")
    // memoized per (reference-slice plan, k): p34/p92/st30 fit the SAME
    // model (same corpus, same refCond); r18 refit it eagerly in every
    // key — two extra collect jobs per pass at the driver's 32-core
    // config. The key is the ANALYZED plan of the slice the fit reads
    // (sameResult — the CacheManager's own equivalence), so a different
    // corpus, text column, or refCond fits fresh; the memo has pass
    // lifetime so every measured pass is cold.
    val keyPlan = docs.filter(refCond).select(col(textCol))
      .queryExecution.analyzed
    graft.Memo.lmModels.getOrElseUpdate(keyPlan, (k, maxEntries))(
      lmModelFit(docs, textCol, refCond, k, maxEntries))
  }

  private def lmModelFit(docs: DataFrame, textCol: String, refCond: Column,
      k: Double, maxEntries: Int): graft.functions.LmModel = {
    val tk = split(trim(lower(col(textCol))), "\\s+")
    // ONE tokenize+explode pass fits both tables: each token emits
    // (w1 = token, w2 = following token or NULL for the last), so the
    // (w1, w2) rollup carries the bigram counts in its non-NULL-w2 rows
    // and the unigram counts as the per-w1 sums (every token appears
    // exactly once as w1) — halving the fit's jobs/scans vs the
    // two-aggregation form (§2.3 aggregate-before-shuffle, one exchange)
    val prs = graft.functions.BindOnce.bindArray(tk, tks =>
      transform(sequence(lit(0), size(tks) - 1),
        i => struct(element_at(tks, i + 1).as("w1"),
          when(i + 2 <= size(tks), element_at(tks, i + 2)).as("w2"))))
    // spread: the single-row-group local test files give the scan ONE
    // task, serializing the tokenize+explode map side on one core; at
    // cluster scale the scan has many splits and this is a no-op
    // (guide §2.5, unsplittable-input repartition)
    val ref = Dedup.spread(docs.filter(refCond))
    val rows = ref.select(explode(prs).as("pr"))
      .select(col("pr.w1").as("w1"), col("pr.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .collect().map { r =>
        (r.getString(0), if (r.isNullAt(1)) None else Some(r.getString(1)),
          r.getLong(2))
      }
    val uniAgg = scala.collection.mutable.HashMap.empty[String, Long]
    rows.foreach { case (w1, _, c) =>
      uniAgg.update(w1, uniAgg.getOrElse(w1, 0L) + c)
    }
    val uniRows = uniAgg.toSeq
    require(uniRows.size <= maxEntries,
      s"lmModelFor: reference vocabulary ${uniRows.size} exceeds the " +
        s"$maxEntries-entry model budget")
    val biRows = rows.collect { case (w1, Some(w2), c) => ((w1, w2), c) }.toSeq
    require(biRows.size <= maxEntries,
      s"lmModelFor: reference bigram table ${biRows.size} exceeds the " +
        s"$maxEntries-entry model budget")
    graft.functions.LmModel(biRows, uniRows, k)
  }

  /** CCNet's ACTUAL bucketing protocol (Wenzek et al. §4.2): per
    * LANGUAGE, rank every document by reference-LM score and cut the
    * ranking into head / middle / tail THIRDS — the cutoffs are
    * DATA-DERIVED per-language ranks, not the calibrated fixed
    * thresholds p34 applies (a low-resource language's "good" scores
    * sit far below English's, so a global threshold starves it; the
    * per-language percentile cut is the fix and the reason CCNet
    * bucketizes per language).
    *
    * Semantics: within each predicted language (the [[languageId]]
    * kernel), rank scored docs by (lm_logprob DESC, id ASC); doc is
    * 'head' if rank ≤ ⌊n/3⌋, 'middle' if rank ≤ ⌊2n/3⌋, else 'tail';
    * unscored docs (< 2 tokens) are 'na'. Scores come from
    * [[bigramLmScoreOrdered]], so the ranking key is deterministic.
    *
    * Scale shape (100 TB): NO corpus-wide per-language sort — a
    * language is 40 % of a web corpus, so `Window.partitionBy(lang)`
    * would funnel 40 TB through one task. Instead the dsirSelect
    * bucket decomposition, per group: scores histogram into
    * ⌊score·granularity⌋ integer buckets (ONE map-side-combined count
    * exchange bounded by langs × score-range × granularity), each
    * language's two cutoff (bucket, within-bucket quota) pairs resolve
    * on the collected histogram, and only the two CUTOFF buckets' rows
    * pay a (lang, bucket)-local rank; every other row's verdict is a
    * row-local bucket comparison against the broadcast rules table. */
  def ccnetLangBuckets(docs: DataFrame, textCol: String, idCol: String,
      refCond: Column, k: Double = 1.0,
      granularity: Double = 32.0,
      model: Option[graft.functions.LmModel] = None): DataFrame = {
    require(granularity > 0.0, "granularity must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    // r18 optimization: scores come from the broadcast-model LmDocScore
    // kernel (bit-parity with the bigramLmScoreOrdered join pipeline —
    // spec-pinned), fused with the languageId projection into ONE
    // row-local pass over the corpus — the bigram explode, its two hash
    // joins, the sort_array fold AND the id-rejoin all disappear from
    // the plan (guide §2.4/§3.1). Callers that already fit the model
    // (st30) pass it in so it trains once.
    val m = model.getOrElse(lmModelFor(docs, textCol, refCond, k))
    // stage-cached: the scored frame feeds the histogram collect AND
    // the three verdict branches — uncached it would recompute ~4x;
    // the pass-lifetime stage slot unpersists it
    val base = graft.Memo.stages.pin(
      Dedup.spread(docs)
        .select(col(idCol), languageId(col(textCol)).as("pred_lang"),
          graft.functions.LmDocScore(col(textCol), m).as("__s"))
        .select(col(idCol), col("pred_lang"),
          coalesce(element_at(col("__s"), 1).cast("long"), lit(0L)).as("n_bigrams"),
          element_at(col("__s"), 2).as("lm_logprob"))
        .withColumn("__bkt",
          floor(col("lm_logprob") * granularity).cast("long")))
    val hist = base.filter(col("__bkt").isNotNull)
      .groupBy("pred_lang", "__bkt").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // per language: total n, then the cutoff (bucket, quota) for ranks
    // ⌊n/3⌋ and ⌊2n/3⌋ walking buckets from the top (dsirSelect's walk)
    def cutoff(buckets: Seq[(Long, Long)], r: Long): (Long, Long) = {
      if (r <= 0) return (Long.MaxValue, 0L)
      var cumBefore = 0L
      buckets.foreach { case (b, c) =>
        if (cumBefore + c >= r) return (b, r - cumBefore)
        cumBefore += c
      }
      (Long.MinValue, 0L) // unreachable: r ≤ n by construction
    }
    val rules = hist.groupBy(_._1).toSeq.map { case (lg, rows) =>
      val buckets = rows.map(r => (r._2, r._3)).sortBy(-_._1).toSeq
      val n = buckets.map(_._2).sum
      val (b1, q1) = cutoff(buckets, n / 3)
      val (b2, q2) = cutoff(buckets, 2 * n / 3)
      (lg, b1, q1, b2, q2)
    }.toDF("pred_lang", "b1", "q1", "b2", "q2")
    val joined = base.join(broadcast(rules), Seq("pred_lang"), "left")
    val isBoundary = coalesce(
      col("__bkt") === col("b1") || col("__bkt") === col("b2"), lit(false))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("pred_lang", "__bkt")
      .orderBy(col("lm_logprob").desc, col(idCol))
    val boundary = joined.filter(isBoundary)
      .withColumn("__rk", row_number().over(wB).cast("long"))
    val rest = joined.filter(!isBoundary).withColumn("__rk", lit(0L))
    boundary.unionByName(rest)
      .select(col(idCol), col("pred_lang"), col("n_bigrams"), col("lm_logprob"),
        when(col("lm_logprob").isNull, "na")
          .when(col("__bkt") > col("b1"), "head")
          .when(col("__bkt") === col("b1") && col("__rk") <= col("q1"), "head")
          .when(col("__bkt") > col("b2"), "middle")
          .when(col("__bkt") === col("b2") && col("__rk") <= col("q2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Trained hashed-feature quality classifier — the model-based filter
    * modern pretraining pipelines layer on top of rule batteries
    * (fastText/DCLM-style: label a curated reference class against the
    * rest of the crawl, learn token features, score the whole corpus).
    * Training is CLOSED-FORM multinomial naive Bayes with add-`k`
    * smoothing over `dim` hashed unigram buckets
    * ([[graft.functions.TokenBucket]]): per-class bucket occurrence
    * counts from the `trainCond` slice, class membership by `posCond`.
    * A document's score is its mean per-token log-odds
    * `ln P(b|pos) − ln P(b|neg)` ([[graft.functions.HashedLogOdds]] —
    * the length-normalized convention of the DCLM/CCNet filters); the
    * class prior is a corpus constant and deliberately not folded in
    * (scores rank documents; thresholds are calibrated downstream).
    *
    * Closed-form training (vs. iterative logistic regression) is what
    * makes the whole model oracle-restatable: the DuckDB oracle
    * RETRAINS from the same slice (exact integer counts through the
    * p03 FNV/splitmix limb chain) and re-scores — nothing depends on a
    * stored-weights side channel, and there is no float-iteration
    * drift to tolerate.
    *
    * Scale shape (100 TB): training is ONE map-side-combined aggregate
    * whose exchange carries ≤ 2·`dim` (class, bucket) partial counts
    * per partition — never token occurrences; the learned table
    * (2·`dim` longs) collects to the driver and embeds in the scoring
    * expression as a plan reference object, so the corpus-wide scoring
    * pass is a row-local codegen'd projection with zero exchanges.
    * Both classes must appear in the training slice (named error
    * otherwise — a silent one-class fit would score everything 0).
    * NULL text ≡ blank (no tokens): NULL score — verdict bucketing
    * (e.g. p53's 'keep'/'drop'/'na') is the caller's concern; this
    * method returns only (id, n_tokens, score). */
  def nbQualityClassifier(docs: DataFrame, textCol: String, idCol: String,
      posCond: Column, trainCond: Column,
      dim: Int = 256, k: Double = 1.0): DataFrame = {
    require(dim > 0, "dim must be positive")
    require(k > 0, "smoothing k must be positive")
    val toks = split(trim(lower(coalesce(col(textCol), lit("")))), "\\s+")
    val counts = docs.filter(trainCond)
      .select(posCond.as("pos"), explode(toks).as("t"))
      .filter(length(col("t")) > 0)
      .select(col("pos"), graft.functions.TokenBucket(col("t"), dim).as("b"))
      .groupBy("pos", "b").agg(count(lit(1)).as("c"))
      .collect()
    val cnt = Array.fill(2, dim)(0L) // 0 = neg, 1 = pos
    counts.foreach { r =>
      cnt(if (r.getBoolean(0)) 1 else 0)(r.getInt(1)) = r.getLong(2) }
    val Array(totNeg, totPos) = cnt.map(_.sum)
    require(totPos > 0 && totNeg > 0,
      s"training slice must contain tokens of BOTH classes " +
        s"(pos=$totPos, neg=$totNeg occurrences)")
    val logOdds: Seq[Double] = (0 until dim).map { b =>
      math.log((cnt(1)(b) + k) / (totPos + k * dim)) -
        math.log((cnt(0)(b) + k) / (totNeg + k * dim))
    }
    val nTok = size(filter(toks, t => length(t) > 0)).cast("long")
    docs.select(col(idCol), nTok.as("n_tokens"),
      round(graft.functions.HashedLogOdds(col(textCol), logOdds), 6).as("score"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023;
    * reference has no analogue): select `frac` of the corpus so the
    * SELECTED distribution matches a small target slice, not by
    * hard-thresholding a quality score but by RESAMPLING with
    * probability proportional to the importance weight
    * `w(doc) = p_target(doc) / p_raw(doc)` under two hashed unigram
    * bucket models (the paper's hashed n-gram features; add-`k`
    * smoothing over `dim` buckets of the shared [[TokenBucket]]
    * kernel). A document's log weight is the per-token SUM of bucket
    * log-ratios ([[graft.functions.HashedLogOdds]] with `mean=false`
    * — a weight is a product of per-token ratios). Sampling without
    * replacement ∝ w is the Gumbel-top-k trick, derandomized the
    * [[Sampling.hash63]] way: key = log w + Gumbel(0,1) where the
    * Gumbel draw is `−ln(−ln(u))`, `u = ((hash63(id, seed) >>> 11) +
    * 0.5) / 2⁵²` — a pure function of (id, seed), u ∈ (0,1) strictly,
    * and EXACT in both engines (52-bit numerator, power-of-two
    * divisor: no rounding before the ln). The top-n keys are the
    * sample (n = max(1, ⌊frac·N⌋), ties impossible up to hash
    * collisions and then broken by id).
    *
    * Scale shape (100 TB): model training is ONE map-side-combined
    * aggregate whose exchange carries ≤ `dim` (bucket, raw, target)
    * partial-count rows per partition; the learned log-ratio table
    * embeds in the scoring expression as a plan reference object, so
    * weighting + Gumbel keying is a row-local codegen'd projection
    * with zero exchanges. Selection avoids both the global
    * single-partition window AND a driver top-n heap via bucket
    * decomposition: keys histogram into `⌊key·granularity⌋` integer
    * buckets (ONE map-side-combined count exchange, bounded by the
    * key range × granularity — hundreds of rows), the cutoff bucket
    * and its remaining quota resolve on the collected histogram, and
    * only the CUTOFF bucket's rows (≈ N/buckets, tuned by
    * `granularity`) pay a within-bucket rank; every other row's
    * verdict is a row-local bucket comparison. Exact top-n semantics,
    * exchanges bounded by histogram + one bucket.
    *
    * Returns every doc: (id, n_tokens, log_weight, gumbel_key,
    * selected). NULL text ≡ blank (empty product: log weight 0). */
  def dsirSelect(docs: DataFrame, textCol: String, idCol: String,
      targetCond: Column, frac: Double, dim: Int = 256, k: Double = 1.0,
      seed: Long = 0L, granularity: Double = 8.0): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, "frac must be in (0, 1]")
    require(dim > 0, "dim must be positive")
    require(k > 0, "smoothing k must be positive")
    require(granularity > 0.0, "granularity must be positive")
    val text = coalesce(col(textCol), lit(""))
    val toks = split(trim(lower(text)), "\\s+")
    // ONE pass over the corpus: raw counts with target-slice counts
    // riding the same exchange (dim-bounded) — never two corpus scans
    val counts = docs
      .select(targetCond.as("tgt"), explode(toks).as("t"))
      .filter(length(col("t")) > 0)
      .select(col("tgt"), graft.functions.TokenBucket(col("t"), dim).as("b"))
      .groupBy("b").agg(count(lit(1)).as("raw"),
        count(when(col("tgt"), 1)).as("tgtc"))
      .collect()
    val raw = Array.fill(dim)(0L)
    val tgt = Array.fill(dim)(0L)
    counts.foreach { r =>
      raw(r.getInt(0)) = r.getLong(1); tgt(r.getInt(0)) = r.getLong(2) }
    val totRaw = raw.sum
    val totTgt = tgt.sum
    require(totTgt > 0, "target slice has no tokens — nothing to match")
    require(totRaw > 0, "corpus has no tokens — nothing to select from")
    val logRatio: Seq[Double] = (0 until dim).map { b =>
      math.log((tgt(b) + k) / (totTgt + k * dim)) -
        math.log((raw(b) + k) / (totRaw + k * dim))
    }
    val n = docs.count()
    val nSel = math.max(1L, math.floor(frac * n).toLong)
    val nTok = size(filter(toks, t => length(t) > 0)).cast("long")
    val logW = graft.functions.HashedLogOdds(text, logRatio, mean = false)
    // u exact in both engines: 52-bit numerator + 0.5, power-of-two divisor
    val u = (shiftrightunsigned(Sampling.hash63(col(idCol), seed), 11)
      .cast("double") + lit(0.5)) / lit(math.pow(2, 52))
    val keyCol = logW + -log(-log(u))
    val scored = docs.select(col(idCol), nTok.as("n_tokens"),
        logW.as("__lw"), keyCol.as("__key"))
      .withColumn("__bkt", floor(col("__key") * granularity).cast("long"))
    // histogram collect: bounded by key-range × granularity (the
    // nbQualityClassifier bounded-collect discipline)
    val hist = scored.groupBy("__bkt").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1)
    // walk buckets from the top: find the cutoff bucket + its quota
    var cumBefore = 0L
    var cutoff = Long.MinValue
    var quota = 0L
    val it = hist.iterator
    var done = false
    while (it.hasNext && !done) {
      val (b, c) = it.next()
      if (cumBefore + c >= nSel) { cutoff = b; quota = nSel - cumBefore; done = true }
      else cumBefore += c
    }
    if (!done) { cutoff = Long.MinValue; quota = 0L } // nSel ≥ N: all selected
    val above = scored.filter(col("__bkt") > cutoff || lit(!done))
      .withColumn("selected", lit(true))
    val below = scored.filter(col("__bkt") < cutoff && lit(done))
      .withColumn("selected", lit(false))
    // only the cutoff bucket pays a rank, and only over ITS rows
    val wIn = org.apache.spark.sql.expressions.Window
      .orderBy(col("__key").desc, col(idCol))
    val boundary = scored.filter(col("__bkt") === cutoff && lit(done))
      .withColumn("selected", row_number().over(wIn) <= quota)
    above.unionByName(below).unionByName(boundary)
      .select(col(idCol), col("n_tokens"),
        round(col("__lw"), 6).as("log_weight"),
        round(col("__key"), 6).as("gumbel_key"),
        col("selected"))
  }

  /** One learned BPE merge: at `step`, the adjacent symbol pair
    * (`left`, `right`) had the highest corpus occurrence count
    * (`pair_count`, ties broken lexicographically) and was fused. */
  final case class BpeMerge(step: Int, left: String, right: String,
    pair_count: Long)

  /** BPE vocabulary TRAINING (Sennrich et al. 2016) — the
    * tokenizer-prep step a training-data engine owns: `merges` greedy
    * iterations of fuse-the-most-frequent-adjacent-symbol-pair over
    * the corpus word histogram, every pair occurrence weighted by word
    * frequency. Returns the merge table and the final per-word
    * segmentation, which are a PURE function of the histogram:
    * the argmax total order is (count DESC, left ASC, right ASC) and
    * merge application is the standard left-to-right greedy scan, so
    * identical corpora give bit-identical vocabularies on any cluster
    * layout.
    *
    * Scale shape (100 TB): the ONLY corpus pass is the word-count
    * aggregate (map-side combined — the exchange carries distinct
    * words + partial counts, the p32/p48 bounded-histogram shape).
    * The merge loop runs over the VOCABULARY, bounded by distinct
    * words (10⁵–10⁷ at web scale), collected under an explicit row
    * budget with a named error — the same single-node reduction
    * sentencepiece/fastText training performs after their own corpus
    * scan. Running out of mergeable pairs (every word fully fused) is
    * a named error, never a silent truncation of the requested merge
    * count. NULL text ≡ blank (the corpus-wide contract). */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int,
      maxVocab: Int = 1 << 22): (Seq[BpeMerge], Seq[(String, Long, Seq[String])]) = {
    require(merges > 0, "merges must be positive")
    require(maxVocab > 0, "maxVocab must be positive")
    val tk = split(trim(lower(coalesce(col(textCol), lit("")))), "\\s+")
    val hist = docs.select(explode(tk).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
    val rows = hist.limit(maxVocab + 1).collect()
    if (rows.length > maxVocab)
      throw new IllegalArgumentException(
        s"BPE vocabulary histogram exceeds the $maxVocab-row driver " +
          "budget; raise maxVocab or pre-filter the corpus")
    val words: Array[(String, Long)] =
      rows.map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    // seed symbols are CODEPOINTS, not UTF-16 units: an astral char
    // must seed ONE symbol (a per-char split would seed two unpaired
    // surrogate halves — invalid strings that mangle on materialization
    // and diverge from the oracle's per-codepoint string_split)
    var seg: Array[Array[String]] =
      words.map { case (w, _) =>
        val b = Array.newBuilder[String]
        var i = 0
        while (i < w.length) {
          val n = Character.charCount(w.codePointAt(i))
          b += w.substring(i, i + n)
          i += n
        }
        b.result()
      }
    val out = Seq.newBuilder[BpeMerge]
    var step = 1
    while (step <= merges) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < seg.length) {
        val sy = seg(wi); val c = words(wi)._2
        var i = 0
        while (i + 1 < sy.length) {
          val k = (sy(i), sy(i + 1))
          pc.update(k, pc.getOrElse(k, 0L) + c)
          i += 1
        }
        wi += 1
      }
      if (pc.isEmpty)
        throw new IllegalArgumentException(
          s"BPE ran out of mergeable pairs at step $step of $merges " +
            "(every word fully fused); request fewer merges")
      // order-independent argmax: max count, then lexicographically
      // smallest (left, right) — HashMap iteration order cannot leak
      val ((l, r), c) = pc.minBy { case ((a, b), n) => (-n, a, b) }
      out += BpeMerge(step, l, r, c)
      seg = seg.map { sy =>
        val b = Array.newBuilder[String]
        var i = 0
        while (i < sy.length) {
          if (i + 1 < sy.length && sy(i) == l && sy(i + 1) == r) {
            b += l + r; i += 2
          } else { b += sy(i); i += 1 }
        }
        b.result()
      }
      step += 1
    }
    (out.result(), words.toSeq.zip(seg.toSeq).map { case ((w, c), sy) =>
      (w, c, sy.toSeq) })
  }

  /** A trained BPE model: the merge table and the final per-word
    * segmentation, exactly [[bpeTrain]]'s result. */
  type BpeModel = (Seq[BpeMerge], Seq[(String, Long, Seq[String])])

  /** The [[bpeTrain]] merge table as a DataFrame — p54's merge-table
    * gate: (step, left, right, pair_count). */
  def bpeMergesDf(docs: DataFrame, textCol: String, merges: Int): DataFrame =
    bpeMergesDfFromModel(docs.sparkSession, bpeTrain(docs, textCol, merges))

  def bpeMergesDfFromModel(spark: org.apache.spark.sql.SparkSession,
      model: BpeModel): DataFrame = {
    import spark.implicits._
    model._1.toDF()
  }

  /** The learned merge list applied to every distinct corpus word —
    * the segmentation side of the p54 gate: (word, word_count,
    * n_pieces, pieces). Reuses the training run final
    * segmentation state (segmentation is per-VOCABULARY-WORD,
    * never per occurrence; corpus text re-tokenizes by a broadcast
    * word→pieces join, the standard vocab-bounded shape). */
  def bpeSegmentsDf(docs: DataFrame, textCol: String, merges: Int): DataFrame =
    bpeSegmentsDfFromModel(docs.sparkSession, bpeTrain(docs, textCol, merges))

  def bpeSegmentsDfFromModel(spark: org.apache.spark.sql.SparkSession,
      model: BpeModel): DataFrame = {
    import spark.implicits._
    model._2
      .map { case (w, c, sy) => (w, c, sy.length.toLong, sy.mkString(" ")) }
      .toDF("word", "word_count", "n_pieces", "pieces")
  }

  /** Corpus tokenization under the LEARNED [[bpeTrain]] vocabulary —
    * the step pretraining-data budgeting actually runs with a trained
    * tokenizer (p39/p16 count whitespace/heuristic tokens; this counts
    * TRUE subword pieces): per document, whitespace words, total BPE
    * pieces, and chars-per-piece compression. Empty/NULL docs keep a
    * row (0, 0, NULL ratio) — the p47 report-card contract.
    *
    * Scale shape: the vocabulary (word → piece count) is
    * vocab-bounded, so it BROADCASTS — the corpus streams through one
    * scan into a broadcast hash join keyed by word; the only exchange
    * is the per-doc sum (map-side combined on doc id). Tokenizing by
    * vocabulary join instead of re-running merges per occurrence is
    * the standard trick: segmentation cost is paid once per DISTINCT
    * word at train time. */
  def bpeTokenizeCorpus(docs: DataFrame, textCol: String, idCol: String,
      merges: Int): DataFrame =
    bpeTokenizeCorpusWith(docs, textCol, idCol, bpeTrain(docs, textCol, merges))

  /** [[bpeTokenizeCorpus]] with an ALREADY-trained model — the
    * train-once path (the p54/p56/p59 keys share one training per
    * dir). The model's vocabulary must come from the same corpus
    * contract (same tokenization), or unknown words silently drop from
    * the counts. */
  def bpeTokenizeCorpusWith(docs: DataFrame, textCol: String, idCol: String,
      model: BpeModel): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = model._2
      .map { case (w, _, sy) => (w, sy.length.toLong) }
      .toDF("w", "pieces_per_word")
    val tk = split(trim(lower(coalesce(col(textCol), lit("")))), "\\s+")
    val perDoc = docs.select(col(idCol), explode(tk).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(vocab), Seq("w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        sum(col("pieces_per_word")).as("n_pieces"),
        sum(length(col("w"))).cast("long").as("n_word_chars"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        round(col("n_word_chars").cast("double") / col("n_pieces"), 6)
          .as("chars_per_piece"))
  }
}
