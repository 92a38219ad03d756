package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators (dedup / similarity search /
  * text analysis / multimodal) exposed as driver-checkable queries over
  * the documents and embeddings tables. SQL-expressible ops carry DuckDB
  * oracles; the LSH/UDF-based ops are rows-only with semantics pinned by
  * PipelineSpec. */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** p01: exact dedup — duplicate groups by 256-bit content hash. */
  val p01DedupExact: Q = (spark, dir) => {
    Dedup.exactGroups(Tables.load(spark, dir, "documents"), "text", "doc_id")
      .select(col("content_hash"), col("keeper_id"), col("n_copies"))
      .orderBy("keeper_id")
  }

  val p01Sql: String =
    """SELECT sha256(text) AS content_hash, min(doc_id) AS keeper_id,
      |       count(*) AS n_copies
      |FROM documents
      |GROUP BY sha256(text)
      |ORDER BY keeper_id""".stripMargin

  // MinHash candidate pairs shared by p02/p04: the banding machinery is
  // identical for both, only the est_jaccard threshold differs — compute
  // once per dir at the loosest threshold and filter downstream
  private def minhashCandsFor(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.minhashCands.getOrElseUpdate(dir) {
      val c = Dedup.minHashCandidates(Tables.load(spark, dir, "documents"),
        "text", "doc_id", minEstJaccard = 0.1).cache()
      c.count()
      c
    }

  /** p02: MinHash+LSH near-dup candidate pairs (rows-only: the candidate
    * set is algorithm-defined, pinned by PipelineSpec recall tests). */
  val p02MinHashLsh: Q = (spark, dir) => {
    minhashCandsFor(spark, dir)
      .filter(col("est_jaccard") >= 0.2)
      .select(col("id0"), col("id1"), round(col("est_jaccard"), 6).as("est_jaccard"))
      .orderBy("id0", "id1")
  }

  /** p18: near-dup dedup CLUSTERS — connected components over the p02
    * LSH pair graph (est_jaccard >= 0.2), labeled by minimum member;
    * per-component sizes. The step that turns pairwise candidates into
    * "keep one document per cluster". */
  val p18DedupComponents: Q = (spark, dir) => {
    val pairs = minhashCandsFor(spark, dir)
      .filter(col("est_jaccard") >= 0.2)
      .select(col("id0"), col("id1"))
    Dedup.connectedComponents(pairs, "id0", "id1")
      .groupBy("component").agg(count(lit(1)).as("n_docs"))
      .orderBy("component")
  }

  /** p28: near-dup dedup MATERIALIZATION — the step that turns p18's
    * clusters into the surviving corpus: every doc except non-keeper
    * cluster members (keeper = minimum doc_id per component; docs in no
    * cluster survive untouched). Scale shape: the loser set is tiny
    * (only near-dup members minus one keeper each), so the subtraction
    * is a broadcast LEFT ANTI join — the corpus streams through one
    * scan. */
  val p28DedupMaterialize: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val pairs = minhashCandsFor(spark, dir)
      .filter(col("est_jaccard") >= 0.2).select(col("id0"), col("id1"))
    val losers = Dedup.connectedComponents(pairs, "id0", "id1")
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    docs.join(broadcast(losers), Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  /** p28 oracle: the p18 reachability closure (bit-exact MinHash chain
    * + recursive component labels) subtracted from the corpus — a doc
    * survives iff it is not a non-keeper member of any component. */
  lazy val p28Sql: String = {
    val cut = p18Sql.lastIndexOf("SELECT component::BIGINT")
    require(cut >= 0,
      "p28Sql composes on p18Sql's final SELECT — update both together")
    val prefix = p18Sql.substring(0, cut)
    prefix + """SELECT d.doc_id
      |FROM documents d
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM comp c WHERE c.doc_id = d.doc_id AND c.component < d.doc_id)
      |ORDER BY doc_id""".stripMargin
  }

  /** p03: SimHash near-dup pairs within Hamming distance 6. */
  val p03SimHash: Q = (spark, dir) => {
    Dedup.simHashPairs(Tables.load(spark, dir, "documents"),
      "text", "doc_id", maxHamming = 6)
      .orderBy("id0", "id1")
  }

  /** p04: exact n-gram Jaccard verification over LSH candidates. */
  val p04NgramJaccard: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    Dedup.ngramJaccard(docs, minhashCandsFor(spark, dir), "text", "doc_id",
      minJaccard = 0.2)
      .select(col("id0"), col("id1"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id0", "id1")
  }

  /** p05: embedding-cosine near-dup pairs via hyperplane LSH buckets.
    * The synthetic embeddings have no planted near-dup clusters (max
    * pairwise cosine ≈ 0.5–0.6 across SFs), so the production-shaped
    * default (minCosine 0.95, 16-bit chunks) correctly finds nothing —
    * this key probes the moderate-similarity tail: 8 chunks of a
    * 128-BIT signature (16-bit chunk values) with single-bit
    * multi-probe, so a chunk collides iff the two values are within
    * Hamming 2 — per-pair collision ≈ 1-(1-0.033)^8 ≈ 24 % at cosine
    * 0.4, at or above the r12 8-bit-chunk config's 18 %. The r12
    * config keyed buckets on 8-bit values — 8 × 256 = 2,048 TOTAL
    * buckets, so occupancy grew linearly with the corpus and past the
    * cap recall collapsed to star edges (the one scale-killer left on
    * the r12 books); this layout keeps a 524 k-bucket key space. */
  val p05CosineNearDup: Q = (spark, dir) => {
    SimilaritySearch.cosineNearDupPairs(
      Tables.load(spark, dir, "embeddings"), "embedding", "vec_id",
      minCosine = 0.4, chunks = 8, bits = 128, probeHamming = 1)
      .select(col("id0"), col("id1"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id0", "id1")
  }

  /** p14: exact n-gram Jaccard over a DETERMINISTIC candidate set — all
    * pairs among the 50 lowest doc_ids (with ≥ shingleSize tokens, so no
    * empty gram sets reach the division) — which makes the exact-verify
    * kernel ANSI-expressible end-to-end: DuckDB rebuilds the same word
    * 3-gram sets and Jaccard, and the driver hash-compares. p04 keeps the
    * production shape (LSH candidates); this key proves the verify math. */
  val p14NgramJaccardExact: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val ids = docs.filter(col("doc_id") <= 50)
      .filter(size(split(trim(lower(col("text"))), "\\s+")) >= 3)
      .select(col("doc_id").as("id"))
    val cands = ids.select(col("id").as("id0"))
      .crossJoin(ids.select(col("id").as("id1")))
      .filter(col("id0") < col("id1"))
    Dedup.ngramJaccard(docs, cands, "text", "doc_id", minJaccard = 0.0)
      .select(col("id0"), col("id1"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id0", "id1")
  }

  val p14Sql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      |  FROM documents WHERE doc_id <= 50),
      |g AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, greatest(len(tk) - 2, 0) + 1),
      |           i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS grams
      |  FROM d WHERE len(tk) >= 3)
      |SELECT a.doc_id AS id0, b.doc_id AS id1,
      |       round(len(list_intersect(a.grams, b.grams))::DOUBLE /
      |             len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
      |FROM g a JOIN g b ON a.doc_id < b.doc_id
      |ORDER BY id0, id1""".stripMargin

  /** p06: brute-force cosine top-k neighbors of vec_id 0 — exact ANN
    * baseline, DuckDB-oracled. */
  val p06AnnTopK: Q = (spark, dir) => {
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    SimilaritySearch.bruteForceTopK(emb, "embedding", "vec_id", q, 10)
      .select(col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
  }

  val p06Sql: String =
    """SELECT e.vec_id AS neighbor_id,
      |       round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine
      |FROM embeddings e,
      |     (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
      |         neighbor_id ASC
      |LIMIT 10""".stripMargin

  // IVF index fitted once per scale-factor dir (k-means is the build
  // cost; queries only probe cells)
  def ivfIndexFor(spark: org.apache.spark.sql.SparkSession, dir: String): SimilaritySearch.IvfIndex =
    graft.Memo.ivfIndexes.getOrElseUpdate(dir) {
      val idx = SimilaritySearch.ivfIndex(
        Tables.load(spark, dir, "embeddings"), "embedding", "vec_id")
      idx.copy(cells = idx.cells.cache())
    }

  /** p07: IVF pruned ANN — k-means coarse quantizer (MLlib k-means||),
    * probe the nearest cells only (rows-only; recall vs p06 brute force
    * asserted in PipelineSpec). */
  val p07AnnIvf: Q = (spark, dir) => {
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    SimilaritySearch.ivfTopK(ivfIndexFor(spark, dir), q, 10, nProbe = 4)
      .select(col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** p15: IVF with every cell probed — exhaustive probing makes the
    * two-stage search EXACTLY the brute-force answer (same scan set, same
    * ranking), so the whole IVF machinery (quantizer fit, NearestCentroid
    * cell routing, probe pruning, re-rank) sits behind the DuckDB oracle:
    * if cell assignment dropped or misrouted one vector, the top-k would
    * differ. p07 keeps the production shape (pruned probes, recall-pinned
    * vs p06 in PipelineSpec); this key proves the index is lossless. */
  val p15AnnIvfExact: Q = (spark, dir) => {
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val idx = ivfIndexFor(spark, dir)
    SimilaritySearch.ivfTopK(idx, q, 10, nProbe = idx.centroids.length)
      .select(col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** p83: incremental IVF maintenance ([[SimilaritySearch.ivfAdd]] —
    * the FAISS `add` path) ACROSS A SESSION BOUNDARY: the index fits
    * on the 90 % base snapshot, round-trips through storage
    * ([[SimilaritySearch.ivfSave]]/[[SimilaritySearch.ivfLoad]] — the
    * reload reads only parquet, nothing from the fitted object, which
    * is what a recurring crawl-refresh job in a NEW session does), the
    * 10 % increment (which contains the query vector) is assigned into
    * the RELOADED frozen quantizer's cells with no refit, and the
    * merged index probed EXHAUSTIVELY must equal brute force over the
    * FULL corpus (the p15 discipline — a lost, duplicated, or
    * misrouted increment vector changes the top-k). The no-refit and
    * base-untouched contracts are spec-pinned. */
  private val p83IdxDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  val p83IvfIncrement: Q = (spark, dir) => {
    val emb = Tables.load(spark, dir, "embeddings")
    val base = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val inc = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val baseIdx = SimilaritySearch.ivfIndex(base, "embedding", "vec_id")
    // ONE scratch dir per source dir per JVM (overwrite-mode save), so
    // repeated bench/verify runs do not accumulate index copies in /tmp
    val idxDir = p83IdxDirs.getOrElseUpdate(dir,
      java.nio.file.Files.createTempDirectory("graft_p83_idx")
        .toFile.getAbsolutePath)
    SimilaritySearch.ivfSave(baseIdx, idxDir)
    val reloaded = SimilaritySearch.ivfLoad(spark, idxDir)
    val merged = SimilaritySearch.ivfAdd(reloaded, inc, "embedding", "vec_id")
    SimilaritySearch.ivfTopK(merged, q, 10, nProbe = merged.centroids.length)
      .select(col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** p84: Unicode NFC normalization
    * ([[graft.functions.NfcNormalize]]) — the pre-tokenization
    * normalization step (sentencepiece's NMT-NFKC slot at its NFC
    * floor): the fixture plants decomposed combining sequences
    * (e + U+0301, A + U+030A, n + U+0303) on residue classes of the
    * otherwise-ASCII corpus, and the gate compares the FULL normalized
    * text, the changed flag, and codepoint counts before/after —
    * Java's Normalizer and DuckDB's utf8proc implement the same
    * canonical composition, which this key proves on every row.
    * Row-local with an isNormalized fast path (the 100-TB corpus is
    * overwhelmingly already NFC; only the decomposed tail pays the
    * copy). */
  /** The p84/st25 DECOMPOSED plants (base char + combining mark,
    * spelled as escapes so nothing can silently precompose them):
    * e+U+0301, i+U+0308, A+U+030A, o+U+0308, n+U+0303. */
  private[graft] def p84FixtureText: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    concat(coalesce(col("text"), lit("")),
      when(pmod(d, lit(4)) === 0, lit(" cafe\u0301 nai\u0308ve"))
        .otherwise(lit("")),
      when(pmod(d, lit(6)) === 0, lit(" A\u030Angstro\u0308m ring"))
        .otherwise(lit("")),
      when(pmod(d, lit(9)) === 0, lit(" man\u0303ana plain"))
        .otherwise(lit("")))
  }

  val p84NfcNormalize: Q = (spark, dir) => {
    val d = col("doc_id")
    Tables.load(spark, dir, "documents")
      .select(d, p84FixtureText.as("__t"))
      .select(d, col("__t"),
        graft.functions.NfcNormalize(col("__t")).as("normalized"))
      .select(d,
        (col("normalized") =!= col("__t")).as("changed"),
        length(col("__t")).as("n_chars_before"),
        length(col("normalized")).as("n_chars_after"),
        col("normalized"))
      .orderBy("doc_id")
  }

  /** p84 oracle: the same decomposed plants via chr() codepoints,
    * normalized by DuckDB's utf8proc nfc_normalize — full-text
    * equality across two independent Unicode implementations. */
  private[graft] def p84SqlPublic: String = p84Sql

  val p84Sql: String =
    """|WITH aug AS (
      |  SELECT doc_id,
      |    coalesce(text, '')
      |    || CASE WHEN doc_id % 4 = 0 THEN ' cafe' || chr(769) || ' nai' || chr(776) || 've' ELSE '' END
      |    || CASE WHEN doc_id % 6 = 0 THEN ' A' || chr(778) || 'ngstro' || chr(776) || 'm ring' ELSE '' END
      |    || CASE WHEN doc_id % 9 = 0 THEN ' man' || chr(771) || 'ana plain' ELSE '' END AS t
      |  FROM documents)
      |SELECT doc_id,
      |  nfc_normalize(t) <> t AS changed,
      |  CAST(length(t) AS BIGINT) AS n_chars_before,
      |  CAST(length(nfc_normalize(t)) AS BIGINT) AS n_chars_after,
      |  nfc_normalize(t) AS normalized
      |FROM aug ORDER BY doc_id""".stripMargin

  /** The p85/st27 COMPATIBILITY plants: a ligature+superscript+squared-
    * unit suffix, a fullwidth-forms suffix, and a canonical-decomposed
    * + enclosed-numeric suffix — each on its own residue class so the
    * classes overlap (doc 0 gets all three) and most docs get none
    * (the isNormalized fast path stays the hot path). */
  private[graft] def p85FixtureText: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    concat(coalesce(col("text"), lit("")),
      when(pmod(d, lit(4)) === 0, lit(" \uFB01le \u00B2nd \u339E"))
        .otherwise(lit("")),
      when(pmod(d, lit(6)) === 0,
          lit(" \uFF26\uFF55\uFF4C\uFF4C \uFF57\uFF49\uFF44\uFF54\uFF48\uFF15"))
        .otherwise(lit("")),
      when(pmod(d, lit(9)) === 0, lit(" cafe\u0301 \u2116\u2466"))
        .otherwise(lit("")))
  }

  /** p85: Unicode NFKC normalization
    * ([[graft.functions.NfkcNormalize]]) — the tokenizer-trainer form
    * of p84: compatibility characters (ligature ﬁ, superscript ²,
    * squared unit ㎞, fullwidth letters/digits, numero sign №,
    * circled digit ⑦) fold to their plain forms, canonical combining
    * sequences compose as in NFC. Row-local, zero exchange. */
  val p85NfkcNormalize: Q = (spark, dir) => {
    val d = col("doc_id")
    Tables.load(spark, dir, "documents")
      .select(d, p85FixtureText.as("__t"))
      .select(d, col("__t"),
        graft.functions.NfkcNormalize(col("__t")).as("normalized"))
      .select(d,
        (col("normalized") =!= col("__t")).as("changed"),
        length(col("__t")).as("n_chars_before"),
        length(col("normalized")).as("n_chars_after"),
        col("normalized"))
      .orderBy("doc_id")
  }

  /** p85 oracle: DuckDB's utf8proc has NFC only, so the gate is the
    * WARC-expectations discipline instead of a second normalizer run:
    * the planted compatibility characters' NFKC images are stated as
    * INDEPENDENT literals from the Unicode standard (ﬁ→fi ²→2 ㎞→km
    * fullwidth→ASCII №→No ⑦→7), the canonical-composition slice rides
    * utf8proc's nfc_normalize (NFKC ⊇ NFC on it), and the base corpus
    * is ASCII (verified at every SF), hence NFKC-invariant — full-text
    * equality still compares the engine against an independent
    * derivation. */
  private[graft] def p85SqlPublic: String = p85Sql

  val p85Sql: String =
    """|WITH aug AS (
      |  SELECT doc_id,
      |    coalesce(text, '')
      |    || CASE WHEN doc_id % 4 = 0 THEN ' ' || chr(64257) || 'le ' || chr(178) || 'nd ' || chr(13214) ELSE '' END
      |    || CASE WHEN doc_id % 6 = 0 THEN ' ' || chr(65318) || chr(65365) || chr(65356) || chr(65356) || ' ' || chr(65367) || chr(65353) || chr(65348) || chr(65364) || chr(65352) || chr(65301) ELSE '' END
      |    || CASE WHEN doc_id % 9 = 0 THEN ' cafe' || chr(769) || ' ' || chr(8470) || chr(9318) ELSE '' END AS t,
      |    coalesce(text, '')
      |    || CASE WHEN doc_id % 4 = 0 THEN ' file 2nd km' ELSE '' END
      |    || CASE WHEN doc_id % 6 = 0 THEN ' Full width5' ELSE '' END
      |    || CASE WHEN doc_id % 9 = 0 THEN nfc_normalize(' cafe' || chr(769)) || ' No7' ELSE '' END AS expected
      |  FROM documents)
      |SELECT doc_id,
      |  expected <> t AS changed,
      |  CAST(length(t) AS BIGINT) AS n_chars_before,
      |  CAST(length(expected) AS BIGINT) AS n_chars_after,
      |  expected AS normalized
      |FROM aug ORDER BY doc_id""".stripMargin

  /** p16: BPE-ish subword counting — word pieces split at every
    * alnum/non-alnum boundary (digits and punctuation as their own
    * tokens), the cheap deterministic stand-in for a real BPE vocabulary.
    * DuckDB lacks lookaround regex, so the oracle counts the equivalent
    * closed form: maximal alnum runs + non-alnum non-space characters
    * (Spark-side `trim` strips only spaces, so tabs/newlines count as
    * pieces on both sides). */
  val p16SubwordCount: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    docs.select(
      col("doc_id"),
      TextAnalysis.subwordCount(col("text")).cast("long").as("n_subwords"))
      .orderBy("doc_id")
  }

  val p16Sql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+'))
      |       + length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS BIGINT)
      |    AS n_subwords
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** p08: token counting (whitespace + subword), DuckDB-oracled. */
  val p08TokenCount: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    docs.select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  val p08Sql: String =
    """SELECT doc_id,
      |  CAST(CASE WHEN trim(text) = '' THEN 0
      |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** p09: quality metrics, DuckDB-oracled end to end (including the
    * composite score formula). */
  val p09Quality: Q = (spark, dir) => {
    TextAnalysis.qualityMetrics(Tables.load(spark, dir, "documents"), "text")
      .select(col("doc_id"), col("n_chars_m"), col("n_tokens"),
        round(col("punct_ratio"), 6).as("punct_ratio"),
        round(col("stopword_ratio"), 6).as("stopword_ratio"),
        round(col("mean_word_len"), 6).as("mean_word_len"),
        col("quality_score"))
      .orderBy("doc_id")
  }

  val p09Sql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars_m,
      |    CAST(CASE WHEN trim(text) = '' THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
      |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
      |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |      x -> list_contains(['the','a','an','and','or','of','to','in','is','are',
      |                          'was','were','it','that','this','with','for','on','as','at'], x)))
      |      AS n_stop,
      |    length(regexp_replace(trim(text), '\s+', '', 'g')) AS n_wordchars
      |  FROM (SELECT * REPLACE (coalesce(text, '') AS text) FROM documents)),
      |r AS (
      |  SELECT doc_id, n_chars_m, n_tokens,
      |    CASE WHEN n_chars_m = 0 THEN 0.0 ELSE n_punct::DOUBLE / n_chars_m END AS punct_ratio_raw,
      |    CASE WHEN n_tokens = 0 THEN 0.0 ELSE n_stop::DOUBLE / n_tokens END AS stopword_ratio_raw,
      |    CASE WHEN n_tokens = 0 THEN 0.0 ELSE n_wordchars::DOUBLE / n_tokens END AS mean_word_len_raw
      |  FROM m)
      |SELECT doc_id, n_chars_m, n_tokens,
      |  round(punct_ratio_raw, 6) AS punct_ratio,
      |  round(stopword_ratio_raw, 6) AS stopword_ratio,
      |  round(mean_word_len_raw, 6) AS mean_word_len,
      |  round(greatest(0.0, least(1.0,
      |    0.5 + 0.5 * least(stopword_ratio_raw * 2.5, 1.0)
      |        - 0.5 * punct_ratio_raw
      |        - CASE WHEN mean_word_len_raw < 2.0 OR mean_word_len_raw > 12.0
      |               THEN 0.25 ELSE 0.0 END)), 6) AS quality_score
      |FROM r
      |ORDER BY doc_id""".stripMargin

  /** p10: language-ID heuristic vs the labeled lang column — confusion
    * counts (rows-only; the heuristic is ours, labels are synthetic).
    * No `spread()` here: languageId is ONE whole-stage-codegen native
    * expression feeding a tiny groupBy — a pre-repartition would round-
    * trip the full text column through a shuffle for nothing (spread is
    * for per-row JVM-UDF stages like p11/p12, where single-file parquet
    * = one partition serializes the work). */
  val p10LangId: Q = (spark, dir) => {
    Tables.load(spark, dir, "documents")
      .withColumn("pred_lang", TextAnalysis.languageId(col("text")))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")
  }

  /** p11: winnowing document fingerprints (DuckDB-oracled). */
  val p11Fingerprint: Q = (spark, dir) => {
    Dedup.spread(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"),
        TextAnalysis.fingerprint()(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** p20: benchmark decontamination — every tenth document plays the
    * "benchmark/eval set" and the rest of the corpus is scanned for
    * winnowing-print containment (the training-data hygiene pass every
    * pretraining pipeline runs). Output: the contaminated docs with
    * matched/total print counts and the containment ratio. */
  val p20Contamination: Q = (spark, dir) => {
    val docs = Dedup.spread(Tables.load(spark, dir, "documents"))
    val refs = docs.filter(col("doc_id") % 10 === 0)
    val scan = docs.filter(col("doc_id") % 10 =!= 0)
    TextAnalysis.contamination(scan, refs, "text", "doc_id")
      .select(col("id").as("doc_id"), col("n_matched"), col("n_prints"),
        round(col("contamination"), 6).as("contamination"))
      .orderBy("doc_id")
  }

  /** p21: deterministic train/val/test split — fold = seeded SplitMix64
    * of doc_id, 80/10/10. Rerun-, retry-, and repartition-stable by
    * construction (pure function of key and seed), unlike rand()-based
    * splits. */
  val p21Split: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val f = Sampling.fold(col("doc_id"), 42L, 10)
    docs.select(col("doc_id"), f.as("fold"),
        when(f < 8, "train").when(f === 8, "val").otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** p22: deterministic stratified sample — exactly 3 docs per source,
    * selected by seeded hash order (ties by doc_id). */
  val p22Stratified: Q = (spark, dir) => {
    Sampling.stratifiedSample(
        Tables.load(spark, dir, "documents"), "source", "doc_id", 3, 7L)
      .select(col("source"), col("doc_id"))
      .orderBy("source", "doc_id")
  }

  /** p23: greedy sequence packing — documents shard by seeded hash
    * (8 independent packing streams), order within a shard by the same
    * hash, and cut into 512-token bins by cumulative whitespace token
    * count; each doc reports its bin and starting offset. The step
    * between filtering and the tokenizer in a pretraining pipeline. */
  val p23SequencePack: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
    Sampling.packBins(docs, "doc_id", "n_tokens",
        budgetTokens = 512L, shards = 8, seed = 11L)
      .select(col("doc_id"), col("shard"), col("bin"), col("bin_offset"),
        col("n_tokens"))
      .orderBy("doc_id")
  }

  val p23Sql: String =
    mixChainSql("SELECT doc_id, CAST(CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens, xor(CAST(doc_id AS UBIGINT), CAST(11 AS UBIGINT)) AS z FROM documents") + """
      |s AS (SELECT doc_id, n_tokens, z, CAST(z % 8 AS BIGINT) AS shard FROM h),
      |c AS (
      |  SELECT doc_id, shard, n_tokens,
      |    coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY z, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |  FROM s)
      |SELECT doc_id, shard, CAST(cum // 512 AS BIGINT) AS bin,
      |       CAST(cum - (cum // 512) * 512 AS BIGINT) AS bin_offset,
      |       n_tokens
      |FROM c ORDER BY doc_id""".stripMargin

  /** p27: weighted source mixing — the epoch-mixing step after p21/p22:
    * per-source repetition weights (2.5× for src0–4, 1× for src5–9,
    * 0.25× for src10–14, 0× for src15–19) realized as floor(w) copies +
    * one more iff hash63(doc_id, seed) < frac(w)·2⁶³
    * ([[Sampling.weightedMix]]). Pure function of (doc_id, seed):
    * retries and repartitions reproduce the identical mix. */
  val p27WeightedMix: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val up = (0 to 4).map(i => s"src$i")
    val keep = (5 to 9).map(i => s"src$i")
    val down = (10 to 14).map(i => s"src$i")
    val w = when(col("source").isin(up: _*), 2.5)
      .when(col("source").isin(keep: _*), 1.0)
      .when(col("source").isin(down: _*), 0.25)
      .otherwise(0.0)
    Sampling.weightedMix(docs.select(col("doc_id"), col("source")),
        "doc_id", w, seed = 99L)
      .select(col("doc_id"), col("source"), col("copy_no"))
      .orderBy("doc_id", "copy_no")
  }

  /** p29: per-domain URL statistics — the domain-filtering prerequisite
    * (blocklists, per-domain caps). The corpus carries no URLs, so the
    * key plants them deterministically (including near-misses: htp://,
    * ftp://, a single-slash https:/) and counts URLs + distinct docs
    * per domain ([[TextAnalysis.domainStats]]). */
  val p29DomainStats: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    TextAnalysis.domainStats(urlAugmentedDocs(docs), "t", "doc_id")
      .orderBy("domain")
  }

  /** The planted-URL corpus shared by p29/p31 (the testdata carries no
    * URLs): deterministic URLs per doc_id residue class, plus
    * near-misses (htp://, ftp://, a single-slash https:/, a
    * sentence-final dot the host-ends-alphanumeric rule strips
    * identically in both engines). Restated verbatim in SQL by
    * [[urlAugCteSql]]. */
  private def urlAugmentedDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      col("text"),
      when(pmod(col("doc_id"), lit(4)) === 0,
        concat(lit(" see https://example"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".com/page/"), pmod(col("doc_id"), lit(13)).cast("string"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(9)) === 0,
        // cdn index via (doc_id % 27) div 9 — doc_id % 3 would be
        // degenerate (every multiple of 9 is 0 mod 3)
        concat(lit(" and http://cdn"), expr("(doc_id % 27) div 9"),
          lit(".example.net"), lit(" plus https://example"),
          pmod(col("doc_id"), lit(7)).cast("string"), lit(".com"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 0,
        // sentence-final dot: the host-ends-alphanumeric rule strips it
        // (both engines backtrack identically)
        lit(" near-misses: htp://x.com ftp://files.example.org https:/missing.com see https://dot.example.com."))
        .otherwise(lit(""))).as("t"))

  /** [[urlAugmentedDocs]] as a DuckDB CTE body (`aug(doc_id, t)`). */
  private val urlAugCteSql: String =
    """  SELECT doc_id,
      |    text ||
      |    CASE WHEN doc_id % 4 = 0 THEN ' see https://example' || CAST(doc_id % 7 AS VARCHAR) || '.com/page/' || CAST(doc_id % 13 AS VARCHAR) ELSE '' END ||
      |    CASE WHEN doc_id % 9 = 0 THEN ' and http://cdn' || CAST((doc_id % 27) // 9 AS VARCHAR) || '.example.net' || ' plus https://example' || CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0 THEN ' near-misses: htp://x.com ftp://files.example.org https:/missing.com see https://dot.example.com.' ELSE '' END AS t
      |  FROM documents""".stripMargin

  /** p31's blocklist — CDN/boilerplate hosts from the planted corpus
    * plus one domain no document carries (a blocklist is maintained
    * independently of the corpus; unmatched entries must be inert). */
  private[graft] val P31Blocklist: Seq[String] = Seq(
    "cdn0.example.net", "cdn1.example.net", "cdn2.example.net",
    "dot.example.com", "spam.invalid.example")
  private[graft] val P31Cap = 5
  private[graft] val P31Seed = 1031L

  /** p31: domain blocklist + per-domain cap — the filtering step p29's
    * statistics feed (RefinedWeb/CCNet drop blocklisted hosts and cap
    * documents per domain before quality scoring). A document's domain
    * is its FIRST extracted URL's host (leftmost match — both regex
    * engines agree); documents with no URL pass through ungated.
    *
    * Scale shape: domain extraction is row-local codegen; the blocklist
    * (MB-scale in production) is a BROADCAST left-anti join, never a
    * shuffle of the corpus; the cap is [[Sampling.capPerGroup]]'s
    * two-phase rank, so one crawler-heavy domain holding 10 % of the
    * corpus spreads over `cells` sub-sorts instead of serializing a
    * single reducer. Deterministic in (doc_id, seed). */
  val p31DomainCap: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val withDom = urlAugmentedDocs(docs)
      .withColumn("domain", TextAnalysis.urlDomain(col("t")))
      .select(col("doc_id"), col("domain"))
    import spark.implicits._
    val bl = P31Blocklist.toDF("blocked_domain")
    val pass = withDom.join(broadcast(bl),
      withDom("domain") === bl("blocked_domain"), "left_anti")
    // no-URL docs are UNGATED: each gets a singleton synthetic group
    // (space-prefixed id — a space can't appear in an extracted
    // host, so no collision with a real domain) and trivially survives
    // any cap ≥ 1 — ONE pipeline,
    // not a filter/union split that would scan (and regexp) the corpus
    // twice
    Sampling.capPerGroup(
        pass.withColumn("__g", coalesce(col("domain"),
          concat(lit(" "), col("doc_id")))),
        "__g", "doc_id", cap = P31Cap, seed = P31Seed)
      .drop("__g")
      .orderBy("doc_id")
  }

  /** p32: corpus-wide top-50 bigram frequencies over `documents` —
    * [[TextAnalysis.topNgrams]] with n=2 (see its scaladoc for the
    * scale shape: row-local gram construction, one map-side-combined
    * shuffle, TakeOrderedAndProject top-k). */
  val p32TopNgrams: Q = (spark, dir) =>
    TextAnalysis.topNgrams(Dedup.spread(Tables.load(spark, dir, "documents")),
      "text", n = 2, k = 50)

  /** The passage-carrying fixture for p33: the corpus texts are unique,
    * so the key plants shared spans — a 12-token passage appended to
    * every doc_id % 7 == 0 doc (72 docs at sf0.01) and a second
    * 12-token passage on % 11 == 0 (46 docs); docs divisible by 77
    * carry both, so windows straddling the two passages are themselves
    * corpus-repeated. Window width 8 over a 12-token passage yields 5
    * consecutive pure-passage windows per planted doc — the run the
    * longest_dup_run column must find — while windows straddling the
    * doc's own (unique) tail stay unique. */
  private val P33Width = 8
  private val P33Pass1 = "all models are wrong but some are useful in practice today"
  private val P33Pass2 = "this report was generated automatically please do not reply to it"
  // NULL text coalesces to blank BEFORE the passage concat, so a
  // NULL-text carrier still carries its planted passage (and the aug
  // oracles restate the same coalesce).
  private def p33FixtureText: org.apache.spark.sql.Column = concat(
    coalesce(col("text"), lit("")),
    when(pmod(col("doc_id"), lit(7)) === 0,
      lit(" " + P33Pass1)).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(11)) === 0,
      lit(" " + P33Pass2)).otherwise(lit("")))

  /** p33: span-level exact-duplicate statistics over the planted
    * corpus — [[Dedup.spanDupStats]] with width 8 (see its scaladoc for
    * the three-exchange scale shape). Completes the dedup ladder:
    * document (p01) → near (p02/p05) → line (p26) → span. */
  val p33SpanDup: Q = (spark, dir) => {
    val docs = Dedup.spread(Tables.load(spark, dir, "documents"))
    val aug = docs.select(col("doc_id"), p33FixtureText.as("t"))
    Dedup.spanDupStats(aug, "t", "doc_id", width = P33Width)
      .orderBy("doc_id")
  }

  /** p33 oracle: the same planted passages, window construction by
    * 1-based inclusive list slices, occurrence count keyed on the
    * window STRING (the hash-free restatement — a Spark-side xxhash64
    * collision surfaces as a mismatch), and the longest consecutive
    * run via the pos − row_number() gap-and-island form the Spark
    * side's row-local fold must agree with. */
  val p33Sql: String =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    coalesce(text, '')
       |    || CASE WHEN doc_id % 7 = 0 THEN ' $P33Pass1' ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0 THEN ' $P33Pass2' ELSE '' END AS t
       |  FROM documents),
       |tk AS (SELECT doc_id, string_split_regex(trim(lower(t)), '\\s+') AS tk FROM aug),
       |w AS (
       |  SELECT doc_id, i - 1 AS pos,
       |         array_to_string(tk[i:i+${P33Width - 1}], ' ') AS win
       |  FROM tk, unnest(range(1, len(tk) - ${P33Width - 2})) AS r(i)),
       |df AS (SELECT win, count(*) AS df FROM w GROUP BY win),
       |m AS (SELECT w.doc_id, w.pos, (df.df > 1) AS dup FROM w JOIN df USING (win)),
       |runs AS (
       |  SELECT doc_id, pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM m WHERE dup),
       |rl AS (
       |  SELECT doc_id, max(c) AS longest
       |  FROM (SELECT doc_id, grp, count(*) AS c FROM runs GROUP BY doc_id, grp)
       |  GROUP BY doc_id),
       |tot AS (
       |  SELECT doc_id, count(*) AS n_windows,
       |         sum(CASE WHEN dup THEN 1 ELSE 0 END) AS n_dup
       |  FROM m GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(tot.n_windows, 0) AS BIGINT) AS n_windows,
       |  CAST(coalesce(tot.n_dup, 0) AS BIGINT) AS n_dup_windows,
       |  CAST(coalesce(rl.longest, 0) AS BIGINT) AS longest_dup_run
       |FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN rl USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** p34: bigram-LM quality scoring ([[TextAnalysis.bigramLmScore]],
    * the CCNet filter; see its scaladoc for the scale shape). The
    * reference slice is the deterministic doc_id % 5 == 0 fifth of the
    * corpus; add-1 smoothing. Buckets are CALIBRATED FIXED thresholds
    * (what a production pipeline applies after tuning on the trained
    * LM): head ≥ −3.40 > middle ≥ −3.55 > tail. At both test SFs every
    * doc score sits ≥ 2.5e-5 from a threshold — far above the ~1e-13
    * cross-engine libm/summation-order noise — so the bucket strings
    * hash-match exactly; the score column itself compares under the
    * gate's 1e-9 float tolerance. */
  private val P34HeadMin = -3.40
  private val P34MidMin = -3.55
  val p34LmQuality: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    TextAnalysis.bigramLmScoreKernel(docs, "text", "doc_id",
        refCond = pmod(col("doc_id"), lit(5)) === 0, k = 1.0)
      .withColumn("bucket",
        when(col("lm_logprob").isNull, lit("na"))
          .when(col("lm_logprob") >= P34HeadMin, lit("head"))
          .when(col("lm_logprob") >= P34MidMin, lit("middle"))
          .otherwise(lit("tail")))
      .orderBy("doc_id")
  }

  /** p34 oracle: the same reference slice, unigram/bigram counts,
    * vocabulary size, add-1 arithmetic and ln, restated stage by
    * stage; mean via avg over the same per-transition values. */
  val p34Sql: String = p34RulesSql(
    "  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk\n" +
    "  FROM documents")

  /** The p34 bigram-LM restatement over a pluggable token-list CTE
    * body — p34 scores raw text, p82's ablation scores the shared
    * ablation text (the same post-stripMargin splice as the p67/p68
    * builders). */
  private def p34RulesSql(tkBody: String): String =
    s"""WITH tk AS (
       |__TK_BODY__),
       |ref AS (SELECT * FROM tk WHERE doc_id % 5 = 0),
       |uni AS (SELECT u AS w1, count(*) AS c1
       |        FROM (SELECT unnest(tk) AS u FROM ref) GROUP BY u),
       |v AS (SELECT count(*) AS vocab FROM uni),
       |rb AS (SELECT tk[i] AS w1, tk[i+1] AS w2, count(*) AS c2
       |       FROM ref, unnest(range(1, len(tk))) r(i) GROUP BY 1, 2),
       |db AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
       |       FROM tk, unnest(range(1, len(tk))) r(i)),
       |s AS (SELECT db.doc_id,
       |        ln((coalesce(rb.c2, 0) + 1.0) /
       |           (coalesce(uni.c1, 0) + (SELECT vocab FROM v))) AS lp
       |      FROM db LEFT JOIN rb USING (w1, w2)
       |              LEFT JOIN uni ON db.w1 = uni.w1),
       |agg AS (SELECT doc_id, count(*) AS n_bigrams, avg(lp) AS lm_logprob
       |        FROM s GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  agg.lm_logprob,
       |  CASE WHEN agg.lm_logprob IS NULL THEN 'na'
       |       WHEN agg.lm_logprob >= $P34HeadMin THEN 'head'
       |       WHEN agg.lm_logprob >= $P34MidMin THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM documents d LEFT JOIN agg USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
      .replace("__TK_BODY__", tkBody)

  /** The HTML fixture for p35: the corpus has no markup, so the key
    * wraps each doc in a page skeleton exercising every strip stage —
    * a style block whose comment hides a fake tag, a script whose body
    * contains `<` and a fake tag in a string, an HTML comment hiding a
    * div, entities (incl. the &amp;lt; double-decode trap), and on even
    * ids a CDATA section plus extra entity text. */
  private def p35FixtureHtml: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><style type=\"text/css\">body { color: red; } /* <p>not text</p> */</style>" +
      "<script>var x = 1; if (x < 2) { document.write(\"<b>no</b>\"); }</script></head><body>" +
      "<!-- hidden <div>comment</div> --><h1 class=\"t\">Title &amp; &lt;subtitle&gt;</h1><p>"),
    col("text"),
    lit("</p>"),
    when(pmod(col("doc_id"), lit(2)) === 0,
      lit("<![CDATA[raw <bytes> here]]><p>even&nbsp;extra &quot;quoted&quot; &amp;lt;escaped&amp;gt;</p>"))
      .otherwise(lit("")),
    lit("<br><div>footer</div></body></html>"))

  /** p35: HTML → text extraction over the planted-markup corpus
    * ([[TextAnalysis.htmlToText]]; see its scaladoc for the strip-chain
    * contract — entirely row-local, no shuffle). */
  val p35HtmlExtract: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    docs.select(col("doc_id"),
        TextAnalysis.htmlToText(p35FixtureHtml).as("extracted"))
      .withColumn("n_chars", length(col("extracted")).cast("long"))
      .orderBy("doc_id")
  }

  /** The p35 fixture + strip chain as CTEs ending in
    * `ex(doc_id, extracted)` — ONE generator shared by the p35 and p38
    * oracles, so the fixture or a strip stage cannot silently diverge
    * between them. */
  private val htmlChainCtesSql: String =
    """aug AS (
      |  SELECT doc_id,
      |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
      |    || '</title><style type="text/css">body { color: red; } /* <p>not text</p> */</style>'
      |    || '<script>var x = 1; if (x < 2) { document.write("<b>no</b>"); }</script></head><body>'
      |    || '<!-- hidden <div>comment</div> --><h1 class="t">Title &amp; &lt;subtitle&gt;</h1><p>'
      |    || text || '</p>'
      |    || CASE WHEN doc_id % 2 = 0
      |            THEN '<![CDATA[raw <bytes> here]]><p>even&nbsp;extra &quot;quoted&quot; &amp;lt;escaped&amp;gt;</p>'
      |            ELSE '' END
      |    || '<br><div>footer</div></body></html>' AS t
      |  FROM documents),
      |s1 AS (SELECT doc_id, regexp_replace(t, '(?is)<script\b[^>]*>.*?</script>', ' ', 'g') AS t FROM aug),
      |s2 AS (SELECT doc_id, regexp_replace(t, '(?is)<style\b[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
      |s3 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
      |s4 AS (SELECT doc_id, regexp_replace(t, '(?s)<!\[CDATA\[.*?\]\]>', ' ', 'g') AS t FROM s3),
      |s5 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s4),
      |e AS (SELECT doc_id,
      |        replace(replace(replace(replace(replace(replace(replace(t,
      |          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
      |          '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t
      |      FROM s5),
      |ex AS (SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS extracted FROM e)""".stripMargin

  /** p35 oracle: the same fixture and the same fixed-order strip chain
    * — every pattern uses only syntax Java regex and RE2 interpret
    * identically (inline (?is), lazy quantifiers, \b, no backrefs), and
    * entity decode order (&amp; last) is restated verbatim. */
  // concatenation, not interpolation-into-stripMargin: the chain's
  // already-stripped `||` concat lines would lose a pipe to a second
  // stripMargin pass
  val p35Sql: String =
    "WITH " + htmlChainCtesSql + "\n" +
      """SELECT doc_id, extracted,
        |  CAST(length(extracted) AS BIGINT) AS n_chars
        |FROM ex
        |ORDER BY doc_id""".stripMargin

  /** p36: exact length-percentile filter, P10–P90
    * ([[TextAnalysis.lengthQuantileFilter]]; see its scaladoc for the
    * histogram-not-sort scale shape and the integer threshold
    * arithmetic). */
  val p36LengthFilter: Q = (spark, dir) =>
    TextAnalysis.lengthQuantileFilter(
        Tables.load(spark, dir, "documents"), "text", "doc_id",
        loPct = 10, hiPct = 90)
      .orderBy("doc_id")

  /** p36 oracle: the same histogram → cumulative count → smallest-
    * length-reaching-ceil(q·N) selection, thresholds in the identical
    * integer arithmetic. */
  val p36Sql: String =
    """WITH n AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN trim(text) = '' THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
      |  FROM documents),
      |hist AS (SELECT n_tokens AS len, count(*) AS c FROM n GROUP BY 1),
      |cum AS (SELECT len, sum(c) OVER (ORDER BY len) AS cum FROM hist),
      |tot AS (SELECT count(*) AS N FROM n),
      |thr AS (SELECT
      |    min(CASE WHEN cum >= (10 * N + 99) // 100 THEN len END) AS p_lo,
      |    min(CASE WHEN cum >= (90 * N + 99) // 100 THEN len END) AS p_hi
      |  FROM cum, tot)
      |SELECT doc_id, n_tokens, p_lo, p_hi,
      |       (n_tokens >= p_lo AND n_tokens <= p_hi) AS kept
      |FROM n, thr
      |ORDER BY doc_id""".stripMargin

  /** p37: per-document TF-IDF top-3 terms
    * ([[TextAnalysis.tfidfTopTerms]]; see its scaladoc for the
    * three-exchange scale shape and the sklearn idf convention). */
  val p37Tfidf: Q = (spark, dir) =>
    TextAnalysis.tfidfTopTerms(
        Dedup.spread(Tables.load(spark, dir, "documents")), "text", "doc_id", k = 3)
      .orderBy("doc_id", "rank")

  /** p37 oracle: same tokens, counts, smoothed idf and the identical
    * (score DESC, term ASC) total order at the k-boundary. */
  val p37Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      |  FROM documents),
      |dt AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(tk) AS term FROM tk)
      |  WHERE length(term) > 0
      |  GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
      |tot AS (SELECT count(*) AS N FROM documents),
      |s AS (
      |  SELECT dt.doc_id, dt.term,
      |         dt.tf * (ln((N + 1.0) / (df.df + 1.0)) + 1.0) AS score
      |  FROM dt JOIN df USING (term), tot),
      |r AS (
      |  SELECT doc_id, term, score,
      |         row_number() OVER (PARTITION BY doc_id
      |                            ORDER BY score DESC, term) AS rank
      |  FROM s)
      |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, score
      |FROM r WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** p39: exact per-source token-budget sampling
    * ([[Sampling.tokenBudgetSample]]; see its scaladoc for the
    * histogram-threshold scale shape — the prefix is found on a bounded
    * (source, bucket) token histogram, never a per-source corpus
    * sort). Budget 600 tokens per source: the gate bites at every SF
    * (sources carry ~1.4 k tokens at sf0.001/0.01, ~13 k at sf0.1). */
  val p39TokenBudget: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
    Sampling.tokenBudgetSample(docs, "source", "doc_id", "n_tokens",
        budget = 600L, seed = 17L)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("kept"))
      .orderBy("doc_id")
  }

  /** p39 oracle: the naive one-window restatement — kept iff the token
    * sum over rows before this one in (hash63(doc_id, 17), doc_id)
    * order within the source is < 600. The [[mixChainSql]] SplitMix64
    * chain reproduces the hash bit-exactly, so the oracle checks the
    * histogram-threshold decomposition against the definitionally
    * simple form. */
  val p39Sql: String =
    mixChainSql("SELECT doc_id, source, CAST(CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens, xor(CAST(doc_id AS UBIGINT), CAST(17 AS UBIGINT)) AS z FROM documents") + """
      |c AS (
      |  SELECT doc_id, source, n_tokens,
      |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY z, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |  FROM h)
      |SELECT doc_id, source, n_tokens, (cum < 600) AS kept
      |FROM c ORDER BY doc_id""".stripMargin

  /** p40: semantic deduplication (SemDedup) over the embeddings table
    * ([[SimilaritySearch.semDedup]]; see its scaladoc for the
    * cluster-bounds-the-quadratic scale shape). theta = 0.38 and
    * seed = 7 are calibrated so every decision sits far from
    * cross-engine float noise: min |cosine − θ| over all within-cluster
    * pairs is 4.2e-5 (sf0.001) / 5.3e-4 (sf0.01), and the
    * assignment argmax margin (best vs second-best centroid cosine)
    * is ≥ 1.3e-5 / 4.9e-6 — both ≥ 10⁹× above double-rounding
    * disagreement, so the integer/boolean outputs hash-match exactly.
    * targetClusterSize 64 ⇒ k = 8 centroids at both oracle SFs. */
  val p40SemDedup: Q = (spark, dir) => {
    val emb = Tables.load(spark, dir, "embeddings")
    SimilaritySearch.semDedup(emb, "vec_id", "embedding",
        theta = 0.38, seed = 7L, targetClusterSize = 64)
      .orderBy("vec_id")
  }

  /** p40 oracle: the same SplitMix64 centroid sample ([[mixChainSql]]),
    * argmax-cosine assignment as a window over the vec × centroid cross
    * join (ORDER BY cos DESC, centroid rank ASC ≡ the kernel's
    * strictly-greater-wins / smallest-index tie-break), and the
    * within-cluster smaller-id duplicate count via a conditional LEFT
    * JOIN — the definitionally simple restatement of the whole
    * operator. The SQL states the FLAT argmax: at both gate SFs
    * k = 8 ≤ 64 ⇒ ONE super-group, where the engine's two-level
    * assignment reduces bit-exactly to the flat rule (the >64-centroid
    * two-level path is pinned by the PipelineSpec naive replay, which
    * implements the two-level rule directly). */
  val p40Sql: String =
    mixChainSql("SELECT vec_id, embedding::DOUBLE[] AS v, xor(CAST(vec_id AS UBIGINT), CAST(7 AS UBIGINT)) AS z FROM embeddings") + """
      |cent AS (
      |  SELECT vec_id AS cent_id, v AS cv,
      |         row_number() OVER (ORDER BY z, vec_id) AS rk
      |  FROM h
      |  QUALIFY rk <= ((SELECT count(*) FROM h) + 63) // 64),
      |asg AS (
      |  SELECT vec_id, v, cent_id FROM (
      |    SELECT e.vec_id, e.v, c.cent_id,
      |           row_number() OVER (PARTITION BY e.vec_id
      |             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.rk ASC) AS r
      |    FROM h e, cent c)
      |  WHERE r = 1)
      |SELECT a.vec_id, a.cent_id AS cluster,
      |       CAST(count(b.vec_id) AS BIGINT) AS n_dups,
      |       (count(b.vec_id) = 0) AS kept
      |FROM asg a LEFT JOIN asg b
      |  ON b.cent_id = a.cent_id AND b.vec_id < a.vec_id
      | AND list_cosine_similarity(a.v, b.v) >= 0.38
      |GROUP BY a.vec_id, a.cent_id
      |ORDER BY a.vec_id""".stripMargin

  /** The adversarial fixture for p41: the corpus text is one clean line
    * of lowercase words, so every Gopher rule would pass vacuously —
    * plant rule-triggering structure per residue class: bullet-list
    * docs (10 "- " lines → bullet fraction 10/11 > 0.9), ellipsis-line
    * docs (2 of 3 lines end "..." → 2/3 > 0.3), and symbol/numeric
    * docs (8 '#' chars + 12 digit tokens — fires the symbol and, on
    * short docs, the alphabetic-word rule). Restated verbatim in SQL
    * (repeat/chr(10)). */
  // NULL text coalesces BEFORE the junk concat (the p33FixtureText
  // convention), so a NULL-text carrier still carries its planted junk
  private def p41FixtureText: org.apache.spark.sql.Column = concat(
    coalesce(col("text"), lit("")),
    when(pmod(col("doc_id"), lit(13)) === 0,
      lit("\n- bullet item" * 10)).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(17)) === 0,
      lit("\nto be continued...\nloading more results...")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(19)) === 0,
      lit(" #### #### 123 456 789 0 11 22 33 44 55 66 77 88")).otherwise(lit("")))

  /** p41: the Gopher quality-rule battery over the planted corpus
    * ([[TextAnalysis.gopherRules]]; see its scaladoc for the
    * integer-arithmetic flag contract — one row-local codegen pass, no
    * shuffle). Word-count bounds tuned to the corpus (30–80 tokens) so
    * both outcomes occur at every SF. */
  val p41GopherRules: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    TextAnalysis.gopherRules(
        docs.select(col("doc_id"), p41FixtureText.as("t")),
        "t", "doc_id", minTokens = 30L, maxTokens = 80L)
      .orderBy("doc_id")
  }

  /** p41 oracle: the same planted fixture and the same seven rules in
    * the identical integer cross-multiplied arithmetic; the stop-word
    * lexicon is interpolated from the SAME Scala constant. */
  val p41Sql: String = {
    val stops = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    coalesce(text, '')
       |    || CASE WHEN doc_id % 13 = 0 THEN repeat(chr(10) || '- bullet item', 10) ELSE '' END
       |    || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'to be continued...' || chr(10) || 'loading more results...' ELSE '' END
       |    || CASE WHEN doc_id % 19 = 0 THEN ' #### #### 123 456 789 0 11 22 33 44 55 66 77 88' ELSE '' END AS t
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN trim(t) = '' THEN 0 ELSE len(string_split_regex(trim(lower(t)), '\\s+')) END AS BIGINT) AS n_tokens,
       |    CAST(length(regexp_replace(trim(t), '\\s+', '', 'g')) AS BIGINT) AS sum_len,
       |    CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(string_split(t, chr(10)), l -> l LIKE '- %' OR l LIKE '* %')) AS BIGINT) AS n_bullet,
       |    CAST(len(list_filter(string_split(t, chr(10)), l -> l LIKE '%...')) AS BIGINT) AS n_ell_line,
       |    CAST(length(t) - length(replace(t, '#', '')) AS BIGINT) AS n_hash,
       |    CAST((length(t) - length(replace(t, '...', ''))) // 3 AS BIGINT) AS n_ellipsis,
       |    CAST(len(list_filter(string_split_regex(trim(lower(t)), '\\s+'), w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
       |    CAST(len(list_filter(string_split_regex(trim(lower(t)), '\\s+'), w -> w IN ($stops))) AS BIGINT) AS n_stop
       |  FROM aug)
       |SELECT doc_id, n_tokens, n_lines,
       |  (n_tokens >= 30 AND n_tokens <= 80) AS r_word_count,
       |  (3 * n_tokens <= sum_len AND sum_len <= 10 * n_tokens) AS r_mean_word_len,
       |  (10 * (n_hash + n_ellipsis) <= n_tokens) AS r_symbol_ratio,
       |  (10 * n_bullet <= 9 * n_lines) AS r_bullet_lines,
       |  (10 * n_ell_line <= 3 * n_lines) AS r_ellipsis_lines,
       |  (5 * n_alpha >= 4 * n_tokens) AS r_alpha_words,
       |  (n_stop >= 2) AS r_stopwords,
       |  ((n_tokens >= 30 AND n_tokens <= 80)
       |   AND (3 * n_tokens <= sum_len AND sum_len <= 10 * n_tokens)
       |   AND (10 * (n_hash + n_ellipsis) <= n_tokens)
       |   AND (10 * n_bullet <= 9 * n_lines)
       |   AND (10 * n_ell_line <= 3 * n_lines)
       |   AND (5 * n_alpha >= 4 * n_tokens)
       |   AND (n_stop >= 2)) AS gopher_pass
       |FROM m ORDER BY doc_id""".stripMargin
  }

  private val P42Chunk = 32
  private val P42Stride = 24

  /** p42: fixed-size token-window chunking with stride
    * ([[TextAnalysis.chunkTokens]], chunk 32 / stride 24 — the step
    * that turns filtered documents into model-sized pieces; row-local
    * explode, no shuffle). */
  val p42DocChunks: Q = (spark, dir) =>
    TextAnalysis.chunkTokens(Dedup.spread(Tables.load(spark, dir, "documents")),
        "text", "doc_id", chunk = P42Chunk, stride = P42Stride)
      .orderBy("doc_id", "chunk_idx")

  /** p42 oracle: the same start-count arithmetic
    * (n ≤ chunk ? 1 : (n − chunk + stride − 1) // stride + 1), starts
    * at i·stride, 1-based inclusive list slices. */
  val p42Sql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split_regex(trim(lower(coalesce(text, ''))), '\\s+') AS tk,
       |    CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n
       |  FROM documents),
       |st AS (
       |  SELECT doc_id, tk, n,
       |    CASE WHEN n <= $P42Chunk THEN 1
       |         ELSE (n - $P42Chunk + ${P42Stride - 1}) // $P42Stride + 1 END AS nstarts
       |  FROM tk),
       |c AS (
       |  SELECT doc_id, tk, n, i AS chunk_idx, i * $P42Stride AS start_tok
       |  FROM st, unnest(range(0, nstarts)) r(i))
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(start_tok AS BIGINT) AS start_tok,
       |  CAST(least($P42Chunk, n - start_tok) AS BIGINT) AS n_chunk_tokens,
       |  array_to_string(tk[start_tok + 1 : start_tok + least($P42Chunk, n - start_tok)], ' ') AS chunk_text
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** The planted-URL fixture for p43 (distinct from p29/p31's: this one
    * exercises the CANONICALIZER — mixed-case scheme/host, fragments,
    * tracking params, unsorted params, and a `refresh=1` near-miss the
    * anchored tracking pattern must NOT strip). Residue classes make
    * distinct raw URLs collapse to shared canonical forms, which is the
    * point of the operator. */
  /** [[p43FixtureUrl]] for cross-module reuse (st22). */
  private[graft] def p43FixtureUrlPublic: org.apache.spark.sql.Column =
    p43FixtureUrl

  private def p43FixtureUrl: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    when(pmod(d, lit(3)) === 0, concat(
        lit("HTTPS://Example"), pmod(d, lit(5)).cast("string"),
        lit(".COM/Path/"), pmod(d, lit(7)).cast("string"),
        lit("?utm_source=feed&id="), pmod(d, lit(13)).cast("string"),
        lit("&utm_campaign=x#sec")))
      .when(pmod(d, lit(3)) === 1, concat(
        lit("http://EXAMPLE"), pmod(d, lit(5)).cast("string"),
        lit(".com/Path/"), pmod(d, lit(7)).cast("string"),
        lit("?ref=tw&z=9&a=1&refresh=1")))
      .otherwise(concat(
        lit("https://cdn.Example"), pmod(d, lit(5)).cast("string"),
        lit(".net/x?b=2&a="), pmod(d, lit(11)).cast("string"),
        lit("&fbclid=abc")))
  }

  /** p43: URL canonicalization over the planted fixture
    * ([[TextAnalysis.canonicalUrl]]; row-local regexp decomposition +
    * param filter/sort). `n_same` counts the docs sharing each
    * canonical form — the URL-dedup signal distinct raw URLs collapse
    * into. */
  val p43UrlCanonical: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("canonical"))
    docs.select(col("doc_id"), p43FixtureUrl.as("url"))
      .withColumn("canonical", TextAnalysis.canonicalUrl(col("url")))
      .withColumn("n_same", count(lit(1)).over(w))
      .orderBy("doc_id")
  }

  /** p43 oracle: the same fixture; scheme/host lowercase, fragment
    * dropped, tracking params removed via the SAME anchored pattern
    * constant, survivors sorted byte-wise. */
  val p43Sql: String =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    CASE doc_id % 3
       |      WHEN 0 THEN 'HTTPS://Example' || CAST(doc_id % 5 AS VARCHAR) || '.COM/Path/' || CAST(doc_id % 7 AS VARCHAR) || '?utm_source=feed&id=' || CAST(doc_id % 13 AS VARCHAR) || '&utm_campaign=x#sec'
       |      WHEN 1 THEN 'http://EXAMPLE' || CAST(doc_id % 5 AS VARCHAR) || '.com/Path/' || CAST(doc_id % 7 AS VARCHAR) || '?ref=tw&z=9&a=1&refresh=1'
       |      ELSE 'https://cdn.Example' || CAST(doc_id % 5 AS VARCHAR) || '.net/x?b=2&a=' || CAST(doc_id % 11 AS VARCHAR) || '&fbclid=abc'
       |    END AS url
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, url,
       |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
       |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host,
       |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
       |    regexp_extract(url, '^[^?#]*\\?([^#]*)', 1) AS q
       |  FROM aug),
       |k AS (
       |  SELECT doc_id, url, sch, host, path,
       |    list_sort(list_filter(
       |      CASE WHEN length(q) > 0 THEN string_split(q, '&') ELSE [] END,
       |      pr -> length(pr) > 0 AND NOT regexp_matches(pr, '${TextAnalysis.TrackingParamPattern}'))) AS kept
       |  FROM p),
       |c AS (
       |  SELECT doc_id, url,
       |    sch || '://' || host || path ||
       |    CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END AS canonical
       |  FROM k)
       |SELECT doc_id, url, canonical,
       |  count(*) OVER (PARTITION BY canonical) AS n_same
       |FROM c ORDER BY doc_id""".stripMargin

  /** p52: URL-frontier dedup — the step p43's canonicalization feeds:
    * one document survives per CANONICAL URL (keeper = min doc_id —
    * the earliest fetch), collapsing the mixed-case/fragment/
    * tracking-param variants the fixture plants into one representative
    * each. Scale shape: canonicalization is row-local; the keeper
    * reduction is ONE map-side-combined (canonical → min id) aggregate
    * whose exchange carries distinct canonical URLs, and the survivor
    * check is a row-local equality against the joined-back keeper
    * (hash-co-partitioned on canonical) — no document text ever
    * shuffles. Returns every doc with its verdict (kept = is the
    * keeper), so the drop set is auditable, not silent. */
  val p52UrlFrontier: Q = (spark, dir) => {
    // r18 optimization (§2.4): keeper = min(doc_id) per canonical was a
    // groupBy + rejoin — two canonical-keyed exchanges (keepers is
    // corpus-sized at scale, so the rejoin is a co-partitioned SMJ, not
    // a broadcast). An unbounded min window needs ONE exchange and no
    // join, and the canonicalization chain now evaluates once per row
    // (the join plan re-derived it on both sides). spread: the regex
    // chain is the heavy map stage on the single-file local scan.
    val docs = Dedup.spread(Tables.load(spark, dir, "documents"))
    val withCanon = docs.select(col("doc_id"), p43FixtureUrl.as("url"))
      .withColumn("canonical", TextAnalysis.canonicalUrl(col("url")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("canonical")
    withCanon
      .withColumn("keeper_id", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("canonical"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("kept"))
      .orderBy("doc_id")
  }

  /** p52 oracle: p43's canonicalization chain composed with the
    * min-per-canonical keeper — the frontier-dedup restatement. */
  lazy val p52Sql: String = {
    val cut = p43Sql.lastIndexOf("SELECT doc_id, url, canonical,")
    require(cut >= 0,
      "p52Sql composes on p43Sql's final SELECT — update both together")
    p43Sql.substring(0, cut).stripTrailing() + "\n" +
      """SELECT c.doc_id, c.canonical, k.keeper_id,
        |       (c.doc_id = k.keeper_id) AS kept
        |FROM c JOIN (SELECT canonical, min(doc_id) AS keeper_id
        |             FROM c GROUP BY canonical) k USING (canonical)
        |ORDER BY doc_id""".stripMargin
  }

  /** p53: TRAINED quality classifier (the DCLM/fastText-style
    * model-based filter the rule batteries feed) — closed-form
    * multinomial naive Bayes over 256 hashed unigram buckets
    * ([[TextAnalysis.nbQualityClassifier]]; see its scaladoc for why
    * closed-form training is what makes the MODEL oracle-restatable
    * and for the 2·dim-row exchange / zero-exchange scoring shape).
    * Corpus: the p41 boilerplate-planted fixture; label: clean =
    * carries NO planted junk (doc_id coprime to 13/17/19 — the
    * planting rule itself, i.e. an editorial label, never a text
    * feature); train slice: the deterministic doc_id % 3 == 0 third;
    * the whole corpus is then scored as mean per-token log-odds.
    * The model genuinely LEARNS the junk vocabulary: clean/junk
    * separation is total at both gate SFs, held-out included (min
    * clean score 0.2725 > max junk score 0.2110 — AUC 1.0;
    * PipelineSpec pins the separation). Verdict buckets are CALIBRATED
    * FIXED thresholds (p34's discipline): keep ≥ 0.25 > borderline ≥
    * −0.25 > drop; all three verdicts occur at both gate SFs
    * (411/30/59), every score ≥ 2.7e-3 from a threshold — 10⁶× above
    * cross-engine float noise. */
  private val P53KeepMin = 0.25
  private val P53BorderMin = -0.25
  val p53QualityClassifier: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), p41FixtureText.as("t"))
    val clean = pmod(col("doc_id"), lit(13)) =!= 0 &&
      pmod(col("doc_id"), lit(17)) =!= 0 && pmod(col("doc_id"), lit(19)) =!= 0
    TextAnalysis.nbQualityClassifier(docs, "t", "doc_id",
        posCond = clean,
        trainCond = pmod(col("doc_id"), lit(3)) === 0,
        dim = 256, k = 1.0)
      .withColumn("verdict",
        when(col("score").isNull, lit("na"))
          .when(col("score") >= P53KeepMin, lit("keep"))
          .when(col("score") >= P53BorderMin, lit("borderline"))
          .otherwise(lit("drop")))
      .orderBy("doc_id")
  }

  /** p53 oracle: the classifier RETRAINED and re-scored in DuckDB —
    * the p41 planted fixture, per-token FNV-1a+splitmix bucket (the
    * p03 limb chain, mod 256), exact per-(class, bucket) occurrence
    * counts over the same train slice, identical add-1 smoothing
    * arithmetic, and the per-doc mean as a TOKEN-ORDERED list_reduce
    * fold over the weights divided by the count (the engine kernel
    * sums in token order; an unordered avg() would let DuckDB's
    * parallel partial-sum combining reassociate the doubles — the p58
    * sequential-fold discipline), same rounding and thresholds.
    * Nothing reads engine state: training is closed-form, so the whole
    * model is independently restated. */
  val p53Sql: String =
    """|WITH aug AS (
      |  SELECT doc_id,
      |    coalesce(text, '')
      |    || CASE WHEN doc_id % 13 = 0 THEN repeat(chr(10) || '- bullet item', 10) ELSE '' END
      |    || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'to be continued...' || chr(10) || 'loading more results...' ELSE '' END
      |    || CASE WHEN doc_id % 19 = 0 THEN ' #### #### 123 456 789 0 11 22 33 44 55 66 77 88' ELSE '' END AS t
      |  FROM documents),
      |d AS (
      |  SELECT doc_id,
      |    (doc_id % 13 <> 0 AND doc_id % 17 <> 0 AND doc_id % 19 <> 0) AS clean,
      |    trim(lower(t)) AS s FROM aug),
      |tk AS (
      |  SELECT doc_id, clean,
      |    list_filter(regexp_split_to_array(s, '\s+'), x -> x <> '') AS toks
      |  FROM d),
      |tok AS (
      |  SELECT doc_id, clean, i.i AS i, toks[CAST(i.i AS INTEGER)] AS tok
      |  FROM tk, unnest(range(1, len(toks) + 1)) AS i(i)),
      |f0 AS (
      |  SELECT doc_id, clean, i,
      |    list_reduce(
      |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
      |        list_transform(range(1, length(tok) + 1),
      |          j -> CAST(ascii(substr(tok, CAST(j AS INTEGER), 1)) AS UBIGINT))),
      |      (acc, c) -> CAST(((CAST((xor(acc, c)) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(acc, c)) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT)) AS z
      |  FROM tok),
      |t1 AS (SELECT doc_id, clean, i, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM f0),
      |t2 AS (SELECT doc_id, clean, i, xor(z, z >> 30) AS z FROM t1),
      |t3 AS (SELECT doc_id, clean, i, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM t2),
      |t4 AS (SELECT doc_id, clean, i, xor(z, z >> 27) AS z FROM t3),
      |t5 AS (SELECT doc_id, clean, i, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM t4),
      |t6 AS (SELECT doc_id, clean, i, xor(z, z >> 31) AS z FROM t5),
      |occ AS (SELECT doc_id, clean, i, CAST(z % 256 AS INTEGER) AS b FROM t6),
      |cnt AS (
      |  SELECT clean AS pos, b, CAST(count(*) AS BIGINT) AS c
      |  FROM occ WHERE doc_id % 3 = 0 GROUP BY 1, 2),
      |tot AS (
      |  SELECT coalesce(sum(CASE WHEN pos THEN c END), 0) AS tp,
      |         coalesce(sum(CASE WHEN NOT pos THEN c END), 0) AS tn
      |  FROM cnt),
      |lo AS (
      |  SELECT CAST(bb.b AS INTEGER) AS b,
      |    ln((coalesce(cp.c, 0) + 1.0) / (tot.tp + 256.0))
      |      - ln((coalesce(cn.c, 0) + 1.0) / (tot.tn + 256.0)) AS w
      |  FROM range(0, 256) AS bb(b)
      |  LEFT JOIN (SELECT b, c FROM cnt WHERE pos) cp ON cp.b = bb.b
      |  LEFT JOIN (SELECT b, c FROM cnt WHERE NOT pos) cn ON cn.b = bb.b, tot),
      |sc AS (
      |  SELECT occ.doc_id, round(
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lo.w ORDER BY occ.i)),
      |                (a, b) -> a + b) / count(*), 6) AS score
      |  FROM occ JOIN lo USING (b) GROUP BY occ.doc_id),
      |n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tk)
      |SELECT n.doc_id, n.n_tokens, sc.score,
      |  CASE WHEN sc.score IS NULL THEN 'na'
      |       WHEN sc.score >= 0.25 THEN 'keep'
      |       WHEN sc.score >= -0.25 THEN 'borderline'
      |       ELSE 'drop' END AS verdict
      |FROM n LEFT JOIN sc USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** p54 merge count: 32 covers the corpus comfortably (the fixture
    * vocabulary supports 40+ at every SF — [[TextAnalysis.bpeTrain]]
    * raises a named error if a corpus ever exhausts earlier) and the
    * learned table is SF-sensitive from step 6 on, so the gate tests
    * real training, not a charset artifact. */
  private val P54Merges = 32

  // train once per dir: p54 (two keys), p56, and p59 all consume the
  // same P54Merges model — without the memo the suite retrained the
  // identical vocabulary four times per pass. Pass lifetime: training
  // IS p54's measured work, so every bench pass trains cold.
  private def bpeModelFor(spark: SparkSession, dir: String): TextAnalysis.BpeModel =
    graft.Memo.bpeModels.getOrElseUpdate((dir, P54Merges))(
      TextAnalysis.bpeTrain(Tables.load(spark, dir, "documents"), "text", P54Merges))

  /** p54: BPE vocabulary TRAINING over the documents corpus
    * ([[TextAnalysis.bpeTrain]]; see its scaladoc for the
    * one-corpus-pass / vocab-bounded-loop 100-TB shape and the
    * (count DESC, left, right) deterministic argmax). Output is the
    * learned merge table itself — step, fused pair, and the exact
    * weighted pair count that won the step. */
  val p54BpeTrain: Q = (spark, dir) =>
    TextAnalysis.bpeMergesDfFromModel(spark, bpeModelFor(spark, dir))
      .orderBy("step")

  /** p54 segmentation gate: the learned merges applied to every
    * distinct corpus word (word, word_count, n_pieces, pieces) —
    * pins the greedy left-to-right application semantics, not just
    * the argmax sequence. */
  val p54BpeSegment: Q = (spark, dir) =>
    TextAnalysis.bpeSegmentsDfFromModel(spark, bpeModelFor(spark, dir))
      .orderBy("word")

  /** p54 oracle: the ENTIRE training loop restated in SQL — one CTE
    * triple per merge step, mechanically unrolled: `pc_k` recounts
    * weighted adjacent pairs from the step-(k−1) segmentation, `m_k`
    * takes the (count DESC, left, right) argmax, `seg_k` re-applies
    * the merge via a list_reduce fold whose accumulator is the
    * chr(31)-delimited symbol string (append `r` without a delimiter
    * iff the accumulator's LAST symbol is exactly `l` and the next
    * symbol is `r` — provably the greedy left-to-right scan, because
    * a symbol fused in this pass is `l||r` ≠ `l`, so a fresh merge
    * can never chain onto itself within the pass). Nothing reads
    * engine state: DuckDB retrains the whole vocabulary from the raw
    * corpus. Every CTE is MATERIALIZED — each seg_k is referenced
    * twice (pair recount + next segmentation), so default inlining
    * would expand the plan 2^32-fold. */
  private def p54OracleCtes(m: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH tok AS MATERIALIZED (
      |  SELECT unnest(list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+'), x -> x <> '')) AS w
      |  FROM documents),
      |seg0 AS MATERIALIZED (
      |  SELECT w, CAST(count(*) AS BIGINT) AS c,
      |         list_aggregate(string_split_regex(w, ''), 'string_agg', chr(31)) AS seg
      |  FROM tok GROUP BY w)""".stripMargin
    for (k <- 1 to m) {
      val p = k - 1
      sb ++= s""",
      |pr$k AS MATERIALIZED (
      |  SELECT unnest(list_zip(string_split(seg, chr(31)), string_split(seg, chr(31))[2:])) AS z, c
      |  FROM seg$p),
      |pc$k AS MATERIALIZED (
      |  SELECT z[1] AS l, z[2] AS r, CAST(sum(c) AS BIGINT) AS pc
      |  FROM pr$k WHERE z[2] IS NOT NULL GROUP BY 1, 2),
      |m$k AS MATERIALIZED (
      |  SELECT $k AS step, l, r, pc FROM pc$k ORDER BY pc DESC, l, r LIMIT 1),
      |seg$k AS MATERIALIZED (
      |  SELECT s.w, s.c,
      |    list_reduce(string_split(s.seg, chr(31)),
      |      (acc, x) -> CASE WHEN x = m.r AND (acc = m.l OR ends_with(acc, chr(31) || m.l))
      |                  THEN acc || m.r ELSE acc || chr(31) || x END) AS seg
      |  FROM seg$p s CROSS JOIN m$k m)""".stripMargin
    }
    sb.result()
  }

  val p54TrainSql: String =
    p54OracleCtes(P54Merges) + "\n" +
      (1 to P54Merges)
        .map(k => s"SELECT step, l AS left, r AS right, pc AS pair_count FROM m$k")
        .mkString("\nUNION ALL\n") +
      "\nORDER BY step"

  val p54SegmentSql: String =
    p54OracleCtes(P54Merges) + s"""
      |SELECT w AS word, c AS word_count,
      |       CAST(len(string_split(seg, chr(31))) AS BIGINT) AS n_pieces,
      |       replace(seg, chr(31), ' ') AS pieces
      |FROM seg$P54Merges ORDER BY word""".stripMargin

  /** Checked-in JSONL ingest fixture (graft.tools.JsonlFixture): 113
    * valid newline-delimited records exercising missing/null fields,
    * key reorder, unknown extras, unicode escapes, and embedded
    * escapes. */
  private[graft] val JsonlFixturePath = sys.env.getOrElse(
    "GRAFT_JSONL_FIXTURE", "/root/repo/fixtures/docs.jsonl")

  /** p60: JSONL ingest ([[graft.sources.Jsonl]]; see its scaladoc for
    * the explicit-schema / FAILFAST-vs-audited contract) — the
    * newline-delimited interchange format training corpora ship in.
    * The gate reads the checked-in fixture with an explicit schema and
    * emits the ingest audit (has_text, token and char counts), so
    * missing-field NULLs, key reorder, ignored extras, \\uXXXX
    * escapes, and embedded quote/backslash/newline escapes are all
    * cross-engine-pinned against DuckDB's independent JSON reader. */
  val p60JsonlIngest: Q = (spark, _) => {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    graft.sources.Jsonl.read(spark, JsonlFixturePath, schema)
      .select(col("doc_id"), col("source"),
        col("text").isNotNull.as("has_text"),
        TextAnalysis.tokenCount(coalesce(col("text"), lit("")))
          .cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** p60 oracle: DuckDB's own newline-delimited JSON reader over the
    * same file with the same explicit columns — nothing shared with
    * the engine's parser. */
  val p60Sql: String =
    s"""SELECT doc_id, source, text IS NOT NULL AS has_text,
      |  CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
      |       ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'))
      |       END AS BIGINT) AS n_tokens,
      |  CAST(length(text) AS BIGINT) AS n_chars
      |FROM read_json('$JsonlFixturePath', format = 'newline_delimited',
      |     columns = {doc_id: 'BIGINT', source: 'VARCHAR', text: 'VARCHAR'})
      |ORDER BY doc_id""".stripMargin

  /** p58: SQ8 scalar-quantized ANN ([[SimilaritySearch.sq8TopK]]; see
    * its and [[graft.functions.Sq8Quantize]]'s scaladocs for the
    * 4×-compression scale path and the fixed-order double arithmetic
    * that makes every code and approx score bit-reproducible). Query =
    * vec 0; k = 10; output carries BOTH the quantized score the index
    * ranks by and the exact cosine of the re-ranked survivors. */
  val p58Sq8Ann: Q = (spark, dir) => {
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val params = SimilaritySearch.sq8Params(emb, "embedding")
    SimilaritySearch.sq8TopK(emb, "embedding", "vec_id", q, 10, params)
      .select(col("neighbor_id"),
        round(col("approx_cosine"), 6).as("approx_cosine"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** p58 oracle: DuckDB RETRAINS the quantizer (per-dim FLOAT min/max
    * over non-NaN elements — mirroring sq8Params' documented NaN-safe
    * ranges, so a NaN element can't poison the oracle's max/scale —
    * scale = (max−min)/255 in DOUBLE), re-derives every code with the
    * same floor/clamp arithmetic, and replays the dot/norm
    * accumulations as ORDERED list_reduce folds (ascending dimension —
    * the engine's two accumulators never interact, so two separate
    * folds reproduce both bit-exactly; the p05 sequential-fold
    * discipline). The top-k boundary orders by the RAW approx score,
    * which is bit-identical across engines, then vec_id. */
  val p58Sql: String =
    """WITH mm AS MATERIALIZED (
      |  SELECT d, min(x)::DOUBLE AS mn,
      |         (max(x)::DOUBLE - min(x)::DOUBLE) / 255.0 AS s
      |  FROM (SELECT unnest(embedding) AS x,
      |               generate_subscripts(embedding, 1) AS d
      |        FROM embeddings)
      |  WHERE NOT isnan(x)
      |  GROUP BY d),
      |cd AS (
      |  SELECT e.vec_id, p.d, p.mn, p.s,
      |    CASE WHEN p.s = 0 THEN 0
      |         ELSE least(greatest(CAST(floor((e.embedding[p.d]::DOUBLE - p.mn) / p.s) AS BIGINT), 0), 255)
      |    END AS c
      |  FROM embeddings e CROSS JOIN mm p),
      |vecs AS MATERIALIZED (
      |  SELECT vec_id, list(mn + c * s ORDER BY d) AS xh
      |  FROM cd GROUP BY vec_id),
      |q AS MATERIALIZED (
      |  SELECT list_transform(embedding, v -> v::DOUBLE) AS qv
      |  FROM embeddings WHERE vec_id = 0),
      |nq AS (
      |  SELECT list_reduce(list_prepend(0.0::DOUBLE,
      |           list_transform(qv, v -> v * v)), (a, b) -> a + b) AS nq
      |  FROM q),
      |sc AS (
      |  SELECT vec_id,
      |    list_reduce(list_prepend(0.0::DOUBLE,
      |      list_transform(range(1, len(xh) + 1),
      |        i -> xh[CAST(i AS INTEGER)] * qv[CAST(i AS INTEGER)])),
      |      (a, b) -> a + b) AS dot,
      |    list_reduce(list_prepend(0.0::DOUBLE,
      |      list_transform(xh, v -> v * v)), (a, b) -> a + b) AS nx
      |  FROM vecs, q),
      |ac AS (
      |  SELECT vec_id,
      |    CASE WHEN nx = 0 OR nq.nq = 0 THEN NULL
      |         ELSE dot / (sqrt(nx) * sqrt(nq.nq)) END AS a
      |  FROM sc, nq),
      |top AS (
      |  SELECT vec_id AS neighbor_id, a FROM ac
      |  WHERE a IS NOT NULL
      |  ORDER BY a DESC, vec_id LIMIT 10)
      |SELECT t.neighbor_id, round(t.a, 6) AS approx_cosine,
      |       round(list_cosine_similarity(e.embedding::DOUBLE[], q2.embedding::DOUBLE[]), 6) AS cosine
      |FROM top t
      |JOIN embeddings e ON e.vec_id = t.neighbor_id,
      |     (SELECT embedding FROM embeddings WHERE vec_id = 0) q2
      |ORDER BY t.a DESC, t.neighbor_id""".stripMargin

  /** p62: IVF × SQ8 composite ANN ([[SimilaritySearch.ivfSq8Index]] /
    * [[SimilaritySearch.ivfSq8TopK]]) — the index FAISS actually ships
    * at scale: the coarse quantizer prunes the scan to nProbe cells,
    * the scalar codes compress the surviving scan 4×. Probed
    * EXHAUSTIVELY here
    * (nProbe = nCentroids, the p15 discipline): every cell is scanned,
    * so the ranking is independent of the k-means fit and the whole
    * composite (routing, per-cell code storage, code scan, rerank)
    * sits behind p58's flat-SQ8 oracle — if the cell routing dropped
    * or misrouted one vector, the top-k would differ. The pruned
    * production shape is recall-pinned in PipelineSpec. */
  val p62IvfSq8Ann: Q = (spark, dir) => {
    val emb = Tables.load(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val ivf = ivfIndexFor(spark, dir)
    val params = SimilaritySearch.sq8Params(emb, "embedding")
    val idx = SimilaritySearch.ivfSq8Index(emb, "embedding", "vec_id", ivf, params)
    SimilaritySearch.ivfSq8TopK(idx, emb, "embedding", "vec_id", q, 10,
        nProbe = ivf.centroids.length)
      .select(col("neighbor_id"),
        round(col("approx_cosine"), 6).as("approx_cosine"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** p63: sharded training-mix sink ([[graft.sources.ShardedSink]];
    * see its scaladoc for the deterministic-shard/manifest contract) —
    * the export writes 8 seeded-fold shards of the corpus to a scratch
    * dir and the gate hashes the READ-BACK manifest, so shard routing,
    * the parquet round-trip, and all four manifest aggregates sit
    * behind the oracle. Round-trip row equality is spec-pinned
    * (ShardedSinkSpec). */
  val p63ShardedSink: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    // ONE scratch path per (process, source dir), overwrite mode: a
    // fresh temp dir per invocation would leave a full corpus copy
    // behind on every bench/probe repetition until /tmp fills, while a
    // path keyed on the dir ALONE would let two concurrent processes
    // overwrite each other's files mid-read — the pid keeps processes
    // disjoint, repetition within one process reuses the slot
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_p63_" +
      s"${ProcessHandle.current().pid()}_" +
      java.lang.Long.toHexString(
        graft.operators.DetRngHash.xx(dir.getBytes("UTF-8")))
    graft.sources.ShardedSink.write(docs, "text", "doc_id", out,
        nShards = 8, seed = 17L)
      .orderBy("shard")
  }

  /** p63 oracle: the shared SplitMix64 fold chain (shard = h % 8, the
    * p21 discipline), the corpus whitespace token count (p60's CASE
    * form), UTF-8 byte lengths (DuckDB strlen counts octets, as
    * Spark's octet_length does), and the id digest as
    * sha256(string_agg(id, ',' ORDER BY id)) — numeric order, the
    * same ascending-long order the engine sorts before joining. */
  val p63Sql: String =
    mixChainSql("SELECT doc_id, text, xor(CAST(doc_id AS UBIGINT), CAST(17 AS UBIGINT)) AS z FROM documents") + """
      |s AS (SELECT doc_id, text, CAST(z % 8 AS BIGINT) AS shard FROM h)
      |SELECT shard,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
      |       ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\s+'))
      |       END) AS BIGINT) AS n_tokens,
      |  CAST(sum(coalesce(strlen(text), 0)) AS BIGINT) AS n_bytes,
      |  sha256(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS ids_sha256
      |FROM s GROUP BY shard ORDER BY shard""".stripMargin

  /** Per-document ORDERED token-id sequences under the p54-learned
    * vocabulary — the input a binary training export consumes. Piece
    * ids are frequency ranks ((weighted count DESC, piece ASC), the
    * vocabCoverage total order) over the model's segmentation; the
    * word → id-array table is vocab-bounded and BROADCASTS, the
    * per-doc assembly is one aggregate whose collect_list is bounded
    * by document length (array_sort on the (pos, ids) structs makes
    * the flatten order deterministic regardless of arrival order). */
  private def tokenIdsFor(spark: SparkSession, dir: String): DataFrame = {
    val model = bpeModelFor(spark, dir)
    val pieceCounts = model._2
      .flatMap { case (_, c, sy) => sy.map(_ -> c) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val pid: Map[String, Int] = pieceCounts
      .sortBy { case (p, c) => (-c, p) }
      .zipWithIndex.map { case ((p, _), i) => p -> i }.toMap
    val wordIds = model._2.map { case (w, _, sy) => (w, sy.map(pid)) }
    import spark.implicits._
    val wp = wordIds.toDF("w", "wids")
    val docs = Tables.load(spark, dir, "documents")
    val tk = split(trim(lower(coalesce(col("text"), lit("")))), "\\s+")
    val words = docs.select(col("doc_id"), posexplode(tk).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    val ids = words.join(broadcast(wp), Seq("w"))
      .groupBy("doc_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("wids")))),
        s => s.getField("wids"))).as("ids"))
    docs.select(col("doc_id")).join(ids, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ids"), array().cast("array<int>")).as("ids"))
  }

  /** p78: tokenized BINARY shard export ([[graft.sources.TokenBin]];
    * see its scaladoc for the .bin/.idx layout and the read-back
    * manifest contract) — the [[tokenIdsFor]] sequences land as 8
    * seeded-fold u32 shards in a scratch dir, and the gate hashes the
    * manifest parsed back FROM THE WRITTEN BYTES: shard routing, the
    * learned vocabulary's id assignment, per-doc token order (via the
    * order-sensitive per-doc FNV inside the checksum), and both file
    * widths (n_bytes = 4·tokens / 12·docs) all sit behind the oracle,
    * which re-derives everything from the p54 retrain chain. Byte
    * layout and round-trip equality are TokenBinSpec-pinned. */
  val p78TokenBinExport: Q = (spark, dir) => {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_p78_" +
      s"${ProcessHandle.current().pid()}_" +
      java.lang.Long.toHexString(DetRngHash.xx(dir.getBytes("UTF-8")))
    graft.sources.TokenBin.write(tokenIdsFor(spark, dir), "doc_id", "ids",
      out, nShards = 8, seed = 78L)
    graft.sources.TokenBin.readManifest(spark, out).orderBy("shard")
  }

  /** p78 oracle: the p54 retrain chain → frequency-ranked piece ids →
    * per-doc ORDERED id lists (word order × within-word piece order) →
    * the per-doc FNV-limb fold over ids, splitmix-finalized XOR doc_id
    * — summed per seeded-fold shard in HUGEINT mod 2^64. Every stage
    * of the export (vocabulary, id ranks, token order, shard routing,
    * file widths) is restated independently. */
  val p78Sql: String =
    p54OracleCtes(P54Merges) + s""",
      |vocab AS MATERIALIZED (
      |  SELECT p AS piece, CAST(sum(c) AS BIGINT) AS pc
      |  FROM (SELECT c, unnest(string_split(seg, chr(31))) AS p FROM seg$P54Merges)
      |  GROUP BY p),
      |vid AS MATERIALIZED (
      |  SELECT piece, CAST(row_number() OVER (ORDER BY pc DESC, piece) - 1 AS INTEGER) AS pid
      |  FROM vocab),
      |wpp AS (
      |  SELECT w, CAST(i.i AS BIGINT) AS pi,
      |    string_split(seg, chr(31))[CAST(i.i AS INTEGER)] AS piece
      |  FROM seg$P54Merges, unnest(range(1, len(string_split(seg, chr(31))) + 1)) AS i(i)),
      |wid AS MATERIALIZED (
      |  SELECT wpp.w, list(vid.pid ORDER BY wpp.pi) AS ids
      |  FROM wpp JOIN vid USING (piece) GROUP BY wpp.w),
      |dtok AS (
      |  SELECT doc_id, CAST(i.i AS BIGINT) AS wi, toks[CAST(i.i AS INTEGER)] AS w
      |  FROM (SELECT doc_id,
      |          list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+'), x -> x <> '') AS toks
      |        FROM documents),
      |       unnest(range(1, len(toks) + 1)) AS i(i)),
      |dids AS MATERIALIZED (
      |  SELECT d.doc_id, flatten(list(wid.ids ORDER BY d.wi)) AS ids
      |  FROM dtok d JOIN wid ON wid.w = d.w GROUP BY d.doc_id),
      |dall AS (
      |  SELECT doc.doc_id, coalesce(dids.ids, []) AS ids
      |  FROM documents doc LEFT JOIN dids ON dids.doc_id = doc.doc_id),
      |fnv AS (
      |  SELECT doc_id, len(ids) AS n,
      |    list_reduce(
      |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
      |        list_transform(ids, x -> CAST(x AS UBIGINT))),
      |      (acc, c) -> CAST(((CAST((xor(acc, c)) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(acc, c)) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT)) AS z0
      |  FROM dall),
      |g0 AS (SELECT doc_id, n, xor(z0, CAST(doc_id AS UBIGINT)) AS z FROM fnv),
      |g1 AS (SELECT doc_id, n, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM g0),
      |g2 AS (SELECT doc_id, n, xor(z, z >> 30) AS z FROM g1),
      |g3 AS (SELECT doc_id, n, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM g2),
      |g4 AS (SELECT doc_id, n, xor(z, z >> 27) AS z FROM g3),
      |g5 AS (SELECT doc_id, n, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM g4),
      |g6 AS (SELECT doc_id, n, xor(z, z >> 31) AS z FROM g5),
      |""".stripMargin +
    mixChainSql(
      "SELECT doc_id, xor(CAST(doc_id AS UBIGINT), CAST(78 AS UBIGINT)) AS z FROM documents",
      p = "sm", hName = "sh", lead = "") + """
      |shards AS (SELECT doc_id, CAST(z % 8 AS BIGINT) AS shard FROM sh)
      |SELECT s.shard,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(g.n) AS BIGINT) AS n_tokens,
      |  CAST(4 * sum(g.n) AS BIGINT) AS n_bytes_bin,
      |  CAST(12 * count(*) AS BIGINT) AS n_bytes_idx,
      |  CAST(CAST(sum(CAST(g.z AS HUGEINT)) % 18446744073709551616 AS UBIGINT) AS VARCHAR) AS checksum
      |FROM g6 g JOIN shards s USING (doc_id)
      |GROUP BY s.shard ORDER BY s.shard""".stripMargin

  private[graft] val AudioFixturePath = sys.env.getOrElse(
    "GRAFT_AUDIO_FIXTURE", "/root/repo/fixtures/audio_fixture.parquet")

  /** p64: audio spectral fingerprints over the checked-in WAV fixture
    * ([[Multimodal.audioFingerprints]] /
    * [[graft.functions.AudioSpectralHash]]) — the audio rung of the
    * media ladder. The fixture's expected fingerprints are analytic
    * (a pure tone on probe bin b is exactly `1 << (b-1)` at ANY
    * amplitude/channel count thanks to the kernel's relative floor;
    * square/saw contribute their harmonic bins; malformed payloads pin
    * defined=false), so the gate checks the full RIFF parse + Goertzel
    * + floored-bit chain against independently-stated values. */
  val p64AudioFingerprint: Q = (spark, _) =>
    Multimodal.audioFingerprints(
        spark.read.parquet(AudioFixturePath), "doc_id", "media")
      .orderBy("doc_id")

  /** p64 oracle: the fixture's stored analytic expectations. */
  val p64Sql: String =
    s"""SELECT doc_id, fp_defined AS defined, fp
       |FROM read_parquet('$AudioFixturePath/*.parquet')
       |ORDER BY doc_id""".stripMargin

  /** p65: audio near-duplicate PAIRS — [[Dedup.hammingPairs]] over the
    * p64 fingerprints, Hamming ≤ 1 (the amplitude-scaled, sub-floor-
    * noisy, stereo-encoded, and bit-identical variants must all pair;
    * tones on different bins sit at Hamming 2 and must not). Oracle is
    * the brute-force Hamming self-join over the stored fingerprints —
    * the p51 discipline. */
  val p65AudioNearDup: Q = (spark, _) => {
    val hashed = Multimodal.audioFingerprints(
        spark.read.parquet(AudioFixturePath), "doc_id", "media")
      .filter(col("defined"))
    Dedup.hammingPairs(hashed, "doc_id", "fp", maxHamming = 1)
      .orderBy("id0", "id1")
  }

  /** p65 oracle: brute force over the stored fingerprints (11 defined
    * rows — the quadratic is the oracle's to pay). */
  val p65Sql: String =
    s"""WITH h AS (
       |  SELECT doc_id, fp FROM read_parquet('$AudioFixturePath/*.parquet')
       |  WHERE fp_defined)
       |SELECT a.doc_id AS id0, b.doc_id AS id1,
       |       CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
       |FROM h a JOIN h b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.fp, b.fp)) <= 1
       |ORDER BY id0, id1""".stripMargin

  /** p66: incremental EMBEDDING near-dup dedup
    * ([[SimilaritySearch.incrementalEmbedDedup]]; see its scaladoc for
    * the all-SHUFFLE_MERGE both-sides-large shape) — the semantic rung
    * of the snapshot-refresh family (p55 exact, p61 text MinHash).
    * Same split discipline (prior = vec_id % 4 ≠ 1, increment =
    * % 4 = 1); the corpus's natural cross-split near-dups put both
    * verdicts at both gate SFs (4 matched new vectors at sf0.01, 9 at
    * sf0.001). */
  val p66EmbedIncrement: Q = (spark, dir) => {
    val emb = Tables.load(spark, dir, "embeddings")
    val prior = emb.filter(pmod(col("vec_id"), lit(4)) =!= 1)
    SimilaritySearch.incrementalEmbedDedup(prior, emb, "embedding", "vec_id",
        minCosine = 0.4)
      .select(col("vec_id"), col("verdict"), col("keeper_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("vec_id")
  }

  /** p66 oracle: p05's bit-exact hyperplane-signature restatement
    * (guarded substring composition) with the candidate self-join
    * re-aimed ACROSS the snapshot split, the same chunk-collision
    * (multi-probe on both sides ⟺ chunk-Hamming ≤ 2) and +4σ
    * full-signature prefilter, the same ordered-fold cosine, and the
    * keeper argmax as a (cosine DESC, prior_id) row_number — the
    * engine's struct-max total order. The 4096-entry prior-side bucket
    * cap never binds at gate scale (the p05 argument). */
  lazy val p66Sql: String = {
    val cut = p05Sql.lastIndexOf("cand AS (")
    require(cut >= 0,
      "p66Sql composes on p05Sql's signature CTEs — update both together")
    p05Sql.substring(0, cut) +
      """cand AS (
        |  SELECT sa.vec_id AS new_id, sb.vec_id AS prior_id
        |  FROM sigs sa, sigs sb
        |  WHERE sa.vec_id % 4 = 1 AND sb.vec_id % 4 <> 1
        |    AND len(list_filter(range(0, 8),
        |          c -> bit_count(xor(
        |                 CASE WHEN c < 4 THEN (sa.sig0 >> CAST(16*c AS INTEGER)) & 65535
        |                      ELSE (sa.sig1 >> CAST(16*(c-4) AS INTEGER)) & 65535 END,
        |                 CASE WHEN c < 4 THEN (sb.sig0 >> CAST(16*c AS INTEGER)) & 65535
        |                      ELSE (sb.sig1 >> CAST(16*(c-4) AS INTEGER)) & 65535 END)) <= 2)) > 0
        |    AND bit_count(xor(sa.sig0, sb.sig0)) + bit_count(xor(sa.sig1, sb.sig1))
        |        <= 128.0 * acos(0.4) / pi() + 2.0 * sqrt(128.0)),
        |cosv AS (
        |  SELECT c.new_id, c.prior_id,
        |    list_reduce(list_prepend(0.0,
        |      list_transform(range(1, 65),
        |        j -> na.v[CAST(j AS INTEGER)] * nb.v[CAST(j AS INTEGER)])),
        |      (acc, x) -> acc + x) / (sqrt(na.nn) * sqrt(nb.nn)) AS cosine
        |  FROM cand c
        |  JOIN norms na ON na.vec_id = c.new_id
        |  JOIN norms nb ON nb.vec_id = c.prior_id
        |  WHERE na.nn <> 0 AND nb.nn <> 0),
        |best AS (
        |  SELECT new_id, prior_id, cosine,
        |    row_number() OVER (PARTITION BY new_id ORDER BY cosine DESC, prior_id) AS rn
        |  FROM cosv WHERE cosine >= 0.4)
        |SELECT n.vec_id,
        |  CASE WHEN b.prior_id IS NOT NULL THEN 'near_dup_of_prior'
        |       ELSE 'new' END AS verdict,
        |  coalesce(b.prior_id, n.vec_id) AS keeper_id,
        |  round(b.cosine, 6) AS cosine
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 4 = 1) n
        |LEFT JOIN (SELECT new_id, prior_id, cosine FROM best WHERE rn = 1) b
        |  ON b.new_id = n.vec_id
        |ORDER BY n.vec_id""".stripMargin
  }

  /** The duplicated-phrase plant for p67: 12 lowercase words appended
    * TWICE to every fifth doc, so its interior {5..10}-grams occur ≥ 2
    * times and the dup-n-gram coverage fractions fire. */
  private val P67Phrase =
    "spark merge window batch stream filter join sort hash scan table row"

  /** The adversarial fixture for p67: the corpus is single-line word
    * salad (natural n-gram repetition, but NO line/paragraph structure),
    * so plant it per residue class — every 7th doc gets the same
    * 50-char prefix as TWO extra lines (duplicate lines), every 11th
    * doc its 80-char prefix as TWO extra paragraphs (duplicate
    * paragraphs), every 5th doc the [[P67Phrase]] twice (duplicated
    * {5..10}-grams). Restated verbatim in SQL (substr/chr(10)). */
  private[graft] def p67FixtureText: org.apache.spark.sql.Column = {
    val base = coalesce(col("text"), lit(""))
    concat(
      base,
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(lit("\n"), substring(base, 1, 50), lit("\n"), substring(base, 1, 50)))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 0,
        concat(lit("\n\n"), substring(base, 1, 80), lit("\n\n"), substring(base, 1, 80)))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        lit(" " + P67Phrase + " " + P67Phrase)).otherwise(lit("")))
  }

  /** p67: the FULL Gopher repetition-filter battery
    * ([[TextAnalysis.gopherRepetition]]; see its scaladoc for the
    * zero-shuffle one-kernel-pass shape) over the planted corpus —
    * 13 fractions + the Table A1 keep/drop verdict. */
  val p67GopherRepetition: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    TextAnalysis.gopherRepetition(
        docs.select(col("doc_id"), p67FixtureText.as("t")), "t", "doc_id")
      .orderBy("doc_id")
  }

  /** p67 oracle: the same planted fixture; lines/paragraphs as
    * non-empty pieces of the literal chr(10) / chr(10)chr(10) splits
    * with the Σ(c−1)/Σc and Σ((c−1)·len)/Σ(c·len) duplicate fractions;
    * tokens as the empty-filtered '\s+' split of lower(t); top-n-gram
    * chosen by (count DESC, gram ASC — binary collation, the kernel's
    * codepoint compare); dup-n-gram coverage as DISTINCT marked token
    * positions. All sums exact BIGINTs with one final DOUBLE division,
    * so the hashes are bit-identical. The verdict CASE is generated
    * from the SAME Scala threshold constants the engine applies. */
  lazy val p67Sql: String = p67RulesSql(
    s"""|  SELECT doc_id,
       |    coalesce(text, '')
       |    || CASE WHEN doc_id % 7 = 0 THEN chr(10) || substr(coalesce(text, ''), 1, 50) || chr(10) || substr(coalesce(text, ''), 1, 50) ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0 THEN chr(10) || chr(10) || substr(coalesce(text, ''), 1, 80) || chr(10) || chr(10) || substr(coalesce(text, ''), 1, 80) ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0 THEN ' $P67Phrase $P67Phrase' ELSE '' END AS t
       |  FROM documents""".stripMargin)

  /** The p67 Gopher-repetition restatement over a pluggable text CTE
    * body (`SELECT doc_id, … AS t FROM documents`) — p67 plants its
    * adversarial fixture, p82's ablation runs the SAME rules over the
    * raw text. */
  private def p67RulesSql(augBody: String): String = {
    val topN = Seq(2, 3, 4).map { n =>
      s"""g$n AS (
         |  SELECT doc_id, array_to_string(tk[i:i+${n - 1}], ' ') AS g
         |  FROM tok, unnest(range(1, len(tk) - ${n - 2})) AS r(i)),
         |top$n AS (
         |  SELECT doc_id, CAST(c * (len(g) - ${n - 1}) AS BIGINT) AS ch
         |  FROM (SELECT doc_id, g, count(*) AS c,
         |          row_number() OVER (PARTITION BY doc_id
         |            ORDER BY count(*) DESC, g ASC) AS rn
         |        FROM g$n GROUP BY doc_id, g)
         |  WHERE rn = 1)""".stripMargin
    }
    val dupN = Seq(5, 6, 7, 8, 9, 10).map { n =>
      s"""w$n AS (
         |  SELECT doc_id, i, array_to_string(tk[i:i+${n - 1}], ' ') AS g
         |  FROM tok, unnest(range(1, len(tk) - ${n - 2})) AS r(i)),
         |d$n AS (
         |  SELECT DISTINCT w.doc_id, p AS pos
         |  FROM w$n w
         |  JOIN (SELECT doc_id, g FROM w$n
         |        GROUP BY doc_id, g HAVING count(*) >= 2) x
         |    ON w.doc_id = x.doc_id AND w.g = x.g,
         |    unnest(range(w.i, w.i + $n)) AS rr(p)),
         |dc$n AS (
         |  SELECT d.doc_id, CAST(sum(len(t.tk[d.pos])) AS BIGINT) AS ch
         |  FROM d$n d JOIN tok t ON d.doc_id = t.doc_id
         |  GROUP BY d.doc_id)""".stripMargin
    }
    val fracCols =
      """  coalesce(CAST(l.dl AS DOUBLE) / nullif(l.nl, 0), 0.0) AS dup_line_frac,
        |  coalesce(CAST(l.dlc AS DOUBLE) / nullif(l.nlc, 0), 0.0) AS dup_line_char_frac,
        |  coalesce(CAST(p.dl AS DOUBLE) / nullif(p.nl, 0), 0.0) AS dup_para_frac,
        |  coalesce(CAST(p.dlc AS DOUBLE) / nullif(p.nlc, 0), 0.0) AS dup_para_char_frac,
        |  coalesce(CAST(t2.ch AS DOUBLE) / nullif(tt.tch, 0), 0.0) AS top_2gram_char_frac,
        |  coalesce(CAST(t3.ch AS DOUBLE) / nullif(tt.tch, 0), 0.0) AS top_3gram_char_frac,
        |  coalesce(CAST(t4.ch AS DOUBLE) / nullif(tt.tch, 0), 0.0) AS top_4gram_char_frac,
        |  coalesce(CAST(c5.ch AS DOUBLE) / nullif(tt.tch, 0), 0.0) AS dup_5gram_char_frac,
        |  coalesce(CAST(c6.ch AS DOUBLE) / nullif(tt.tch, 0), 0.0) AS dup_6gram_char_frac,
        |  coalesce(CAST(c7.ch AS DOUBLE) / nullif(tt.tch, 0), 0.0) AS dup_7gram_char_frac,
        |  coalesce(CAST(c8.ch AS DOUBLE) / nullif(tt.tch, 0), 0.0) AS dup_8gram_char_frac,
        |  coalesce(CAST(c9.ch AS DOUBLE) / nullif(tt.tch, 0), 0.0) AS dup_9gram_char_frac,
        |  coalesce(CAST(c10.ch AS DOUBLE) / nullif(tt.tch, 0), 0.0) AS dup_10gram_char_frac""".stripMargin
    val verdict = TextAnalysis.RepetitionColumns
      .zip(TextAnalysis.RepetitionThresholds)
      .map { case (c, t) => s"$c > CAST($t AS DOUBLE)" }
      .mkString(" OR ")
    s"""WITH aug AS (
       |__AUG_BODY__),
       |ln AS (
       |  SELECT doc_id, l FROM aug, unnest(string_split(t, chr(10))) AS u(l)
       |  WHERE l <> ''),
       |lst AS (
       |  SELECT doc_id,
       |    CAST(sum(c - 1) AS BIGINT) AS dl, CAST(sum(c) AS BIGINT) AS nl,
       |    CAST(sum((c - 1) * cl) AS BIGINT) AS dlc, CAST(sum(c * cl) AS BIGINT) AS nlc
       |  FROM (SELECT doc_id, l, count(*) AS c, len(l) AS cl FROM ln GROUP BY doc_id, l)
       |  GROUP BY doc_id),
       |pg AS (
       |  SELECT doc_id, l FROM aug, unnest(string_split(t, chr(10) || chr(10))) AS u(l)
       |  WHERE l <> ''),
       |pst AS (
       |  SELECT doc_id,
       |    CAST(sum(c - 1) AS BIGINT) AS dl, CAST(sum(c) AS BIGINT) AS nl,
       |    CAST(sum((c - 1) * cl) AS BIGINT) AS dlc, CAST(sum(c * cl) AS BIGINT) AS nlc
       |  FROM (SELECT doc_id, l, count(*) AS c, len(l) AS cl FROM pg GROUP BY doc_id, l)
       |  GROUP BY doc_id),
       |tok AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(t), '\\s+'), x -> x <> '') AS tk
       |  FROM aug),
       |tot AS (
       |  SELECT doc_id, CAST(len(array_to_string(tk, '')) AS BIGINT) AS tch FROM tok),
       |${topN.mkString(",\n")},
       |${dupN.mkString(",\n")},
       |m AS (
       |  SELECT a.doc_id,
       |$fracCols
       |  FROM aug a
       |  LEFT JOIN lst l USING (doc_id)
       |  LEFT JOIN pst p USING (doc_id)
       |  LEFT JOIN tot tt USING (doc_id)
       |  LEFT JOIN top2 t2 USING (doc_id)
       |  LEFT JOIN top3 t3 USING (doc_id)
       |  LEFT JOIN top4 t4 USING (doc_id)
       |  LEFT JOIN dc5 c5 USING (doc_id)
       |  LEFT JOIN dc6 c6 USING (doc_id)
       |  LEFT JOIN dc7 c7 USING (doc_id)
       |  LEFT JOIN dc8 c8 USING (doc_id)
       |  LEFT JOIN dc9 c9 USING (doc_id)
       |  LEFT JOIN dc10 c10 USING (doc_id))
       |SELECT doc_id, ${TextAnalysis.RepetitionColumns.mkString(", ")},
       |  CASE WHEN $verdict THEN 'drop' ELSE 'keep' END AS verdict
       |FROM m ORDER BY doc_id""".stripMargin
      .replace("__AUG_BODY__", augBody)
  }

  /** The adversarial fixture for p68: plant lines exercising every C4
    * predicate independently — a 3-sentence keepable line (every 3rd
    * doc), a too-short punct line (every 4th), a javascript line that
    * passes length+punct (every 6th), a keepable lorem-ipsum line that
    * dooms the DOC while surviving as a LINE (every 9th), and an
    * inline curly brace (doc_id % 10 = 3). The base word-salad line
    * itself fails the terminal-punct rule. */
  private[graft] def p68FixtureText: org.apache.spark.sql.Column = {
    val base = coalesce(col("text"), lit(""))
    concat(
      base,
      when(pmod(col("doc_id"), lit(10)) === 3,
        lit(" config { json } block")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3)) === 0,
        lit("\nthe quick brown fox jumps. it runs far. we watch it go."))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) === 0,
        lit("\ntiny line.")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(6)) === 0,
        lit("\nthis page uses javascript heavily and renders fine today."))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(9)) === 0,
        lit("\nlorem ipsum dolor sit amet goes here now then."))
        .otherwise(lit("")))
  }

  /** p68: C4-style line/document cleaning
    * ([[TextAnalysis.c4LineFilter]]; see its scaladoc for the
    * row-local one-scan shape and the last-char-vs-regex parity note)
    * over the planted corpus. */
  val p68C4Filter: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    TextAnalysis.c4LineFilter(
        docs.select(col("doc_id"), p68FixtureText.as("t")), "t", "doc_id")
      .orderBy("doc_id")
  }

  /** p68 oracle: the same plants; KEEP = last char of the trimmed line
    * in the terminal set AND ≥ 5 empty-filtered '\s+' words AND no
    * 'javascript'; n_sentences by replace-diff over the kept join; the
    * doc verdict from the ORIGINAL text's lorem/brace plus the
    * sentence floor. */
  val p68Sql: String = p68RulesSql(
    """|  SELECT doc_id,
       |    coalesce(text, '')
       |    || CASE WHEN doc_id % 10 = 3 THEN ' config { json } block' ELSE '' END
       |    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'the quick brown fox jumps. it runs far. we watch it go.' ELSE '' END
       |    || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'tiny line.' ELSE '' END
       |    || CASE WHEN doc_id % 6 = 0 THEN chr(10) || 'this page uses javascript heavily and renders fine today.' ELSE '' END
       |    || CASE WHEN doc_id % 9 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet goes here now then.' ELSE '' END AS t
       |  FROM documents""".stripMargin)

  /** The p68 C4 restatement over a pluggable text CTE body — p68
    * plants its fixture, p82's ablation runs the rules on raw text. */
  // the aug body splices in AFTER stripMargin: its own lines begin
  // with the || concat operator, which a second margin strip would eat
  private def p68RulesSql(augBody: String): String =
    s"""WITH aug AS (
       |__AUG_BODY__),
       |k AS (
       |  SELECT doc_id, t,
       |    CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
       |    list_filter(string_split(t, chr(10)), l ->
       |      substr(trim(l), -1, 1) IN ('.', '!', '?', '"')
       |      AND len(list_filter(string_split_regex(trim(l), '\\s+'), w -> w <> '')) >= 5
       |      AND NOT contains(lower(trim(l)), 'javascript')) AS kept
       |  FROM aug),
       |m AS (
       |  SELECT doc_id, t, n_lines,
       |    CAST(len(kept) AS BIGINT) AS n_lines_kept,
       |    -- array_to_string is NULL on an empty list; Spark's
       |    -- array_join is '' — coalesce to the engine's contract
       |    coalesce(array_to_string(kept, chr(10)), '') AS clean_text
       |  FROM k),
       |s AS (
       |  SELECT *, CAST(
       |      (length(clean_text) - length(replace(clean_text, '.', '')))
       |    + (length(clean_text) - length(replace(clean_text, '!', '')))
       |    + (length(clean_text) - length(replace(clean_text, '?', ''))) AS BIGINT) AS n_sentences
       |  FROM m)
       |SELECT doc_id, n_lines, n_lines_kept, n_sentences,
       |  CASE WHEN contains(lower(t), 'lorem ipsum') OR contains(t, '{')
       |         OR n_sentences < 3
       |       THEN 'drop' ELSE 'keep' END AS verdict,
       |  clean_text
       |FROM s ORDER BY doc_id""".stripMargin
      .replace("__AUG_BODY__", augBody)

  /** p57: quality-aware duplicate-cluster keeper selection — the act
    * step production dedup actually wants: within each near-dup
    * component (the p18 closure over the p02 LSH pair graph), keep the
    * HIGHEST-QUALITY member (p09's quality_score), not the arbitrary
    * min-id one; ties break to the smallest doc_id. One auditable row
    * per clustered doc (the p52 verdict discipline).
    *
    * Scale shape: [[Dedup.qualityKeeper]]'s MEASURED two-path gate —
    * on this curated fixture the clustered slice is tiny and
    * broadcasts (the corpus streams through once and never shuffles
    * for the join); on a dup-heavy crawl (RefinedWeb regime, 30–50 %
    * of docs clustered) the gate declares a hash-co-partitioned
    * SortMergeJoin instead of an executor-OOM broadcast. Both branches
    * are plan-guarded and 100×-probed (STATUS.md p57 rows). */
  val p57QualityKeeper: Q = (spark, dir) => {
    val pairs = minhashCandsFor(spark, dir)
      .filter(col("est_jaccard") >= 0.2)
      .select(col("id0"), col("id1"))
    val comp = Dedup.connectedComponents(pairs, "id0", "id1")
      .select(col("id").as("doc_id"), col("component"))
    val qual = TextAnalysis.qualityMetrics(
        Tables.load(spark, dir, "documents"), "text")
      .select(col("doc_id"), col("quality_score"))
    Dedup.qualityKeeper(qual, "quality_score", comp, "doc_id")
      .orderBy("doc_id")
  }

  /** p57 oracle: p18's recursive component closure composed (guarded
    * substring, the p28/p52 pattern) with p09's quality restatement as
    * a nested-WITH CTE and the same (quality DESC, doc_id) keeper
    * window. Scores are round(·, 6) on both engines — p09's
    * hash-match gate — so the argmax can only flip on a true ≥1e-6
    * quality difference, never a cross-engine ulp. */
  lazy val p57Sql: String = {
    val cut = p18Sql.lastIndexOf("SELECT component::BIGINT")
    require(cut >= 0,
      "p57Sql composes on p18Sql's final SELECT — update both together")
    val p09body = p09Sql.stripTrailing.stripSuffix("ORDER BY doc_id").stripTrailing
    require(p09Sql.stripTrailing.endsWith("ORDER BY doc_id"),
      "p57Sql embeds p09Sql minus its ORDER BY — update both together")
    p18Sql.substring(0, cut).stripTrailing + ",\n" +
      s"q AS (\n$p09body\n),\n" +
      """j AS (
        |  SELECT c.doc_id, c.component, q.quality_score
        |  FROM comp c JOIN q USING (doc_id)),
        |k AS (
        |  SELECT doc_id, component, quality_score,
        |    first_value(doc_id) OVER (
        |      PARTITION BY component
        |      ORDER BY quality_score DESC, doc_id) AS keeper_id
        |  FROM j)
        |SELECT doc_id, component::BIGINT AS component, quality_score,
        |       keeper_id::BIGINT AS keeper_id,
        |       (doc_id = keeper_id) AS kept
        |FROM k ORDER BY doc_id""".stripMargin
  }

  /** p69: GROUP-KEYED train/val/test split — the leakage FIX p49's
    * audit quantifies the need for ([[Dedup.groupKeyedSplit]]; see its
    * scaladoc for the gated-join one-scan shape): every doc folds by
    * its near-dup component label (p18's closure over the p02 pair
    * graph) instead of its own id, so the cross-fold near-dup pairs
    * p49 counts vanish BY CONSTRUCTION — pinned in PipelineSpec, while
    * this key gates the assignment itself. */
  val p69GroupSplit: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val pairs = minhashCandsFor(spark, dir)
      .filter(col("est_jaccard") >= 0.2)
      .select(col("id0"), col("id1"))
    val comp = Dedup.connectedComponents(pairs, "id0", "id1")
      .select(col("id").as("doc_id"), col("component"))
    Dedup.groupKeyedSplit(docs, "doc_id", comp, 42L, 10)
      .orderBy("doc_id")
  }

  /** p69 oracle: p18's recursive component closure (guarded substring,
    * the p28/p57 pattern) left-joined onto the corpus for the group
    * key, then the p21 SplitMix64 fold chain re-seeded from the GROUP
    * key instead of the doc id. */
  lazy val p69Sql: String = {
    val cut = p18Sql.lastIndexOf("SELECT component::BIGINT")
    require(cut >= 0,
      "p69Sql composes on p18Sql's final SELECT — update both together")
    p18Sql.substring(0, cut).stripTrailing + ",\n" +
      """g AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_key
        |  FROM documents d LEFT JOIN comp c USING (doc_id)),
        |""".stripMargin +
      mixChainSql(
        "SELECT doc_id, group_key, xor(CAST(group_key AS UBIGINT), CAST(42 AS UBIGINT)) AS z FROM g",
        p = "fa", hName = "fah", lead = "").stripSuffix(",") + "\n" +
      """SELECT doc_id, group_key::BIGINT AS group_key,
        |  CAST(z % 10 AS BIGINT) AS fold
        |FROM fah ORDER BY doc_id""".stripMargin
  }

  private[graft] val WarcFixtureDir = sys.env.getOrElse(
    "GRAFT_WARC_FIXTURE", "/root/repo/fixtures/warc")
  private[graft] val WarcExpectedPath = sys.env.getOrElse(
    "GRAFT_WARC_EXPECTED", "/root/repo/fixtures/warc_expected.parquet")

  /** p70: WARC crawl ingest ([[graft.sources.Warc.readAudited]]; see
    * its scaladoc for the one-task-per-file shape and the
    * abandon-on-corrupt audit contract) over the checked-in fixture —
    * real gzip-member-per-record layout, payloads embedding CRLF CRLF
    * and raw binary (only Content-Length discipline parses them), a
    * bad-magic file and a truncated-payload file producing audited
    * ok=false rows. The oracle reads the INDEPENDENTLY CONSTRUCTED
    * expectations parquet ([[graft.tools.WarcFixture]] builds both
    * derivations without ever running the parser — the p64 analytic-
    * fixture discipline). */
  val p70WarcIngest: Q = (spark, _) => {
    graft.sources.Warc.readAudited(spark, WarcFixtureDir, "*.warc.gz")
      .select(col("file"), col("rec_idx"), col("ok"), col("warc_type"),
        col("record_id"), col("target_uri"), col("content_length"),
        sha2(col("payload"), 256).as("payload_sha256"))
      .orderBy("file", "rec_idx")
  }

  /** p70 oracle: the stored expectations, verbatim. */
  val p70Sql: String =
    s"""SELECT file, rec_idx, ok, warc_type, record_id, target_uri,
       |  content_length, payload_sha256
       |FROM read_parquet('$WarcExpectedPath/*.parquet')
       |ORDER BY file, rec_idx""".stripMargin

  /** p71: the crawl HEAD end-to-end — WARC records to clean text:
    * [[graft.sources.Warc.readAudited]] → ok response records →
    * ISO-8859-1 payload decode (a lossless byte↔char bijection, so
    * binary payload bytes survive into the string domain identically
    * on both engines) → [[TextAnalysis.htmlToText]] strip chain →
    * per-record char/token counts. The step between p70's raw ingest
    * and the p35/p38 curation chain. Row-local after the one-task-per-
    * file parse; no shuffle but the output sort. */
  val p71WarcCuration: Q = (spark, _) => {
    val recs = graft.sources.Warc.readAudited(spark, WarcFixtureDir, "*.warc.gz")
      .filter(col("ok") && col("warc_type") === "response")
      .select(col("file"), col("rec_idx"), col("target_uri"),
        decode(col("payload"), "ISO-8859-1").as("raw"))
    recs
      .withColumn("extracted", TextAnalysis.htmlToText(col("raw")))
      .withColumn("n_chars", length(col("extracted")).cast("long"))
      .withColumn("n_tokens",
        TextAnalysis.tokenCount(col("extracted")).cast("long"))
      .select(col("file"), col("rec_idx"), col("target_uri"),
        col("extracted"), col("n_chars"), col("n_tokens"))
      .orderBy("file", "rec_idx")
  }

  /** p71 oracle: the stored `payload_text` (the same ISO-8859-1
    * decode, written by the fixture generator from the same bytes)
    * pushed through the p35 strip chain restated verbatim (the
    * fixture payloads avoid the Java-\s ∖ RE2-\s bytes, see
    * [[graft.tools.WarcFixture]]), then the st15 token-count
    * restatement. */
  val p71Sql: String =
    s"""WITH r AS (
       |  SELECT file, rec_idx, target_uri, payload_text AS t
       |  FROM read_parquet('$WarcExpectedPath/*.parquet')
       |  WHERE ok AND warc_type = 'response'),
       |s1 AS (SELECT * REPLACE (regexp_replace(t, '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g') AS t) FROM r),
       |s2 AS (SELECT * REPLACE (regexp_replace(t, '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g') AS t) FROM s1),
       |s3 AS (SELECT * REPLACE (regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t) FROM s2),
       |s4 AS (SELECT * REPLACE (regexp_replace(t, '(?s)<!\\[CDATA\\[.*?\\]\\]>', ' ', 'g') AS t) FROM s3),
       |s5 AS (SELECT * REPLACE (regexp_replace(t, '<[^>]*>', ' ', 'g') AS t) FROM s4),
       |e AS (SELECT * REPLACE (replace(replace(replace(replace(replace(replace(replace(t,
       |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
       |        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t) FROM s5),
       |ex AS (SELECT file, rec_idx, target_uri,
       |         trim(regexp_replace(t, '\\s+', ' ', 'g')) AS extracted FROM e)
       |SELECT file, rec_idx, target_uri, extracted,
       |  CAST(length(extracted) AS BIGINT) AS n_chars,
       |  CAST(CASE WHEN trim(extracted) = '' THEN 0
       |       ELSE len(string_split_regex(trim(extracted), '\\s+')) END AS BIGINT) AS n_tokens
       |FROM ex ORDER BY file, rec_idx""".stripMargin

  /** The p86 per-host robots files — the chain's fetch-policy fixture:
    * a named-agent group shadowing a block-everything `*` group, an
    * anchored + a plain pattern, and an Allow/Disallow specificity tie
    * under a wildcard; bad.test deliberately has NO row (missing
    * robots.txt allows everything — the crawl convention). */
  private[graft] def p86RobotsFixture(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("site-0.test",
        "User-agent: graftcrawler\nDisallow: /page/3\nUser-agent: *\nDisallow: /"),
      ("site-1.test",
        "User-agent: *\nDisallow: /page/1$\nDisallow: /page/4"),
      ("site-2.test",
        "User-agent: *\nAllow: /page/2\nDisallow: /page/*"))
      .toDF("host", "rules")
  }

  /** The p86 plant: appended to even record keys AFTER extraction so
    * the filter stage's joint cells stay live (the p82 discipline).
    * Sized so the binary payload token no longer dominates the Gopher
    * top-n-gram character fractions (all n-grams distinct, 9 terminal
    * sentences for the C4 line/sentence rules). */
  private[graft] val P86Plant: String =
    "the quick brown fox jumped over a lazy dog near the river bank today. " +
    "every careful reader will notice small details hidden inside long documents. " +
    "good pipelines measure quality before training begins. " +
    "we keep clean pages and drop noisy ones early. " +
    "curation teams audit each stage with simple counts. " +
    "honest reports make silent failures visible to everyone involved. " +
    "distinct sentences avoid any repeated phrasing by design here. " +
    "steady growth in corpus size demands careful accounting everywhere. " +
    "final checks confirm that totals add up across stages."

  /** p86: the crawl head END-TO-END — every stage of the funnel the
    * repo ships composed into ONE chain over the checked-in WARC
    * fixture, gated on per-host row counts at every stage boundary
    * (the p38/p82 discipline):
    *
    *   robots fetch gate (p81: [[TextAnalysis.robotsGate]], named
    *   agent > `*`, anchors, wildcards, missing-host default-allow)
    *   → WARC ingest (p70: [[graft.sources.Warc.readAudited]])
    *   → HTML extraction (p71: [[TextAnalysis.htmlToText]] over the
    *     ISO-8859-1 payload decode)
    *   → NFC normalization (p84: [[graft.functions.NfcNormalize]])
    *   → quality filters (p68 C4 × p67 Gopher; the p82 plant on even
    *     record keys keeps the joint cells live)
    *   → recrawl dedup (p55: [[Dedup.incrementalDedup]] — a second
    *     snapshot of the same pages under fresh record keys must come
    *     back 100 % `dup_of_prior`)
    *   → leakage-safe split (p69: [[Dedup.groupKeyedSplit]] keyed by
    *     host, so one origin never straddles folds)
    *   → sequence packing of the train fold (p23:
    *     [[Sampling.packBins]], budget 30).
    *
    * One row per host plus a `*` rollup: n_responses → n_allowed →
    * n_kept → n_recrawl_dup plus the host's fold and its train-fold
    * doc/token contribution; the rollup row carries the packed bin
    * count. The record key is file×100+rec_idx (the fixture's five
    * files mapped to 0–4), numeric so every split/pack hash restates
    * relationally.
    *
    * Scale shape: every stage keeps its own operator's shape (one task
    * per warc file, row-local gates/extraction/filters, the measured
    * broadcast-vs-SMJ component gate in the split, ONE window cumsum
    * in the pack); the report itself is three map-side-combined
    * host rollups joined host-co-partitioned. */
  val p86CrawlChain: Q = (spark, _) => {
    val fileKey = when(col("file") === "crawl-00.warc.gz", lit(0L))
      .when(col("file") === "crawl-01.warc.gz", lit(1L))
      .when(col("file") === "crawl-02.warc.gz", lit(2L))
      .when(col("file") === "crawl-bad0.warc.gz", lit(3L))
      .otherwise(lit(4L))
    crawlChain(spark, WarcFixtureDir, fileKey)
  }

  /** The p86 chain body over any landing dir — `fileKey` derives the
    * numeric record-key prefix from the warc file name (the oracle key
    * uses the fixture's literal five-name map). */
  private[graft] def crawlChain(spark: SparkSession, warcDir: String,
      fileKey: org.apache.spark.sql.Column): DataFrame = {
    // stage boundaries: the parsed-response and post-filter frames feed
    // several report branches each — without a boundary the lineage
    // recomputes the WARC parse + filter kernels once per branch.
    //
    // r19 (guide §3.3/§5, VERDICT #4): the boundaries TRUNCATE LINEAGE
    // (lazy localCheckpoint) — the composed chain's ~37 actions
    // (broadcast builds, dedup/split cardinality gates, the report) each
    // re-analyzed the full WARC-parse lineage under a plain cache(),
    // leaving p86's warm wall ~2.0 s with only 0.6 s inside jobs; against
    // a LogicalRDD leaf the per-action planning collapses. Same
    // materialize-once semantics as a cache; rows are unchanged. Each
    // checkpoint stays reachable from the frames built on it for as long
    // as the caller holds the result, and no longer.
    def stage(df: DataFrame): DataFrame = df.localCheckpoint(false)
    val responses = stage(graft.sources.Warc
      .readAudited(spark, warcDir, "*.warc.gz")
      .filter(col("ok") && col("warc_type") === "response" &&
        col("target_uri").isNotNull)
      .select((fileKey * 100 + col("rec_idx")).as("doc_key"),
        regexp_extract(col("target_uri"), "https?://([^/]+)", 1).as("host"),
        when(length(regexp_extract(col("target_uri"),
            "https?://[^/]+(/.*)", 1)) > 0,
          regexp_extract(col("target_uri"), "https?://[^/]+(/.*)", 1))
          .otherwise(lit("/")).as("path"),
        decode(col("payload"), "ISO-8859-1").as("raw")))
    val hostDigits = regexp_extract(col("host"), "(\\d+)", 1)
    val hostKey = when(length(hostDigits) > 0, hostDigits.cast("long"))
      .otherwise(lit(99L))
    val gate = TextAnalysis.robotsGate(
      responses.select("doc_key", "host", "path"), "doc_key", "host", "path",
      p86RobotsFixture(spark), "host", "rules", agent = "graftcrawler")
    val allowed = responses
      .join(gate.filter(col("allowed")).select("doc_key"), Seq("doc_key"))
    val planted = allowed
      .withColumn("t", concat(
        graft.functions.NfcNormalize(TextAnalysis.htmlToText(col("raw"))),
        when(pmod(col("doc_key"), lit(2)) === 0, lit("\n" + P86Plant))
          .otherwise(lit(""))))
      .select("doc_key", "host", "t")
    val kc = TextAnalysis.c4LineFilter(planted, "t", "doc_key")
      .select(col("doc_key"), (col("verdict") === "keep").as("kc"))
    val kr = TextAnalysis.gopherRepetition(planted, "t", "doc_key")
      .select(col("doc_key"), (col("verdict") === "keep").as("kr"))
    val kept = stage(planted.join(kc, Seq("doc_key")).join(kr, Seq("doc_key"))
      .filter(col("kc") && col("kr"))
      .select("doc_key", "host", "t"))
    // recrawl: the same pages fetched again under fresh record keys —
    // the incremental exact-dedup audit must mark every one
    // the fresh-key offset sits above any hash-derived probe key
    val snapOffset = 1L << 60
    val recrawl = Dedup.incrementalDedup(
      kept.select("doc_key", "t"),
      kept.select((col("doc_key") + snapOffset).as("doc_key"), col("t")),
      "t", "doc_key")
    val dupPerHost = stage(recrawl.filter(col("verdict") === "dup_of_prior")
      .select((col("doc_key") - snapOffset).as("doc_key"))
      .join(kept.select("doc_key", "host"), Seq("doc_key"))
      .groupBy("host").agg(count(lit(1)).as("n_recrawl_dup")))
    val comp = kept.select(col("doc_key"), hostKey.as("component"))
    val folds = Dedup.groupKeyedSplit(kept, "doc_key", comp,
      seed = 86L, folds = 2)
    // NOT checkpointed (measured): withFold is cheap to recompute from
    // the `kept` checkpoint and an extra materialization costs more
    // than the planning it saves (warm 1.39 s without vs 1.7–2.1 with)
    val withFold = kept.join(folds.select("doc_key", "fold"), Seq("doc_key"))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("t")).cast("long"))
    val packed = Sampling.packBins(
      withFold.filter(col("fold") === 0L).select("doc_key", "n_tokens"),
      "doc_key", "n_tokens", budgetTokens = 30L, shards = 1, seed = 86L)
    val binsDf = packed.agg((max(col("bin")) + 1L).cast("long").as("n_bins"))
    val perFold = stage(withFold.groupBy("host").agg(
      min(col("fold")).as("fold"),
      sum(when(col("fold") === 0L, 1L).otherwise(0L)).as("n_train_docs"),
      sum(when(col("fold") === 0L, col("n_tokens")).otherwise(0L))
        .as("n_train_tokens")))
    // r18 optimization note: a single tagged-union rollup (one
    // map-side-combined exchange instead of 3 aggs + 4 host joins) was
    // built and MEASURED here — matched-condition probes were neutral
    // and the full-suite bench read +0.3 s, because locally the three
    // aggregates run as CONCURRENT broadcast-future jobs while the
    // union evaluates its branches inside one stage; the host-keyed
    // joins below are broadcast at any realistic per-host report size.
    // Kept the concurrent form; see OPTIMIZATION_r18.md.
    val hosts = responses.groupBy("host").agg(count(lit(1)).as("n_responses"))
      .join(allowed.groupBy("host").agg(count(lit(1)).as("n_allowed")),
        Seq("host"), "left")
      .join(kept.groupBy("host").agg(count(lit(1)).as("n_kept")),
        Seq("host"), "left")
      .join(dupPerHost, Seq("host"), "left")
      .join(perFold, Seq("host"), "left")
      .select(col("host"), col("n_responses"),
        coalesce(col("n_allowed"), lit(0L)).as("n_allowed"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_recrawl_dup"), lit(0L)).as("n_recrawl_dup"),
        col("fold"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_train_tokens"), lit(0L)).as("n_train_tokens"),
        lit(null).cast("long").as("n_bins"))
    // the '*' rollup references the per-host frame a second time; the
    // expensive branches behind it (recrawl dedup, the fold split) are
    // stage-cached above, so the re-evaluation only re-runs cheap
    // aggregates over cached frames — and the report STAYS distributed
    // (a driver collect keyed by host would be unbounded on a real
    // crawl, where hosts run to 10^7)
    val star = hosts.agg(
        sum(col("n_responses")).as("n_responses"),
        sum(col("n_allowed")).as("n_allowed"),
        sum(col("n_kept")).as("n_kept"),
        sum(col("n_recrawl_dup")).as("n_recrawl_dup"),
        sum(col("n_train_docs")).as("n_train_docs"),
        sum(col("n_train_tokens")).as("n_train_tokens"))
      .crossJoin(broadcast(binsDf))
      .select(lit("*").as("host"), col("n_responses"), col("n_allowed"),
        col("n_kept"), col("n_recrawl_dup"),
        lit(null).cast("long").as("fold"),
        col("n_train_docs"), col("n_train_tokens"), col("n_bins"))
    hosts.unionByName(star).orderBy("host")
  }

  /** p86 oracle: the WHOLE chain re-derived in DuckDB — expectations
    * parquet for the records, literal robots rules with regex prefix
    * match (the p81 restatement), the p71 strip chain, utf8proc NFC,
    * the pluggable p68/p67 rule restatements over the chain's text,
    * recrawl dups = kept (every re-fetched page has an identical-text
    * prior twin), and the shared SplitMix64 chain for both the host
    * fold and the pack order cumsum. */
  lazy val p86Sql: String = {
    s"""|WITH resp AS (
       |  SELECT (CASE file
       |      WHEN 'crawl-00.warc.gz' THEN 0 WHEN 'crawl-01.warc.gz' THEN 1
       |      WHEN 'crawl-02.warc.gz' THEN 2 WHEN 'crawl-bad0.warc.gz' THEN 3
       |      ELSE 4 END) * 100 + rec_idx AS doc_key,
       |    regexp_extract(target_uri, 'https?://([^/]+)', 1) AS host,
       |    CASE WHEN length(regexp_extract(target_uri, 'https?://[^/]+(/.*)', 1)) > 0
       |         THEN regexp_extract(target_uri, 'https?://[^/]+(/.*)', 1)
       |         ELSE '/' END AS path,
       |    payload_text
       |  FROM read_parquet('$WarcExpectedPath/*.parquet')
       |  WHERE ok AND warc_type = 'response' AND target_uri IS NOT NULL),
       |hk AS (
       |  SELECT *, CASE WHEN length(regexp_extract(host, '(\\d+)', 1)) > 0
       |    THEN CAST(regexp_extract(host, '(\\d+)', 1) AS BIGINT)
       |    ELSE 99 END AS host_key
       |  FROM resp),
       |rb(k, rule_no, allow, pat, rx) AS (VALUES
       |  (0, 1, false, '/page/3', '^/page/3'),
       |  (1, 1, false, '/page/1$$', '^/page/1$$'),
       |  (1, 2, false, '/page/4', '^/page/4'),
       |  (2, 1, true,  '/page/2', '^/page/2'),
       |  (2, 2, false, '/page/*', '^/page/.*')),
       |rm AS (
       |  SELECT h.doc_key, r.allow,
       |    row_number() OVER (PARTITION BY h.doc_key
       |      ORDER BY length(r.pat) DESC, r.allow DESC, r.rule_no) AS rn
       |  FROM hk h JOIN rb r ON r.k = h.host_key AND regexp_matches(h.path, r.rx)),
       |alw AS (
       |  SELECT hk.* FROM hk
       |  LEFT JOIN (SELECT doc_key, allow FROM rm WHERE rn = 1) b USING (doc_key)
       |  WHERE coalesce(b.allow, true)),
       |s1 AS (SELECT doc_key, host, host_key, regexp_replace(payload_text, '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g') AS t FROM alw),
       |s2 AS (SELECT * REPLACE (regexp_replace(t, '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g') AS t) FROM s1),
       |s3 AS (SELECT * REPLACE (regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t) FROM s2),
       |s4 AS (SELECT * REPLACE (regexp_replace(t, '(?s)<!\\[CDATA\\[.*?\\]\\]>', ' ', 'g') AS t) FROM s3),
       |s5 AS (SELECT * REPLACE (regexp_replace(t, '<[^>]*>', ' ', 'g') AS t) FROM s4),
       |e1 AS (SELECT * REPLACE (replace(replace(replace(replace(replace(replace(replace(t,
       |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
       |        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t) FROM s5),
       |pl AS (
       |  SELECT doc_key AS doc_id, host, host_key,
       |    nfc_normalize(trim(regexp_replace(t, '\\s+', ' ', 'g')))
       |    || CASE WHEN doc_key % 2 = 0 THEN chr(10) || '$P86Plant'
       |       ELSE '' END AS t
       |  FROM e1),
       |c4v AS (SELECT doc_id, verdict FROM (
       |__C4_SUB__
       |) c4sub),
       |repv AS (SELECT doc_id, verdict FROM (
       |__REP_SUB__
       |) repsub),
       |kept AS (
       |  SELECT pl.doc_id AS doc_key, pl.host, pl.host_key, pl.t,
       |    CAST(CASE WHEN trim(pl.t) = '' THEN 0
       |      ELSE len(regexp_split_to_array(trim(pl.t), '\\s+')) END AS BIGINT) AS n_tokens
       |  FROM pl JOIN c4v ON c4v.doc_id = pl.doc_id
       |  JOIN repv ON repv.doc_id = pl.doc_id
       |  WHERE c4v.verdict = 'keep' AND repv.verdict = 'keep'),
       |""".stripMargin +
    mixChainSql(
      "SELECT doc_key, host, host_key, t, n_tokens, xor(CAST(host_key AS UBIGINT), CAST(86 AS UBIGINT)) AS z FROM kept",
      p = "fh", hName = "fhh", lead = "") + "\n" +
    """|kf AS (SELECT doc_key, host, host_key, t, n_tokens,
       |  CAST(z % 2 AS BIGINT) AS fold FROM fhh),
       |""".stripMargin +
    mixChainSql(
      "SELECT doc_key, n_tokens, xor(CAST(doc_key AS UBIGINT), CAST(86 AS UBIGINT)) AS z FROM kf WHERE fold = 0",
      p = "pk", hName = "pkh", lead = "") + "\n" +
    """|pcum AS (
       |  SELECT doc_key, n_tokens,
       |    coalesce(sum(n_tokens) OVER (ORDER BY z, doc_key
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM pkh),
       |bins AS (SELECT CAST(max(cum // 30) + 1 AS BIGINT) AS n_bins FROM pcum),
       |hosts AS (
       |  SELECT r.host,
       |    CAST(count(*) AS BIGINT) AS n_responses,
       |    CAST(count(a.doc_key) AS BIGINT) AS n_allowed,
       |    CAST(count(k.doc_key) AS BIGINT) AS n_kept,
       |    CAST(count(k.doc_key) AS BIGINT) AS n_recrawl_dup,
       |    min(k.fold) AS fold,
       |    CAST(sum(CASE WHEN k.fold = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_train_docs,
       |    CAST(coalesce(sum(CASE WHEN k.fold = 0 THEN k.n_tokens ELSE 0 END), 0) AS BIGINT) AS n_train_tokens,
       |    CAST(NULL AS BIGINT) AS n_bins
       |  FROM resp r
       |  LEFT JOIN alw a ON a.doc_key = r.doc_key
       |  LEFT JOIN kf k ON k.doc_key = r.doc_key
       |  GROUP BY r.host)
       |SELECT host, n_responses, n_allowed, n_kept, n_recrawl_dup, fold,
       |  coalesce(n_train_docs, 0) AS n_train_docs,
       |  coalesce(n_train_tokens, 0) AS n_train_tokens, n_bins
       |FROM hosts
       |UNION ALL
       |SELECT '*', CAST(sum(n_responses) AS BIGINT), CAST(sum(n_allowed) AS BIGINT),
       |  CAST(sum(n_kept) AS BIGINT), CAST(sum(n_recrawl_dup) AS BIGINT),
       |  CAST(NULL AS BIGINT),
       |  CAST(sum(coalesce(n_train_docs, 0)) AS BIGINT),
       |  CAST(sum(coalesce(n_train_tokens, 0)) AS BIGINT),
       |  (SELECT n_bins FROM bins)
       |FROM hosts
       |ORDER BY host""".stripMargin
  }
    .replace("__C4_SUB__", p68RulesSql("  SELECT doc_id, t FROM pl"))
    .replace("__REP_SUB__", p67RulesSql("  SELECT doc_id, t FROM pl"))

  private[graft] val VideoFixturePath = sys.env.getOrElse(
    "GRAFT_VIDEO_FIXTURE", "/root/repo/fixtures/video_fixture.parquet")

  /** p72: per-frame video perceptual hashes
    * ([[Multimodal.videoFrameHashes]]; GVID container walk + the p50
    * dHash per frame, one row-local flatMap) against the fixture's
    * ANALYTIC expectations — per-frame hashes computed from the
    * pattern functions, never from PNG bytes
    * ([[graft.tools.VideoFixture]], the p64 discipline). Covers the
    * decode-partial (sub-grid frame) and container-level (bad magic)
    * audit rows. */
  val p72VideoFrameHashes: Q = (spark, _) =>
    Multimodal.videoFrameHashes(
        spark.read.parquet(VideoFixturePath), "video_id", "media")
      .toDF()
      .orderBy("video_id", "frame_idx")

  /** p72 oracle: the stored per-frame expectations, unnested. */
  val p72Sql: String =
    s"""SELECT video_id,
       |  unnest(frame_idx) AS frame_idx,
       |  unnest(defined) AS defined,
       |  unnest(dhash) AS dhash
       |FROM read_parquet('$VideoFixturePath/*.parquet')
       |ORDER BY video_id, frame_idx""".stripMargin

  /** p73: video NEAR-DUP pairs ([[Multimodal.videoNearDupPairs]]:
    * alignment-free — ≥ 4 DISTINCT FRAMES PER SIDE within Hamming 1,
    * so the brightness-shifted re-encode AND the trimmed re-cut both
    * pair with their source, while a single degenerate flat frame
    * shared with an unrelated clip does not game the threshold; see
    * the operator scaladoc for the pigeonhole-bucket 16-byte-exchange
    * shape). Oracle = brute force over the stored frame hashes (the
    * p65/p51 discipline — the quadratic is the oracle's to pay). */
  val p73VideoNearDup: Q = (spark, _) => {
    val hashes = Multimodal.videoFrameHashes(
      spark.read.parquet(VideoFixturePath), "video_id", "media")
    Multimodal.videoNearDupPairs(hashes, minMatches = 4, maxHamming = 1)
      .orderBy("video0", "video1")
  }

  /** p73 oracle: the same composite-key ordered brute force, with the
    * per-side distinct-frame floor. */
  val p73Sql: String =
    s"""WITH f AS (
       |  SELECT video_id, unnest(frame_idx) AS i, unnest(defined) AS d,
       |         unnest(dhash) AS h
       |  FROM read_parquet('$VideoFixturePath/*.parquet')),
       |fd AS (SELECT video_id, i, h FROM f WHERE d),
       |p AS (
       |  SELECT least(a.video_id, b.video_id) AS video0,
       |         greatest(a.video_id, b.video_id) AS video1,
       |         CASE WHEN a.video_id <= b.video_id
       |              THEN a.video_id * 1024 + a.i
       |              ELSE b.video_id * 1024 + b.i END AS fa,
       |         CASE WHEN a.video_id <= b.video_id
       |              THEN b.video_id * 1024 + b.i
       |              ELSE a.video_id * 1024 + a.i END AS fb
       |  FROM fd a JOIN fd b
       |    ON (a.video_id * 1024 + a.i) < (b.video_id * 1024 + b.i)
       |   AND a.video_id <> b.video_id
       |   AND bit_count(xor(a.h, b.h)) <= 1)
       |SELECT video0, video1, CAST(count(*) AS BIGINT) AS n_matched,
       |  CAST(count(DISTINCT fa) AS BIGINT) AS n_frames0,
       |  CAST(count(DISTINCT fb) AS BIGINT) AS n_frames1
       |FROM p GROUP BY video0, video1
       |HAVING least(count(DISTINCT fa), count(DISTINCT fb)) >= 4
       |ORDER BY video0, video1""".stripMargin

  /** p74: DSIR data selection ([[TextAnalysis.dsirSelect]]; see its
    * scaladoc for the importance-resampling semantics, the exact
    * (id, seed)-pure Gumbel derandomization, and the
    * bucket-decomposed top-n that avoids both the global
    * single-partition window and a driver heap). Corpus: the p41/p53
    * boilerplate-planted fixture; TARGET distribution: the junk-free
    * slice (doc_id coprime to 13/17/19 — p53's editorial label);
    * frac = 25 %. The resampling genuinely tracks the target AND
    * genuinely resamples: at both gate SFs junk weights sit 10–230
    * nats below the clean mass (≫ the Gumbel scale), so zero junk
    * selects — yet the selected set is NOT the hard top-n by weight
    * (91/125 overlap at sf0.01: the Gumbel draw shuffles within the
    * clean mass — the paper's diversity argument). Both properties
    * pinned in PipelineSpec. */
  private val P74Seed = 74L
  val p74DsirSelect: Q = (spark, dir) => {
    val docs = Dedup.spread(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"), p41FixtureText.as("t"))
    val clean = pmod(col("doc_id"), lit(13)) =!= 0 &&
      pmod(col("doc_id"), lit(17)) =!= 0 && pmod(col("doc_id"), lit(19)) =!= 0
    TextAnalysis.dsirSelect(docs, "t", "doc_id",
        targetCond = clean, frac = 0.25, dim = 256, k = 1.0,
        seed = P74Seed)
      .orderBy("doc_id")
  }

  /** p74 oracle: the whole selection restated — the p53 FNV/splitmix
    * token-bucket chain re-counted as (raw, target) distributions,
    * identical add-1 smoothing, per-doc TOKEN-ORDERED fold of the
    * log-ratios (sum, not mean — the importance weight; the p53/p58
    * sequential-fold discipline), the Gumbel key from the shared
    * mix chain ((z >> 11 + 0.5) / 2⁵² is exact in both engines), and
    * selection as a global (key DESC, doc_id) row_number ≤
    * greatest(1, N // 4) — equivalent to the engine's
    * bucket-decomposed rank because ⌊key·g⌋ is monotone in key. */
  val p74Sql: String =
    """|WITH aug AS (
      |  SELECT doc_id,
      |    coalesce(text, '')
      |    || CASE WHEN doc_id % 13 = 0 THEN repeat(chr(10) || '- bullet item', 10) ELSE '' END
      |    || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'to be continued...' || chr(10) || 'loading more results...' ELSE '' END
      |    || CASE WHEN doc_id % 19 = 0 THEN ' #### #### 123 456 789 0 11 22 33 44 55 66 77 88' ELSE '' END AS t
      |  FROM documents),
      |d AS (
      |  SELECT doc_id,
      |    (doc_id % 13 <> 0 AND doc_id % 17 <> 0 AND doc_id % 19 <> 0) AS tgt,
      |    trim(lower(t)) AS s FROM aug),
      |tk AS (
      |  SELECT doc_id, tgt,
      |    list_filter(regexp_split_to_array(s, '\s+'), x -> x <> '') AS toks
      |  FROM d),
      |tok AS (
      |  SELECT doc_id, tgt, i.i AS i, toks[CAST(i.i AS INTEGER)] AS tok
      |  FROM tk, unnest(range(1, len(toks) + 1)) AS i(i)),
      |f0 AS (
      |  SELECT doc_id, tgt, i,
      |    list_reduce(
      |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
      |        list_transform(range(1, length(tok) + 1),
      |          j -> CAST(ascii(substr(tok, CAST(j AS INTEGER), 1)) AS UBIGINT))),
      |      (acc, c) -> CAST(((CAST((xor(acc, c)) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(acc, c)) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT)) AS z
      |  FROM tok),
      |t1 AS (SELECT doc_id, tgt, i, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM f0),
      |t2 AS (SELECT doc_id, tgt, i, xor(z, z >> 30) AS z FROM t1),
      |t3 AS (SELECT doc_id, tgt, i, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM t2),
      |t4 AS (SELECT doc_id, tgt, i, xor(z, z >> 27) AS z FROM t3),
      |t5 AS (SELECT doc_id, tgt, i, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM t4),
      |t6 AS (SELECT doc_id, tgt, i, xor(z, z >> 31) AS z FROM t5),
      |occ AS (SELECT doc_id, tgt, i, CAST(z % 256 AS INTEGER) AS b FROM t6),
      |cnt AS (
      |  SELECT b, CAST(count(*) AS BIGINT) AS raw,
      |         CAST(coalesce(sum(CASE WHEN tgt THEN 1 ELSE 0 END), 0) AS BIGINT) AS tgtc
      |  FROM occ GROUP BY b),
      |tot AS (
      |  SELECT coalesce(sum(raw), 0) AS tr, coalesce(sum(tgtc), 0) AS tt
      |  FROM cnt),
      |lr AS (
      |  SELECT CAST(bb.b AS INTEGER) AS b,
      |    ln((coalesce(c.tgtc, 0) + 1.0) / (tot.tt + 256.0))
      |      - ln((coalesce(c.raw, 0) + 1.0) / (tot.tr + 256.0)) AS w
      |  FROM range(0, 256) AS bb(b)
      |  LEFT JOIN cnt c ON c.b = bb.b, tot),
      |lw AS (
      |  SELECT occ.doc_id,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lr.w ORDER BY occ.i)),
      |                (a, b) -> a + b) AS lw
      |  FROM occ JOIN lr USING (b) GROUP BY occ.doc_id),
      |""".stripMargin +
    mixChainSql(
      "SELECT doc_id, xor(CAST(doc_id AS UBIGINT), CAST(74 AS UBIGINT)) AS z FROM documents",
      p = "gm", hName = "gh", lead = "") + """
      |gu AS (SELECT doc_id, (CAST(z >> 11 AS DOUBLE) + 0.5) / power(2.0, 52) AS u FROM gh),
      |n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tk),
      |ky AS (
      |  SELECT n.doc_id, n.n_tokens, coalesce(lw.lw, 0.0) AS lw,
      |         coalesce(lw.lw, 0.0) + (-ln(-ln(gu.u))) AS key
      |  FROM n LEFT JOIN lw ON lw.doc_id = n.doc_id
      |  JOIN gu ON gu.doc_id = n.doc_id),
      |sel AS (
      |  SELECT *, row_number() OVER (ORDER BY key DESC, doc_id) AS rk FROM ky),
      |ns AS (SELECT greatest(1, count(*) // 4) AS n FROM documents)
      |SELECT sel.doc_id, sel.n_tokens, round(sel.lw, 6) AS log_weight,
      |       round(sel.key, 6) AS gumbel_key, (sel.rk <= ns.n) AS selected
      |FROM sel, ns ORDER BY sel.doc_id""".stripMargin

  /** p75: Bloom-filter decontamination gate
    * ([[TextAnalysis.bloomDecontaminate]]; see its scaladoc for the
    * m-bounded build exchange and the zero-exchange row-local probe —
    * the constant-memory rung under p20/p45's exact joins). Reference
    * slice: doc_id % 10 = 0 (the p20 benchmark convention); 5-token
    * grams, m = 65536 bits (8 KB), 4 probes — a ~0.14-load operating
    * point whose gate output is perfectly bimodal: reference docs
    * self-hit on every gram, the corpus's PLANTED near-duplicates of
    * reference docs flag with n_hits ≈ n_grams (true contamination
    * caught through the membership gate), ~11 docs flag with exactly
    * ONE hit (genuine Bloom false positives, each reproduced
    * bit-exactly by the oracle), and the clean bulk passes.
    * Discrimination + FP-reproduction in one key, pinned in
    * PipelineSpec. */
  val p75BloomDecontaminate: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    TextAnalysis.bloomDecontaminate(docs, "text", "doc_id",
        refCond = pmod(col("doc_id"), lit(10)) === 0,
        shingle = 5, mBits = 65536, probes = 4)
      .orderBy("doc_id")
  }

  /** p75 oracle: the FILTER ITSELF restated — 5-gram strings, the
    * shared FNV/splitmix chain for h1, a second splitmix pass for the
    * double-hash stride h2 = mix(h1) | 1, positions (h1 + j·h2) mod m
    * in HUGEINT (≡ the kernel's wrapping 64-bit adds), the reference
    * slice's DISTINCT position set, and per-gram all-probes-hit
    * membership — so DuckDB reproduces every false positive, not just
    * every true hit. */
  val p75Sql: String =
    """|WITH d AS (
      |  SELECT doc_id, lower(coalesce(text, '')) AS s FROM documents),
      |tk AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(s, '\s+'), x -> x <> '') AS toks
      |  FROM d),
      |g AS (
      |  SELECT doc_id, CAST(i.i AS INTEGER) AS gi,
      |    array_to_string(toks[CAST(i.i AS INTEGER):CAST(i.i + 4 AS INTEGER)], ' ') AS gram
      |  FROM tk, unnest(range(1, len(toks) - 3)) AS i(i)),
      |f0 AS (
      |  SELECT doc_id, gi,
      |    list_reduce(
      |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
      |        list_transform(range(1, length(gram) + 1),
      |          j -> CAST(ascii(substr(gram, CAST(j AS INTEGER), 1)) AS UBIGINT))),
      |      (acc, c) -> CAST(((CAST((xor(acc, c)) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(acc, c)) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT)) AS z
      |  FROM g),
      |t1 AS (SELECT doc_id, gi, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM f0),
      |t2 AS (SELECT doc_id, gi, xor(z, z >> 30) AS z FROM t1),
      |t3 AS (SELECT doc_id, gi, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM t2),
      |t4 AS (SELECT doc_id, gi, xor(z, z >> 27) AS z FROM t3),
      |t5 AS (SELECT doc_id, gi, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM t4),
      |t6 AS (SELECT doc_id, gi, xor(z, z >> 31) AS z FROM t5),
      |h1 AS (SELECT doc_id, gi, z AS a FROM t6),
      |s1 AS (SELECT doc_id, gi, a, CAST((CAST(a AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM h1),
      |s2 AS (SELECT doc_id, gi, a, xor(z, z >> 30) AS z FROM s1),
      |s3 AS (SELECT doc_id, gi, a, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM s2),
      |s4 AS (SELECT doc_id, gi, a, xor(z, z >> 27) AS z FROM s3),
      |s5 AS (SELECT doc_id, gi, a, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM s4),
      |s6 AS (SELECT doc_id, gi, a, xor(z, z >> 31) AS z FROM s5),
      |hh AS (SELECT doc_id, gi, a AS h1, (z | 1) AS h2 FROM s6),
      |pos AS (
      |  SELECT doc_id, gi,
      |    CAST((CAST(h1 AS HUGEINT) + j.j * CAST(h2 AS HUGEINT))
      |         % 18446744073709551616 AS UBIGINT) % 65536 AS p
      |  FROM hh, unnest(range(0, 4)) AS j(j)),
      |bits AS (SELECT DISTINCT p FROM pos WHERE doc_id % 10 = 0),
      |ph AS (
      |  SELECT pos.doc_id, pos.gi, (bits.p IS NOT NULL) AS hit
      |  FROM pos LEFT JOIN bits ON bits.p = pos.p),
      |gh AS (SELECT doc_id, gi, bool_and(hit) AS all_hit FROM ph GROUP BY doc_id, gi),
      |nh AS (
      |  SELECT doc_id,
      |    CAST(coalesce(sum(CASE WHEN all_hit THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits
      |  FROM gh GROUP BY doc_id),
      |n AS (SELECT doc_id, CAST(greatest(len(toks) - 4, 0) AS BIGINT) AS n_grams FROM tk)
      |SELECT n.doc_id, n.n_grams,
      |  CAST(coalesce(nh.n_hits, 0) AS BIGINT) AS n_hits,
      |  (coalesce(nh.n_hits, 0) > 0) AS flagged
      |FROM n LEFT JOIN nh ON nh.doc_id = n.doc_id
      |ORDER BY n.doc_id""".stripMargin

  /** p76: HyperLogLog distinct-URL cardinality per source + a merged
    * corpus-wide rollup ([[Sketches.hllRegisters]] /
    * [[Sketches.hllMergeRegisters]] / [[Sketches.hllEstimate]]) over
    * the p43 URL fixture, at TWO precisions (p = 4 and p = 8) so both
    * estimator branches are driver-gated: every per-source group and
    * the p=8 rollup land in the linear-counting correction, while the
    * p=4 rollup (257 distinct keys into 16 registers, v_zero = 0)
    * exercises the raw harmonic-mean estimator. The '*' rollup is the
    * register-wise MERGE of the per-source sketches — the property
    * that makes HLL composable across shards/days at 100 TB — not a
    * second scan of the corpus. `exact_distinct`/`rel_error` columns
    * are the gate's comparison surface (the exact COUNT(DISTINCT) the
    * sketch replaces at scale — computed here because the fixture is
    * tiny, skipped in production, which is the point).
    *
    * The DuckDB oracle reproduces every register and both correction
    * branches bit-exactly (FNV+splitmix chain, bin()-length rho, exact
    * integer harmonic sum) — the approximation is GATED, not trusted. */
  val p76HllCardinality: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val urls = docs.select(col("source"), p43FixtureUrl.as("url"))
    val both = urls.unionAll(urls.select(lit("*").as("source"), col("url")))
    val exact = both.groupBy("source")
      .agg(countDistinct(col("url")).as("exact_distinct"))
    val est = Seq(4, 8).map { p =>
      val perSrc = Sketches.hllRegisters(urls, "source", "url", p)
      val regs = perSrc.unionAll(
        Sketches.hllMergeRegisters(perSrc, "source", "*"))
      Sketches.hllEstimate(regs, "source", p)
        .select(lit(p).as("p_bits"), col("source"), col("m"), col("v_zero"),
          col("raw_estimate"), col("estimate"))
    }.reduce(_ unionAll _)
    est.join(exact, Seq("source"))
      .withColumn("rel_error",
        round((col("estimate") - col("exact_distinct")) / col("exact_distinct"), 6))
      .select(col("p_bits"), col("source"), col("m"), col("v_zero"),
        round(col("raw_estimate"), 6).as("raw_estimate"),
        round(col("estimate"), 6).as("estimate"),
        col("exact_distinct"), col("rel_error"))
      .orderBy("p_bits", "source")
  }

  /** p76 oracle: the SKETCH ITSELF restated — the p43 fixture URLs
    * hashed through the shared FNV/splitmix chain, register = top
    * p_bits bits, rho = 1-based leading-one rank of the remainder via
    * bin()-length (exact integer logic, no float log2), the '*' row as
    * a UNION ALL re-aggregation (≡ the engine's register merge by max
    * associativity), the harmonic sum in exact HUGEINT 2^(61-rho)
    * scaling with ONE double rounding at the final cast, and the same
    * literal arithmetic for alpha/branch constants — so DuckDB
    * reproduces every register, both correction branches, and every
    * estimate digit. */
  /** p87: per-source token-length quantiles by deterministic sample
    * sketch ([[Sketches.sampleQuantiles]] — the rank member of the
    * sketch family beside p76's HLL and p79's CMS): expected-16-row
    * seeded-hash sample per source, discrete lower quantile of the
    * sample at p50/p90/p99. The exchange carries the sample, never
    * the corpus; the whole estimate is a pure function of (doc_id,
    * seed), which is what lets DuckDB restate the sample membership
    * AND the rank arithmetic bit-for-bit (a KLL/t-digest's
    * merge-order dependence could never sit behind this gate). k=16
    * keeps the THRESHOLD branch live at every SF (sources carry ~25
    * docs at sf0.001). */
  val p87QuantileSketch: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(coalesce(col("text"), lit("")))
          .cast("long").as("v"))
    Sketches.sampleQuantiles(docs, "source", "doc_id", "v",
        k = 16, seed = 87L, qs = Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99)))
      .withColumnRenamed("est", "est_tokens")
      .orderBy("source", "quantile")
  }

  /** p87 oracle: the shared SplitMix64 chain for the sample
    * membership (the weightedMix threshold arithmetic — one double
    * rounding, identical IEEE-754), then the discrete-quantile rank
    * selection restated as a row_number join. */
  val p87Sql: String =
    mixChainSql(
      """SELECT doc_id, source,
        |    CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |         ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\s+')) END AS BIGINT) AS v,
        |    xor(CAST(doc_id AS UBIGINT), CAST(87 AS UBIGINT)) AS z FROM documents""".stripMargin) + """
      |cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY source),
      |samp AS (
      |  SELECT h.source, h.v FROM h JOIN cnt USING (source)
      |  WHERE cnt.n <= 16
      |     OR h.z < CAST(floor(16.0 / cnt.n * power(2.0, 63)) AS UBIGINT)),
      |sm AS (SELECT source, CAST(count(*) AS BIGINT) AS m FROM samp GROUP BY source),
      |r AS (SELECT source, v,
      |        row_number() OVER (PARTITION BY source ORDER BY v) AS rk
      |      FROM samp),
      |q(label, q) AS (VALUES ('p50', 0.5), ('p90', 0.9), ('p99', 0.99))
      |SELECT r.source, cnt.n AS n_rows, sm.m AS n_sampled,
      |  q.label AS quantile, r.v AS est_tokens
      |FROM r JOIN sm USING (source) JOIN cnt USING (source) JOIN q
      |  ON r.rk = least(sm.m - 1, CAST(floor(q.q * sm.m) AS BIGINT)) + 1
      |ORDER BY source, quantile""".stripMargin

  val p76Sql: String =
    """|WITH aug AS (
      |  SELECT doc_id, source,
      |    CASE doc_id % 3
      |      WHEN 0 THEN 'HTTPS://Example' || CAST(doc_id % 5 AS VARCHAR) || '.COM/Path/' || CAST(doc_id % 7 AS VARCHAR) || '?utm_source=feed&id=' || CAST(doc_id % 13 AS VARCHAR) || '&utm_campaign=x#sec'
      |      WHEN 1 THEN 'http://EXAMPLE' || CAST(doc_id % 5 AS VARCHAR) || '.com/Path/' || CAST(doc_id % 7 AS VARCHAR) || '?ref=tw&z=9&a=1&refresh=1'
      |      ELSE 'https://cdn.Example' || CAST(doc_id % 5 AS VARCHAR) || '.net/x?b=2&a=' || CAST(doc_id % 11 AS VARCHAR) || '&fbclid=abc'
      |    END AS url
      |  FROM documents),
      |f0 AS (
      |  SELECT source, url,
      |    list_reduce(
      |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
      |        list_transform(range(1, length(url) + 1),
      |          j -> CAST(ascii(substr(url, CAST(j AS INTEGER), 1)) AS UBIGINT))),
      |      (acc, c) -> CAST(((CAST((xor(acc, c)) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(acc, c)) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT)) AS z
      |  FROM aug),
      |t1 AS (SELECT source, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM f0),
      |t2 AS (SELECT source, xor(z, z >> 30) AS z FROM t1),
      |t3 AS (SELECT source, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM t2),
      |t4 AS (SELECT source, xor(z, z >> 27) AS z FROM t3),
      |t5 AS (SELECT source, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM t4),
      |t6 AS (SELECT source, xor(z, z >> 31) AS z FROM t5),
      |u2 AS (SELECT source, z FROM t6 UNION ALL SELECT '*' AS source, z FROM t6),
      |pp AS (SELECT CAST(p.p AS INTEGER) AS p_bits FROM unnest([4, 8]) AS p(p)),
      |rr AS (
      |  SELECT pp.p_bits, u2.source,
      |    CAST(z >> (64 - pp.p_bits) AS BIGINT) AS reg,
      |    z & ((CAST(1 AS UBIGINT) << (64 - pp.p_bits)) - 1) AS rest
      |  FROM u2, pp),
      |rho AS (
      |  SELECT p_bits, source, reg,
      |    CASE WHEN rest = 0 THEN 64 - p_bits + 1
      |         ELSE 64 - p_bits - length(bin(rest)) + 1 END AS rho
      |  FROM rr),
      |mx AS (
      |  SELECT p_bits, source, reg, max(rho) AS mrho
      |  FROM rho GROUP BY p_bits, source, reg),
      |agg AS (
      |  SELECT p_bits, source,
      |    CAST(count(*) AS BIGINT) AS nreg,
      |    sum(CAST(1 AS HUGEINT) << CAST(61 - mrho AS INTEGER)) AS sp
      |  FROM mx GROUP BY p_bits, source),
      |ex AS (
      |  SELECT source, CAST(count(DISTINCT url) AS BIGINT) AS exact_distinct
      |  FROM (SELECT source, url FROM aug UNION ALL SELECT '*' AS source, url FROM aug)
      |  GROUP BY source),
      |est AS (
      |  SELECT a.p_bits, a.source,
      |    CAST(1 AS BIGINT) << a.p_bits AS m,
      |    (CAST(1 AS BIGINT) << a.p_bits) - a.nreg AS v_zero,
      |    (CASE WHEN a.p_bits = 4 THEN 0.673 ELSE 0.7213 / (1.0 + 1.079 / 256.0) END)
      |      * CAST((CAST(1 AS BIGINT) << a.p_bits) * (CAST(1 AS BIGINT) << a.p_bits) AS DOUBLE)
      |      * 2305843009213693952.0
      |      / CAST(a.sp + CAST((CAST(1 AS BIGINT) << a.p_bits) - a.nreg AS HUGEINT) * (CAST(1 AS HUGEINT) << 61) AS DOUBLE) AS raw
      |  FROM agg a),
      |fin AS (
      |  SELECT p_bits, source, m, v_zero, raw,
      |    CASE WHEN raw <= 2.5 * m AND v_zero > 0
      |         THEN m * ln(CAST(m AS DOUBLE) / v_zero) ELSE raw END AS est
      |  FROM est)
      |SELECT f.p_bits, f.source, f.m, f.v_zero,
      |  round(f.raw, 6) AS raw_estimate,
      |  round(f.est, 6) AS estimate,
      |  ex.exact_distinct,
      |  round((f.est - ex.exact_distinct) / ex.exact_distinct, 6) AS rel_error
      |FROM fin f JOIN ex ON ex.source = f.source
      |ORDER BY f.p_bits, f.source""".stripMargin

  /** The p77 blocklist: chosen to exercise the Aho–Corasick contract's
    * corners, not just disjoint literals — 'free money' is a prefix of
    * 'free money now' whose suffix 'money now' is a third pattern
    * (nested + suffix-dictionary reporting), 'aa' self-overlaps
    * ('aaaa' holds THREE occurrences), 'casino' repeats. */
  private[graft] val P77Patterns = Seq(
    "free money", "free money now", "money now", "click here", "casino", "aa")

  /** p77: banned-phrase blocklist gate
    * ([[TextAnalysis.blocklistFilter]]; see its scaladoc for the
    * one-automaton-walk / zero-exchange shape). The fixture plants
    * three contamination regimes on residue classes (the p41/p75
    * discipline): %7 docs gain the nested 'Free MONEY now… click here'
    * phrase cluster (case-folded catch + suffix-pattern counting), %11
    * docs a tripled 'casino', %13 docs the self-overlapping 'aaaa';
    * the clean bulk must pass untouched. */
  /** The p77/st20 planted-contamination text (see [[p77BlocklistFilter]]). */
  private[graft] def p77FixtureText: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    concat(coalesce(col("text"), lit("")),
      when(pmod(d, lit(7)) === 0,
        lit(" Free MONEY now! click here to claim")).otherwise(lit("")),
      when(pmod(d, lit(11)) === 0,
        lit(" visit the casino casino casino tonight")).otherwise(lit("")),
      when(pmod(d, lit(13)) === 0, lit(" aaaa")).otherwise(lit("")))
  }

  val p77BlocklistFilter: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val aug = docs.select(col("doc_id"), p77FixtureText.as("text"))
    TextAnalysis.blocklistFilter(aug, "text", "doc_id", P77Patterns)
      .orderBy("doc_id")
  }

  /** p77 oracle: per-(doc, pattern) overlapping-occurrence counts by
    * brute-force position scan over the lowercased augmented text —
    * every start position tested — then summed/counted per doc. The
    * engine's automaton must reproduce the naive quadratic answer
    * exactly (overlaps, nested patterns, suffix dictionary and all)
    * in its single linear walk. */
  val p77Sql: String =
    """|WITH aug AS (
      |  SELECT doc_id,
      |    lower(coalesce(text, '')
      |      || CASE WHEN doc_id % 7 = 0 THEN ' Free MONEY now! click here to claim' ELSE '' END
      |      || CASE WHEN doc_id % 11 = 0 THEN ' visit the casino casino casino tonight' ELSE '' END
      |      || CASE WHEN doc_id % 13 = 0 THEN ' aaaa' ELSE '' END) AS s
      |  FROM documents),
      |pats AS (
      |  SELECT * FROM (VALUES ('free money'), ('free money now'),
      |    ('money now'), ('click here'), ('casino'), ('aa')) AS t(p)),
      |cnt AS (
      |  SELECT a.doc_id, t.p,
      |    len(list_filter(range(1, length(a.s) - length(t.p) + 2),
      |        i -> substr(a.s, CAST(i AS INTEGER), length(t.p)) = t.p)) AS n
      |  FROM aug a, pats t),
      |agg AS (
      |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_matches,
      |    CAST(count(CASE WHEN n > 0 THEN 1 END) AS BIGINT) AS n_patterns
      |  FROM cnt GROUP BY doc_id)
      |SELECT doc_id, n_matches, n_patterns, n_matches > 0 AS flagged
      |FROM agg ORDER BY doc_id""".stripMargin

  /** p79: Count–Min heavy hitters ([[Sketches.cmsBuild]] /
    * [[Sketches.cmsEstimate]]) — the bounded-memory frequency rung
    * next to p76's cardinality rung: a 4×512-cell sketch over the
    * corpus token stream, point-queried for the top-16 exact tokens
    * plus four planted ABSENT probes (whose estimates are pure
    * collision noise — the sketch's ε·N overestimate, reproduced
    * bit-exactly by the oracle since counters are exact sums). The
    * `overestimate` column certifies the one-sided CM guarantee on
    * every row; the exact counts are the gate's comparison surface
    * (computed here because the fixture is tiny — at 100 TB the
    * sketch's d×w exchange replaces the distinct-token shuffle). */
  /** The corpus token stream shared by p79/st23. */
  private[graft] def corpusTokens(docs: DataFrame): DataFrame =
    docs.select(explode(
        split(trim(lower(coalesce(col("text"), lit("")))), "\\s+"))
        .as("token"))
      .filter(length(col("token")) > 0)

  /** The p79/st23 probe list: top-16 exact tokens + 4 planted absent
    * probes, each with its exact count (the gate's comparison
    * surface). */
  private[graft] def cmsQueriesFor(spark: SparkSession, dir: String): DataFrame = {
    val hist = corpusTokens(Tables.load(spark, dir, "documents"))
      .groupBy("token").agg(count(lit(1)).as("exact_count"))
    val top = hist.orderBy(col("exact_count").desc, col("token")).limit(16)
    import spark.implicits._
    val rare = Seq("zzgraftprobe1", "zzgraftprobe2", "zzgraftprobe3",
        "zzgraftprobe4").toDF("token")
      .join(hist, Seq("token"), "left")
      .select(col("token"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"))
    top.unionByName(rare)
  }

  /** The p79/st23 shared probe tail: estimates for the query list
    * against a built (r, cell, n) table, with the overestimate
    * certificate. */
  private[graft] def cmsProbe(cells: DataFrame, q: DataFrame): DataFrame =
    Sketches.cmsEstimate(cells, q, "token", d = 4, w = 512)
      .join(q, Seq("token"))
      .select(col("token"), col("exact_count"), col("cm_estimate"),
        (col("cm_estimate") - col("exact_count")).as("overestimate"))
      .orderBy(col("exact_count").desc, col("token"))

  val p79CmsHeavyHitters: Q = (spark, dir) => {
    val toks = corpusTokens(Tables.load(spark, dir, "documents"))
    cmsProbe(Sketches.cmsBuild(toks, "token", d = 4, w = 512),
      cmsQueriesFor(spark, dir))
  }

  /** The 6-stage splitmix restatement over a carried column set —
    * `SELECT <carry>, <stages on y> FROM <prev>`, the p75 t1..t6
    * pattern parametrized for reuse inside one oracle. */
  private def mixStagesOn(prefix: String, src: String, carry: String): String = {
    val stages = Seq(
      "CAST((CAST(y AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT)",
      "xor(y, y >> 30)",
      "CAST(((CAST((y) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((y) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT)",
      "xor(y, y >> 27)",
      "CAST(((CAST((y) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((y) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT)",
      "xor(y, y >> 31)")
    stages.zipWithIndex.map { case (s, i) =>
      val from = if (i == 0) src else s"$prefix${i}"
      s"$prefix${i + 1} AS (SELECT $carry, $s AS y FROM $from)"
    }.mkString(",\n")
  }

  /** The FNV-1a + splitmix token hash as CTEs (z per row of `src`,
    * which must expose a `token` column plus `carry` columns) — the
    * shared f0..t6 pattern. ASCII fixture assumption: ascii() yields
    * the byte value (the corpus is ASCII; the engine kernel is
    * byte-level, which is the honest 100-TB form). */
  private def fnvMixCtes(prefix: String, src: String, carry: String): String =
    s"""${prefix}f AS (
      |  SELECT ${carry}token,
      |    list_reduce(
      |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
      |        list_transform(range(1, length(token) + 1),
      |          j -> CAST(ascii(substr(token, CAST(j AS INTEGER), 1)) AS UBIGINT))),
      |      (acc, c) -> CAST(((CAST((xor(acc, c)) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(acc, c)) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT)) AS y
      |  FROM $src),
      |""".stripMargin +
      mixStagesOn(prefix, s"${prefix}f", s"${carry}token") + s""",
      |${prefix}z AS (SELECT ${carry}token, y AS z FROM ${prefix}6),""".stripMargin

  /** p79 oracle: the sketch restated cell by cell — the token
    * histogram hashed through the shared FNV/splitmix chain, each of
    * the 4 rows' cells via a SECOND splitmix pass on xor(z, r) folded
    * to 63 bits mod 512, counters as exact sums; the same chain
    * re-runs for the probe side and the estimate is the min over the
    * probed cells with empty cells reading 0. */
  private[graft] def p79SqlPublic: String = p79Sql

  val p79Sql: String =
    """|WITH tok AS (
      |  SELECT unnest(list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\s+'), x -> x <> '')) AS token
      |  FROM documents),
      |hist AS MATERIALIZED (
      |  SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token),
      |""".stripMargin +
    fnvMixCtes("h", "hist", "c, ") + """
      |rare AS (
      |  SELECT t.token, CAST(0 AS BIGINT) AS c
      |  FROM (VALUES ('zzgraftprobe1'), ('zzgraftprobe2'),
      |        ('zzgraftprobe3'), ('zzgraftprobe4')) AS t(token)),
      |""".stripMargin +
    fnvMixCtes("r", "rare", "c, ") + """
      |b0 AS (
      |  SELECT hz.c, CAST(r.r AS INTEGER) AS r,
      |    xor(hz.z, CAST(r.r AS UBIGINT)) AS y
      |  FROM hz, unnest(range(0, 4)) AS r(r)),
      |""".stripMargin +
    mixStagesOn("b", "b0", "c, r") + """,
      |bc AS (
      |  SELECT r, CAST((y >> 1) % 512 AS BIGINT) AS cell,
      |    CAST(sum(c) AS BIGINT) AS n
      |  FROM b6 GROUP BY r, cell),
      |topq AS (
      |  SELECT token, c AS exact_count, z FROM hz
      |  ORDER BY c DESC, token LIMIT 16),
      |q AS (
      |  SELECT token, exact_count, z FROM topq
      |  UNION ALL SELECT token, c AS exact_count, z FROM rz),
      |p0 AS (
      |  SELECT q.token, q.exact_count, CAST(r.r AS INTEGER) AS r,
      |    xor(q.z, CAST(r.r AS UBIGINT)) AS y
      |  FROM q, unnest(range(0, 4)) AS r(r)),
      |""".stripMargin +
    mixStagesOn("p", "p0", "token, exact_count, r") + """,
      |pc AS (
      |  SELECT token, exact_count, r, CAST((y >> 1) % 512 AS BIGINT) AS cell
      |  FROM p6),
      |est AS (
      |  SELECT pc.token, pc.exact_count,
      |    CAST(min(coalesce(bc.n, 0)) AS BIGINT) AS cm_estimate
      |  FROM pc LEFT JOIN bc ON bc.r = pc.r AND bc.cell = pc.cell
      |  GROUP BY pc.token, pc.exact_count)
      |SELECT token, exact_count, cm_estimate,
      |  CAST(cm_estimate - exact_count AS BIGINT) AS overestimate
      |FROM est ORDER BY exact_count DESC, token""".stripMargin

  /** p80: token-exact sequence packing ([[Sampling.packSplit]]; see
    * its scaladoc for the concat-and-cut contract vs p23's
    * whole-document bins) — every bin except each shard's last is
    * EXACTLY 512 tokens, long documents split across bins, and the
    * per-piece layout (piece_no, bin, start_offset, piece_tokens) is
    * what a trainer's sample loader indexes. Same window-cumsum shape
    * as p23; the explode adds one row per crossed boundary. */
  val p80PackSplit: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(coalesce(col("text"), lit("")))
          .cast("long").as("n_tokens"))
    Sampling.packSplit(docs, "doc_id", "n_tokens",
        budgetTokens = 512L, shards = 8, seed = 80L)
      .orderBy("doc_id", "piece_no")
  }

  /** p80 oracle: the p23 chain (one SplitMix64 hash drives shard AND
    * order) at seed 80, pieces generated per crossed 512-boundary with
    * exact integer interval intersection. */
  val p80Sql: String =
    mixChainSql("SELECT doc_id, CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0 ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+')) END AS BIGINT) AS n_tokens, xor(CAST(doc_id AS UBIGINT), CAST(80 AS UBIGINT)) AS z FROM documents") + """
      |s AS (SELECT doc_id, n_tokens, z, CAST(z % 8 AS BIGINT) AS shard FROM h),
      |c AS (
      |  SELECT doc_id, shard, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY z, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
      |  FROM s),
      |p AS (
      |  SELECT doc_id, shard, n_tokens, cum,
      |    CAST(b.b AS BIGINT) AS bin, cum // 512 AS first
      |  FROM c, unnest(range(cum // 512,
      |    greatest(cum // 512, (cum + n_tokens - 1) // 512) + 1)) AS b(b))
      |SELECT doc_id, shard, n_tokens,
      |  CAST(bin - first AS BIGINT) AS piece_no, bin,
      |  CAST(greatest(cum, bin * 512) - bin * 512 AS BIGINT) AS start_offset,
      |  CAST(least(cum + n_tokens, (bin + 1) * 512) - greatest(cum, bin * 512) AS BIGINT) AS piece_tokens
      |FROM p ORDER BY doc_id, piece_no""".stripMargin

  /** p81: robots.txt fetch gate ([[TextAnalysis.robotsGate]] /
    * [[graft.functions.RobotsKernel]]) — the decision a crawl makes
    * BEFORE p70 ever stores a page. Five synthesized per-host robots
    * files exercise the RFC 9309 corners: blanket Disallow, the
    * longest-match Allow/Disallow interplay, a `*` wildcard beating a
    * shorter Allow, a named-agent group the queried agent must SKIP
    * (falling through to the `*` group), and a `$`-anchored pattern
    * plus an empty Disallow no-op. The oracle restates the RULE SETS
    * (deterministic per host by construction) as literal regex rows
    * and replays the longest/allow/first tie-break as a window — the
    * text→rules parse itself is RobotsSpec-pinned. */
  val p81RobotsGate: Q = (spark, dir) => {
    val d = col("doc_id")
    val urls = Tables.load(spark, dir, "documents").select(d,
      concat(lit("example"), pmod(d, lit(5)).cast("string"), lit(".com"))
        .as("host"),
      when(pmod(d, lit(3)) === 0,
        concat(lit("/path/"), pmod(d, lit(7)).cast("string")))
        .when(pmod(d, lit(3)) === 1,
          concat(lit("/x/"), pmod(d, lit(11)).cast("string")))
        .otherwise(lit("/")).as("path"))
    TextAnalysis.robotsGate(urls, "doc_id", "host", "path",
        p81RobotsFixture(spark), "host", "rules", agent = "graftcrawler")
      .orderBy("doc_id")
  }

  /** The five synthesized per-host robots files (shared by p81/st24). */
  private[graft] def p81RobotsFixture(spark: SparkSession): DataFrame =
    spark.range(5).select(
      concat(lit("example"), col("id").cast("string"), lit(".com"))
        .as("host"),
      when(col("id") === 0, "User-agent: *\nDisallow: /")
        .when(col("id") === 1,
          "User-agent: *\nDisallow: /path/\nAllow: /path/3\n# comment\nCrawl-delay: 5")
        .when(col("id") === 2, "User-agent: *\nDisallow: /x/*1\nAllow: /x/")
        .when(col("id") === 3,
          "User-agent: graftbot\nDisallow: /\nUser-agent: *\nDisallow: /x/")
        .otherwise("User-agent: *\nDisallow: /path/2$\nDisallow:")
        .as("rules"))

  /** p81 oracle: the per-host rule sets as literal (allow, pattern,
    * regex) rows — including the named-agent group's EXCLUSION for
    * host 3 and the dropped empty Disallow for host 4 — with prefix
    * match via anchored regex, specificity by raw pattern length,
    * Allow preferred on ties, earliest rule thereafter, and
    * allow-by-default when nothing matches. */
  private[graft] def p81SqlPublic: String = p81Sql

  val p81Sql: String =
    """|WITH u AS (
      |  SELECT doc_id,
      |    'example' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS host,
      |    doc_id % 5 AS k,
      |    CASE doc_id % 3
      |      WHEN 0 THEN '/path/' || CAST(doc_id % 7 AS VARCHAR)
      |      WHEN 1 THEN '/x/' || CAST(doc_id % 11 AS VARCHAR)
      |      ELSE '/' END AS path
      |  FROM documents),
      |r(k, rule_no, allow, pat, rx) AS (VALUES
      |  (0, 1, false, '/', '^/'),
      |  (1, 1, false, '/path/', '^/path/'),
      |  (1, 2, true,  '/path/3', '^/path/3'),
      |  (2, 1, false, '/x/*1', '^/x/.*1'),
      |  (2, 2, true,  '/x/', '^/x/'),
      |  (3, 1, false, '/x/', '^/x/'),
      |  (4, 1, false, '/path/2$', '^/path/2$')),
      |m AS (
      |  SELECT u.doc_id, r.allow, r.pat,
      |    row_number() OVER (PARTITION BY u.doc_id
      |      ORDER BY length(r.pat) DESC, r.allow DESC, r.rule_no) AS rn
      |  FROM u JOIN r ON r.k = u.k AND regexp_matches(u.path, r.rx)),
      |b AS (SELECT doc_id, allow, pat FROM m WHERE rn = 1)
      |SELECT u.doc_id, u.host, u.path,
      |  coalesce(b.allow, true) AS allowed, b.pat AS rule
      |FROM u LEFT JOIN b USING (doc_id)
      |ORDER BY u.doc_id""".stripMargin

  /** p82: filter-ablation report — the audit a curation team runs
    * BEFORE freezing thresholds: THREE document-level filter families
    * (the C4 line/document rules p68, the full Gopher repetition
    * battery p67, and the CCNet-style bigram-LM bucket p34) run over
    * the SAME text, cross-tabbed per source plus a '*' rollup — how
    * much does each filter drop, how much do they agree (the
    * kept_all / kept_any consensus). Unlike p67/p68's rule-corner
    * fixtures, BOTH filters see the SAME text: the raw corpus plus
    * one minimal plant (a three-sentence punctuated line on every
    * second doc) — without it the synthetic word-salad corpus has a
    * 0 % C4 keep rate and the cross-tab's joint cells never fire; the
    * plant makes every cell of the report live while keeping the two
    * filters' inputs identical, which is the property an ablation
    * needs.
    *
    * Scale shape: two row-local verdict scans (both plan-pinned
    * zero-shuffle kernels) joined doc_id-co-partitioned, then ONE
    * map-side-combined rollup whose exchange carries a row per
    * source. The oracle re-runs BOTH rule restatements over the raw
    * text (the pluggable-fixture forms of the p67/p68 oracles) and
    * re-tabulates. */
  val p82FilterAblation: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val raw = docs.select(col("doc_id"), col("source"),
      concat(coalesce(col("text"), lit("")),
        when(pmod(col("doc_id"), lit(2)) === 0,
          lit("\nthe small cat sat on the mat today. it was a good day. we kept on reading."))
          .otherwise(lit(""))).as("t"))
    val c4 = TextAnalysis.c4LineFilter(raw, "t", "doc_id")
      .select(col("doc_id"), (col("verdict") === "keep").as("kc"))
    val rep = TextAnalysis.gopherRepetition(raw, "t", "doc_id")
      .select(col("doc_id"), (col("verdict") === "keep").as("kr"))
    // the CCNet-style LM rung (p34's model, thresholds, and reference
    // slice) over the SAME shared text: keep = head-or-middle bucket
    val lm = TextAnalysis.bigramLmScoreKernel(raw, "t", "doc_id",
        refCond = pmod(col("doc_id"), lit(5)) === 0, k = 1.0)
      .select(col("doc_id"),
        (col("lm_logprob").isNotNull &&
          col("lm_logprob") >= P34MidMin).as("kl"))
    val j = raw.select(col("doc_id"), col("source"))
      .join(c4, Seq("doc_id")).join(rep, Seq("doc_id"))
      .join(lm, Seq("doc_id"))
    val u = j.unionByName(j.withColumn("source", lit("*")))
    u.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("kc").cast("long")).as("kept_c4"),
        sum(col("kr").cast("long")).as("kept_repetition"),
        sum(col("kl").cast("long")).as("kept_lm"),
        sum((col("kc") && col("kr") && col("kl")).cast("long")).as("kept_all"),
        sum((col("kc") || col("kr") || col("kl")).cast("long")).as("kept_any"))
      .withColumn("consensus",
        when(col("kept_any") === 0, lit(null).cast("double"))
          .otherwise(round(col("kept_all").cast("double") / col("kept_any"), 6)))
      .orderBy("source")
  }

  /** p82 oracle: the p67, p68, AND p34 restatements instantiated over
    * the shared ablation text (the pluggable CTE bodies the fixture
    * keys use), joined and cross-tabbed with the identical consensus
    * arithmetic — three independent rule engines re-derived in DuckDB
    * against one corpus pass. */
  lazy val p82Sql: String = {
    val sharedTextSql =
      "coalesce(text, '') || CASE WHEN doc_id % 2 = 0 THEN chr(10) || " +
      "'the small cat sat on the mat today. it was a good day. we kept on reading.' " +
      "ELSE '' END"
    val rawBody =
      "  SELECT doc_id,\n    " + sharedTextSql + " AS t\n  FROM documents"
    s"""|WITH c4 AS (
       |  SELECT doc_id, verdict FROM (
       |__C4_SUB__
       |  ) c4sub),
       |rep AS (
       |  SELECT doc_id, verdict FROM (
       |__REP_SUB__
       |  ) repsub),
       |lm AS (
       |  SELECT doc_id, lm_logprob FROM (
       |__LM_SUB__
       |  ) lmsub),
       |j AS (
       |  SELECT d.source, (c4.verdict = 'keep') AS kc, (rep.verdict = 'keep') AS kr,
       |    (lm.lm_logprob IS NOT NULL AND lm.lm_logprob >= $P34MidMin) AS kl
       |  FROM documents d
       |  JOIN c4 ON c4.doc_id = d.doc_id
       |  JOIN rep ON rep.doc_id = d.doc_id
       |  JOIN lm ON lm.doc_id = d.doc_id),
       |u AS (SELECT * FROM j UNION ALL SELECT '*' AS source, kc, kr, kl FROM j),
       |a AS (
       |  SELECT source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN kc THEN 1 ELSE 0 END) AS BIGINT) AS kept_c4,
       |    CAST(sum(CASE WHEN kr THEN 1 ELSE 0 END) AS BIGINT) AS kept_repetition,
       |    CAST(sum(CASE WHEN kl THEN 1 ELSE 0 END) AS BIGINT) AS kept_lm,
       |    CAST(sum(CASE WHEN kc AND kr AND kl THEN 1 ELSE 0 END) AS BIGINT) AS kept_all,
       |    CAST(sum(CASE WHEN kc OR kr OR kl THEN 1 ELSE 0 END) AS BIGINT) AS kept_any
       |  FROM u GROUP BY source)
       |SELECT *, CASE WHEN kept_any = 0 THEN NULL
       |  ELSE round(CAST(kept_all AS DOUBLE) / kept_any, 6) END AS consensus
       |FROM a ORDER BY source""".stripMargin
      .replace("__C4_SUB__", p68RulesSql(rawBody))
      .replace("__REP_SUB__", p67RulesSql(rawBody))
      .replace("__LM_SUB__", p34RulesSql(
        "  SELECT doc_id, string_split_regex(trim(lower(" + sharedTextSql +
          ")), '\\s+') AS tk\n  FROM documents"))
  }

  /** p56: corpus tokenization under the p54-LEARNED vocabulary
    * ([[TextAnalysis.bpeTokenizeCorpus]]; see its scaladoc for the
    * broadcast-vocab / one-corpus-scan shape) — per-doc true subword
    * piece counts and chars-per-piece compression, the numbers a
    * token-budgeted pretraining mix is actually planned with. */
  val p56BpeTokenize: Q = (spark, dir) =>
    TextAnalysis.bpeTokenizeCorpusWith(Tables.load(spark, dir, "documents"),
      "text", "doc_id", bpeModelFor(spark, dir)).orderBy("doc_id")

  /** p56 oracle: the full p54 retrain chain composed with the
    * word-join tokenization — DuckDB re-learns the vocabulary and
    * re-counts every doc's pieces independently. */
  /** The per-doc piece-count CTE tail over the p54 retrain chain
    * (wk/tok2/agg) — shared by the p56 and p59 oracles. */
  private lazy val p56TailCtes: String =
    s""",
      |wk AS MATERIALIZED (
      |  SELECT w, CAST(len(string_split(seg, chr(31))) AS BIGINT) AS ppw
      |  FROM seg$P54Merges),
      |tok2 AS (
      |  SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+'), x -> x <> '')) AS w
      |  FROM documents),
      |agg AS MATERIALIZED (
      |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |         CAST(sum(wk.ppw) AS BIGINT) AS n_pieces,
      |         CAST(sum(length(t.w)) AS BIGINT) AS nc
      |  FROM tok2 t JOIN wk USING (w) GROUP BY t.doc_id)""".stripMargin

  val p56Sql: String =
    p54OracleCtes(P54Merges) + p56TailCtes + """
      |SELECT d.doc_id, coalesce(a.n_words, CAST(0 AS BIGINT)) AS n_words,
      |       coalesce(a.n_pieces, CAST(0 AS BIGINT)) AS n_pieces,
      |       round(a.nc::DOUBLE / a.n_pieces, 6) AS chars_per_piece
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** p59: per-LANGUAGE tokenizer-fertility report — the multilingual
    * audit a tokenizer team runs before freezing a vocabulary: for
    * each predicted language ([[TextAnalysis.languageId]], one
    * codegen'd pass), document count, corpus words, learned-BPE pieces
    * ([[TextAnalysis.bpeTokenizeCorpus]]), and fertility (pieces per
    * word — languages a vocabulary underserves read high). Two
    * per-doc row-local passes joined doc_id-co-partitioned, then a
    * 5-group aggregate: exchanges carry per-doc stat rows and the
    * language groups, never text. */
  val p59LangFertility: Q = (spark, dir) => {
    val docs = Dedup.spread(Tables.load(spark, dir, "documents"))
    val perDoc = TextAnalysis.bpeTokenizeCorpusWith(docs, "text", "doc_id",
      bpeModelFor(spark, dir))
    val langs = docs.select(col("doc_id"),
      TextAnalysis.languageId(col("text")).as("pred_lang"))
    perDoc.join(langs, Seq("doc_id"))
      .groupBy("pred_lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_pieces").as("n_pieces"))
      .withColumn("fertility",
        when(col("n_words") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_pieces").cast("double") / col("n_words"), 6)))
      .orderBy("pred_lang")
  }

  /** p88: temperature-balanced multilingual mixing — the XLM-R/mT5
    * upsampling rule at T = 0.5: each document repeats with weight
    * √(N / n_lang), so rare languages upsample by inverse-sqrt
    * frequency while the head stays near 1× (α = 0.5 exactly because
    * IEEE-754 sqrt is correctly rounded on EVERY engine — a pow(p, 0.7)
    * temperature would not restate bit-identically across libm
    * implementations, so it could never sit behind this gate). The
    * weights are DATA-DERIVED (the p10 language-ID kernel → per-lang
    * counts broadcast back), composing detection → statistics →
    * [[Sampling.weightedMix]] in one key.
    *
    * Scale shape: one map-combined lang count (exchange = languages),
    * a broadcast join of that dimension, then weightedMix's row-local
    * explode — no corpus shuffle anywhere. */
  val p88TemperatureMix: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.languageId(col("text")).as("pred_lang"))
    val counts = docs.groupBy("pred_lang").agg(count(lit(1)).as("__nl"))
    val withW = docs
      .join(broadcast(counts), Seq("pred_lang"))
      .crossJoin(broadcast(counts.agg(sum(col("__nl")).as("__N"))))
      .withColumn("w", sqrt(col("__N").cast("double") / col("__nl")))
    Sampling.weightedMix(withW, "doc_id", col("w"), seed = 88L)
      .select(col("doc_id"), col("pred_lang"), round(col("w"), 6).as("weight"),
        col("copy_no"))
      .orderBy("doc_id", "copy_no")
  }

  /** p88 oracle: the p10 per-doc language restatement → per-lang
    * counts → the same √(N/n) weight (sqrt and the one division are
    * both correctly rounded IEEE ops) → the p27 weightedMix
    * restatement (floor copies + the fractional 2⁶³ threshold). */
  lazy val p88Sql: String = {
    val scoreCols = langScoreColsSql("n", ",\n      |         ").stripMargin
    s"""|WITH lt AS (
      |  SELECT doc_id,
      |         string_split_regex(trim(lower(text)), '\\s+') AS tk,
      |         greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1)::DOUBLE AS n,
      |         regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') AS cjk
      |  FROM (SELECT * REPLACE (coalesce(text, '') AS text) FROM documents)),
      |ls AS (
      |  SELECT doc_id, cjk,
      |         $scoreCols
      |  FROM lt),
      |lb AS (
      |  SELECT doc_id, cjk, $langBestSql AS best, * FROM ls),
      |lp AS (
      |  SELECT doc_id,
      |    CASE WHEN cjk THEN 'zh'
      |         WHEN best = 0 THEN 'und'
      |         ELSE (CASE $langTieBreakSql END)
      |    END AS pred_lang
      |  FROM lb),
      |cnt AS (SELECT pred_lang, CAST(count(*) AS BIGINT) AS nl
      |        FROM lp GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM lp),
      |wt AS (
      |  SELECT lp.doc_id, lp.pred_lang,
      |    sqrt(CAST(tot.nn AS DOUBLE) / cnt.nl) AS w
      |  FROM lp JOIN cnt USING (pred_lang), tot),
      |""".stripMargin +
    mixChainSql(
      "SELECT doc_id, pred_lang, w, xor(CAST(doc_id AS UBIGINT), CAST(88 AS UBIGINT)) AS z FROM wt",
      lead = "") + """
      |c AS (SELECT doc_id, pred_lang, w,
      |  CAST(floor(w) AS BIGINT) +
      |  CASE WHEN z < CAST(floor((w - floor(w)) * power(2.0, 63)) AS UBIGINT)
      |       THEN 1 ELSE 0 END AS n
      |  FROM h)
      |SELECT doc_id, pred_lang, round(w, 6) AS weight, CAST(u.u AS BIGINT) AS copy_no
      |FROM c, unnest(range(n)) AS u(u)
      |WHERE n >= 1
      |ORDER BY doc_id, copy_no""".stripMargin
  }

  /** p59 oracle: the p54 retrain chain + per-doc piece counts composed
    * with the p10 language-ID restatement (same lexicons, same
    * struct-array_max tie-break), regrouped by predicted language. */
  // lazy: langBestSql/langTieBreakSql are object vals defined further
  // down — an eager val here would capture nulls at object init
  lazy val p59Sql: String = {
    val scoreCols = langScoreColsSql("n", ",\n      |         ").stripMargin
    p54OracleCtes(P54Merges) + p56TailCtes + s""",
      |lt AS (
      |  SELECT doc_id,
      |         string_split_regex(trim(lower(text)), '\\s+') AS tk,
      |         greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1)::DOUBLE AS n,
      |         regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') AS cjk
      |  FROM (SELECT * REPLACE (coalesce(text, '') AS text) FROM documents)),
      |ls AS (
      |  SELECT doc_id, cjk,
      |         $scoreCols
      |  FROM lt),
      |lb AS (
      |  SELECT doc_id, cjk, $langBestSql AS best, * FROM ls),
      |lp AS (
      |  SELECT doc_id,
      |    CASE WHEN cjk THEN 'zh'
      |         WHEN best = 0 THEN 'und'
      |         ELSE (CASE $langTieBreakSql END)
      |    END AS pred_lang
      |  FROM lb)
      |SELECT p.pred_lang,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(coalesce(a.n_words, 0)) AS BIGINT) AS n_words,
      |  CAST(sum(coalesce(a.n_pieces, 0)) AS BIGINT) AS n_pieces,
      |  CASE WHEN sum(coalesce(a.n_words, 0)) = 0 THEN NULL
      |       ELSE round(sum(coalesce(a.n_pieces, 0))::DOUBLE /
      |                  sum(coalesce(a.n_words, 0)), 6) END AS fertility
      |FROM lp p LEFT JOIN agg a USING (doc_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** The p55 fixture: the corpus has NO exact duplicate texts (every
    * p01 group is a singleton), so an unplanted run would emit only
    * 'new' verdicts — plant the two duplicate regimes the operator
    * exists for (the p41/p53 planting discipline). Paywall stubs
    * (doc_id % 16 ∈ {1,13} — BOTH residues ≡ 1 mod 4, so each
    * floor(id/16) family lives entirely in the increment →
    * dup_in_increment); mirror pages (doc_id % 12 ∈ {0,1} — 12k sits
    * in the prior snapshot, 12k+1 in the increment → dup_of_prior
    * with the prior holder as keeper). Paywall wins residue overlaps
    * so each doc has ONE deterministic content. */
  private def p55FixtureText: org.apache.spark.sql.Column =
    when(pmod(col("doc_id"), lit(16)).isin(1, 13),
      concat(lit("paywall stub "), floor(col("doc_id") / 16).cast("long")))
      .when(pmod(col("doc_id"), lit(12)).isin(0, 1),
        concat(lit("mirror page "), floor(col("doc_id") / 12).cast("long")))
      .otherwise(coalesce(col("text"), lit("")))

  /** p55: incremental corpus-version dedup ([[Dedup.incrementalDedup]];
    * see its scaladoc for the both-sides-large SHUFFLE_MERGE shape).
    * Snapshot N = the doc_id % 4 ≠ 1 three-quarters of the corpus;
    * snapshot N+1 = the full corpus — the % 4 = 1 quarter is the
    * day's crawl increment, audited against the union. The
    * [[p55FixtureText]] planting makes all three verdicts occur at
    * both gate SFs (20 dup_of_prior / 31 dup_in_increment / 74 new —
    * documents is 500 rows at both sf0.001 and sf0.01). */
  val p55IncrementalDedup: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), p55FixtureText.as("t"))
    val prior = docs.filter(pmod(col("doc_id"), lit(4)) =!= 1)
    Dedup.incrementalDedup(prior, docs, "t", "doc_id").orderBy("doc_id")
  }

  /** p55 oracle: the same planting, snapshot split, sha256 content
    * identity, and three-way verdict restated relationally. */
  val p55Sql: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 16 IN (1, 13)
      |           THEN 'paywall stub ' || CAST(doc_id // 16 AS BIGINT)
      |         WHEN doc_id % 12 IN (0, 1)
      |           THEN 'mirror page ' || CAST(doc_id // 12 AS BIGINT)
      |         ELSE coalesce(text, '') END AS text
      |  FROM documents),
      |prior AS (SELECT * FROM aug WHERE doc_id % 4 <> 1),
      |inc AS (
      |  SELECT doc_id, sha256(coalesce(text, '')) AS content_hash
      |  FROM aug WHERE doc_id % 4 = 1),
      |pk AS (
      |  SELECT sha256(coalesce(text, '')) AS content_hash,
      |         min(doc_id) AS prior_keeper
      |  FROM prior GROUP BY 1),
      |ik AS (
      |  SELECT content_hash, min(doc_id) AS inc_keeper
      |  FROM inc GROUP BY 1)
      |SELECT i.doc_id, i.content_hash,
      |  CASE WHEN pk.prior_keeper IS NOT NULL THEN 'dup_of_prior'
      |       WHEN ik.inc_keeper < i.doc_id THEN 'dup_in_increment'
      |       ELSE 'new' END AS verdict,
      |  coalesce(pk.prior_keeper, ik.inc_keeper) AS keeper_id
      |FROM inc i
      |LEFT JOIN pk USING (content_hash)
      |JOIN ik USING (content_hash)
      |ORDER BY i.doc_id""".stripMargin

  /** p61: incremental NEAR-dup dedup ([[Dedup.incrementalNearDedup]];
    * see its scaladoc for the all-SHUFFLE_MERGE both-sides-large
    * shape) — p55's exact-hash increment audit generalized to the
    * MinHash rung: a crawl refresh is mostly *near* duplicates of the
    * prior snapshot, which byte-identity cannot see. Same snapshot
    * split as p55 (prior = doc_id % 4 ≠ 1, increment = % 4 = 1); the
    * corpus's natural near-dups put both verdicts at both gate SFs
    * (8 near_dup_of_prior at sf0.01, 12 at sf0.001). */
  val p61NearDupIncrement: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val prior = docs.filter(pmod(col("doc_id"), lit(4)) =!= 1)
    Dedup.incrementalNearDedup(prior, docs, "text", "doc_id",
        minEstJaccard = 0.2)
      .select(col("doc_id"), col("verdict"), col("keeper_id"),
        round(col("est_jaccard"), 6).as("est_jaccard"))
      .orderBy("doc_id")
  }

  /** p61 oracle: p02's bit-exact signature/band restatement (guarded
    * substring composition, the p28/p52/p57 pattern) with the band
    * self-join re-aimed ACROSS the snapshot split (new × prior instead
    * of id0 < id1), the same agreement/128 estimate, and the keeper
    * argmax restated as a (ej DESC, prior_id) row_number — exactly the
    * total order the engine packs into its struct max. The 64-entry
    * prior-side bucket cap never binds at gate scale (the p02
    * argument), so the brute-force band join is the same pair set. */
  lazy val p61Sql: String = {
    val cut = p02Sql.lastIndexOf("cand AS (")
    require(cut >= 0,
      "p61Sql composes on p02Sql's signature/band CTEs — update both together")
    p02Sql.substring(0, cut) +
      """cand AS (
        |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS prior_id
        |  FROM bands a JOIN bands b ON a.t = b.t AND a.bs = b.bs
        |  WHERE a.doc_id % 4 = 1 AND b.doc_id % 4 <> 1),
        |est AS (
        |  SELECT c.new_id, c.prior_id,
        |    len(list_filter(range(1, 129),
        |      i -> sa.sig[CAST(i AS INTEGER)] = sb.sig[CAST(i AS INTEGER)])) / 128.0 AS ej
        |  FROM cand c
        |  JOIN sigs sa ON sa.doc_id = c.new_id
        |  JOIN sigs sb ON sb.doc_id = c.prior_id),
        |best AS (
        |  SELECT new_id, prior_id, ej,
        |    row_number() OVER (PARTITION BY new_id ORDER BY ej DESC, prior_id) AS rn
        |  FROM est WHERE ej >= 0.2)
        |SELECT n.doc_id,
        |  CASE WHEN b.prior_id IS NOT NULL THEN 'near_dup_of_prior'
        |       ELSE 'new' END AS verdict,
        |  coalesce(b.prior_id, n.doc_id) AS keeper_id,
        |  round(b.ej, 6) AS est_jaccard
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 1) n
        |LEFT JOIN (SELECT new_id, prior_id, ej FROM best WHERE rn = 1) b
        |  ON b.new_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin
  }

  private[graft] val P44Terms = Seq("dup", "spark")

  /** p44: BM25 top-10 retrieval for the two-term query (dup, spark) —
    * one rare term (df ≈ 5 % of docs) and one common one
    * ([[TextAnalysis.bm25TopK]]; see its scaladoc for the
    * postings-only exchange and the two-term determinism argument).
    * Adjacent distinct scores in the top ranks are separated by
    * ≥ 7.9e-4 at every SF (audited), 10¹¹× above cross-engine libm
    * noise; equal scores (identical tf/len) tie-break on doc_id
    * identically on both engines. */
  val p44Bm25: Q = (spark, dir) =>
    TextAnalysis.bm25TopK(Dedup.spread(Tables.load(spark, dir, "documents")),
      "text", "doc_id", P44Terms, k = 10)

  /** p44 oracle: same postings, idf, length normalization, and the
    * (score DESC, doc_id) total order at the k-boundary. */
  val p44Sql: String = {
    val terms = P44Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tk AS (SELECT doc_id, string_split_regex(trim(lower(coalesce(text, ''))), '\\s+') AS tk FROM documents),
       |n AS (SELECT doc_id, CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS len FROM documents),
       |tot AS (SELECT count(*) AS N, sum(len)::DOUBLE / count(*) AS avglen FROM n),
       |dt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM (SELECT doc_id, unnest(tk) AS term FROM tk)
       |       WHERE term IN ($terms) GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY term),
       |s AS (SELECT dt.doc_id,
       |        ln(1.0 + (N - df.df + 0.5) / (df.df + 0.5)) *
       |        (dt.tf * 2.2) / (dt.tf + 1.2 * (0.25 + 0.75 * n.len / avglen)) AS c
       |      FROM dt JOIN df USING (term) JOIN n USING (doc_id), tot),
       |sc AS (SELECT doc_id, sum(c) AS score FROM s GROUP BY doc_id)
       |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
  }

  /** p45: pairwise n-gram containment decontamination
    * ([[TextAnalysis.ngramContainment]], word 5-grams, θ = 0.1) — the
    * fuzzy eval-leakage audit: WHICH benchmark item each training doc
    * overlaps and by how much. The benchmark set is the doc_id % 91
    * slice of the p33 planted-passage corpus (every member carries
    * passage 1), so each benchmark item's passage grams recur in every
    * other % 7 carrier — the planted leak the audit must find. The
    * slice is bounded to the original id space (doc_id < 100000 — a
    * no-op at every gate SF): a benchmark is a FIXED set that does not
    * grow with the crawl, so under the 100× replication probe the ref
    * side stays constant and the audit scales linearly in the corpus,
    * exactly as production does. */
  val p45PairContamination: Q = (spark, dir) => {
    // spreadHeavy: the 5-gram set build + containment join is one of the
    // two measured CPU-heavy-per-byte kernels (A/B at 32 cores: 1.24 s
    // spread vs 1.40 s unspread; light keys showed the reverse)
    val docs = Dedup.spreadHeavy(Tables.load(spark, dir, "documents"))
    val aug = docs.select(col("doc_id"), p33FixtureText.as("t"))
    val refs = aug.filter(pmod(col("doc_id"), lit(91)) === 0 &&
        col("doc_id") < 100000L)
      .select(col("doc_id").as("ref_id"), col("t"))
    TextAnalysis.ngramContainment(aug, refs, "t", "doc_id", "ref_id",
        n = 5, minContainment = 0.1)
      .select(col("doc_id"), col("ref_id"), col("n_matched"),
        col("n_ref_grams"), col("containment"))
      .orderBy("doc_id", "ref_id")
  }

  /** p45 oracle: the same planted corpus, string-keyed distinct
    * 5-gram sets, broadcast-shaped join restated as a plain gram join,
    * and the identical count/size double division at the threshold. */
  val p45Sql: String =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    coalesce(text, '')
       |    || CASE WHEN doc_id % 7 = 0 THEN ' $P33Pass1' ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0 THEN ' $P33Pass2' ELSE '' END AS t
       |  FROM documents),
       |tk AS (SELECT doc_id, string_split_regex(trim(lower(t)), '\\s+') AS tk FROM aug),
       |g AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, greatest(len(tk) - 4, 0) + 1),
       |      i -> array_to_string(tk[i:i+4], ' '))) AS grams
       |  FROM tk),
       |rg AS (SELECT doc_id AS ref_id, CAST(len(grams) AS BIGINT) AS n_ref_grams,
       |              unnest(grams) AS gram
       |       FROM g WHERE doc_id % 91 = 0 AND doc_id < 100000),
       |dg AS (SELECT doc_id, unnest(grams) AS gram FROM g)
       |SELECT dg.doc_id, rg.ref_id, CAST(count(*) AS BIGINT) AS n_matched,
       |       rg.n_ref_grams,
       |       count(*)::DOUBLE / rg.n_ref_grams AS containment
       |FROM dg JOIN rg USING (gram)
       |WHERE dg.doc_id <> rg.ref_id
       |GROUP BY dg.doc_id, rg.ref_id, rg.n_ref_grams
       |HAVING count(*)::DOUBLE / rg.n_ref_grams >= 0.1
       |ORDER BY doc_id, ref_id""".stripMargin

  /** p46: span-level duplicate REMOVAL over the p33 planted corpus
    * ([[Dedup.removeDupSpans]], width 8 — the act step on p33's audit:
    * excise every token covered by a corpus-duplicated window; see its
    * scaladoc for the row-local interval-merge reconstruction). */
  val p46SpanRemoval: Q = (spark, dir) => {
    val docs = Dedup.spread(Tables.load(spark, dir, "documents"))
    val aug = docs.select(col("doc_id"), p33FixtureText.as("t"))
    Dedup.removeDupSpans(aug, "t", "doc_id", width = P33Width)
      .orderBy("doc_id")
  }

  /** p46 oracle: the definitionally simple restatement — covered token
    * indices exploded from STRING-keyed duplicated windows, anti-joined
    * against the token stream, surviving tokens string_agg'd in index
    * order (checks the engine's interval-merge reconstruction against
    * the semantics, and a Spark-side xxhash64 window collision would
    * surface as a mismatch). */
  val p46Sql: String =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    coalesce(text, '')
       |    || CASE WHEN doc_id % 7 = 0 THEN ' $P33Pass1' ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0 THEN ' $P33Pass2' ELSE '' END AS t
       |  FROM documents),
       |tk AS (SELECT doc_id, string_split_regex(trim(lower(t)), '\\s+') AS tk FROM aug),
       |w AS (
       |  SELECT doc_id, i - 1 AS pos,
       |         array_to_string(tk[i:i+${P33Width - 1}], ' ') AS win
       |  FROM tk, unnest(range(1, len(tk) - ${P33Width - 2})) AS r(i)),
       |df AS (SELECT win, count(*) AS df FROM w GROUP BY win),
       |cov AS (
       |  SELECT DISTINCT w.doc_id, w.pos + off AS idx
       |  FROM w JOIN df USING (win), unnest(range(0, $P33Width)) r(off)
       |  WHERE df.df > 1),
       |toks AS (
       |  SELECT doc_id, i - 1 AS idx, tk[i] AS tok
       |  FROM tk, unnest(range(1, len(tk) + 1)) r(i)),
       |keptagg AS (
       |  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.idx) AS cleaned
       |  FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.idx = t.idx
       |  WHERE c.idx IS NULL
       |  GROUP BY t.doc_id),
       |ncov AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id),
       |n AS (SELECT doc_id,
       |        CAST(CASE WHEN trim(t) = '' THEN 0
       |             ELSE len(string_split_regex(trim(t), '\\s+')) END AS BIGINT) AS n_tokens
       |      FROM aug)
       |SELECT n.doc_id, n.n_tokens,
       |  CAST(coalesce(ncov.n_removed, 0) AS BIGINT) AS n_removed,
       |  coalesce(keptagg.cleaned, '') AS cleaned
       |FROM n LEFT JOIN keptagg USING (doc_id) LEFT JOIN ncov USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** p47: the per-source corpus REPORT CARD — the dataset-card summary
    * every pretraining run publishes (and the first thing a data owner
    * asks for): per source, document and token totals, distinct-text
    * count (exact-dup signal), Gopher-rule pass count (p41 kernel),
    * language mix (p10 kernel), and mean quality score (p09 kernel) —
    * proof the per-doc analysis kernels compose into corpus-level
    * analytics in ONE group-by.
    *
    * Scale shape: both kernel passes are row-local projections over
    * the corpus; the id-keyed join co-partitions, and the single
    * (source) aggregate is map-side combinable with cardinality =
    * distinct sources. countDistinct(sha256) is the only extra
    * exchange — (source, hash) pairs, the p01 shape. */
  val p47CorpusReport: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val scored = TextAnalysis.qualityMetrics(docs, "text")
      .withColumn("pred_lang", TextAnalysis.languageId(col("text")))
    val g = TextAnalysis.gopherRules(docs, "text", "doc_id",
        minTokens = 30L, maxTokens = 80L)
      .select(col("doc_id"), col("gopher_pass"))
    scored.join(g, Seq("doc_id"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(sha2(coalesce(col("text"), lit("")).cast("binary"), 256))
          .as("n_unique_texts"),
        sum(when(col("gopher_pass"), 1L).otherwise(0L)).as("n_gopher_pass"),
        sum(when(col("pred_lang") === "en", 1L).otherwise(0L)).as("n_en"),
        avg(col("quality_score")).as("mean_quality"))
      .orderBy("source")
  }

  /** p47 oracle: the p09 quality formula, p10 lexicon language id, and
    * p41 integer rule battery (over the RAW corpus — no fixture)
    * composed into the same per-source aggregate; all counts integer,
    * mean_quality under the gate's float tolerance. */
  lazy val p47Sql: String = {
    val scoreCols = langScoreColsSql("nn", ",\n             ")
    val best = langBestSql
    val tieBreak = langTieBreakSql
    val stops = stopwordsSql
    s"""WITH m AS (
       |  SELECT doc_id, source, text,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(CASE WHEN trim(text) = '' THEN 0
       |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
       |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
       |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |      x -> list_contains([$stops], x))) AS n_stop,
       |    length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_wordchars,
       |    string_split_regex(trim(lower(text)), '\\s+') AS tk,
       |    greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1)::DOUBLE AS nn,
       |    regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') AS cjk,
       |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(string_split(text, chr(10)), l -> l LIKE '- %' OR l LIKE '* %')) AS BIGINT) AS n_bullet,
       |    CAST(len(list_filter(string_split(text, chr(10)), l -> l LIKE '%...')) AS BIGINT) AS n_ell_line,
       |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
       |    CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ellipsis,
       |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha
       |  FROM (SELECT * REPLACE (coalesce(text, '') AS text) FROM documents)),
       |q AS (
       |  SELECT doc_id, source, text, n_tokens, cjk,
       |    round(greatest(0.0, least(1.0,
       |      0.5 + 0.5 * least((CASE WHEN n_tokens = 0 THEN 0.0
       |                         ELSE n_stop::DOUBLE / n_tokens END) * 2.5, 1.0)
       |          - 0.5 * (CASE WHEN n_chars = 0 THEN 0.0
       |                   ELSE n_punct::DOUBLE / n_chars END)
       |          - CASE WHEN (CASE WHEN n_tokens = 0 THEN 0.0
       |                       ELSE n_wordchars::DOUBLE / n_tokens END) < 2.0
       |                   OR (CASE WHEN n_tokens = 0 THEN 0.0
       |                       ELSE n_wordchars::DOUBLE / n_tokens END) > 12.0
       |                 THEN 0.25 ELSE 0.0 END)), 6) AS quality_score,
       |    ((n_tokens >= 30 AND n_tokens <= 80)
       |     AND (3 * n_tokens <= n_wordchars AND n_wordchars <= 10 * n_tokens)
       |     AND (10 * (n_hash + n_ellipsis) <= n_tokens)
       |     AND (10 * n_bullet <= 9 * n_lines)
       |     AND (10 * n_ell_line <= 3 * n_lines)
       |     AND (5 * n_alpha >= 4 * n_tokens)
       |     AND (n_stop >= 2)) AS gopher_pass,
       |    $scoreCols
       |  FROM m),
       |pl AS (SELECT *, $best AS best FROM q),
       |pred AS (
       |  SELECT doc_id, source, text, n_tokens, quality_score, gopher_pass,
       |    CASE WHEN cjk THEN 'zh'
       |         WHEN best = 0 THEN 'und'
       |         ELSE (CASE $tieBreak END)
       |    END AS pred_lang
       |  FROM pl)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_unique_texts,
       |  CAST(sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass,
       |  CAST(sum(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       |  avg(quality_score) AS mean_quality
       |FROM pred
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  /** p48: vocabulary coverage report, top-20 ranks
    * ([[TextAnalysis.vocabCoverage]]; one map-side-combined count
    * shuffle + a bounded-histogram rank/cumsum window — see its
    * scaladoc). */
  val p48VocabCoverage: Q = (spark, dir) =>
    TextAnalysis.vocabCoverage(Dedup.spread(Tables.load(spark, dir, "documents")),
        "text", k = 20)
      .orderBy("rank")

  /** p48 oracle: same histogram, same (count DESC, token ASC) total
    * order, same cumulative sums; coverage under the gate's float
    * tolerance. */
  val p48Sql: String =
    """WITH tk AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents),
      |hist AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(tk) AS token FROM tk)
      |  WHERE length(token) > 0
      |  GROUP BY token),
      |tot AS (SELECT sum(n) AS total_n FROM hist),
      |r AS (
      |  SELECT token, n,
      |    CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank,
      |    CAST(sum(n) OVER (ORDER BY n DESC, token
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM hist)
      |SELECT rank, token, n, cum, cum::DOUBLE / total_n AS coverage
      |FROM r, tot
      |WHERE rank <= 20
      |ORDER BY rank""".stripMargin

  /** p49: split-leakage audit — near-duplicate pairs STRADDLING a
    * train/val/test boundary after an iid document-key split: the
    * number every leakage postmortem starts with, and the quantified
    * reason [[Sampling.fold]] supports GROUP keys (split by the dedup
    * cluster's keeper and these pairs vanish by construction). The
    * pair list is p02's LSH candidate set (est_jaccard ≥ 0.2); each
    * side's fold is the p21 10-fold assignment computed ROW-LOCALLY
    * from the pair's own ids (fold is a pure function of (key, seed) —
    * no corpus join, nothing beyond the LSH pair list is ever
    * touched). Returns cross-fold pairs only. */
  val p49SplitLeakage: Q = (spark, dir) => {
    minhashCandsFor(spark, dir)
      .filter(col("est_jaccard") >= 0.2)
      .withColumn("fold0", Sampling.fold(col("id0"), 42L, 10))
      .withColumn("fold1", Sampling.fold(col("id1"), 42L, 10))
      .filter(col("fold0") =!= col("fold1"))
      .select(col("id0"), col("id1"), col("fold0"), col("fold1"),
        round(col("est_jaccard"), 6).as("est_jaccard"))
      .orderBy("id0", "id1")
  }

  /** p49 oracle: the full bit-exact p02 MinHash chain composed with
    * TWO SplitMix64 fold chains (one per pair side, renamed CTEs) —
    * the leaked-pair set restated end-to-end in SQL. */
  lazy val p49Sql: String = {
    val prefix = p02Sql.substring(0, p02Sql.lastIndexOf("SELECT id0, id1,"))
    prefix.stripTrailing() + ",\n" +
      """pairs AS (SELECT id0, id1, ej FROM est WHERE ej >= 0.2),
        |""".stripMargin +
      mixChainSql(
        "SELECT id0, id1, ej, xor(CAST(id0 AS UBIGINT), CAST(42 AS UBIGINT)) AS z FROM pairs",
        p = "fa", hName = "fah", lead = "") + "\n" +
      mixChainSql(
        "SELECT id0, id1, ej, CAST(z % 10 AS BIGINT) AS fold0, xor(CAST(id1 AS UBIGINT), CAST(42 AS UBIGINT)) AS z FROM fah",
        p = "fb", hName = "fbh", lead = "").stripSuffix(",") + "\n" +
      """SELECT id0, id1, fold0, CAST(z % 10 AS BIGINT) AS fold1,
        |       round(ej, 6) AS est_jaccard
        |FROM fbh
        |WHERE fold0 <> CAST(z % 10 AS BIGINT)
        |ORDER BY id0, id1""".stripMargin
  }

  /** p38: the CRAWL-CURATION pipeline end-to-end — the r15 operators
    * composed in CCNet order over the planted-markup corpus, proving
    * they chain the way a pretraining ingest uses them (the crawl
    * companion to p30's hygiene composition):
    *   1. HTML → text ([[TextAnalysis.htmlToText]], p35's fixture);
    *   2. exact P10–P90 length gate over the EXTRACTED corpus
    *      ([[TextAnalysis.lengthQuantileFilter]]);
    *   3. bigram-LM bucket, model trained on the doc_id % 5 == 0
    *      reference slice of the length SURVIVORS
    *      ([[TextAnalysis.bigramLmScore]]; thresholds recalibrated for
    *      extracted text: head ≥ −3.55 > middle ≥ −3.85 > tail, every
    *      score ≥ 7.8e-5 from a threshold at both SFs); tail drops;
    *   4. span-dup statistics over the FINAL surviving corpus
    *      ([[Dedup.spanDupStats]], width 8).
    * Output: one row per surviving doc with its gate evidence. Every
    * stage keeps its own operator's scale shape; the stage joins are
    * id-keyed hash joins (co-partitioned at scale). */
  val p38CrawlCuration: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    // Stage boundaries are materialized AND lineage-truncated (r19,
    // lazy localCheckpoint — the p86 §3.3/§5 treatment): without a
    // boundary the composition re-derives every upstream stage once per
    // downstream branch — the extraction chain alone appears ~60× in
    // the unbounded DAG (gate scans ex 3×, bigramLmScore scans surv 4×,
    // spanDupStats scans fin 2×, and the counts MULTIPLY through the
    // stage joins), turning a ~1 s sum-of-stages into ~11 s; and with a
    // plain cache() every one of the key's ~20 actions still re-ANALYZED
    // the full chain (warm, per-job listener: 2.19 s wall, 1.10 s in jobs).
    // localCheckpoint has the same MEMORY_AND_DISK footprint as the
    // cache it replaces, so the 100× probe regime is unchanged; the
    // boundary is the local analogue of the intermediate parquet
    // checkpoint a cluster-scale ingest writes between curation stages.
    // spreadHeavy: the single-row-group test file gives the scan one
    // task, which would serialize the htmlToText extraction on one core;
    // at cluster scale the scan splits naturally and spread is a no-op.
    // Heavy class — extraction is ~2.4 s of single-core work per 600 KB
    // (A/B at 32 cores: 2.15 s spread vs 2.37 s unspread).
    val ex = Dedup.spreadHeavy(docs).select(col("doc_id"),
      TextAnalysis.htmlToText(p35FixtureHtml).as("extracted"))
      .localCheckpoint(false)
    val gate = TextAnalysis.lengthQuantileFilter(ex, "extracted", "doc_id", 10, 90)
    val surv = ex.join(
      gate.filter(col("kept")).select(col("doc_id"), col("n_tokens")),
      Seq("doc_id")).localCheckpoint(false)
    val lm = TextAnalysis.bigramLmScoreKernel(surv, "extracted", "doc_id",
        refCond = pmod(col("doc_id"), lit(5)) === 0, k = 1.0)
      .withColumn("bucket",
        when(col("lm_logprob").isNull, lit("na"))
          .when(col("lm_logprob") >= -3.55, lit("head"))
          .when(col("lm_logprob") >= -3.85, lit("middle"))
          .otherwise(lit("tail")))
    val fin = surv.join(
      lm.filter(col("bucket").isin("head", "middle"))
        .select(col("doc_id"), col("lm_logprob"), col("bucket")),
      Seq("doc_id")).localCheckpoint(false)
    val span = Dedup.spanDupStats(fin, "extracted", "doc_id", width = 8)
    fin.select(col("doc_id"), col("n_tokens"), col("lm_logprob"), col("bucket"))
      .join(span, Seq("doc_id"))
      .orderBy("doc_id")
  }

  /** p38 oracle: every stage restated in one composed SQL — the shared
    * [[htmlChainCtesSql]] extraction, the integer-arithmetic length
    * thresholds, the add-1 LM over the surviving reference slice, the
    * bucket CASE, and the string-keyed span windows with the
    * gaps-and-islands run length. */
  val p38Sql: String =
    "WITH " + htmlChainCtesSql + ",\n" +
      """n AS (SELECT doc_id, extracted,
       |        CAST(CASE WHEN trim(extracted) = '' THEN 0
       |             ELSE len(string_split_regex(trim(extracted), '\s+')) END AS BIGINT) AS n_tokens
       |      FROM ex),
       |hist AS (SELECT n_tokens AS len, count(*) AS c FROM n GROUP BY 1),
       |cum AS (SELECT len, sum(c) OVER (ORDER BY len) AS cum FROM hist),
       |tot AS (SELECT count(*) AS N FROM n),
       |thr AS (SELECT
       |    min(CASE WHEN cum >= (10 * N + 99) // 100 THEN len END) AS p_lo,
       |    min(CASE WHEN cum >= (90 * N + 99) // 100 THEN len END) AS p_hi
       |  FROM cum, tot),
       |surv AS (SELECT doc_id, extracted, n_tokens FROM n, thr
       |         WHERE n_tokens >= p_lo AND n_tokens <= p_hi),
       |tk AS (SELECT doc_id, string_split_regex(trim(lower(extracted)), '\s+') AS tk FROM surv),
       |ref AS (SELECT * FROM tk WHERE doc_id % 5 = 0),
       |uni AS (SELECT u AS w1, count(*) AS c1
       |        FROM (SELECT unnest(tk) AS u FROM ref) GROUP BY u),
       |v AS (SELECT count(*) AS vocab FROM uni),
       |rb AS (SELECT tk[i] AS w1, tk[i+1] AS w2, count(*) AS c2
       |       FROM ref, unnest(range(1, len(tk))) r(i) GROUP BY 1, 2),
       |db AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
       |       FROM tk, unnest(range(1, len(tk))) r(i)),
       |sc AS (SELECT db.doc_id,
       |        ln((coalesce(rb.c2, 0) + 1.0) /
       |           (coalesce(uni.c1, 0) + (SELECT vocab FROM v))) AS lp
       |      FROM db LEFT JOIN rb USING (w1, w2)
       |              LEFT JOIN uni ON db.w1 = uni.w1),
       |agg AS (SELECT doc_id, avg(lp) AS score FROM sc GROUP BY doc_id),
       |bkt AS (SELECT surv.doc_id, surv.extracted, surv.n_tokens,
       |          agg.score AS lm_logprob,
       |          CASE WHEN agg.score IS NULL THEN 'na'
       |               WHEN agg.score >= -3.55 THEN 'head'
       |               WHEN agg.score >= -3.85 THEN 'middle'
       |               ELSE 'tail' END AS bucket
       |        FROM surv LEFT JOIN agg USING (doc_id)),
       |fin AS (SELECT * FROM bkt WHERE bucket IN ('head', 'middle')),
       |ftk AS (SELECT doc_id, string_split_regex(trim(lower(extracted)), '\s+') AS tk FROM fin),
       |fw AS (SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+7], ' ') AS win
       |       FROM ftk, unnest(range(1, len(tk) - 6)) r(i)),
       |fdf AS (SELECT win, count(*) AS df FROM fw GROUP BY win),
       |fm AS (SELECT fw.doc_id, fw.pos, (fdf.df > 1) AS dup
       |       FROM fw JOIN fdf USING (win)),
       |fruns AS (SELECT doc_id, pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |          FROM fm WHERE dup),
       |frl AS (SELECT doc_id, max(c) AS longest
       |        FROM (SELECT doc_id, grp, count(*) AS c FROM fruns GROUP BY doc_id, grp)
       |        GROUP BY doc_id),
       |ftot AS (SELECT doc_id, count(*) AS n_windows,
       |                sum(CASE WHEN dup THEN 1 ELSE 0 END) AS n_dup
       |         FROM fm GROUP BY doc_id)
       |SELECT f.doc_id, f.n_tokens, f.lm_logprob, f.bucket,
       |  CAST(coalesce(ftot.n_windows, 0) AS BIGINT) AS n_windows,
       |  CAST(coalesce(ftot.n_dup, 0) AS BIGINT) AS n_dup_windows,
       |  CAST(coalesce(frl.longest, 0) AS BIGINT) AS longest_dup_run
       |FROM fin f LEFT JOIN ftot USING (doc_id) LEFT JOIN frl USING (doc_id)
       |ORDER BY f.doc_id""".stripMargin

  /** p32 oracle: same whitespace tokens, 1-based inclusive list slices
    * for the bigrams, same total (count DESC, ngram ASC) order at the
    * k-boundary. */
  val p32Sql: String =
    """WITH t AS (
      |  SELECT string_split_regex(trim(lower(text)), '\s+') AS tk
      |  FROM documents),
      |g AS (
      |  SELECT array_to_string(tk[i:i+1], ' ') AS ngram
      |  FROM t, unnest(range(1, len(tk))) AS r(i))
      |SELECT ngram, count(*)::BIGINT AS n
      |FROM g GROUP BY ngram
      |ORDER BY n DESC, ngram LIMIT 50""".stripMargin

  /** p31 oracle: the same planted corpus ([[urlAugCteSql]]), first-URL
    * domain (both engines return '' on no match — normalized to NULL),
    * NOT IN blocklist, and the cap restated as a row_number over the
    * exact (hash63, doc_id) order — the [[mixChainSql]] SplitMix64
    * restatement seeded like `Sampling.hash63(doc_id, seed)`. */
  val p31Sql: String = {
    val blocked = P31Blocklist.map(d => s"'$d'").mkString(", ")
    s"""WITH aug AS (
       |$urlAugCteSql),
       |dom0 AS (
       |  SELECT doc_id,
       |         regexp_extract(t, '${TextAnalysis.UrlPattern}') AS u
       |  FROM aug),
       |dom AS (
       |  SELECT doc_id,
       |         CASE WHEN u = '' THEN NULL
       |              ELSE regexp_extract(u, 'https?://([^/]+)', 1) END AS domain
       |  FROM dom0),
       |pass AS (
       |  SELECT doc_id, domain FROM dom
       |  WHERE domain IS NULL OR domain NOT IN ($blocked)),
       |${mixChainSql(s"SELECT doc_id, domain, xor(CAST(doc_id AS UBIGINT), CAST($P31Seed AS UBIGINT)) AS z FROM pass WHERE domain IS NOT NULL").drop(5)}
       |rk AS (
       |  SELECT doc_id, domain,
       |         row_number() OVER (PARTITION BY domain ORDER BY z, doc_id) AS rk
       |  FROM h)
       |SELECT doc_id, domain FROM rk WHERE rk <= $P31Cap
       |UNION ALL
       |SELECT doc_id, domain FROM pass WHERE domain IS NULL
       |ORDER BY doc_id""".stripMargin
  }

  /** p29 oracle: the same planted URLs, the same extraction pattern
    * (interpolated from the canonical [[TextAnalysis.UrlPattern]]),
    * domain = host group, URL count + distinct-doc count per domain. */
  val p29Sql: String =
    s"""WITH aug AS (
       |$urlAugCteSql),
       |u AS (
       |  SELECT doc_id, unnest(regexp_extract_all(t, '${TextAnalysis.UrlPattern}')) AS url
       |  FROM aug),
       |d AS (
       |  SELECT doc_id, regexp_extract(url, 'https?://([^/]+)', 1) AS domain
       |  FROM u)
       |SELECT domain, count(*)::BIGINT AS n_urls,
       |       count(DISTINCT doc_id)::BIGINT AS n_docs
       |FROM d GROUP BY domain
       |ORDER BY domain""".stripMargin

  /** p30: the curation pipeline END-TO-END — the flagship composition
    * proving the hygiene operators work TOGETHER the way a pretraining
    * run uses them: quality + language-ID filter (p09/p10 kernels) →
    * exact-dedup keepers (p01) → PII redaction (p25 kernel over the
    * planted fixture) → token count over the REDACTED text (p08) →
    * deterministic train/val/test split (p21). Per-surviving-doc
    * output, every stage restated in the single composed oracle.
    * Scale: filters and kernels row-local; the only wide stages are the
    * dedup hash-group and the doc_id semi-join — p01's own shapes. */
  val p30Curation: Q = (spark, dir) => {
    val docs = Dedup.spread(Tables.load(spark, dir, "documents"))
    val scored = TextAnalysis.qualityMetrics(docs, "text")
      .withColumn("pred_lang", TextAnalysis.languageId(col("text")))
    val filtered = scored
      .filter(col("quality_score") >= 0.5 && col("pred_lang") === "en")
    val kept = Dedup.dedupExact(docs, "text", "doc_id")
      .select("doc_id").join(filtered, Seq("doc_id"))
    val aug = kept.withColumn("t", piiFixtureText)
    val red = TextAnalysis.piiStats(aug, "t")
    val f = Sampling.fold(col("doc_id"), 42L, 10)
    red.select(col("doc_id"),
        when(f < 8, "train").when(f === 8, "val").otherwise("test").as("split"),
        TextAnalysis.tokenCount(col("redacted")).cast("long").as("n_tokens"),
        col("quality_score"))
      .orderBy("doc_id")
  }

  /** p30 oracle: the full composed restatement — p09's quality formula,
    * p10's lexicon language id (with the array_max-over-struct
    * tie-break), p01's sha256 keeper groups, the shared PII fixture +
    * p25's redaction chain, p08's token count over the redacted text,
    * and p21's SplitMix64 fold. */
  lazy val p30Sql: String = {
    val scoreCols = langScoreColsSql("nn", ",\n             ")
    val best = langBestSql
    val tieBreak = langTieBreakSql
    val stopwords = stopwordsSql
    val e = graft.functions.PiiScan.EmailPattern
    val p = graft.functions.PiiScan.PhonePattern
    val i = graft.functions.PiiScan.Ipv4Pattern
    mixChainSql("SELECT doc_id, xor(CAST(doc_id AS UBIGINT), CAST(42 AS UBIGINT)) AS z FROM documents") + s"""
      |fold AS (SELECT doc_id, CAST(z % 10 AS BIGINT) AS f FROM h),
      |m AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(CASE WHEN trim(text) = '' THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens0,
      |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
      |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
      |      x -> list_contains([$stopwords], x))) AS n_stop,
      |    length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_wordchars,
      |    string_split_regex(trim(lower(text)), '\\s+') AS tk,
      |    greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1)::DOUBLE AS nn,
      |    regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') AS cjk
      |  FROM (SELECT * REPLACE (coalesce(text, '') AS text) FROM documents)),
      |q AS (
      |  SELECT doc_id, cjk,
      |    round(greatest(0.0, least(1.0,
      |      0.5 + 0.5 * least((CASE WHEN n_tokens0 = 0 THEN 0.0
      |                         ELSE n_stop::DOUBLE / n_tokens0 END) * 2.5, 1.0)
      |          - 0.5 * (CASE WHEN n_chars = 0 THEN 0.0
      |                   ELSE n_punct::DOUBLE / n_chars END)
      |          - CASE WHEN (CASE WHEN n_tokens0 = 0 THEN 0.0
      |                       ELSE n_wordchars::DOUBLE / n_tokens0 END) < 2.0
      |                   OR (CASE WHEN n_tokens0 = 0 THEN 0.0
      |                       ELSE n_wordchars::DOUBLE / n_tokens0 END) > 12.0
      |                 THEN 0.25 ELSE 0.0 END)), 6) AS quality_score,
      |    $scoreCols
      |  FROM m),
      |pl AS (SELECT doc_id, quality_score, cjk, $best AS best, * FROM q),
      |pred AS (
      |  SELECT doc_id, quality_score,
      |    CASE WHEN cjk THEN 'zh'
      |         WHEN best = 0 THEN 'und'
      |         ELSE (CASE $tieBreak END)
      |    END AS pred_lang
      |  FROM pl),
      |keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
      |k AS (
      |  SELECT d.doc_id, d.text, pr.quality_score
      |  FROM documents d
      |  JOIN pred pr ON pr.doc_id = d.doc_id
      |  JOIN keep ke ON ke.doc_id = d.doc_id
      |  WHERE pr.quality_score >= 0.5 AND pr.pred_lang = 'en'),
      |aug AS (SELECT doc_id, quality_score, $piiAugSqlExpr AS t FROM k),
      |red AS (
      |  SELECT doc_id, quality_score,
      |    regexp_replace(regexp_replace(regexp_replace(t,
      |      '$e', '[EMAIL]', 'g'), '$p', '[PHONE]', 'g'), '$i', '[IP]', 'g') AS rt
      |  FROM aug)
      |SELECT r.doc_id,
      |  CASE WHEN f.f < 8 THEN 'train' WHEN f.f = 8 THEN 'val' ELSE 'test' END AS split,
      |  CAST(CASE WHEN trim(rt) = '' THEN 0
      |       ELSE len(regexp_split_to_array(trim(rt), '\\s+')) END AS BIGINT) AS n_tokens,
      |  r.quality_score
      |FROM red r JOIN fold f ON f.doc_id = r.doc_id
      |ORDER BY r.doc_id""".stripMargin
  }

  /** p24: Gopher-style repetition metrics — the excessive-repetition
    * quality-filter signals (top-unigram fraction, duplicate-bigram
    * fraction) per document, row-local. Blank docs are filtered on BOTH
    * sides (the oracle's WHERE and this filter agree), so the key's row
    * set matches even on a fixture with empty texts; like the other
    * text oracles this relies on the documented space-only-whitespace
    * fixture property (Java trim/\s and DuckDB trim/RE2 \s differ on
    * exotic whitespace). */
  val p24Repetition: Q = (spark, dir) => {
    TextAnalysis.repetitionMetrics(
        Tables.load(spark, dir, "documents")
          .filter(col("text").isNotNull && trim(col("text")) =!= ""), "text")
      .select(col("doc_id"),
        round(col("top_unigram_frac"), 6).as("top_unigram_frac"),
        round(col("dup_bigram_frac"), 6).as("dup_bigram_frac"))
      .orderBy("doc_id")
  }

  val p24Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      |  FROM documents WHERE trim(text) <> ''),
      |u AS (SELECT doc_id, unnest(tk) AS w FROM t),
      |uc AS (SELECT doc_id, w, count(*)::BIGINT AS c FROM u GROUP BY doc_id, w),
      |topu AS (SELECT doc_id, max(c) AS mc, sum(c) AS n FROM uc GROUP BY doc_id),
      |bg AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(tk)),
      |      i -> len(tk[i]) || ':' || tk[i] || tk[i + 1]) AS b
      |  FROM t),
      |bd AS (
      |  SELECT doc_id, len(b)::BIGINT AS tot, len(list_distinct(b))::BIGINT AS dis
      |  FROM bg)
      |SELECT t.doc_id,
      |  round(topu.mc::DOUBLE / topu.n, 6) AS top_unigram_frac,
      |  round(CASE WHEN bd.tot = 0 THEN 0.0
      |             ELSE (bd.tot - bd.dis)::DOUBLE / bd.tot END, 6) AS dup_bigram_frac
      |FROM t JOIN topu USING (doc_id) JOIN bd USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** The PII fixture text: the synthetic corpus carries no PII, so the
    * key plants deterministic emails / phones / IPv4s (and a battery of
    * near-misses — invalid octets, digit-run phones, malformed emails,
    * dotted dates) as pure column arithmetic the oracle restates
    * verbatim. Planted on doc_id residues so densities differ and
    * multi-hit rows exist. */
  private[graft] def piiFixtureText: org.apache.spark.sql.Column = concat(
    col("text"),
    when(pmod(col("doc_id"), lit(3)) === 0,
      concat(lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com"))).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(5)) === 0,
      concat(lit(" call 415-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(7)) === 0,
      concat(lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".0."), pmod(col("doc_id"), lit(100)).cast("string"))).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(11)) === 0,
      lit(" near-misses: 999.999.999.999 1234-567-8901 user@@nope a@b.c 07.08.2025"))
      .otherwise(lit("")))

  /** p25: PII detection/redaction — the hygiene step after dedup (p01/
    * p02) and decontamination (p20): per-doc email/phone/IPv4 match
    * counts plus the redacted text, one row-local codegen'd pass
    * ([[graft.functions.PiiScan]]). Plan-guarded no-ScalaUDF
    * (PlanShapeSpec); the patterns are restated verbatim in the DuckDB
    * oracle (Java regex ↔ RE2 agreement argument in the expression's
    * scaladoc). */
  val p25Pii: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val aug = docs.select(col("doc_id"), piiFixtureText.as("t"))
    TextAnalysis.piiStats(aug, "t")
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ipv4"),
        col("redacted"))
      .orderBy("doc_id")
  }

  /** p25 oracle: the same planted-fixture arithmetic, the same three
    * patterns (interpolated from the canonical [[graft.functions.PiiScan]]
    * constants so engine and oracle cannot drift), counts per pattern
    * over the original text, redaction as the same sequential
    * email→phone→IPv4 replace chain. */
  /** The planted-PII fixture as a SQL expression over (doc_id, text) —
    * shared by the p25 and st09 oracles so the batch and streaming keys
    * restate the identical corpus. */
  private[graft] val piiAugSqlExpr: String =
    """text ||
      |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0 THEN ' near-misses: 999.999.999.999 1234-567-8901 user@@nope a@b.c 07.08.2025' ELSE '' END""".stripMargin

  val p25Sql: String = {
    val e = graft.functions.PiiScan.EmailPattern
    val p = graft.functions.PiiScan.PhonePattern
    val i = graft.functions.PiiScan.Ipv4Pattern
    s"""WITH aug AS (
       |  SELECT doc_id, $piiAugSqlExpr AS t
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$e')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t, '$p')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(t, '$i')) AS BIGINT) AS n_ipv4,
       |  regexp_replace(regexp_replace(regexp_replace(t,
       |    '$e', '[EMAIL]', 'g'), '$p', '[PHONE]', 'g'), '$i', '[IP]', 'g') AS redacted
       |FROM aug
       |ORDER BY doc_id""".stripMargin
  }

  /** The line-carrying fixture for p26: the corpus has no newlines, so
    * the key plants them — each doc keeps its own (unique) text as line
    * 1 and gains boilerplate lines at corpus-wide document frequencies
    * the threshold must separate: a footer on EVERY doc (df=500), a
    * cookie banner on evens (df=250), a copyright on %3 (df≈167) — all
    * > maxDf=50, dropped — and five rare variants (df≈6 each, kept). */
  private def lineFixtureText: org.apache.spark.sql.Column = concat(
    col("text"),
    lit("\nsubscribe to our newsletter today"),
    when(pmod(col("doc_id"), lit(2)) === 0,
      lit("\naccept all cookies to continue")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(3)) === 0,
      lit("\ncopyright 2025 example corp all rights reserved")).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(17)) === 0,
      concat(lit("\nrare footer variant "),
        pmod(col("doc_id"), lit(5)).cast("string"))).otherwise(lit("")))

  /** p26: line-level boilerplate dedup — corpus-wide line document
    * frequency, drop lines with df > 50, reassemble each doc
    * ([[Dedup.lineDedup]]; CCNet/Dolma shape). One map-side-combinable
    * count on the 64-bit line hash + a broadcast membership pass —
    * p01's document-level exact dedup cannot see a line repeated inside
    * otherwise-unique documents. */
  val p26LineDedup: Q = (spark, dir) => {
    val docs = Dedup.spread(Tables.load(spark, dir, "documents"))
    val aug = docs.select(col("doc_id"), lineFixtureText.as("t"))
    Dedup.lineDedup(aug, "t", "doc_id", maxDf = 50L)
      .orderBy("doc_id")
  }

  /** p26 oracle: the same planted lines, document frequency and the
    * drop keyed on the LINE STRING itself (the hash-free restatement —
    * a Spark-side xxhash64 collision would surface as a mismatch
    * here), order-preserving reassembly via list_filter. */
  val p26Sql: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    text || chr(10) || 'subscribe to our newsletter today'
      |    || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'accept all cookies to continue' ELSE '' END
      |    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'copyright 2025 example corp all rights reserved' ELSE '' END
      |    || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'rare footer variant ' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END AS t
      |  FROM documents),
      |l AS (SELECT unnest(string_split(t, chr(10))) AS line FROM aug),
      |boil AS (SELECT line FROM (SELECT line, count(*) AS df FROM l GROUP BY line) WHERE df > 50),
      |ba AS (SELECT coalesce((SELECT list(line) FROM boil), []) AS bl),
      |k AS (
      |  -- the 1-row ba cross-joins in (DuckDB lambdas can reference
      |  -- columns but not subqueries) — the same shape as the Spark
      |  -- side's broadcast cross join
      |  SELECT doc_id, lines, list_filter(lines, x -> NOT list_contains(bl, x)) AS kept
      |  FROM (SELECT doc_id, string_split(t, chr(10)) AS lines FROM aug), ba)
      |SELECT doc_id,
      |  CAST(len(lines) AS BIGINT) AS n_lines,
      |  CAST(len(lines) - len(kept) AS BIGINT) AS n_dropped,
      |  array_to_string(kept, chr(10)) AS cleaned
      |FROM k
      |ORDER BY doc_id""".stripMargin

  // ---- shared DuckDB fragments for the lang-id / quality oracles
  // (p10, p30, and the streaming doc preludes) — one generator, so a
  // lexicon or formula tweak cannot silently diverge between oracles

  /** Per-language score columns over a token array `tk` with the given
    * denominator column. */
  private[graft] def langScoreColsSql(denom: String, sep: String): String =
    TextAnalysis.LangMarkers.map { case (lang, markers) =>
      val set = markers.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(tk, w -> w IN ($set)))::DOUBLE / $denom AS s_$lang"
    }.mkString(sep)

  private[graft] val langBestSql: String =
    s"greatest(${TextAnalysis.LangMarkers.map("s_" + _._1).mkString(", ")})"

  /** Ties resolve to the lexicographically greatest language — Spark's
    * array_max over struct(score, lang) semantics. */
  private[graft] val langTieBreakSql: String = {
    val byNameDesc = TextAnalysis.LangMarkers.map(_._1).sorted.reverse
    byNameDesc.init.map(l => s"WHEN s_$l = best THEN '$l'").mkString(" ") +
      s" ELSE '${byNameDesc.last}'"
  }

  /** The quality-formula stopword list as a SQL array literal (canonical
    * list: [[TextAnalysis.Stopwords]]). */
  private[graft] val stopwordsSql: String =
    TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")

  /** The SplitMix64 finalizer chain in DuckDB over an UBIGINT `z`
    * column seeded by `zeroCte` (same limb arithmetic as the g1..g6
    * winnowing stages); ends with `h` = z >> 1 — the [0, 2^63) hash
    * both engines order and mod identically. */
  /** `p`/`hName` rename the chain's CTEs so the fragment can compose
    * into a WITH clause that already uses m1..m6/h (the p02 chain);
    * `lead` drops the leading WITH for mid-clause composition. */
  /** [[mixChainSql]] for cross-module oracle reuse (st21). */
  private[graft] def mixChainSqlPublic(zeroCte: String): String =
    mixChainSql(zeroCte)

  private def mixChainSql(zeroCte: String, p: String = "m",
      hName: String = "h", lead: String = "WITH "): String =
    s"""|$lead${p}0 AS ($zeroCte),
      |${p}1 AS (SELECT * REPLACE (CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z) FROM ${p}0),
      |${p}2 AS (SELECT * REPLACE (xor(z, z >> 30) AS z) FROM ${p}1),
      |${p}3 AS (SELECT * REPLACE (CAST(((CAST(z & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST(z >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z) FROM ${p}2),
      |${p}4 AS (SELECT * REPLACE (xor(z, z >> 27) AS z) FROM ${p}3),
      |${p}5 AS (SELECT * REPLACE (CAST(((CAST(z & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST(z >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z) FROM ${p}4),
      |${p}6 AS (SELECT * REPLACE (xor(z, z >> 31) AS z) FROM ${p}5),
      |$hName AS (SELECT * REPLACE ((z >> 1) AS z) FROM ${p}6),""".stripMargin

  val p21Sql: String =
    mixChainSql("SELECT doc_id, xor(CAST(doc_id AS UBIGINT), CAST(42 AS UBIGINT)) AS z FROM documents") + """
      |f AS (SELECT doc_id, CAST(z % 10 AS BIGINT) AS fold FROM h)
      |SELECT doc_id, fold,
      |  CASE WHEN fold < 8 THEN 'train' WHEN fold = 8 THEN 'val' ELSE 'test' END AS split
      |FROM f ORDER BY doc_id""".stripMargin

  /** p27 oracle: the shared SplitMix64 chain (h = z in [0, 2^63) where
    * signed and unsigned comparisons coincide), the same weight CASE,
    * floor(w) + the fractional-threshold comparison in UBIGINT (the
    * IEEE double product floor(frac·2⁶³) is bit-identical in both
    * engines), copies via unnest(range(n)). */
  val p27Sql: String =
    mixChainSql("SELECT doc_id, source, xor(CAST(doc_id AS UBIGINT), CAST(99 AS UBIGINT)) AS z FROM documents") + """
      |w AS (SELECT doc_id, source, z,
      |  CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 2.5
      |       WHEN source IN ('src5','src6','src7','src8','src9') THEN 1.0
      |       WHEN source IN ('src10','src11','src12','src13','src14') THEN 0.25
      |       ELSE 0.0 END AS wt FROM h),
      |c AS (SELECT doc_id, source,
      |  CAST(floor(wt) AS BIGINT) +
      |  CASE WHEN z < CAST(floor((wt - floor(wt)) * power(2.0, 63)) AS UBIGINT)
      |       THEN 1 ELSE 0 END AS n
      |  FROM w)
      |SELECT doc_id, source, CAST(u.u AS BIGINT) AS copy_no
      |FROM c, unnest(range(n)) AS u(u)
      |WHERE n >= 1
      |ORDER BY doc_id, copy_no""".stripMargin

  val p22Sql: String =
    mixChainSql("SELECT source, doc_id, xor(CAST(doc_id AS UBIGINT), CAST(7 AS UBIGINT)) AS z FROM documents") + """
      |rk AS (
      |  SELECT source, doc_id,
      |         row_number() OVER (PARTITION BY source ORDER BY z, doc_id) AS rk
      |  FROM h)
      |SELECT source, doc_id FROM rk WHERE rk <= 3
      |ORDER BY source, doc_id""".stripMargin

  /** p20 oracle: the shared winnowing chain through the finalized
    * k-gram hashes, then TRUE (sliding-window) winnowing stated in SQL
    * — signed minimum of every window of 16 consecutive gram hashes (a
    * shorter text contributes its single global minimum), distinct per
    * doc; the benchmark print set from doc_id % 10 = 0; matches via an
    * equi-join on the signed print. The tumbling `win` CTE in the
    * shared prelude belongs to the p11 scalar fingerprint and is unused
    * here — containment needs sliding windows for the coverage
    * guarantee. */
  val p20Sql: String = winnowWinSql + """
      |sg AS (
      |  SELECT doc_id, rid,
      |    CAST(CASE WHEN z >= 9223372036854775808
      |              THEN CAST(z AS HUGEINT) - 18446744073709551616
      |              ELSE CAST(z AS HUGEINT) END AS BIGINT) AS sz
      |  FROM g6),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sg GROUP BY doc_id),
      |winmin AS (
      |  SELECT doc_id, rid,
      |    min(sz) OVER (PARTITION BY doc_id ORDER BY rid
      |      ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS m
      |  FROM sg),
      |prints AS (
      |  SELECT DISTINCT w.doc_id, w.m
      |  FROM winmin w JOIN cnt c USING (doc_id)
      |  WHERE w.rid <= c.n - 16 OR (c.n < 16 AND w.rid = 0)),
      |refs AS (SELECT DISTINCT m FROM prints WHERE doc_id % 10 = 0),
      |scan AS (SELECT doc_id, m FROM prints WHERE doc_id % 10 <> 0),
      |tot AS (SELECT doc_id, count(*)::BIGINT AS n_prints FROM scan GROUP BY doc_id),
      |mt AS (
      |  SELECT s.doc_id, count(*)::BIGINT AS n_matched
      |  FROM scan s JOIN refs r ON s.m = r.m
      |  GROUP BY s.doc_id)
      |SELECT mt.doc_id, mt.n_matched, t.n_prints,
      |       round(mt.n_matched::DOUBLE / t.n_prints, 6) AS contamination
      |FROM mt JOIN tot t USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // synthetic PNG payloads fabricated once per dir — the p12/p13 queries
  // measure the decode/sample operators, not test-data encoding, so the
  // fixture has session lifetime
  private def mediaFor(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.media.getOrElseUpdate(dir) {
      // bounded media fixture: real payloads scale with the corpus; the
      // fabricated PNGs cap at 5k so fixture encoding stays a fixture.
      // Repartition first — the docs parquet is a single file/partition
      // and per-row codec work must spread across cores.
      val docs = Tables.load(spark, dir, "documents").filter(col("doc_id") <= 5000)
        .repartition(spark.sparkContext.defaultParallelism)
      val m = Multimodal.syntheticMedia(docs).cache()
      m.count()
      m
    }

  /** Prime the synthetic-media fixture (PNG fabrication is test-data
    * encoding, not the decode/sample operators p12/p13 measure). */
  def warmMedia(spark: SparkSession, dir: String): Unit = { mediaFor(spark, dir); () }

  /** p12: multimodal decode/features — REAL PNG decode via javax.imageio
    * over binary payloads (row-local; bytes never shuffle). */
  val p12MultimodalFeatures: Q = (spark, dir) => {
    Multimodal.extractFeatures(mediaFor(spark, dir), "doc_id", "media").toDF()
      .select(col("doc_id"), col("width"), col("height"), col("n_bytes"),
        round(col("mean_byte"), 6).as("mean_byte"))
      .orderBy("doc_id")
  }

  /** p13: frame sampling (1-in-4 fixed-size frames) over binary payloads. */
  val p13MultimodalFrames: Q = (spark, dir) => {
    Multimodal.sampleFrames(mediaFor(spark, dir), "doc_id", "media").toDF()
      .orderBy("doc_id", "frame_no")
  }

  /** Checked-in multimodal decode fixture (graft.tools.MediaFixture):
    * real PNGs with closed-form pixel statistics stored alongside. */
  private[graft] val MediaFixturePath = sys.env.getOrElse("GRAFT_MEDIA_FIXTURE",
    "/root/repo/fixtures/media_fixture.parquet")

  /** p17: the p12 decode kernel against the checked-in fixture — the
    * DuckDB oracle compares decoded (width, height, mean luminance,
    * histogram) to the fixture's analytically-derived expectations,
    * giving the imageio-path its hash-match gate (p12/p13 stay rows-only
    * over the synthetic corpus payloads, whose statistics have no closed
    * form). PNG is lossless and the luminance is integer arithmetic, so
    * equality is exact. */
  val p17MultimodalOracle: Q = (spark, dir) => {
    val fx = spark.read.parquet(MediaFixturePath)
    Multimodal.extractFeatures(fx, "doc_id", "media").toDF()
      .filter(col("decoded"))
      .select(col("doc_id"), col("width"), col("height"), col("n_bytes"),
        round(col("mean_byte"), 6).as("mean_byte"),
        element_at(col("byte_hist4"), 1).as("h0"),
        element_at(col("byte_hist4"), 2).as("h1"),
        element_at(col("byte_hist4"), 3).as("h2"),
        element_at(col("byte_hist4"), 4).as("h3"))
      .orderBy("doc_id")
  }

  // DuckDB needs a glob for the directory-style parquet Spark writes
  val p17Sql: String =
    s"""SELECT doc_id, width, height, n_bytes, mean_byte, h0, h1, h2, h3
       |FROM read_parquet('$MediaFixturePath/*.parquet')
       |ORDER BY doc_id""".stripMargin

  /** p50: perceptual image hashing (dHash) against the checked-in media
    * fixture — the image-dedup rung of the multimodal path
    * ([[Multimodal.dHash64]]: 9×8 integer-binned luminance pooling,
    * exact cross-multiplied neighbor comparisons). The fixture stores
    * the ANALYTIC expectation computed from each pattern's closed-form
    * luminance function (never from PNG bytes), so the decode + pooling
    * pipeline is gated end-to-end; sub-grid images (w < 9 or h < 8)
    * pin the undefined path. Near-dup IMAGE pairs are then
    * [[Dedup.simHashPairs]]'s pigeonhole machinery over this column. */
  val p50ImageDhash: Q = (spark, dir) => {
    val fx = spark.read.parquet(MediaFixturePath)
    Multimodal.perceptualHashes(fx, "doc_id", "media").toDF()
      .select(col("doc_id"), col("defined"), col("dhash"))
      .orderBy("doc_id")
  }

  /** p50 oracle: the stored pattern-derived expectations. */
  val p50Sql: String =
    s"""SELECT doc_id, dhash_defined AS defined, dhash
       |FROM read_parquet('$MediaFixturePath/*.parquet')
       |ORDER BY doc_id""".stripMargin

  /** p51: image near-duplicate PAIRS — [[Dedup.hammingPairs]] (the
    * SimHash pigeonhole machinery generalized to any 64-bit signature)
    * over the p50 dHash column, Hamming ≤ 2, on the media fixture.
    * Identical-pattern fixtures (all valid solids and the monotone
    * gradients hash to 0; repeated checker patterns share their exact
    * bit pattern) must pair up exactly; everything else is far apart.
    * The oracle is the definitionally simple brute force: a self-join
    * on the STORED pattern-derived hashes with bit_count(xor) ≤ 2 —
    * the engine's bucketed emission must equal it exactly (recall 1.0
    * by pigeonhole, precision by the Hamming prune). */
  val p51ImageNearDup: Q = (spark, dir) => {
    val fx = spark.read.parquet(MediaFixturePath)
    val hashed = Multimodal.perceptualHashes(fx, "doc_id", "media").toDF()
      .filter(col("defined"))
    Dedup.hammingPairs(hashed, "doc_id", "dhash", maxHamming = 2)
      .orderBy("id0", "id1")
  }

  /** p51 oracle: brute-force Hamming join over the stored analytic
    * hashes (36 rows — the quadratic is the oracle's to pay). */
  val p51Sql: String =
    s"""WITH h AS (
       |  SELECT doc_id, dhash FROM read_parquet('$MediaFixturePath/*.parquet')
       |  WHERE dhash_defined)
       |SELECT a.doc_id AS id0, b.doc_id AS id1,
       |       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
       |FROM h a JOIN h b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.dhash, b.dhash)) <= 2
       |ORDER BY id0, id1""".stripMargin

  /** p19: the p13 frame-sampling operator against the checked-in media
    * fixture — frame boundaries AND the FNV-1a-64+mix frame checksum
    * reproduced independently in DuckDB (UBIGINT limb arithmetic over
    * hex(blob), the st04 machinery), giving frame sampling its
    * hash-match gate. p13 stays rows-only over the per-dir synthetic
    * payloads; 16-byte frames at stride 2 force the multi-frame +
    * ragged-tail path on the fixture's ~70-byte payloads. */
  val p19FramesOracle: Q = (spark, dir) => {
    val fx = spark.read.parquet(MediaFixturePath)
    Multimodal.sampleFrames(fx, "doc_id", "media", frameSize = 16, stride = 2)
      .toDF()
      .orderBy("doc_id", "frame_no")
  }

  lazy val p19Sql: String = {
    // wrapping 64-bit ops in DuckDB: multiply via 32-bit limbs in
    // HUGEINT, add mod 2^64, logical shift on UBIGINT — identical to
    // the st04 oracle's reproduction of DetRngHash
    val fnvStep = "(acc, c) -> CAST(((CAST((xor(acc, c)) & 4294967295 AS " +
      "HUGEINT) * 1099511628211) + ((CAST((xor(acc, c)) >> 32 AS HUGEINT) * " +
      "1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT)"
    s"""WITH fx AS (
       |  SELECT doc_id, hex(media) AS hx, octet_length(media) AS n
       |  FROM read_parquet('$MediaFixturePath/*.parquet')),
       |fr AS (
       |  SELECT doc_id, CAST(unnest(range(CAST((n + 15) // 16 AS INT))) AS INT) AS frame_no, hx
       |  FROM fx),
       |ch AS (
       |  SELECT doc_id, frame_no, substr(hx, frame_no*32 + 1, 32) AS chx
       |  FROM fr WHERE frame_no % 2 = 0),
       |byt AS (
       |  SELECT doc_id, frame_no, CAST(length(chx) // 2 AS INT) AS n_bytes,
       |    list_transform(range(CAST(length(chx) // 2 AS INT)), j ->
       |      CAST(strpos('123456789ABCDEF', substr(chx, CAST(2*j+1 AS INT), 1))*16 +
       |           strpos('123456789ABCDEF', substr(chx, CAST(2*j+2 AS INT), 1)) AS UBIGINT)) AS bs
       |  FROM ch),
       |h0 AS (
       |  SELECT doc_id, frame_no, n_bytes,
       |    list_reduce(list_prepend(CAST(14695981039346656037 AS UBIGINT), bs), $fnvStep) AS z
       |  FROM byt),
       |g1 AS (SELECT doc_id, frame_no, n_bytes, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM h0),
       |g2 AS (SELECT doc_id, frame_no, n_bytes, xor(z, z >> 30) AS z FROM g1),
       |g3 AS (SELECT doc_id, frame_no, n_bytes, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM g2),
       |g4 AS (SELECT doc_id, frame_no, n_bytes, xor(z, z >> 27) AS z FROM g3),
       |g5 AS (SELECT doc_id, frame_no, n_bytes, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM g4),
       |g6 AS (SELECT doc_id, frame_no, n_bytes, xor(z, z >> 31) AS z FROM g5)
       |SELECT doc_id, frame_no, n_bytes,
       |  CAST(CASE WHEN z >= 9223372036854775808
       |            THEN CAST(z AS HUGEINT) - 18446744073709551616
       |            ELSE CAST(z AS HUGEINT) END AS BIGINT) AS checksum
       |FROM g6 ORDER BY doc_id, frame_no""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "p01_dedup_exact" -> p01DedupExact,
    "p02_minhash_lsh" -> p02MinHashLsh,
    "p03_simhash" -> p03SimHash,
    "p04_ngram_jaccard" -> p04NgramJaccard,
    "p05_cosine_near_dup" -> p05CosineNearDup,
    "p06_ann_topk" -> p06AnnTopK,
    "p07_ann_ivf" -> p07AnnIvf,
    "p08_token_count" -> p08TokenCount,
    "p09_quality" -> p09Quality,
    "p10_lang_id" -> p10LangId,
    "p11_fingerprint" -> p11Fingerprint,
    "p20_contamination" -> p20Contamination,
    "p21_split" -> p21Split,
    "p22_stratified" -> p22Stratified,
    "p23_sequence_pack" -> p23SequencePack,
    "p24_repetition" -> p24Repetition,
    "p25_pii" -> p25Pii,
    "p26_line_dedup" -> p26LineDedup,
    "p27_weighted_mix" -> p27WeightedMix,
    "p28_dedup_materialize" -> p28DedupMaterialize,
    "p29_domain_stats" -> p29DomainStats,
    "p31_domain_cap" -> p31DomainCap,
    "p32_top_ngrams" -> p32TopNgrams,
    "p33_span_dedup" -> p33SpanDup,
    "p34_lm_quality" -> p34LmQuality,
    "p35_html_extract" -> p35HtmlExtract,
    "p36_length_filter" -> p36LengthFilter,
    "p37_tfidf_terms" -> p37Tfidf,
    "p38_crawl_curation" -> p38CrawlCuration,
    "p39_token_budget" -> p39TokenBudget,
    "p40_semdedup" -> p40SemDedup,
    "p41_gopher_rules" -> p41GopherRules,
    "p42_doc_chunks" -> p42DocChunks,
    "p43_url_canonical" -> p43UrlCanonical,
    "p44_bm25" -> p44Bm25,
    "p45_pair_contamination" -> p45PairContamination,
    "p46_span_removal" -> p46SpanRemoval,
    "p47_corpus_report" -> p47CorpusReport,
    "p48_vocab_coverage" -> p48VocabCoverage,
    "p49_split_leakage" -> p49SplitLeakage,
    "p50_image_dhash" -> p50ImageDhash,
    "p51_image_near_dup" -> p51ImageNearDup,
    "p52_url_frontier" -> p52UrlFrontier,
    "p53_quality_classifier" -> p53QualityClassifier,
    "p54_bpe_train" -> p54BpeTrain,
    "p54_bpe_segment" -> p54BpeSegment,
    "p55_incremental_dedup" -> p55IncrementalDedup,
    "p56_bpe_tokenize" -> p56BpeTokenize,
    "p57_quality_keeper" -> p57QualityKeeper,
    "p58_sq8_ann" -> p58Sq8Ann,
    "p59_lang_fertility" -> p59LangFertility,
    "p60_jsonl_ingest" -> p60JsonlIngest,
    "p61_near_dup_increment" -> p61NearDupIncrement,
    "p62_ivf_sq8_ann" -> p62IvfSq8Ann,
    "p63_sharded_sink" -> p63ShardedSink,
    "p64_audio_fingerprint" -> p64AudioFingerprint,
    "p65_audio_near_dup" -> p65AudioNearDup,
    "p66_embed_increment" -> p66EmbedIncrement,
    "p67_gopher_repetition" -> p67GopherRepetition,
    "p68_c4_filter" -> p68C4Filter,
    "p69_group_split" -> p69GroupSplit,
    "p70_warc_ingest" -> p70WarcIngest,
    "p71_warc_curation" -> p71WarcCuration,
    "p72_video_frame_hashes" -> p72VideoFrameHashes,
    "p73_video_near_dup" -> p73VideoNearDup,
    "p74_dsir_select" -> p74DsirSelect,
    "p75_bloom_decontaminate" -> p75BloomDecontaminate,
    "p76_hll_cardinality" -> p76HllCardinality,
    "p77_blocklist_filter" -> p77BlocklistFilter,
    "p78_token_bin_export" -> p78TokenBinExport,
    "p79_cms_heavy_hitters" -> p79CmsHeavyHitters,
    "p80_pack_split" -> p80PackSplit,
    "p81_robots_gate" -> p81RobotsGate,
    "p82_filter_ablation" -> p82FilterAblation,
    "p83_ivf_increment" -> p83IvfIncrement,
    "p84_nfc_normalize" -> p84NfcNormalize,
    "p85_nfkc_normalize" -> p85NfkcNormalize,
    "p86_crawl_chain" -> p86CrawlChain,
    "p87_quantile_sketch" -> p87QuantileSketch,
    "p88_temperature_mix" -> p88TemperatureMix,
    "p89_lsh_recall" -> p89LshRecall,
    "p90_lsh_precision" -> p90LshPrecision,
    "p91_kmeans_train" -> p91KmeansTrain,
    "p92_ccnet_buckets" -> p92CcnetBuckets,
    "p93_random_projection" -> p93RandomProjection,
    "p94_schema_evolution" -> p94SchemaEvolution,
    "p95_cluster_sample" -> p95ClusterSample,
    "p96_cluster_purity" -> p96ClusterPurity,
    "p97_ivf_recall" -> p97IvfRecall,
    "p30_curation" -> p30Curation,
    "p12_multimodal_features" -> p12MultimodalFeatures,
    "p13_multimodal_frames" -> p13MultimodalFrames,
    "p14_ngram_jaccard_exact" -> p14NgramJaccardExact,
    "p15_ann_ivf_exact" -> p15AnnIvfExact,
    "p16_subword_count" -> p16SubwordCount,
    "p17_multimodal_oracle" -> p17MultimodalOracle,
    "p18_dedup_components" -> p18DedupComponents,
    "p19_frames_oracle" -> p19FramesOracle)

  /** p10 oracle: same lexicons, same scoring, same tie-break. Spark's
    * array_max over struct(score, lang) resolves score ties by the
    * lexicographically greatest lang, so the CASE tests langs in
    * descending name order. The CJK override uses the common Han block
    * (both engines' regex classes agree on the fixture corpus). */
  val p10Sql: String = {
    val scoreCols = langScoreColsSql("n", ",\n         ")
    val best = langBestSql
    val tieBreak = langTieBreakSql
    s"""WITH t AS (
       |  SELECT lang,
       |         string_split_regex(trim(lower(text)), '\\s+') AS tk,
       |         greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1)::DOUBLE AS n,
       |         regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') AS cjk
       |  FROM (SELECT * REPLACE (coalesce(text, '') AS text) FROM documents)),
       |s AS (
       |  SELECT lang, cjk,
       |         $scoreCols
       |  FROM t),
       |b AS (
       |  SELECT lang, cjk, $best AS best, * FROM s),
       |p AS (
       |  SELECT lang,
       |    CASE WHEN cjk THEN 'zh'
       |         WHEN best = 0 THEN 'und'
       |         ELSE (CASE $tieBreak END)
       |    END AS pred_lang
       |  FROM b)
       |SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
       |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }


  /** p11 oracle: the winnowing kernel (rolling Rabin-Karp k=8-gram
    * hashes with Java 64-bit wraparound, splitmix64 finalizer, window-16
    * signed minima, XOR combine) reproduced bit-exactly in DuckDB —
    * UBIGINT carries the unsigned state (xor/shift), the two wrapping
    * multiplies split into 32-bit limbs in HUGEINT mod 2^64, signed
    * minima order by xor with the top bit, and the final value converts
    * back to two's-complement BIGINT. Documents are ASCII, so DuckDB
    * codepoints coincide with the JVM's UTF-16 units. Stage-per-CTE
    * keeps every intermediate reference linear. */
  /** The winnowing derivation chain through the per-window signed
    * minima (`win`: one row per (doc, window) with the finalized k-gram
    * minimum) — shared by the p11 and p20 oracles. */
  // lazy: referenced by p20Sql, which (as an object val) initializes
  // before this declaration is reached
  private lazy val winnowWinSql: String =
    """|WITH d AS (
      |  SELECT doc_id, lower(text) AS s, length(text) AS L FROM documents),
      |pos AS (
      |  SELECT doc_id, s, CAST(unnest(range(0, L - 7)) AS BIGINT) AS rid FROM d),
      |h0 AS (
      |  SELECT doc_id, rid, CAST((CAST(ascii(substr(s, rid+1, 1)) AS HUGEINT) * 74051159531521793 + CAST(ascii(substr(s, rid+2, 1)) AS HUGEINT) * 288136807515649 + CAST(ascii(substr(s, rid+3, 1)) AS HUGEINT) * 1121154893057 + CAST(ascii(substr(s, rid+4, 1)) AS HUGEINT) * 4362470401 + CAST(ascii(substr(s, rid+5, 1)) AS HUGEINT) * 16974593 + CAST(ascii(substr(s, rid+6, 1)) AS HUGEINT) * 66049 + CAST(ascii(substr(s, rid+7, 1)) AS HUGEINT) * 257 + CAST(ascii(substr(s, rid+8, 1)) AS HUGEINT) * 1) % 18446744073709551616 AS UBIGINT) AS z
      |  FROM pos),
      |g1 AS (SELECT doc_id, rid, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM h0),
      |g2 AS (SELECT doc_id, rid, xor(z, z >> 30) AS z FROM g1),
      |g3 AS (SELECT doc_id, rid, CAST(((CAST(z & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST(z >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM g2),
      |g4 AS (SELECT doc_id, rid, xor(z, z >> 27) AS z FROM g3),
      |g5 AS (SELECT doc_id, rid, CAST(((CAST(z & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST(z >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM g4),
      |g6 AS (SELECT doc_id, rid, xor(z, z >> 31) AS z FROM g5),
      |win AS (
      |  SELECT doc_id, rid // 16 AS wid,
      |         min_by(z, xor(z, CAST(9223372036854775808 AS UBIGINT))) AS zmin
      |  FROM g6 GROUP BY doc_id, rid // 16),""".stripMargin

  val p11Sql: String = winnowWinSql + """
      |w0 AS (
      |  SELECT doc_id, wid AS rid,
      |         CAST((CAST(zmin AS HUGEINT) + wid * 16) % 18446744073709551616 AS UBIGINT) AS z
      |  FROM win),
      |w1 AS (SELECT doc_id, rid, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM w0),
      |w2 AS (SELECT doc_id, rid, xor(z, z >> 30) AS z FROM w1),
      |w3 AS (SELECT doc_id, rid, CAST(((CAST(z & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST(z >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM w2),
      |w4 AS (SELECT doc_id, rid, xor(z, z >> 27) AS z FROM w3),
      |w5 AS (SELECT doc_id, rid, CAST(((CAST(z & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST(z >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM w4),
      |w6 AS (SELECT doc_id, rid, xor(z, z >> 31) AS z FROM w5),
      |fp AS (SELECT doc_id, bit_xor(z) AS u FROM w6 GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CASE WHEN fp.u IS NULL THEN NULL
      |       WHEN fp.u >= 9223372036854775808 THEN CAST(CAST(fp.u AS HUGEINT) - 18446744073709551616 AS BIGINT)
      |       ELSE CAST(fp.u AS BIGINT) END AS fingerprint
      |FROM d LEFT JOIN fp USING (doc_id)
      |ORDER BY doc_id""".stripMargin


  /** p03 oracle: the SimHash kernel (FNV-1a 64 over token bytes +
    * splitmix64 finalizer, seed-xor, second finalizer, 64 bit-votes,
    * sign) reproduced bit-exactly in DuckDB — list_reduce folds the
    * FNV state per token with the wrapping multiply split into 32-bit
    * limbs in HUGEINT mod 2^64, the finalizer runs as stage-per-CTE over
    * exploded token rows, bit votes explode 64 rows per token, and the
    * Hamming-<=6 pair set brute-forces over the 500-doc self-join
    * (recall 1.0 = the pigeonhole bucketing's own guarantee; the 4096
    * bucket cap never binds at this scale). Documents are ASCII with
    * space-only whitespace, so regexp \s+ and JVM split agree. */
  val p03Sql: String =
    """|WITH d AS (
      |  SELECT doc_id, lower(trim(text)) AS s FROM documents),
      |tk AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(s, '\s+'), x -> x <> '') AS toks
      |  FROM d),
      |tok AS (
      |  SELECT doc_id, CAST(i.i AS INTEGER) AS tid, toks[CAST(i.i AS INTEGER)] AS tok
      |  FROM tk, unnest(range(1, len(toks) + 1)) AS i(i)),
      |f0 AS (
      |  SELECT doc_id, tid,
      |    list_reduce(
      |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
      |        list_transform(range(1, length(tok) + 1),
      |          j -> CAST(ascii(substr(tok, CAST(j AS INTEGER), 1)) AS UBIGINT))),
      |      (acc, c) -> CAST(((CAST((xor(acc, c)) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(acc, c)) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT)) AS z
      |  FROM tok),
      |t1 AS (SELECT doc_id, tid, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM f0),
      |t2 AS (SELECT doc_id, tid, xor(z, z >> 30) AS z FROM t1),
      |t3 AS (SELECT doc_id, tid, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM t2),
      |t4 AS (SELECT doc_id, tid, xor(z, z >> 27) AS z FROM t3),
      |t5 AS (SELECT doc_id, tid, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM t4),
      |t6 AS (SELECT doc_id, tid, xor(z, z >> 31) AS z FROM t5),
      |x0 AS (SELECT doc_id, tid, xor(z, CAST(42 AS UBIGINT)) AS z FROM t6),
      |u1 AS (SELECT doc_id, tid, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM x0),
      |u2 AS (SELECT doc_id, tid, xor(z, z >> 30) AS z FROM u1),
      |u3 AS (SELECT doc_id, tid, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM u2),
      |u4 AS (SELECT doc_id, tid, xor(z, z >> 27) AS z FROM u3),
      |u5 AS (SELECT doc_id, tid, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM u4),
      |u6 AS (SELECT doc_id, tid, xor(z, z >> 31) AS z FROM u5),
      |bits AS (
      |  SELECT doc_id, CAST(b.b AS INTEGER) AS b,
      |    sum(CASE WHEN ((z >> CAST(b.b AS INTEGER)) & 1) = 1 THEN 1 ELSE -1 END) AS v
      |  FROM u6, unnest(range(0, 64)) AS b(b)
      |  GROUP BY doc_id, b.b),
      |sims AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN v > 0 THEN CAST(CAST(1 AS UBIGINT) << b AS HUGEINT) ELSE 0 END) AS UBIGINT) AS u
      |  FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS id0, b.doc_id AS id1,
      |       CAST(bit_count(xor(a.u, b.u)) AS INTEGER) AS hamming
      |FROM sims a, sims b
      |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.u, b.u)) <= 6
      |ORDER BY id0, id1""".stripMargin


  /** p02 oracle: the full MinHash+LSH candidate pipeline reproduced
    * bit-exactly in DuckDB — per-token FNV-1a+splitmix64 hashes
    * (list_reduce fold, wrapping multiplies as 32-bit limbs in HUGEINT
    * mod 2^64), per-window shingle FNV over the token-hash list, the
    * one-permutation bin/value split ((h>>>1)%128, mix(h^golden)),
    * signed per-bin minima (min_by on the top-bit-flipped key),
    * rotational densification as nearest-filled-bin-upward (the closed
    * form of the kernel's right-to-left pass), band collision as
    * slice equality (band xxhash64 equality ⟺ slice equality), and
    * signature agreement / 128 as the estimate. The 64-entry bucket
    * cap never binds at this scale, so the brute-force band join is
    * the same candidate set. */
  /** The p89 plant: documents on the % 5 == 0 class get SYNTHETIC
    * 20-token texts with ANALYTIC pairwise Jaccard — doc 10m and doc
    * 10m+5 share their first sh(m) tokens (sh cycles 10/14/16/18 by
    * decade), so each pair's exact 3-gram Jaccard is
    * (sh−2)/(36−(sh−2)) = 0.286/0.5/0.636/0.8 — one planted value per
    * similarity band, tokens namespaced per decade so cross-decade
    * pairs sit at 0. The natural corpus has too few ≥0.2 pairs to
    * exercise every band (measured: 25–28 corpus-wide), which is why
    * the audit's fixture is planted (the p51/p65 analytic-fixture
    * discipline). */
  private[graft] def p89FixtureText: org.apache.spark.sql.Column = {
    val d = col("doc_id")
    val g = expr("doc_id div 10")
    val sh = element_at(typedLit(Seq(10, 14, 16, 18)),
      pmod(g, lit(4)).cast("int") + 1)
    val tok = transform(sequence(lit(0), lit(19)), j =>
      concat(
        when(pmod(d, lit(10)) === 5 && j >= sh, lit("v")).otherwise(lit("w")),
        g.cast("string"), lit("x"), j.cast("string")))
    when(pmod(d, lit(5)) === 0, array_join(tok, " "))
      .otherwise(coalesce(col("text"), lit("")))
  }

  /** p89: LSH recall audit ([[Dedup.lshRecallAudit]]) — the measured
    * recall S-curve of the production MinHash banding (32 bands × 4
    * rows, est ≥ 0.2) against exact n-gram-Jaccard truth on the
    * planted audit slice: per similarity band, how many true pairs
    * the bucketing actually caught. The number a curation team tunes
    * b × r against — theory says 1−(1−s⁴)³² ≈ 0.19/0.87/0.996/1.0 at
    * the four planted similarities; the audit MEASURES it behind an
    * exact oracle. */
  /** The audit-fixture candidate table p89 AND p90 both read — the two
    * halves of the banding tuning report share one production candidate
    * run (both audits accept a materialized-candidate input for exactly
    * this reason; regenerating the corpus-wide LSH per half doubled the
    * suite's audit cost). Memoized like [[minhashCandsFor]], in the same
    * pass-lifetime slot. */
  private def p89CandsFor(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.minhashCands.getOrElseUpdate(dir + "#p89") {
      val aug = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), p89FixtureText.as("t"))
      val c = Dedup.minHashCandidates(aug, "t", "doc_id", minEstJaccard = 0.2)
        .cache()
      c.count()
      c
    }

  // lazy: defined after the queries map in object-init order
  lazy val p89LshRecall: Q = (spark, dir) => {
    val aug = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), p89FixtureText.as("t"))
    // the slice bound keeps the deliberate quadratic truth stage a
    // SAMPLE at every SF (500 docs -> 125k exact pairs at sf0.1)
    Dedup.lshRecallAudit(aug, "t", "doc_id",
        pmod(col("doc_id"), lit(5)) === 0 && col("doc_id") < 2500,
        candidates = Some(p89CandsFor(spark, dir)))
      .orderBy("band")
  }

  /** p89 oracle: the planted texts reconstructed in SQL, the FULL p02
    * signature/banding chain over the same augmented corpus (the
    * pluggable [[p02ChainSql]]), exact 3-gram Jaccard truth over the
    * slice pairs (the p14 restatement), and the band cross-tab. */
  lazy val p89Sql: String =
    """|WITH aug AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN
      |      array_to_string(list_transform(range(0, 20), j ->
      |        (CASE WHEN doc_id % 10 = 5
      |              AND j >= ([10, 14, 16, 18])[CAST((doc_id // 10) % 4 AS INTEGER) + 1]
      |         THEN 'v' ELSE 'w' END)
      |        || CAST(doc_id // 10 AS VARCHAR) || 'x' || CAST(j AS VARCHAR)), ' ')
      |    ELSE coalesce(text, '') END AS t
      |  FROM documents),
      |ca AS (
      |  SELECT id0, id1 FROM (
      |""".stripMargin +
    p02ChainSql("  SELECT doc_id, lower(trim(t)) AS s FROM aug WHERE trim(t) <> ''") + """
      |SELECT id0, id1 FROM est WHERE ej >= 0.2
      |  ) cs),
      |gd AS (SELECT doc_id, string_split_regex(trim(lower(t)), '\s+') AS gtk
      |       FROM aug WHERE doc_id % 5 = 0 AND doc_id < 2500),
      |gg AS (SELECT doc_id,
      |         list_distinct(list_transform(range(1, greatest(len(gtk) - 2, 0) + 1),
      |           i -> gtk[i] || ' ' || gtk[i + 1] || ' ' || gtk[i + 2])) AS grams
      |       FROM gd WHERE len(gtk) >= 3),
      |tr0 AS (
      |  SELECT a.doc_id AS id0, b.doc_id AS id1,
      |    len(list_intersect(a.grams, b.grams))::DOUBLE /
      |    len(list_distinct(list_concat(a.grams, b.grams))) AS j
      |  FROM gg a JOIN gg b ON a.doc_id < b.doc_id),
      |tr AS (SELECT * FROM tr0 WHERE j >= 0.2),
      |jn AS (SELECT tr.j, (ca.id0 IS NOT NULL) AS c
      |       FROM tr LEFT JOIN ca USING (id0, id1)),
      |bd AS (SELECT CASE WHEN j < 0.4 THEN 'j_0.20_0.40'
      |                   WHEN j < 0.6 THEN 'j_0.40_0.60'
      |                   WHEN j < 0.8 THEN 'j_0.60_0.80'
      |                   ELSE 'j_0.80_1.00' END AS band, c FROM jn),
      |u AS (SELECT * FROM bd UNION ALL SELECT '*' AS band, c FROM bd)
      |SELECT band, CAST(count(*) AS BIGINT) AS n_true,
      |  CAST(sum(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
      |  round(sum(CASE WHEN c THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS recall
      |FROM u GROUP BY band ORDER BY band""".stripMargin

  /** p90: LSH precision audit ([[Dedup.lshPrecisionAudit]]) — p89's
    * complement: of the candidates the production banding EMITS in the
    * audit slice, how many are exact-Jaccard-true, per estimate band.
    * Together the two keys are the full banding tuning report
    * (recall S-curve × precision-per-estimate). Same planted fixture;
    * no quadratic stage — the exact verify runs only on candidates. */
  lazy val p90LshPrecision: Q = (spark, dir) => {
    val aug = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), p89FixtureText.as("t"))
    Dedup.lshPrecisionAudit(aug, "t", "doc_id",
        pmod(col("doc_id"), lit(5)) === 0 && col("doc_id") < 2500,
        candidates = Some(p89CandsFor(spark, dir)))
      .orderBy("band")
  }

  /** p90 oracle: the p02 chain's candidate estimates restricted to the
    * slice, LEFT-joined to the p14 gram-Jaccard truth (missing grams
    * verify to 0, never a vanished false positive), banded by estimate
    * and rolled up. */
  lazy val p90Sql: String =
    """|WITH aug AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN
      |      array_to_string(list_transform(range(0, 20), j ->
      |        (CASE WHEN doc_id % 10 = 5
      |              AND j >= ([10, 14, 16, 18])[CAST((doc_id // 10) % 4 AS INTEGER) + 1]
      |         THEN 'v' ELSE 'w' END)
      |        || CAST(doc_id // 10 AS VARCHAR) || 'x' || CAST(j AS VARCHAR)), ' ')
      |    ELSE coalesce(text, '') END AS t
      |  FROM documents),
      |ca AS (
      |  SELECT id0, id1, ej FROM (
      |""".stripMargin +
    p02ChainSql("  SELECT doc_id, lower(trim(t)) AS s FROM aug WHERE trim(t) <> ''") + """
      |SELECT id0, id1, ej FROM est WHERE ej >= 0.2
      |  ) cs
      |  WHERE id0 % 5 = 0 AND id0 < 2500 AND id1 % 5 = 0 AND id1 < 2500),
      |gd AS (SELECT doc_id, string_split_regex(trim(lower(t)), '\s+') AS gtk
      |       FROM aug WHERE doc_id % 5 = 0 AND doc_id < 2500),
      |gg AS (SELECT doc_id,
      |         list_distinct(list_transform(range(1, greatest(len(gtk) - 2, 0) + 1),
      |           i -> gtk[i] || ' ' || gtk[i + 1] || ' ' || gtk[i + 2])) AS grams
      |       FROM gd WHERE len(gtk) >= 3),
      |vr AS (
      |  SELECT c.id0, c.id1, c.ej,
      |    coalesce(len(list_intersect(a.grams, b.grams))::DOUBLE /
      |      nullif(len(list_distinct(list_concat(a.grams, b.grams))), 0), 0.0) AS j
      |  FROM ca c
      |  LEFT JOIN gg a ON a.doc_id = c.id0
      |  LEFT JOIN gg b ON b.doc_id = c.id1),
      |bd AS (SELECT CASE WHEN ej < 0.4 THEN 'est_0.20_0.40'
      |                   WHEN ej < 0.6 THEN 'est_0.40_0.60'
      |                   WHEN ej < 0.8 THEN 'est_0.60_0.80'
      |                   ELSE 'est_0.80_1.00' END AS band,
      |              CASE WHEN j >= 0.2 THEN 1 ELSE 0 END AS t FROM vr),
      |u AS (SELECT * FROM bd UNION ALL SELECT '*' AS band, t FROM bd)
      |SELECT band, CAST(count(*) AS BIGINT) AS n_candidates,
      |  CAST(sum(t) AS BIGINT) AS n_true,
      |  round(sum(t)::DOUBLE / count(*), 6) AS precision
      |FROM u GROUP BY band ORDER BY band""".stripMargin

  // ------------------------------------------ p95 cluster-stratified sample

  /** p95: cluster-stratified sampling — exactly `cap` documents per
    * TRAINED k-means cluster by seeded hash order (the diversity-
    * preserving eval/inspection draw a curation team takes after
    * clustering: uniform-per-source p22 can't see topical skew, this
    * samples uniformly across the LEARNED topic cells). Assignment is
    * the row-local [[graft.functions.NearestCentroid]] pass against
    * the shared p91 fit; selection is [[Sampling.capPerGroup]] (the
    * skew-safe two-window form whose semantics are "first `cap` of
    * each group in (hash63(id, seed), id) order"). The oracle retrains
    * the model (the p91 chain), re-assigns the corpus, and restates
    * the selection as one rank window — gating fit, assignment, and
    * the capPerGroup cell decomposition together.
    *
    * The fit ROUND-TRIPS through storage before use
    * ([[SimilaritySearch.kmeansSave]]/`kmeansLoad` — the p83
    * save→load→add→search discipline): the key models the recurring
    * job, which runs in a NEW session against the frozen persisted
    * model, so a lossy save/load would hash-mismatch here. */
  lazy val p95ClusterSample: Q = (spark, dir) => {
    val emb = Tables.load(spark, dir, "embeddings")
    val modelDir = s"${System.getProperty("java.io.tmpdir")}/graft_p95_" +
      s"${ProcessHandle.current().pid()}_" +
      java.lang.Long.toHexString(
        graft.operators.DetRngHash.xx(dir.getBytes("UTF-8")))
    SimilaritySearch.kmeansSave(kmeansFitFor(spark, dir), spark, modelDir)
    val fit = SimilaritySearch.kmeansLoad(spark, modelDir)
    val assigned = emb
      .select(col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
      .select(col("id"), graft.functions.NearestCentroid(col("v"),
        fit.centroids.map(_.toSeq).toSeq).as("cluster"))
      .filter(col("cluster").isNotNull)
    Sampling.capPerGroup(assigned, "cluster", "id", cap = 10, seed = 95L)
      .select(col("id").as("vec_id"), col("cluster").cast("long").as("cluster"))
      .orderBy("vec_id")
  }

  /** p95 oracle: the p91 retrain chain's corpus assignment plus a
    * second SplitMix64 chain (seed 95) for the selection hash, ranked
    * per cluster. */
  lazy val p95Sql: String = p91ChainSql(
    "," + mixChainSql(
      "SELECT id, xor(CAST(id AS UBIGINT), CAST(95 AS UBIGINT)) AS z FROM h",
      p = "s9", hName = "s9h", lead = "\n") +
    """|
       |sel AS (SELECT ca.id, ca.c, s.z FROM ca JOIN s9h s USING (id)),
       |rk AS (SELECT id, c,
       |         row_number() OVER (PARTITION BY c ORDER BY z, id) AS rk
       |       FROM sel)
       |SELECT id AS vec_id, CAST(c AS BIGINT) AS cluster
       |FROM rk WHERE rk <= 10 ORDER BY vec_id""".stripMargin)

  // ---------------------------------------------- p97 IVF recall audit

  /** p97: measured IVF recall curve — recall@10 vs nProbe, the number
    * an ANN deployment tunes its probe budget against (the p89/p90
    * measured-audit discipline applied to the similarity-search rung).
    * Possible to put fully BEHIND the oracle because the coarse
    * quantizer here is the ORACLE-STATABLE p91 k-means fit (p07's IVF
    * uses the java.util.Random fit and stays det_match-gated): for
    * each of 4 hash-sampled queries, cells rank by exact
    * centroid-cosine (the CosineSimilarity kernel's fold order, ties →
    * lower cell id), the top-`nProbe` cells' members rank by exact
    * cosine, and recall@10 counts overlap with the exhaustive
    * brute-force top-10. nProbe = 8 = all cells is the recall-1.0
    * sanity row. Scale shape: each probed search is the ivfTopK scan
    * shape (cell-pruned, ∝ nProbe/k of the corpus); the audit itself
    * is bounded — 4 queries × 4 probe settings, every collected set
    * ≤ 10 ids. */
  lazy val p97IvfRecall: Q = (spark, dir) => {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
    val fit = kmeansFitFor(spark, dir)
    val cents = fit.centroids
    val data = emb.select(col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
    // stage-cached: the assignment frame feeds 4 queries × (1 brute +
    // 4 probe) top-k jobs — uncached, every one of those 20 jobs
    // re-evaluated NearestCentroid over the corpus; the stage slot has
    // pass lifetime
    val cells = graft.Memo.stages.pin(data.withColumn("cell",
        graft.functions.NearestCentroid(col("v"), cents.map(_.toSeq).toSeq))
      .filter(col("cell").isNotNull))
    val queries = data.orderBy(Sampling.hash63(col("id"), 97L), col("id"))
      .limit(4).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cosK(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) -2.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val k = 10
    val out = queries.toSeq.flatMap { case (qid, qv) =>
      // per-query cosine computed once, read by the brute + 4 probe
      // top-k jobs (same pass-lifetime slot as `cells`)
      val scored = graft.Memo.stages.pin(cells.select(col("id"), col("cell"),
          SimilaritySearch.cosine(col("v"), typedLit(qv.toSeq)).as("cs"))
        .filter(col("cs").isNotNull))
      val brute = scored.orderBy(col("cs").desc, col("id")).limit(k)
        .select("id").collect().map(_.getLong(0)).toSet
      val ranked = cents.indices
        .map(c => (c, cosK(qv, cents(c))))
        .sortBy { case (c, cc) => (-cc, c) }
        .map(_._1)
      Seq(1, 2, 4, 8).map { p =>
        val probe = ranked.take(p)
        val got = scored.filter(col("cell").isin(probe: _*))
          .orderBy(col("cs").desc, col("id")).limit(k)
          .select("id").collect().map(_.getLong(0)).toSet
        val hits = got.count(brute.contains).toLong
        (qid, p.toLong, hits, hits.toDouble / k)
      }
    }
    out.toDF("query_id", "n_probe", "n_hits", "recall")
      .orderBy("query_id", "n_probe")
  }

  /** p97 oracle: the p91 retrain chain supplies centroids (`ct4`) and
    * the corpus assignment (`ca`); a second chain picks the seed-97
    * query sample; cell ranking, per-candidate cosine, the brute-force
    * top-10, and each nProbe's pruned top-10 are all stated with the
    * kernel's exact fold order; recall is the overlap count / 10. */
  lazy val p97Sql: String = p91ChainSql(
    "," + mixChainSql(
      "SELECT id, v, xor(CAST(id AS UBIGINT), CAST(97 AS UBIGINT)) AS z FROM h",
      p = "q9", hName = "q9h", lead = "\n") +
    s"""|
        |qs AS MATERIALIZED (
        |  SELECT id AS qid, v AS qv, row_number() OVER (ORDER BY z, id) AS qrn
        |  FROM q9h QUALIFY qrn <= 4),
        |cellcos AS (
        |  SELECT q.qid, k.c,
        |    coalesce(${cosSql("q.qv", "k.cv", P91Dim)}, -2.0) AS cc
        |  FROM qs q, ct$P91Iters k),
        |cellrank AS (
        |  SELECT qid, c, row_number() OVER (PARTITION BY qid ORDER BY cc DESC, c) AS crk
        |  FROM cellcos),
        |qcos AS MATERIALIZED (
        |  SELECT q.qid, f.id, ca.c AS cell,
        |    ${cosSql("q.qv", "f.v", P91Dim)} AS cs
        |  FROM qs q, h f JOIN ca ON ca.id = f.id),
        |qc AS (SELECT * FROM qcos WHERE cs IS NOT NULL),
        |brute AS (
        |  SELECT qid, id FROM (
        |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY cs DESC, id) AS rk
        |    FROM qc) WHERE rk <= 10),
        |np AS (SELECT CAST(p.p AS BIGINT) AS p FROM unnest([1, 2, 4, 8]) AS p(p)),
        |ivf AS (
        |  SELECT qid, p, id FROM (
        |    SELECT t.qid, t.p, t.id,
        |      row_number() OVER (PARTITION BY t.qid, t.p ORDER BY t.cs DESC, t.id) AS rk
        |    FROM (
        |      SELECT qc.qid, np.p, qc.id, qc.cs
        |      FROM qc
        |      JOIN cellrank cr ON cr.qid = qc.qid AND cr.c = qc.cell
        |      CROSS JOIN np
        |      WHERE cr.crk <= np.p) t) WHERE rk <= 10)
        |SELECT i.qid AS query_id, i.p AS n_probe,
        |  CAST(count(b.id) AS BIGINT) AS n_hits,
        |  count(b.id)::DOUBLE / 10 AS recall
        |FROM ivf i LEFT JOIN brute b ON b.qid = i.qid AND b.id = i.id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  // -------------------------------------------- p96 cluster purity

  /** p96: clustering-evaluation purity report — the number a curation
    * team checks BEFORE trusting learned clusters for sampling or
    * SemDeDup: per trained cluster, how concentrated is the (held-out
    * synthetic) label? One row per cluster with its population,
    * majority label (ties → smallest label), majority count, and
    * purity, plus a '*' rollup (cluster −1) whose purity is the
    * standard overall clustering-purity score
    * Σ_c max_l |c ∩ l| / N. Uses the shared p91 fit; assignment is the
    * row-local NearestCentroid pass.
    *
    * 100-TB shape: ONE map-side-combined (cluster, label) count
    * exchange — bounded by k × labels, never corpus rows; the majority
    * window runs over that cross-tab, not the corpus. */
  lazy val p96ClusterPurity: Q = (spark, dir) => {
    val emb = Tables.load(spark, dir, "embeddings")
    val fit = kmeansFitFor(spark, dir)
    val assigned = emb
      .select(col("vec_id").as("id"),
        col("label").cast("long").as("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
      .select(col("id"), col("label"),
        graft.functions.NearestCentroid(col("v"),
          fit.centroids.map(_.toSeq).toSeq).cast("long").as("cluster"))
      .filter(col("cluster").isNotNull)
    val ct = assigned.groupBy("cluster", "label").agg(count(lit(1)).as("n"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("n").desc, col("label"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
    val per = ct
      .withColumn("rk", row_number().over(wRank))
      .withColumn("n_vecs", sum("n").over(wAll))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("n_vecs"),
        col("label").as("majority_label"), col("n").as("n_majority"),
        round(col("n").cast("double") / col("n_vecs"), 6).as("purity"))
    val rollup = per
      .agg(sum("n_vecs").as("n_vecs"), sum("n_majority").as("n_majority"))
      .select(lit(-1L).as("cluster"), col("n_vecs"),
        lit(null).cast("long").as("majority_label"), col("n_majority"),
        round(col("n_majority").cast("double") / col("n_vecs"), 6).as("purity"))
    per.unionByName(rollup).orderBy("cluster")
  }

  /** p96 oracle: the p91 retrain chain's corpus assignment joined to
    * the label column, the same cross-tab/majority window, and the
    * rollup. */
  lazy val p96Sql: String = p91ChainSql(
    """|,
       |lab AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label FROM embeddings),
       |ctab AS (SELECT ca.c, l.label, count(*) AS n
       |         FROM ca JOIN lab l USING (id) GROUP BY 1, 2),
       |pr AS (SELECT c, label, n,
       |         row_number() OVER (PARTITION BY c ORDER BY n DESC, label) AS rk,
       |         sum(n) OVER (PARTITION BY c) AS n_vecs
       |       FROM ctab),
       |per AS (SELECT CAST(c AS BIGINT) AS cluster,
       |         CAST(n_vecs AS BIGINT) AS n_vecs,
       |         label AS majority_label,
       |         CAST(n AS BIGINT) AS n_majority,
       |         round(n::DOUBLE / n_vecs, 6) AS purity
       |        FROM pr WHERE rk = 1)
       |SELECT * FROM (
       |  SELECT * FROM per
       |  UNION ALL
       |  SELECT CAST(-1 AS BIGINT), CAST(sum(n_vecs) AS BIGINT),
       |    CAST(NULL AS BIGINT), CAST(sum(n_majority) AS BIGINT),
       |    round(sum(n_majority)::DOUBLE / sum(n_vecs), 6)
       |  FROM per)
       |ORDER BY cluster""".stripMargin)

  // ------------------------------------------- p94 schema evolution

  /** p94: schema-evolution-tolerant snapshot union
    * ([[graft.sources.EvolvingParquet.readUnion]]) — two crawl
    * generations of the corpus write to scratch parquet with EVOLVED
    * schemas (generation 1: doc_id, source, text; generation 2 drops
    * `source` and adds `fetch_depth`), and the gate reads the union
    * back through real parquet files: by-name alignment, NULL fill in
    * BOTH directions, per-row snapshot lineage. The oracle restates the
    * expected union relationally from the base table (the writes are
    * deterministic projections), so misalignment, lost rows, or a
    * silently coerced column all hash-mismatch. The type-conflict named
    * error is spec-pinned (EvolvingParquetSpec). */
  lazy val p94SchemaEvolution: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_p94_" +
      s"${ProcessHandle.current().pid()}_" +
      java.lang.Long.toHexString(
        graft.operators.DetRngHash.xx(dir.getBytes("UTF-8")))
    docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id"), col("source"), col("text"))
      .write.mode("overwrite").parquet(s"$out/gen1")
    docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id"), col("text"),
        pmod(col("doc_id"), lit(7)).as("fetch_depth"))
      .write.mode("overwrite").parquet(s"$out/gen2")
    graft.sources.EvolvingParquet.readUnion(spark,
        Seq("gen1" -> s"$out/gen1", "gen2" -> s"$out/gen2"))
      .select(col("doc_id"), col("snapshot"), col("source"),
        col("fetch_depth"),
        TextAnalysis.tokenCount(coalesce(col("text"), lit("")))
          .cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** p94 oracle: the two generation projections and the by-name union
    * restated over `documents` — NULLs where a generation lacks the
    * column. */
  val p94Sql: String =
    """|SELECT doc_id, 'gen1' AS snapshot, source,
      |  CAST(NULL AS BIGINT) AS fetch_depth,
      |  CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
      |       ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\s+'))
      |       END AS BIGINT) AS n_tokens
      |FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT doc_id, 'gen2' AS snapshot, CAST(NULL AS VARCHAR) AS source,
      |  doc_id % 7 AS fetch_depth,
      |  CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
      |       ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\s+'))
      |       END AS BIGINT) AS n_tokens
      |FROM documents WHERE doc_id % 2 = 1
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------- p93 random projection

  /** p93: Johnson–Lindenstrauss random-sign projection with a measured
    * cosine-preservation audit ([[SimilaritySearch.randomSignProject]]):
    * the 64-dim embeddings project to 16 Rademacher sums in one
    * row-local codegen pass (sign matrix derived from the shared
    * SplitMix64 chain — no stored weights), then every pair among a
    * 32-vector hash-ordered sample reports exact cosine in the FULL
    * space vs the PROJECTED space and the absolute error — the
    * distortion a team measures before moving dedup/ANN bucketing into
    * the sketch space. Projection is pure ordered addition and cosine
    * is the fused dot/norm kernel's +,*,/,sqrt — all correctly-rounded
    * IEEE on identical inputs — so every double here is bit-exact
    * against the oracle's ordered-fold restatement (no tolerance, no
    * rounding). */
  lazy val p93RandomProjection: Q = (spark, dir) => {
    val emb = Tables.load(spark, dir, "embeddings")
    val proj = SimilaritySearch.randomSignProject(
      emb, "embedding", "vec_id", outDim = 16, seed = 93L)
    val samp = proj
      .orderBy(Sampling.hash63(col("id"), 193L), col("id"))
      .limit(32)
    val a = samp.select(col("id").as("id0"), col("v").as("v0"), col("proj").as("p0"))
    val b = samp.select(col("id").as("id1"), col("v").as("v1"), col("proj").as("p1"))
    val cf = SimilaritySearch.cosine(col("v0"), col("v1"))
    val cp = SimilaritySearch.cosine(col("p0"), col("p1"))
    a.crossJoin(b).filter(col("id0") < col("id1"))
      .select(col("id0"), col("id1"), cf.as("cos_full"), cp.as("cos_proj"),
        abs(cf - cp).as("abs_err"))
      .orderBy("id0", "id1")
  }

  /** p93 oracle: the sign matrix re-derived cell by cell from the
    * SplitMix64 chain over d·2²⁰+j, the projection as an ORDER BY d
    * fold of ±v[d], the sample from the seed-193 chain, and both
    * cosines as the kernel's exact fold order (dot and the two norms
    * accumulated in index order, result dot/(sqrt·sqrt)) — bit-exact,
    * including the zero-norm → NULL guard. */
  /** The [[graft.functions.CosineSimilarity]] kernel restated as exact
    * ordered folds (dot and both norms accumulated in index order from
    * 0.0, result dot/(sqrt·sqrt), zero-norm → NULL) — shared by the
    * p93 and p97 oracles. */
  private def cosSql(x: String, y: String, n: Int): String = {
    def fold(expr: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${n + 1}), " +
        s"i -> $expr)), (a, b) -> a + b)"
    val dot = fold(s"$x[i] * $y[i]")
    val na = fold(s"$x[i] * $x[i]")
    val nb = fold(s"$y[i] * $y[i]")
    s"CASE WHEN $na = 0.0 OR $nb = 0.0 THEN NULL " +
      s"ELSE $dot / (sqrt($na) * sqrt($nb)) END"
  }

  lazy val p93Sql: String = {
    mixChainSql(
      """SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    xor(CAST(vec_id AS UBIGINT), CAST(193 AS UBIGINT)) AS z
        |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0""".stripMargin) +
    mixChainSql(
      """SELECT CAST(d.d AS BIGINT) AS d, CAST(j.j AS BIGINT) AS j,
        |    xor(CAST(d.d * 1048576 + j.j AS UBIGINT), CAST(93 AS UBIGINT)) AS z
        |  FROM range(0, 64) d(d), range(0, 16) j(j)""".stripMargin,
      p = "sg", hName = "sgh", lead = "") +
    s"""|
        |signs AS (SELECT d, j, (z % 2 = 0) AS pos FROM sgh),
        |samp AS MATERIALIZED (
        |  SELECT id, v, row_number() OVER (ORDER BY z, id) AS rn
        |  FROM h QUALIFY rn <= 32),
        |pj AS (
        |  SELECT s.id, sg.j,
        |    list_reduce(list_prepend(0.0,
        |      list(CASE WHEN sg.pos THEN s.v[CAST(sg.d + 1 AS INTEGER)]
        |                ELSE -s.v[CAST(sg.d + 1 AS INTEGER)] END ORDER BY sg.d)),
        |      (a, b) -> a + b) AS pv
        |  FROM samp s, signs sg GROUP BY s.id, sg.j),
        |pv AS (SELECT id, list(pv ORDER BY j) AS p FROM pj GROUP BY id),
        |sp AS (SELECT s.id, s.v, pv.p FROM samp s JOIN pv USING (id)),
        |pairs AS (
        |  SELECT a.id AS id0, b.id AS id1, a.v AS v0, b.v AS v1,
        |         a.p AS p0, b.p AS p1
        |  FROM sp a, sp b WHERE a.id < b.id),
        |cc AS (
        |  SELECT id0, id1,
        |    ${cosSql("v0", "v1", 64)} AS cos_full,
        |    ${cosSql("p0", "p1", 16)} AS cos_proj
        |  FROM pairs)
        |SELECT id0, id1, cos_full, cos_proj, abs(cos_full - cos_proj) AS abs_err
        |FROM cc ORDER BY id0, id1""".stripMargin
  }

  // ------------------------------------------------ p92 CCNet buckets

  /** p92: CCNet's ACTUAL per-language bucketing protocol
    * ([[TextAnalysis.ccnetLangBuckets]]) — head/middle/tail THIRDS by
    * per-language rank of the reference-LM score, the data-derived cut
    * CCNet applies (p34 applies calibrated FIXED thresholds; the
    * per-language percentile cut is what keeps a low-resource language
    * from being starved by an English-calibrated bar). Scores ride
    * [[TextAnalysis.bigramLmScoreOrdered]] — the per-doc mean folds in
    * transition order, so the ranking key is deterministic and the
    * oracle reproduces it up to libm `ln` ulps (~1e-14; margins audited
    * below). Same reference slice as p34 (doc_id % 5 = 0).
    *
    * Determinism margins (audited at both gate SFs over the 500-doc
    * corpus, the p74 cutoff-gap discipline): the minimum score gap
    * across each language's two cutoff ranks is ≥ 5.5e-5 and the
    * minimum |score| distance of any scored doc to a ⌊score·32⌋
    * bucket edge is ≥ 4.4e-7 — respectively 9 and 7 decades above the
    * ~1e-14 cross-engine `ln` noise (summation order contributes
    * nothing: both engines fold in transition order). */
  lazy val p92CcnetBuckets: Q = (spark, dir) => {
    val docs = Tables.load(spark, dir, "documents")
    TextAnalysis.ccnetLangBuckets(docs, "text", "doc_id",
        refCond = pmod(col("doc_id"), lit(5)) === 0, k = 1.0,
        granularity = 32.0)
      .select(col("doc_id"), col("pred_lang"), col("n_bigrams"),
        col("lm_logprob"), col("bucket"))
      .orderBy("doc_id")
  }

  /** p92 oracle: the p10 language-ID restatement joined to the LM
    * chain with the ordered-fold per-doc mean (list_reduce over
    * ORDER BY pos — the engine's sort_array/aggregate fold), then the
    * rank semantics stated DIRECTLY as a per-language window
    * (row_number / count thirds) — the oracle pays the global window
    * the engine's bucket decomposition avoids, and the hash-match
    * gates that the decomposition implements exactly these ranks. */
  lazy val p92Sql: String = {
    val scoreCols = langScoreColsSql("n", ",\n      |         ").stripMargin
    s"""|WITH lt AS (
        |  SELECT doc_id,
        |         string_split_regex(trim(lower(text)), '\\s+') AS tk,
        |         greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1)::DOUBLE AS n,
        |         regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') AS cjk
        |  FROM (SELECT * REPLACE (coalesce(text, '') AS text) FROM documents)),
        |ls AS (
        |  SELECT doc_id, cjk,
        |         $scoreCols
        |  FROM lt),
        |lb AS (
        |  SELECT doc_id, cjk, $langBestSql AS best, * FROM ls),
        |lpr AS (
        |  SELECT doc_id,
        |    CASE WHEN cjk THEN 'zh'
        |         WHEN best = 0 THEN 'und'
        |         ELSE (CASE $langTieBreakSql END)
        |    END AS pred_lang
        |  FROM lb),
        |tkm AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
        |        FROM documents),
        |ref AS (SELECT * FROM tkm WHERE doc_id % 5 = 0),
        |uni AS (SELECT u AS w1, count(*) AS c1
        |        FROM (SELECT unnest(tk) AS u FROM ref) GROUP BY u),
        |v AS (SELECT count(*) AS vocab FROM uni),
        |rb AS (SELECT tk[i] AS w1, tk[i+1] AS w2, count(*) AS c2
        |       FROM ref, unnest(range(1, len(tk))) r(i) GROUP BY 1, 2),
        |db AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, tk[i] AS w1, tk[i+1] AS w2
        |       FROM tkm, unnest(range(1, len(tk))) r(i)),
        |s AS (SELECT db.doc_id, db.pos,
        |        ln((coalesce(rb.c2, 0) + 1.0) /
        |           (coalesce(uni.c1, 0) + (SELECT vocab FROM v))) AS lp
        |      FROM db LEFT JOIN rb USING (w1, w2)
        |              LEFT JOIN uni ON db.w1 = uni.w1),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |          list_reduce(list_prepend(0.0, list(lp ORDER BY pos)),
        |            (a, b) -> a + b) / count(*) AS lm_logprob
        |        FROM s GROUP BY doc_id),
        |base AS (SELECT d.doc_id, p.pred_lang,
        |           CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |           a.lm_logprob
        |         FROM documents d
        |         JOIN lpr p USING (doc_id)
        |         LEFT JOIN agg a USING (doc_id)),
        |sc AS (SELECT * FROM base WHERE lm_logprob IS NOT NULL),
        |rn AS (SELECT doc_id, pred_lang, n_bigrams, lm_logprob,
        |         row_number() OVER (PARTITION BY pred_lang
        |           ORDER BY lm_logprob DESC, doc_id) AS rk,
        |         count(*) OVER (PARTITION BY pred_lang) AS n
        |       FROM sc)
        |SELECT doc_id, pred_lang, n_bigrams, lm_logprob,
        |  CASE WHEN rk <= n // 3 THEN 'head'
        |       WHEN rk <= (2 * n) // 3 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM rn
        |UNION ALL
        |SELECT doc_id, pred_lang, n_bigrams, lm_logprob, 'na' AS bucket
        |FROM base WHERE lm_logprob IS NULL
        |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- p91 k-means train

  private val P91K = 8
  private val P91Iters = 4
  private val P91Cap = 128
  private val P91Seed = 91L
  private val P91Dim = 64

  /** p91: k-means clustering TRAINED under the gate — the domain-
    * discovery / SemDeDup-stage-1 fit as a first-class audited model
    * ([[SimilaritySearch.kmeansFit]]): bottom-128 hash-ordered sample,
    * first-k init, 4 FIXED Lloyd iterations with fully-specified IEEE
    * fold order, then the corpus assigned row-locally against the
    * final centroids (the [[graft.functions.NearestCentroid]] codegen
    * kernel — the same pass that routes an IVF build). One row per
    * (cluster, dimension) carries the exact centroid coordinate plus
    * the cluster's final sample count, sample inertia, and corpus-wide
    * population. p40 gates assignment against SAMPLED centroids and
    * p07's IVF fit is det_match-only (java.util.Random k-means++);
    * this key puts the Lloyd TRAINING LOOP itself behind the DuckDB
    * oracle — the oracle retrains the model (the p54 discipline) and
    * every centroid double must come out bit-identical.
    *
    * 100-TB shape: the fit touches one TakeOrderedAndProject sample
    * (the FAISS training protocol — a coarse model never needs the
    * corpus) and driver-local loops; the corpus pass is row-local
    * whole-stage codegen + one map-side-combined count. Nothing
    * shuffles vectors. */
  // fitted once per scale-factor dir (driver-array model state, shared
  // by p91/p95/st29; pass lifetime, like the IVF index)
  private[graft] def kmeansFitFor(spark: SparkSession, dir: String): SimilaritySearch.KmeansFit =
    graft.Memo.kmeansFits.getOrElseUpdate(dir)(
      SimilaritySearch.kmeansFit(Tables.load(spark, dir, "embeddings"),
        "embedding", "vec_id",
        k = P91K, iters = P91Iters, sampleCap = P91Cap, seed = P91Seed))

  lazy val p91KmeansTrain: Q = (spark, dir) => {
    import spark.implicits._
    val emb = Tables.load(spark, dir, "embeddings")
    val fit = kmeansFitFor(spark, dir)
    val corpusN = emb
      .select(col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
      .select(graft.functions.NearestCentroid(col("v"),
        fit.centroids.map(_.toSeq).toSeq).as("cluster"))
      .filter(col("cluster").isNotNull)
      .groupBy(col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).as("corpus_n"))
    val centRows = for {
      c <- 0 until P91K
      d <- 0 until fit.centroids(c).length
    } yield (c.toLong, d.toLong, fit.centroids(c)(d), fit.sampleN(c), fit.inertia(c))
    centRows.toDF("cluster", "dim", "coord", "sample_n", "inertia")
      .join(corpusN, Seq("cluster"), "left")
      .select(col("cluster"), col("dim"), col("coord"), col("sample_n"),
        col("inertia"), coalesce(col("corpus_n"), lit(0L)).as("corpus_n"))
      .orderBy("cluster", "dim")
  }

  /** p91 oracle: DuckDB RETRAINS the clustering — the shared SplitMix64
    * chain picks the same bottom-128 sample, one materialized
    * (assign, update) CTE pair per Lloyd iteration replays the exact
    * argmin (ORDER BY d², cluster ≡ the kernel's strict-< scan) and the
    * exact centroid means (list_reduce over ORDER BY rn member lists —
    * the engine's sample-order summation), and the corpus assignment is
    * the same argmin stated over the full table. Every double (centroid
    * coordinate, inertia) reproduces bit-for-bit because both engines
    * add the same IEEE terms in the same order. */
  lazy val p91Sql: String = p91ChainSql(
    s"""|SELECT k.c AS cluster, CAST(dd.d - 1 AS BIGINT) AS dim, k.cv[dd.d] AS coord,
        |  coalesce(f.sample_n, 0) AS sample_n, coalesce(f.inertia, 0.0) AS inertia,
        |  coalesce(cn.corpus_n, 0) AS corpus_n
        |FROM ct$P91Iters k
        |CROSS JOIN unnest(range(1, ${P91Dim + 1})) AS dd(d)
        |LEFT JOIN fin f ON f.c = k.c
        |LEFT JOIN cn ON cn.c = k.c
        |ORDER BY cluster, dim""".stripMargin)

  /** The full p91 retrain chain (sample → init → Lloyd iterations →
    * final sample stats `fin` → corpus assignment `ca`/`cn`) over a
    * pluggable final SELECT — p91 reads the centroid/stat table, st29's
    * streaming router reads the corpus assignment rollup. */
  private[graft] def p91ChainSql(finalSelect: String): String = {
    def dist(v: String, cv: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${P91Dim + 1}), " +
        s"j -> ($v[j] - $cv[j]) * ($v[j] - $cv[j]))), (x, y) -> x + y)"
    val iterCtes = (1 to P91Iters).map { t =>
      s"""|ad$t AS (SELECT s.rn, k.c, ${dist("s.v", "k.cv")} AS d2
          |  FROM samp s, ct${t - 1} k),
          |a$t AS MATERIALIZED (
          |  SELECT rn, c FROM (
          |    SELECT rn, c, row_number() OVER (PARTITION BY rn ORDER BY d2, c) AS rk
          |    FROM ad$t) WHERE rk = 1),
          |u$t AS (
          |  SELECT a.c, dd.d,
          |    list_reduce(list_prepend(0.0, list(s.v[dd.d] ORDER BY s.rn)),
          |      (x, y) -> x + y) / count(*) AS coord
          |  FROM a$t a JOIN samp s USING (rn), unnest(range(1, ${P91Dim + 1})) AS dd(d)
          |  GROUP BY a.c, dd.d),
          |ct$t AS MATERIALIZED (
          |  SELECT p.c, coalesce(n.cv, p.cv) AS cv
          |  FROM ct${t - 1} p LEFT JOIN
          |    (SELECT c, list(coord ORDER BY d) AS cv FROM u$t GROUP BY c) n USING (c))""".stripMargin
    }.mkString(",\n")
    mixChainSql(
      s"""SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |    xor(CAST(vec_id AS UBIGINT), CAST($P91Seed AS UBIGINT)) AS z
         |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0""".stripMargin) +
    s"""|
        |samp AS MATERIALIZED (
        |  SELECT id, v, row_number() OVER (ORDER BY z, id) AS rn
        |  FROM h QUALIFY rn <= $P91Cap),
        |ct0 AS MATERIALIZED (SELECT rn - 1 AS c, v AS cv FROM samp WHERE rn <= $P91K),
        |$iterCtes,
        |adf AS (SELECT s.rn, k.c, ${dist("s.v", "k.cv")} AS d2
        |  FROM samp s, ct$P91Iters k),
        |af AS (
        |  SELECT rn, c, d2 FROM (
        |    SELECT rn, c, d2, row_number() OVER (PARTITION BY rn ORDER BY d2, c) AS rk
        |    FROM adf) WHERE rk = 1),
        |fin AS (
        |  SELECT c, CAST(count(*) AS BIGINT) AS sample_n,
        |    list_reduce(list_prepend(0.0, list(d2 ORDER BY rn)), (x, y) -> x + y) AS inertia
        |  FROM af GROUP BY c),
        |cd AS (SELECT f.id, k.c, ${dist("f.v", "k.cv")} AS d2
        |  FROM h f, ct$P91Iters k),
        |ca AS (
        |  SELECT id, c FROM (
        |    SELECT id, c, row_number() OVER (PARTITION BY id ORDER BY d2, c) AS rk
        |    FROM cd) WHERE rk = 1),
        |cn AS (SELECT c, CAST(count(*) AS BIGINT) AS corpus_n FROM ca GROUP BY c)
        |$finalSelect""".stripMargin
  }

  /** The full p02 MinHash signature + banding chain over a pluggable
    * doc body (`SELECT doc_id, <text expr> AS s …`) — p02 runs it on
    * the raw corpus, p89's recall audit on its planted one. Ends with
    * `est` (id0, id1, ej = signature-agreement estimate). */
  private[graft] def p02ChainSql(dBody: String): String =
    """|WITH d AS (
      |__D_BODY__),
      |tk AS (
      |  SELECT doc_id, regexp_split_to_array(s, '\s+') AS toks FROM d),
      |tok AS (
      |  SELECT doc_id, CAST(i.i AS INTEGER) AS rid, toks[CAST(i.i AS INTEGER)] AS tok
      |  FROM tk, unnest(range(1, len(toks) + 1)) AS i(i)),
      |f0 AS (
      |  SELECT doc_id, rid,
      |    list_reduce(
      |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
      |        list_transform(range(1, length(tok) + 1),
      |          j -> CAST(ascii(substr(tok, CAST(j AS INTEGER), 1)) AS UBIGINT))),
      |      (acc, c) -> CAST(((CAST((xor(acc, c)) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(acc, c)) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT)) AS z
      |  FROM tok),
      |t1 AS (SELECT doc_id, rid, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM f0),
      |t2 AS (SELECT doc_id, rid, xor(z, z >> 30) AS z FROM t1),
      |t3 AS (SELECT doc_id, rid, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM t2),
      |t4 AS (SELECT doc_id, rid, xor(z, z >> 27) AS z FROM t3),
      |t5 AS (SELECT doc_id, rid, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM t4),
      |t6 AS (SELECT doc_id, rid, xor(z, z >> 31) AS z FROM t5),
      |thash AS (
      |  SELECT doc_id, list(z ORDER BY rid) AS th, count(*) AS ntok
      |  FROM t6 GROUP BY doc_id),
      |win AS (
      |  SELECT doc_id, CAST(w.w AS INTEGER) AS rid, th
      |  FROM thash, unnest(range(1, ntok - 1)) AS w(w)
      |  WHERE ntok >= 3),
      |w0 AS (
      |  SELECT doc_id, rid, CAST(((CAST((xor(CAST(((CAST((xor(CAST(((CAST((xor(14695981039346656037, th[CAST(rid + 0 AS INTEGER)])) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(14695981039346656037, th[CAST(rid + 0 AS INTEGER)])) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT), th[CAST(rid + 1 AS INTEGER)])) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(CAST(((CAST((xor(14695981039346656037, th[CAST(rid + 0 AS INTEGER)])) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(14695981039346656037, th[CAST(rid + 0 AS INTEGER)])) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT), th[CAST(rid + 1 AS INTEGER)])) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT), th[CAST(rid + 2 AS INTEGER)])) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(CAST(((CAST((xor(CAST(((CAST((xor(14695981039346656037, th[CAST(rid + 0 AS INTEGER)])) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(14695981039346656037, th[CAST(rid + 0 AS INTEGER)])) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT), th[CAST(rid + 1 AS INTEGER)])) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(CAST(((CAST((xor(14695981039346656037, th[CAST(rid + 0 AS INTEGER)])) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(14695981039346656037, th[CAST(rid + 0 AS INTEGER)])) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT), th[CAST(rid + 1 AS INTEGER)])) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT), th[CAST(rid + 2 AS INTEGER)])) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM win),
      |m1 AS (SELECT doc_id, rid, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM w0),
      |m2 AS (SELECT doc_id, rid, xor(z, z >> 30) AS z FROM m1),
      |m3 AS (SELECT doc_id, rid, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM m2),
      |m4 AS (SELECT doc_id, rid, xor(z, z >> 27) AS z FROM m3),
      |m5 AS (SELECT doc_id, rid, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM m4),
      |m6 AS (SELECT doc_id, rid, xor(z, z >> 31) AS z FROM m5),
      |x0 AS (SELECT doc_id, rid, xor(z, CAST(13679457532755275413 AS UBIGINT)) AS z FROM m6),
      |n1 AS (SELECT doc_id, rid, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM x0),
      |n2 AS (SELECT doc_id, rid, xor(z, z >> 30) AS z FROM n1),
      |n3 AS (SELECT doc_id, rid, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM n2),
      |n4 AS (SELECT doc_id, rid, xor(z, z >> 27) AS z FROM n3),
      |n5 AS (SELECT doc_id, rid, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM n4),
      |n6 AS (SELECT doc_id, rid, xor(z, z >> 31) AS z FROM n5),
      |hv AS (
      |  SELECT doc_id, rid, CAST((z >> 1) % 128 AS INTEGER) AS bin,
      |         xor(z, CAST(11400714819323198485 AS UBIGINT)) AS z
      |  FROM n6),
      |o1 AS (SELECT doc_id, rid, bin, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM hv),
      |o2 AS (SELECT doc_id, rid, bin, xor(z, z >> 30) AS z FROM o1),
      |o3 AS (SELECT doc_id, rid, bin, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM o2),
      |o4 AS (SELECT doc_id, rid, bin, xor(z, z >> 27) AS z FROM o3),
      |o5 AS (SELECT doc_id, rid, bin, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM o4),
      |o6 AS (SELECT doc_id, rid, bin, xor(z, z >> 31) AS z FROM o5),
      |filled AS (
      |  SELECT doc_id, bin, min_by(z, xor(z, CAST(9223372036854775808 AS UBIGINT))) AS v
      |  FROM o6 GROUP BY doc_id, bin),
      |allbins AS (
      |  SELECT DISTINCT f.doc_id, CAST(b.b AS INTEGER) AS bin
      |  FROM filled f, unnest(range(0, 128)) AS b(b)),
      |dens AS (
      |  SELECT a.doc_id, a.bin,
      |    coalesce(f.v, (
      |      SELECT f2.v FROM filled f2 WHERE f2.doc_id = a.doc_id
      |      ORDER BY (f2.bin - a.bin + 128) % 128 LIMIT 1)) AS v
      |  FROM allbins a LEFT JOIN filled f ON f.doc_id = a.doc_id AND f.bin = a.bin),
      |sigs AS (
      |  SELECT doc_id, list(v ORDER BY bin) AS sig FROM dens GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, CAST(t.t AS INTEGER) AS t,
      |         sig[CAST(4*t.t+1 AS INTEGER):CAST(4*t.t+4 AS INTEGER)] AS bs
      |  FROM sigs, unnest(range(0, 32)) AS t(t)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id0, b.doc_id AS id1
      |  FROM bands a JOIN bands b ON a.t = b.t AND a.bs = b.bs AND a.doc_id < b.doc_id),
      |est AS (
      |  SELECT c.id0, c.id1,
      |    len(list_filter(range(1, 129),
      |      i -> sa.sig[CAST(i AS INTEGER)] = sb.sig[CAST(i AS INTEGER)])) / 128.0 AS ej
      |  FROM cand c
      |  JOIN sigs sa ON sa.doc_id = c.id0
      |  JOIN sigs sb ON sb.doc_id = c.id1)""".stripMargin
      .replace("__D_BODY__", dBody)

  val p02Sql: String = p02ChainSql(
    "  SELECT doc_id, lower(trim(text)) AS s FROM documents WHERE trim(text) <> ''") + """
      |SELECT id0, id1, round(ej, 6) AS est_jaccard
      |FROM est WHERE ej >= 0.2
      |ORDER BY id0, id1""".stripMargin


  /** p04 oracle: the p02 signature/banding chain (est >= 0.1 candidate
    * set) composed with string-3-gram Jaccard — the hash-set Jaccard
    * the engine computes equals the string-set Jaccard exactly short of
    * a same-pair 64-bit collision (~2e-20 across this corpus). */
  val p04Sql: String =
    """|WITH d AS (
      |  SELECT doc_id, lower(trim(text)) AS s FROM documents WHERE trim(text) <> ''),
      |tk AS (
      |  SELECT doc_id, regexp_split_to_array(s, '\s+') AS toks FROM d),
      |tok AS (
      |  SELECT doc_id, CAST(i.i AS INTEGER) AS rid, toks[CAST(i.i AS INTEGER)] AS tok
      |  FROM tk, unnest(range(1, len(toks) + 1)) AS i(i)),
      |f0 AS (
      |  SELECT doc_id, rid,
      |    list_reduce(
      |      list_prepend(CAST(14695981039346656037 AS UBIGINT),
      |        list_transform(range(1, length(tok) + 1),
      |          j -> CAST(ascii(substr(tok, CAST(j AS INTEGER), 1)) AS UBIGINT))),
      |      (acc, c) -> CAST(((CAST((xor(acc, c)) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(acc, c)) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT)) AS z
      |  FROM tok),
      |t1 AS (SELECT doc_id, rid, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM f0),
      |t2 AS (SELECT doc_id, rid, xor(z, z >> 30) AS z FROM t1),
      |t3 AS (SELECT doc_id, rid, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM t2),
      |t4 AS (SELECT doc_id, rid, xor(z, z >> 27) AS z FROM t3),
      |t5 AS (SELECT doc_id, rid, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM t4),
      |t6 AS (SELECT doc_id, rid, xor(z, z >> 31) AS z FROM t5),
      |thash AS (
      |  SELECT doc_id, list(z ORDER BY rid) AS th, count(*) AS ntok
      |  FROM t6 GROUP BY doc_id),
      |win AS (
      |  SELECT doc_id, CAST(w.w AS INTEGER) AS rid, th
      |  FROM thash, unnest(range(1, ntok - 1)) AS w(w)
      |  WHERE ntok >= 3),
      |w0 AS (
      |  SELECT doc_id, rid, CAST(((CAST((xor(CAST(((CAST((xor(CAST(((CAST((xor(14695981039346656037, th[CAST(rid + 0 AS INTEGER)])) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(14695981039346656037, th[CAST(rid + 0 AS INTEGER)])) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT), th[CAST(rid + 1 AS INTEGER)])) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(CAST(((CAST((xor(14695981039346656037, th[CAST(rid + 0 AS INTEGER)])) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(14695981039346656037, th[CAST(rid + 0 AS INTEGER)])) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT), th[CAST(rid + 1 AS INTEGER)])) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT), th[CAST(rid + 2 AS INTEGER)])) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(CAST(((CAST((xor(CAST(((CAST((xor(14695981039346656037, th[CAST(rid + 0 AS INTEGER)])) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(14695981039346656037, th[CAST(rid + 0 AS INTEGER)])) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT), th[CAST(rid + 1 AS INTEGER)])) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(CAST(((CAST((xor(14695981039346656037, th[CAST(rid + 0 AS INTEGER)])) & 4294967295 AS HUGEINT) * 1099511628211) + ((CAST((xor(14695981039346656037, th[CAST(rid + 0 AS INTEGER)])) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT), th[CAST(rid + 1 AS INTEGER)])) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT), th[CAST(rid + 2 AS INTEGER)])) >> 32 AS HUGEINT) * 1099511628211) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM win),
      |m1 AS (SELECT doc_id, rid, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM w0),
      |m2 AS (SELECT doc_id, rid, xor(z, z >> 30) AS z FROM m1),
      |m3 AS (SELECT doc_id, rid, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM m2),
      |m4 AS (SELECT doc_id, rid, xor(z, z >> 27) AS z FROM m3),
      |m5 AS (SELECT doc_id, rid, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM m4),
      |m6 AS (SELECT doc_id, rid, xor(z, z >> 31) AS z FROM m5),
      |x0 AS (SELECT doc_id, rid, xor(z, CAST(13679457532755275413 AS UBIGINT)) AS z FROM m6),
      |n1 AS (SELECT doc_id, rid, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM x0),
      |n2 AS (SELECT doc_id, rid, xor(z, z >> 30) AS z FROM n1),
      |n3 AS (SELECT doc_id, rid, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM n2),
      |n4 AS (SELECT doc_id, rid, xor(z, z >> 27) AS z FROM n3),
      |n5 AS (SELECT doc_id, rid, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM n4),
      |n6 AS (SELECT doc_id, rid, xor(z, z >> 31) AS z FROM n5),
      |hv AS (
      |  SELECT doc_id, rid, CAST((z >> 1) % 128 AS INTEGER) AS bin,
      |         xor(z, CAST(11400714819323198485 AS UBIGINT)) AS z
      |  FROM n6),
      |o1 AS (SELECT doc_id, rid, bin, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM hv),
      |o2 AS (SELECT doc_id, rid, bin, xor(z, z >> 30) AS z FROM o1),
      |o3 AS (SELECT doc_id, rid, bin, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM o2),
      |o4 AS (SELECT doc_id, rid, bin, xor(z, z >> 27) AS z FROM o3),
      |o5 AS (SELECT doc_id, rid, bin, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM o4),
      |o6 AS (SELECT doc_id, rid, bin, xor(z, z >> 31) AS z FROM o5),
      |filled AS (
      |  SELECT doc_id, bin, min_by(z, xor(z, CAST(9223372036854775808 AS UBIGINT))) AS v
      |  FROM o6 GROUP BY doc_id, bin),
      |allbins AS (
      |  SELECT DISTINCT f.doc_id, CAST(b.b AS INTEGER) AS bin
      |  FROM filled f, unnest(range(0, 128)) AS b(b)),
      |dens AS (
      |  SELECT a.doc_id, a.bin,
      |    coalesce(f.v, (
      |      SELECT f2.v FROM filled f2 WHERE f2.doc_id = a.doc_id
      |      ORDER BY (f2.bin - a.bin + 128) % 128 LIMIT 1)) AS v
      |  FROM allbins a LEFT JOIN filled f ON f.doc_id = a.doc_id AND f.bin = a.bin),
      |sigs AS (
      |  SELECT doc_id, list(v ORDER BY bin) AS sig FROM dens GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, CAST(t.t AS INTEGER) AS t,
      |         sig[CAST(4*t.t+1 AS INTEGER):CAST(4*t.t+4 AS INTEGER)] AS bs
      |  FROM sigs, unnest(range(0, 32)) AS t(t)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id0, b.doc_id AS id1
      |  FROM bands a JOIN bands b ON a.t = b.t AND a.bs = b.bs AND a.doc_id < b.doc_id),
      |est AS (
      |  SELECT c.id0, c.id1,
      |    len(list_filter(range(1, 129),
      |      i -> sa.sig[CAST(i AS INTEGER)] = sb.sig[CAST(i AS INTEGER)])) / 128.0 AS ej
      |  FROM cand c
      |  JOIN sigs sa ON sa.doc_id = c.id0
      |  JOIN sigs sb ON sb.doc_id = c.id1)
      |,
      |grams AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
      |           i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i+1 AS INTEGER)] || ' ' || toks[CAST(i+2 AS INTEGER)])) AS g
      |  FROM tk WHERE len(toks) >= 3),
      |jac AS (
      |  SELECT e.id0, e.id1,
      |         len(list_intersect(ga.g, gb.g))::DOUBLE /
      |         len(list_distinct(list_concat(ga.g, gb.g))) AS j
      |  FROM est e
      |  JOIN grams ga ON ga.doc_id = e.id0
      |  JOIN grams gb ON gb.doc_id = e.id1
      |  WHERE e.ej >= 0.1)
      |SELECT id0, id1, round(j, 6) AS jaccard
      |FROM jac WHERE j >= 0.2
      |ORDER BY id0, id1""".stripMargin

  /** The hyperplane-signature derivation chain in DuckDB, shared by the
    * p05 and st05 oracles: ±1 planes re-derive from the splitmix64 bit
    * (stage-per-CTE over the `planes`×64 (i,j) grid), the plane dots
    * replay the kernels' sequential double accumulation via ordered
    * list_reduce (products of ±1 floats are exact, so IEEE addition
    * order is the only invariant that matters). Ends with the `dots`
    * CTE — callers append their own `sigs` packing. */
  private def hyperplaneDotsSql(planes: Int): String =
    s"""|WITH ij AS (
      |  SELECT CAST(i.i AS INTEGER) AS i, CAST(j.j AS INTEGER) AS j,
      |    xor(xor(CAST(42 AS UBIGINT), CAST(i.i AS UBIGINT) << 32), CAST(j.j AS UBIGINT)) AS z
      |  FROM unnest(range(0, $planes)) AS i(i), unnest(range(0, 64)) AS j(j)),
      |p1 AS (SELECT i, j, CAST((CAST(z AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS z FROM ij),
      |p2 AS (SELECT i, j, xor(z, z >> 30) AS z FROM p1),
      |p3 AS (SELECT i, j, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 13787848793156543929) + ((CAST((z) >> 32 AS HUGEINT) * 13787848793156543929) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM p2),
      |p4 AS (SELECT i, j, xor(z, z >> 27) AS z FROM p3),
      |p5 AS (SELECT i, j, CAST(((CAST((z) & 4294967295 AS HUGEINT) * 10723151780598845931) + ((CAST((z) >> 32 AS HUGEINT) * 10723151780598845931) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT) AS z FROM p4),
      |p6 AS (SELECT i, j, xor(z, z >> 31) AS z FROM p5),
      |planes AS (
      |  SELECT i, list(CASE WHEN (z & 1) = 1 THEN 1.0 ELSE -1.0 END ORDER BY j) AS pl
      |  FROM p6 GROUP BY i),
      |vecs AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) = 64
      |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
      |dots AS (
      |  SELECT v.vec_id, p.i,
      |    list_reduce(list_prepend(0.0,
      |      list_transform(range(1, 65),
      |        j -> p.pl[CAST(j AS INTEGER)] * v.v[CAST(j AS INTEGER)])),
      |      (acc, x) -> acc + x) AS dot
      |  FROM vecs v, planes p),""".stripMargin

  /** The 64-bit signature prelude (through a single-UBIGINT `sigs`
    * CTE) — the st05 streaming oracle keys on its 16-bit chunks. */
  private[graft] val hyperplaneSig64Sql: String =
    hyperplaneDotsSql(64) +
    """|
      |sigs AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN dot >= 0 THEN CAST(CAST(1 AS UBIGINT) << i AS HUGEINT) ELSE 0 END) AS UBIGINT) AS sig
      |  FROM dots GROUP BY vec_id),""".stripMargin

  /** p05 oracle: the 128-bit hyperplane-LSH cosine pipeline reproduced
    * exactly — two UBIGINT limbs pack the 128 plane signs, a chunk
    * COLLIDES iff the two 16-bit slices are within Hamming distance 2
    * (the symmetric single-bit multi-probe: exact + 16 flips per side
    * meet iff d ≤ 2), the cosine folds replay the kernels' sequential
    * double accumulation, and the Hamming slack recomputes
    * 128·acos(0.4)/π + 2·√128 (an integer comparison — a last-ulp libm
    * divergence cannot flip it). The 4096 bucket cap never binds at
    * oracle scale. */
  val p05Sql: String =
    hyperplaneDotsSql(128) +
    """|
      |sigs AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN dot >= 0 AND i < 64 THEN CAST(CAST(1 AS UBIGINT) << i AS HUGEINT) ELSE 0 END) AS UBIGINT) AS sig0,
      |    CAST(sum(CASE WHEN dot >= 0 AND i >= 64 THEN CAST(CAST(1 AS UBIGINT) << (i - 64) AS HUGEINT) ELSE 0 END) AS UBIGINT) AS sig1
      |  FROM dots GROUP BY vec_id),
      |norms AS (
      |  SELECT vec_id, v,
      |    list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (acc, x) -> acc + x) AS nn
      |  FROM vecs),
      |cand AS (
      |  SELECT a.vec_id AS id0, b.vec_id AS id1
      |  FROM vecs a, vecs b, sigs sa, sigs sb
      |  WHERE a.vec_id < b.vec_id AND sa.vec_id = a.vec_id AND sb.vec_id = b.vec_id
      |    AND len(list_filter(range(0, 8),
      |          c -> bit_count(xor(
      |                 CASE WHEN c < 4 THEN (sa.sig0 >> CAST(16*c AS INTEGER)) & 65535
      |                      ELSE (sa.sig1 >> CAST(16*(c-4) AS INTEGER)) & 65535 END,
      |                 CASE WHEN c < 4 THEN (sb.sig0 >> CAST(16*c AS INTEGER)) & 65535
      |                      ELSE (sb.sig1 >> CAST(16*(c-4) AS INTEGER)) & 65535 END)) <= 2)) > 0
      |    AND bit_count(xor(sa.sig0, sb.sig0)) + bit_count(xor(sa.sig1, sb.sig1))
      |        <= 128.0 * acos(0.4) / pi() + 2.0 * sqrt(128.0)),
      |cosv AS (
      |  SELECT c.id0, c.id1,
      |    list_reduce(list_prepend(0.0,
      |      list_transform(range(1, 65),
      |        j -> na.v[CAST(j AS INTEGER)] * nb.v[CAST(j AS INTEGER)])),
      |      (acc, x) -> acc + x) / (sqrt(na.nn) * sqrt(nb.nn)) AS cosine
      |  FROM cand c
      |  JOIN norms na ON na.vec_id = c.id0
      |  JOIN norms nb ON nb.vec_id = c.id1
      |  WHERE na.nn <> 0 AND nb.nn <> 0)
      |SELECT id0, id1, round(cosine, 6) AS cosine
      |FROM cosv WHERE cosine >= 0.4
      |ORDER BY id0, id1""".stripMargin

  val oracles: Map[String, String] = Map(
    "p04_ngram_jaccard" -> p04Sql,
    "p05_cosine_near_dup" -> p05Sql,
    "p02_minhash_lsh" -> p02Sql,
    "p03_simhash" -> p03Sql,
    "p11_fingerprint" -> p11Sql,
    "p20_contamination" -> p20Sql,
    "p21_split" -> p21Sql,
    "p22_stratified" -> p22Sql,
    "p23_sequence_pack" -> p23Sql,
    "p24_repetition" -> p24Sql,
    "p25_pii" -> p25Sql,
    "p26_line_dedup" -> p26Sql,
    "p27_weighted_mix" -> p27Sql,
    "p28_dedup_materialize" -> p28Sql,
    "p29_domain_stats" -> p29Sql,
    "p31_domain_cap" -> p31Sql,
    "p32_top_ngrams" -> p32Sql,
    "p33_span_dedup" -> p33Sql,
    "p34_lm_quality" -> p34Sql,
    "p35_html_extract" -> p35Sql,
    "p36_length_filter" -> p36Sql,
    "p37_tfidf_terms" -> p37Sql,
    "p38_crawl_curation" -> p38Sql,
    "p39_token_budget" -> p39Sql,
    "p40_semdedup" -> p40Sql,
    "p41_gopher_rules" -> p41Sql,
    "p42_doc_chunks" -> p42Sql,
    "p43_url_canonical" -> p43Sql,
    "p44_bm25" -> p44Sql,
    "p45_pair_contamination" -> p45Sql,
    "p46_span_removal" -> p46Sql,
    "p47_corpus_report" -> p47Sql,
    "p48_vocab_coverage" -> p48Sql,
    "p49_split_leakage" -> p49Sql,
    "p50_image_dhash" -> p50Sql,
    "p51_image_near_dup" -> p51Sql,
    "p52_url_frontier" -> p52Sql,
    "p53_quality_classifier" -> p53Sql,
    "p54_bpe_train" -> p54TrainSql,
    "p54_bpe_segment" -> p54SegmentSql,
    "p55_incremental_dedup" -> p55Sql,
    "p56_bpe_tokenize" -> p56Sql,
    "p57_quality_keeper" -> p57Sql,
    "p58_sq8_ann" -> p58Sql,
    "p59_lang_fertility" -> p59Sql,
    "p60_jsonl_ingest" -> p60Sql,
    "p61_near_dup_increment" -> p61Sql,
    // exhaustive probing makes the composite exactly the flat SQ8 scan
    "p62_ivf_sq8_ann" -> p58Sql,
    "p63_sharded_sink" -> p63Sql,
    "p64_audio_fingerprint" -> p64Sql,
    "p65_audio_near_dup" -> p65Sql,
    "p66_embed_increment" -> p66Sql,
    "p67_gopher_repetition" -> p67Sql,
    "p68_c4_filter" -> p68Sql,
    "p69_group_split" -> p69Sql,
    "p70_warc_ingest" -> p70Sql,
    "p71_warc_curation" -> p71Sql,
    "p72_video_frame_hashes" -> p72Sql,
    "p73_video_near_dup" -> p73Sql,
    "p74_dsir_select" -> p74Sql,
    "p75_bloom_decontaminate" -> p75Sql,
    "p76_hll_cardinality" -> p76Sql,
    "p77_blocklist_filter" -> p77Sql,
    "p78_token_bin_export" -> p78Sql,
    "p79_cms_heavy_hitters" -> p79Sql,
    "p80_pack_split" -> p80Sql,
    "p81_robots_gate" -> p81Sql,
    "p82_filter_ablation" -> p82Sql,
    "p83_ivf_increment" -> p06Sql,
    "p84_nfc_normalize" -> p84Sql,
    "p85_nfkc_normalize" -> p85Sql,
    "p86_crawl_chain" -> p86Sql,
    "p87_quantile_sketch" -> p87Sql,
    "p88_temperature_mix" -> p88Sql,
    "p89_lsh_recall" -> p89Sql,
    "p90_lsh_precision" -> p90Sql,
    "p91_kmeans_train" -> p91Sql,
    "p92_ccnet_buckets" -> p92Sql,
    "p93_random_projection" -> p93Sql,
    "p94_schema_evolution" -> p94Sql,
    "p95_cluster_sample" -> p95Sql,
    "p96_cluster_purity" -> p96Sql,
    "p97_ivf_recall" -> p97Sql,
    "p30_curation" -> p30Sql,
    "p01_dedup_exact" -> p01Sql,
    "p06_ann_topk" -> p06Sql,
    "p08_token_count" -> p08Sql,
    "p09_quality" -> p09Sql,
    "p10_lang_id" -> p10Sql,
    "p14_ngram_jaccard_exact" -> p14Sql,
    "p15_ann_ivf_exact" -> p06Sql,
    "p16_subword_count" -> p16Sql,
    "p17_multimodal_oracle" -> p17Sql,
    "p18_dedup_components" -> p18Sql,
    "p19_frames_oracle" -> p19Sql)

  /** p18 oracle: the p02 signature/banding/estimation chain (bit-exact
    * MinHash in DuckDB) with a recursive reachability closure over the
    * thresholded pair graph — component label = minimum reachable id,
    * independently of the Spark-side label propagation. */
  lazy val p18Sql: String = {
    val prefix = p02Sql.substring(0, p02Sql.lastIndexOf("SELECT id0, id1,"))
      .replaceFirst("WITH ", "WITH RECURSIVE ")
    prefix.stripTrailing() + ",\n" + """pairs AS (SELECT id0, id1 FROM est WHERE ej >= 0.2),
      |edges AS (
      |  SELECT id0 AS a, id1 AS b FROM pairs
      |  UNION SELECT id1 AS a, id0 AS b FROM pairs),
      |reach AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a),
      |comp AS (
      |  SELECT a AS doc_id, least(a, min(b)) AS component
      |  FROM reach GROUP BY a)
      |SELECT component::BIGINT AS component, count(*)::BIGINT AS n_docs
      |FROM comp GROUP BY component
      |ORDER BY component""".stripMargin
  }
}
