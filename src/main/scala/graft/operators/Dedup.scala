package graft.operators

import graft.backends.DetRng
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators for training-data pipelines —
  * engine extensions beyond the reference surface (BASELINE.json north
  * star). All four families are designed shuffle-light for the 100 TB
  * case:
  *
  *  - exact:   group by 256-bit content hash, never by the text itself —
  *             the shuffle moves 32 bytes + key per row, not documents.
  *  - MinHash: signatures are computed row-local (one UDF pass, no
  *             shuffle); only (band, bandHash, id) tuples — O(bands) small
  *             rows per doc — shuffle into LSH buckets; candidate pairs
  *             are verified by signature agreement. Oversized buckets
  *             (degenerate content) are capped to keep the pair join
  *             quadratic only locally.
  *  - SimHash: one 64-bit fingerprint per doc; near-dup = Hamming ≤ k,
  *             bucketed by the pigeonhole principle (k+1 chunks — a pair
  *             within distance k must agree on some chunk).
  *  - n-gram Jaccard: exact verification on LSH candidates via native
  *             array_intersect/array_union (codegen, no UDF).
  */
object Dedup {

  /** Ensure per-row heavy stages have enough parallelism: a
    * single-file parquet scan is ONE partition, which would serialize
    * the signature/fingerprint UDF on one core. The width probe reads
    * file-source metadata only (`inputFiles` + driver-side file stats) —
    * no `.rdd` conversion, so the plan stays a DataFrame and AQE still
    * coalesces downstream. A many-file input (the 100 TB case), a frame
    * whose lineage crosses a cached stage (already as wide as the
    * exchange that built it), or an in-memory spec frame passes through
    * untouched, no extra shuffle.
    *
    * The width is SIZE-DERIVED, not the core count (guide §2: derive
    * partitioning from input size, don't tune a constant to one
    * machine shape): one partition per [[spreadTargetBytes]] of source
    * input, capped at defaultParallelism. r18 shipped
    * `repartition(defaultParallelism)` unconditionally and the driver's
    * 32-core record showed the full-text round-robin exchange costing
    * more than 32-way parallelism buys on KB–MB inputs (p26/p44/p74/p48
    * ran SLOWER at 32 cores than at 8); a byte-proportional width keeps
    * the r18 local[8] wins and stops scaling the exchange with idle
    * cores. */
  private[graft] def spread(df: DataFrame): DataFrame =
    spreadAt(df, spreadLightBytes)

  /** [[spread]] for kernels measured CPU-heavy per input byte (HTML
    * extraction, n-gram pair explosion): a much smaller per-task byte
    * budget, because one task-worth of work amortizes at far fewer
    * input bytes. Only call sites with a MEASURED win at this width
    * use it (guide §1.2: per-task work knowledge feeds partitioning). */
  private[graft] def spreadHeavy(df: DataFrame): DataFrame =
    spreadAt(df, spreadHeavyBytes)

  private def spreadAt(df: DataFrame, perTaskBytes: Long): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val want = sc.defaultParallelism
    val files = df.inputFiles
    if (files.isEmpty || files.length >= want) return df
    // a lineage that crosses a cached stage is already partitioned by
    // whatever exchange built the cache — re-spreading it would add a
    // full round-robin exchange on top of the cache read
    val throughCache = df.queryExecution.optimizedPlan.exists {
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
      case _ => false
    }
    if (throughCache) return df
    val conf = sc.hadoopConfiguration
    val bytes = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      try p.getFileSystem(conf).getFileStatus(p).getLen
      catch { case _: Throwable => 0L }
    }.sum
    val width = spreadWidthFor(files.length, bytes, want, perTaskBytes)
    if (files.length >= width) df else df.repartition(width)
  }

  /** The one width rule behind [[spread]]/[[spreadHeavy]] and the
    * streaming source spread: one partition per `perTaskBytes` of
    * source input, never wider than the cluster. A source already
    * split at least this wide must gain NO exchange (spec-pinned). */
  private[graft] def spreadWidthFor(nFiles: Int, bytes: Long, want: Int,
      perTaskBytes: Long): Int =
    math.max(1L, math.min(want.toLong,
      (bytes + perTaskBytes - 1) / perTaskBytes)).toInt

  /** Per-task byte budget for HEAVY kernels (single-digit MB/s/core
    * over compressed input: HTML extraction, n-gram pair explosion) —
    * 64 KB of parquet ≈ 0.1–0.5 s of work, enough to amortize a task,
    * small enough that a 1 GB unsplittable file still fans out to
    * every core. */
  private val spreadHeavyBytes: Long = 64L * 1024

  /** Per-task byte budget for LIGHT kernels (tokenizers, hashes,
    * per-line splits — tens of MB/s/core): below ~4 MB of source the
    * round-robin exchange of the payload costs more than the
    * parallelism returns (measured at 32 cores: every light key ran
    * faster with the sf0.1 594 KB table UNSPREAD), while a multi-GB
    * unsplittable file still reaches full width. */
  private val spreadLightBytes: Long = 4L * 1024 * 1024

  /** Distributed in-bucket pair emission: rows carrying `("id" +: carry)`
    * grouped into buckets by `keys`, emitting every unordered in-bucket
    * pair (id0 < id1) via a bucket self-join. The size cap (a count
    * window over the bucket key — one shuffle, also pre-drops singleton
    * buckets, usually the vast majority) keeps one degenerate bucket from
    * going quadratic, and the self-join distributes pair expansion across
    * tasks per bucket key — each bucket's O(k²) pairs STREAM through the
    * join rather than materializing as one collected row in one task,
    * which is what survives a 100 TB input.
    *
    * Over-cap buckets (degenerate content: boilerplate, mirrored pages)
    * must not emit O(k²) pairs — but silently DROPPING them (the pre-r12
    * behavior) is worse: a 100× probe on a high-duplication corpus
    * returned ZERO candidates. They emit STAR edges instead: every
    * member pairs with THREE deterministic hubs — the bucket's min id,
    * max id, and a hash-mid id (min salted id-hash) — O(k) pairs total.
    * Three hubs, because in a mixed-content hot bucket (LSH false
    * positives) two genuine duplicates that are both dissimilar to one
    * unlucky hub would lose all their edges to the downstream verify;
    * with three independent hubs that requires all three to miss. The
    * emission is still an APPROXIMATION of the full pairwise set — only
    * hub-incident edges exist, so components can split if every hub of a
    * bucket is content-noise — which callers accept in exchange for
    * linear pair growth on pathological buckets.
    *
    * Plan shape: ONE window pass over the bucket exchange computes the
    * bucket size AND the hub flags (no groupBy + hub-join materializes
    * hubs — they are flagged in place), and one self-join emits BOTH the
    * capped pairs and the star edges: the left side keeps capped rows
    * plus over-cap hub rows, the right side keeps everything, and the
    * join condition switches on the bucket size. Both sides share the
    * reused hash exchange on `keys`. */
  private[operators] def inBucketPairs(
      rows: DataFrame, keys: Seq[String], carry: Seq[String],
      maxBucketSize: Int,
      prune: DataFrame => DataFrame = identity): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    val side = "id" +: carry
    val saltedHash = xxhash64(col("id"), lit(0x517cc1b7L))
    val decorated = rows
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__is_hub",
        col("id") === min(col("id")).over(w) ||
          col("id") === max(col("id")).over(w) ||
          saltedHash === min(saltedHash).over(w))
    val l = decorated
      .filter(col("__n") >= 2 &&
        (col("__n") <= maxBucketSize || col("__is_hub")))
      .select(keys.map(col) ++ Seq(col("__n")) ++
        side.map(c => col(c).as(c + "0")): _*)
    val r = decorated
      .filter(col("__n") >= 2)
      .select(keys.map(col) ++ side.map(c => col(c).as(c + "1")): _*)
    // capped buckets: full pairwise, oriented id0 < id1 at the source;
    // over-cap buckets: the left side is hubs only, so hub × member
    // star edges stream out (both orientations — normalized below)
    val joined = l.join(r, keys)
      .filter(when(col("__n") <= maxBucketSize, col("id0") < col("id1"))
        .otherwise(col("id0") =!= col("id1")))
      .drop("__n" +: keys: _*)
    val swap = col("id0") > col("id1")
    val normalized = joined.select(
      side.map(c => when(swap, col(c + "1")).otherwise(col(c + "0")).as(c + "0")) ++
        side.map(c => when(swap, col(c + "0")).otherwise(col(c + "1")).as(c + "1")): _*)
    // `prune` runs on the streaming join output BEFORE the dedup shuffle,
    // so a cheap verify (e.g. Hamming) shrinks the shuffled pair set
    prune(normalized).dropDuplicates("id0", "id1")
  }

  // ---------------------------------------------------------------- exact

  /** Exact duplicate groups: one row per distinct content with the
    * keeper id (min), duplicate count. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("content_hash", sha2(col(textCol).cast("binary"), 256))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Deduplicated view: keeps exactly the keeper row per content group. */
  def dedupExact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keepers = exactGroups(df, textCol, idCol)
      .select(col("keeper_id").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** Incremental corpus-version dedup — the RECURRING production job at
    * 100 TB: given snapshot N (`prior`) and snapshot N+1 (`curr`),
    * audit every NEW document (id absent from the prior snapshot)
    * against the full union: `dup_of_prior` (content already in
    * snapshot N — keeper is the earliest prior holder), `dup_in_
    * increment` (content first appears in this increment but an
    * earlier new doc holds it), or `new` (keeper = itself). Content
    * identity is the same 256-bit hash as [[exactGroups]], NULL ≡
    * blank. One row per new doc, so the drop set is auditable
    * (the p52 discipline).
    *
    * Scale shape: BOTH sides are corpus-sized — a daily web-crawl
    * increment is terabytes, the prior snapshot tens of them — so
    * every join is declared SHUFFLE_MERGE (hash-co-partitioned
    * sort-merge; broadcasting either side would be a scale-killer,
    * st10's stream-static anti-join generalized to batch). The
    * increment keeper comes from a window min over the SAME
    * content-hash partitioning the prior-registry join shuffles on —
    * Catalyst reuses the exchange instead of aggregating the
    * increment twice. The prior registry is one map-side-combined
    * (hash → min id) aggregate, carrying distinct contents, not
    * corpus rows. */
  def incrementalDedup(prior: DataFrame, curr: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def contentHash = sha2(coalesce(col(textCol), lit("")).cast("binary"), 256)
    val inc = curr
      .join(prior.select(col(idCol)).hint("shuffle_merge"), Seq(idCol), "left_anti")
      .select(col(idCol), contentHash.as("content_hash"))
    val priorContent = prior
      .select(contentHash.as("content_hash"), col(idCol).as("__pid"))
      .groupBy("content_hash").agg(min("__pid").as("prior_keeper"))
    inc
      .withColumn("inc_keeper",
        min(col(idCol)).over(Window.partitionBy("content_hash")))
      .join(priorContent.hint("shuffle_merge"), Seq("content_hash"), "left")
      .select(col(idCol), col("content_hash"),
        when(col("prior_keeper").isNotNull, lit("dup_of_prior"))
          .when(col("inc_keeper") < col(idCol), lit("dup_in_increment"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("prior_keeper"), col("inc_keeper")).as("keeper_id"))
  }

  /** Incremental NEAR-duplicate dedup — [[incrementalDedup]]'s MinHash
    * rung, the actual recurring crawl-refresh job: a new snapshot is
    * mostly *near* duplicates of the prior one (template drift, ad
    * rotation, timestamps), which the exact-hash increment audit
    * cannot see. Every NEW document (id absent from the prior
    * snapshot) is near-dup-checked against the prior snapshot's
    * MinHash signature table: verdict `near_dup_of_prior` with the
    * best-matching prior keeper (highest signature-estimated Jaccard
    * ≥ `minEstJaccard`, ties to the smallest prior id) or `new`
    * (keeper = itself, NULL estimate). One row per new doc — the
    * auditable drop set, the p52/p55 discipline.
    *
    * Scale shape: BOTH sides are corpus-sized (a daily increment is
    * terabytes, the prior snapshot tens of them), so NOTHING
    * broadcasts — every join is declared SHUFFLE_MERGE:
    *  1. the id anti-join finding new docs (co-partitioned on id);
    *  2. the band join: both sides reduce row-locally to (id, band,
    *     band_hash) 24-byte rows — signatures are computed once per
    *     row ([[graft.functions.MinHashSignature]], codegen) and the
    *     1 KB sig arrays stay OUT of the bucket exchange — and meet
    *     hash-co-partitioned on (band, band_hash), the st10
    *     stream-static band state generalized to batch;
    *  3. the signature rejoin of surviving (new, prior) candidate
    *     pairs (deduped across bands first, so the agreement kernel
    *     runs once per pair, not once per colliding band).
    * The keeper argmax is ONE map-side-combinable max(struct) — the
    * (est DESC, prior_id ASC) total order packed into one struct —
    * never a window over all matches. Hot band buckets (boilerplate)
    * are capped on the PRIOR side: an over-`maxBucketSize` bucket
    * keeps three deterministic hub rows (min id, max id, min salted
    * id-hash — [[inBucketPairs]]'s star discipline), so a degenerate
    * bucket emits O(new) pairs instead of O(new × prior); every new
    * doc still gets its verdict row, recall above the cap is the same
    * three-hub approximation callers already accept. */
  def incrementalNearDedup(prior: DataFrame, curr: DataFrame,
      textCol: String, idCol: String,
      numHashes: Int = 128, bands: Int = 32, shingleSize: Int = 3,
      minEstJaccard: Double = 0.5, seed: Long = 42L,
      maxBucketSize: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val newDocs = curr
      .join(prior.select(col(idCol)).hint("shuffle_merge"), Seq(idCol), "left_anti")
    def sigOf(df: DataFrame, side: Int): DataFrame = spread(df).select(
        col(idCol).as("id"),
        minHashSignature(numHashes, shingleSize, seed)(col(textCol)).as("sig"),
        lit(side).as("side"))
      .filter(col("sig").isNotNull)
    // one cached signature table for both sides: banding reads it once,
    // the est rejoin twice (the one-slot registry evicts the previous
    // call's cache, same lifecycle as minHashCandidates)
    val signed = graft.Memo.signatures.pin(
      sigOf(newDocs, 1).unionByName(sigOf(prior, 0)))
    def banded(side: Int, idName: String): DataFrame = signed
      .filter(col("side") === side)
      .select(col("id").as(idName),
        posexplode(array((0 until bands).map(b =>
          xxhash64(slice(col("sig"), lit(b * rowsPerBand + 1), lit(rowsPerBand)), lit(b))): _*))
          .as(Seq("band", "band_hash")))
    val w = Window.partitionBy("band", "band_hash")
    val saltedHash = xxhash64(col("prior_id"), lit(0x517cc1b7L))
    val priorBands = banded(0, "prior_id")
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__is_hub",
        col("prior_id") === min(col("prior_id")).over(w) ||
          col("prior_id") === max(col("prior_id")).over(w) ||
          saltedHash === min(saltedHash).over(w))
      .filter(col("__n") <= maxBucketSize || col("__is_hub"))
      .select("band", "band_hash", "prior_id")
    val cand = banded(1, "new_id").hint("shuffle_merge")
      .join(priorBands, Seq("band", "band_hash"))
      .select("new_id", "prior_id")
      .dropDuplicates("new_id", "prior_id")
    val matches = cand
      .hint("shuffle_merge")
      .join(signed.filter(col("side") === 1)
        .select(col("id").as("new_id"), col("sig").as("sig_n")), Seq("new_id"))
      .hint("shuffle_merge")
      .join(signed.filter(col("side") === 0)
        .select(col("id").as("prior_id"), col("sig").as("sig_p")), Seq("prior_id"))
      .withColumn("est_jaccard",
        graft.functions.SignatureAgreement(col("sig_n"), col("sig_p"))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= minEstJaccard)
    // keeper argmax as ONE combinable aggregate: lexicographic struct
    // max = (highest est, then smallest prior id via the negated key)
    val best = matches.groupBy(col("new_id"))
      .agg(max(struct(col("est_jaccard").as("e"), (-col("prior_id")).as("np"),
        col("prior_id").as("pid"))).as("b"))
      .select(col("new_id").as(idCol), col("b.pid").as("__keeper"),
        col("b.e").as("__est"))
    newDocs.select(col(idCol))
      .hint("shuffle_merge")
      .join(best, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__keeper").isNotNull, lit("near_dup_of_prior"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("__keeper"), col(idCol)).as("keeper_id"),
        col("__est").as("est_jaccard"))
  }

  // -------------------------------------------------------------- MinHash

  /** Word n-gram shingles as a native column (row-local; the transform
    * itself is interpreted — higher-order functions don't codegen). */
  def shingles(textCol: Column, n: Int): Column =
    // bindArray: an unbound token array inside the window lambda
    // re-splits the whole document once per shingle — O(tokens²)/row
    graft.functions.BindOnce.bindArray(
      split(trim(lower(textCol)), "\\s+"),
      tokens => {
        // sliding n-grams: transform over the index range, join words
        val count = greatest(size(tokens) - (n - 1), lit(0))
        transform(sequence(lit(0), count - 1),
          i => concat_ws(" ", slice(tokens, i + lit(1), lit(n))))
      })

  /** MinHash signature by one-permutation hashing (Li/Owen/Zhang: hash
    * each shingle ONCE, bin it by its hash, keep the per-bin minimum —
    * O(shingles) instead of O(shingles × numHashes)) with rotational
    * densification for empty bins (Shrivastava: an empty bin copies the
    * next non-empty bin circularly, preserving the collision property —
    * two docs that borrow from the same bin agree iff that bin agrees).
    * Row-local, no shuffle.
    *
    * Fused text→signature: each token's bytes are hashed ONCE and the
    * word-n-gram hash is the FNV combine of its token hashes — no
    * n-gram strings are ever built, and a token's bytes are not
    * re-hashed by every window containing it. Runs as a native Catalyst
    * expression ([[graft.functions.MinHashSignature]], whole-stage
    * codegen, primitive long[] straight to UnsafeArrayData). */
  private def minHashSignature(numHashes: Int, shingleSize: Int, seed: Long): Column => Column =
    text => graft.functions.MinHashSignature(text, numHashes, shingleSize, seed)

  /** The signature stage alone, through the one-slot signature cache —
    * the seam the cache's replacement rule is tested through. */
  private[graft] def minHashSignedForProfile(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 128, shingleSize: Int = 3, seed: Long = 42L): DataFrame =
    graft.Memo.signatures.pin(spread(df).select(col(idCol).as("id"),
        minHashSignature(numHashes, shingleSize, seed)(col(textCol)).as("sig"))
      .filter(col("sig").isNotNull))

  /** Candidate near-duplicate pairs by MinHash+LSH with signature-level
    * similarity estimate. Returns (id0, id1, est_jaccard), id0 < id1. */
  def minHashCandidates(
      df: DataFrame, textCol: String, idCol: String,
      // 32 bands × 4 rows: the LSH S-curve threshold (1/b)^(1/r) ≈ 0.42,
      // matched to the default minEstJaccard — 16×8 would sit at ≈0.77
      // and miss mid-similarity near-dups
      numHashes: Int = 128, bands: Int = 32, shingleSize: Int = 3,
      minEstJaccard: Double = 0.5, seed: Long = 42L,
      maxBucketSize: Int = 64): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands

    // signatures are read by the banding pass and the two candidate
    // rejoins — cache so the signature UDF runs once per row
    // (at cluster scale: persist the signature table); the one-slot
    // registry evicts the previous call's cache
    val signed = graft.Memo.signatures.pin(spread(df).select(
        col(idCol).as("id"),
        minHashSignature(numHashes, shingleSize, seed)(col(textCol)).as("sig"))
      .filter(col("sig").isNotNull))

    // band hashes: one 64-bit hash per band over its signature slice.
    // Only (id, band, band_hash) enters the bucket machinery — the
    // 128-long signature (1 KB/row) stays out of the ×bands explode,
    // the bucket-size window, and the self-join shuffles; it rejoins on
    // the surviving candidate pairs only.
    val banded = signed.select(
      col("id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(slice(col("sig"), lit(b * rowsPerBand + 1), lit(rowsPerBand)), lit(b))): _*))
        .as(Seq("band", "band_hash")))

    // distributed in-bucket pair emission (capped): pairs stream out of a
    // per-bucket self-join across tasks — NOT a collect_list row per
    // bucket, which would serialize each bucket's O(k²) expansion into a
    // single task (the round-4 regression)
    val pairs = inBucketPairs(banded, Seq("band", "band_hash"), Nil, maxBucketSize)
      .join(signed.select(col("id").as("id0"), col("sig").as("sig0")), "id0")
      .join(signed.select(col("id").as("id1"), col("sig").as("sig1")), "id1")

    // estimated Jaccard = fraction of agreeing signature positions — a
    // native fused-pass expression evaluated once per candidate pair
    // (graft.functions.SignatureAgreement, whole-stage codegen)
    pairs
      .withColumn("est_jaccard",
        graft.functions.SignatureAgreement(col("sig0"), col("sig1"))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("id0", "id1", "est_jaccard")
  }

  // ------------------------------------------------------ n-gram Jaccard

  /** Exact n-gram Jaccard over candidate pairs: joins shingle sets back
    * and computes |∩|/|∪| natively. `candidates` must have id0/id1. */
  def ngramJaccard(
      df: DataFrame, candidates: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, minJaccard: Double = 0.6): DataFrame = {
    // candidates ≪ corpus: a left-semi prefilter on the candidate ids
    // (applied to the RAW scan, before the shingle projection, so shingle
    // arrays are only built for candidate docs). No forced broadcast: AQE
    // broadcasts the id list while it's small and falls back to a
    // shuffled semi-join when a 100 TB candidate set isn't.
    val candIds = candidates
      .select(explode(array(col("id0"), col("id1"))).as("id")).distinct()
    val candDocs = df
      .select(col(idCol).as("id"), col(textCol).as("__graft_text"))
      .join(candIds, Seq("id"), "left_semi")
    // distinct window-hash sets via one fused native pass (no n-gram
    // strings, no interpreted higher-order transform); intersect/union
    // then run over primitive long arrays
    val sets = candDocs.select(col("id"),
      graft.functions.NgramHashSet(col("__graft_text"), shingleSize).as("sh"))
    candidates
      .join(sets.select(col("id").as("id0"), col("sh").as("sh0")), "id0")
      .join(sets.select(col("id").as("id1"), col("sh").as("sh1")), "id1")
      .withColumn("jaccard",
        size(array_intersect(col("sh0"), col("sh1"))).cast("double") /
          size(array_union(col("sh0"), col("sh1"))))
      .filter(col("jaccard") >= minJaccard)
      .select("id0", "id1", "jaccard")
  }

  /** Measured LSH recall audit — the tuning report a dedup owner reads
    * before freezing banding parameters: on a BOUNDED audit slice,
    * compute the exact n-gram-Jaccard truth over ALL slice pairs
    * (quadratic BY DESIGN — auditing recall exactly is the O(n²) the
    * LSH exists to avoid at corpus scale, so the slice size is a hard
    * budget with a named error), compare against the production
    * MinHash band candidates over the FULL corpus, and roll up
    * caught/true per similarity band — the empirical S-curve to hold
    * against the 1−(1−s⁴)³² theory curve. Returns one row per band
    * plus a '*' rollup: (band, n_true, n_caught, recall). */
  def lshRecallAudit(docs: DataFrame, textCol: String, idCol: String,
      auditCond: Column, minJaccard: Double = 0.2,
      minEstJaccard: Double = 0.2, shingleSize: Int = 3,
      bandEdges: Seq[Double] = Seq(0.4, 0.6, 0.8),
      maxAuditDocs: Long = 4096,
      // at 100 TB the dedup job has ALREADY materialized its candidate
      // table — pass it here ((id0, id1) with id0 < id1) so the audit
      // reads it instead of regenerating the corpus-wide LSH (the
      // regeneration default is for self-contained fixture gates)
      candidates: Option[DataFrame] = None): DataFrame = {
    require(bandEdges.nonEmpty && bandEdges == bandEdges.sorted &&
      bandEdges.head > minJaccard && bandEdges.last < 1.0,
      "bandEdges must be sorted strictly inside (minJaccard, 1)")
    val slice = docs.filter(auditCond)
      .select(col(idCol).as("id"))
    val n = slice.count()
    require(n > 1, "audit slice needs at least two documents")
    require(n <= maxAuditDocs,
      s"audit slice has $n documents over the $maxAuditDocs budget — " +
        "a recall audit is quadratic by design; narrow auditCond")
    val cands = slice.select(col("id").as("id0"))
      .crossJoin(slice.select(col("id").as("id1")))
      .filter(col("id0") < col("id1"))
    val truth = ngramJaccard(docs, cands, textCol, idCol,
      shingleSize, minJaccard)
    val caught = candidates.getOrElse(
        minHashCandidates(docs, textCol, idCol,
          minEstJaccard = minEstJaccard))
      .select(col("id0"), col("id1"), lit(1L).as("__c"))
    val edges = bandEdges
    val bounds = (minJaccard +: edges).zip(edges :+ 1.0)
    val labels = bounds.map { case (lo, hi) =>
      String.format(java.util.Locale.ROOT, "j_%.2f_%.2f",
        Double.box(lo), Double.box(hi)) }
    var bandCol: Column = lit(labels.last)
    for (i <- edges.indices.reverse)
      bandCol = when(col("jaccard") < edges(i), lit(labels(i)))
        .otherwise(bandCol)
    val marked = truth.join(caught, Seq("id0", "id1"), "left")
      .select(bandCol.as("band"), coalesce(col("__c"), lit(0L)).as("c"))
    // ONE pass over the (deliberately expensive) truth×candidates
    // plan: aggregate per band, collect the ≤|bands|-row result, and
    // assemble the '*' rollup driver-side — a unionByName of the
    // marked plan would re-run the quadratic truth stage twice
    val perBand = marked.groupBy("band").agg(
        count(lit(1)).as("n_true"),
        sum(col("c")).as("n_caught"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val spark = docs.sparkSession
    import spark.implicits._
    // an empty truth set yields an empty report (no '*' row either —
    // the grouped form's behavior, and 0/0 is not a recall)
    val rows =
      if (perBand.isEmpty) Seq.empty[(String, Long, Long)]
      else perBand.toSeq :+
        (("*", perBand.map(_._2).sum, perBand.map(_._3).sum))
    rows.toDF("band", "n_true", "n_caught")
      .withColumn("recall",
        round(col("n_caught").cast("double") / col("n_true"), 6))
  }

  /** Measured LSH precision audit — [[lshRecallAudit]]'s complement,
    * the other half of the banding tuning report: of the candidate
    * pairs the production MinHash bucketing EMITS inside the audit
    * slice, how many are true (exact n-gram Jaccard ≥ `minJaccard`),
    * cross-tabbed per ESTIMATE band. Unlike the recall side there is
    * no quadratic stage — the exact verify runs only on emitted
    * candidates, the production-pipeline shape — so no slice budget
    * is needed; `auditCond` just scopes the report. A candidate pair
    * whose docs have no n-grams verifies to 0 (no shared content),
    * not to a dropped row — a vanished false positive would inflate
    * precision. Returns (est_band, n_candidates, n_true, precision)
    * plus a '*' rollup. */
  def lshPrecisionAudit(docs: DataFrame, textCol: String, idCol: String,
      auditCond: Column, minJaccard: Double = 0.2,
      minEstJaccard: Double = 0.2, shingleSize: Int = 3,
      estBandEdges: Seq[Double] = Seq(0.4, 0.6, 0.8),
      // the materialized-candidate path, as in [[lshRecallAudit]]:
      // (id0, id1, est_jaccard) from the production dedup job
      candidates: Option[DataFrame] = None): DataFrame = {
    require(estBandEdges.nonEmpty && estBandEdges == estBandEdges.sorted &&
      estBandEdges.head > minEstJaccard && estBandEdges.last < 1.0,
      "estBandEdges must be sorted strictly inside (minEstJaccard, 1)")
    val slice = docs.filter(auditCond).select(col(idCol).as("__sid"))
    val cands = candidates.getOrElse(
        minHashCandidates(docs, textCol, idCol,
          minEstJaccard = minEstJaccard))
      .join(slice.select(col("__sid").as("id0")), Seq("id0"), "left_semi")
      .join(slice.select(col("__sid").as("id1")), Seq("id1"), "left_semi")
      .select("id0", "id1", "est_jaccard")
    val verified = ngramJaccard(docs, cands.select("id0", "id1"),
      textCol, idCol, shingleSize, minJaccard = 0.0)
    val edges = estBandEdges
    val bounds = (minEstJaccard +: edges).zip(edges :+ 1.0)
    val labels = bounds.map { case (lo, hi) =>
      String.format(java.util.Locale.ROOT, "est_%.2f_%.2f",
        Double.box(lo), Double.box(hi)) }
    var bandCol: Column = lit(labels.last)
    for (i <- edges.indices.reverse)
      bandCol = when(col("est_jaccard") < edges(i), lit(labels(i)))
        .otherwise(bandCol)
    val marked = cands
      .join(verified, Seq("id0", "id1"), "left")
      .select(bandCol.as("band"),
        (coalesce(col("jaccard"), lit(0.0)) >= minJaccard)
          .cast("long").as("t"))
    val perBand = marked.groupBy("band").agg(
        count(lit(1)).as("n_candidates"),
        sum(col("t")).as("n_true"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val spark = docs.sparkSession
    import spark.implicits._
    val rows =
      if (perBand.isEmpty) Seq.empty[(String, Long, Long)]
      else perBand.toSeq :+
        (("*", perBand.map(_._2).sum, perBand.map(_._3).sum))
    rows.toDF("band", "n_candidates", "n_true")
      .withColumn("precision",
        round(col("n_true").cast("double") / col("n_candidates"), 6))
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash of the token stream (row-local, native Catalyst
    * expression — [[graft.functions.SimHash64]]). */
  def simHash(seed: Long = 42L): Column => Column =
    text => graft.functions.SimHash64(text, seed)

  /** Connected components of a near-duplicate pair graph — the step
    * that turns pairwise candidates into dedup CLUSTERS (keep one doc
    * per component). Components are labeled by their minimum member.
    *
    * Scale design: up to `driverMaxEdges` the closure runs as driver
    * union-find (O(E·α), one collect); beyond it, the distributed path
    * is alternating large-star/small-star contraction (Kiveris et al.
    * 2014) — O(log² n) rounds on any topology, a few shuffles per
    * round over the EDGE list (which shrinks as it contracts), never
    * all-pairs. A non-converged graph after `maxIter` rounds is an
    * error, not a silent partial answer. Returns (id, component). */
  def connectedComponents(pairs: DataFrame, col0: String, col1: String,
      // 4M edges collect as (Long, Long) tuples (~48 B/edge) ≈ 200 MB
      // plus the distinct-ids array — comfortably inside the 24g
      // driver — and the bound keeps the adversarial 100×-replica
      // probe dir (1.52M edges measured in r16) on the
      // O(E·α) union-find path instead of the straggler-noisy
      // label-prop loop it tipped into at the old 1M bound
      maxIter: Int = 20, driverMaxEdges: Long = 1L << 22): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col(col0).cast("long").as("a"),
      col(col1).cast("long").as("b"))
    // The pair graph is orders of magnitude smaller than the corpus
    // (LSH emits only colliding candidates, bucket-capped), so up to an
    // explicit bound the closure runs as driver union-find — O(E·α) and
    // a single collect, instead of per-iteration scheduler latency.
    // Beyond the bound, the distributed star-contraction loop below is
    // the scale path. Both label components by their minimum member;
    // PipelineSpec pins path equality.
    //
    // The edge list is PINNED before the path gate so the (expensive)
    // candidate-pair plan computes at most once per partition: the
    // gate's bounded count, the driver collect, and the distributed
    // round-0 pin all read the same cached partitions — the dup-heavy
    // regime neither collects a driver array only to discard it nor
    // recomputes the pair plan from scratch (the r17 double-scan).
    val edgesRdd = edges.as[(Long, Long)].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edgesPinned = edgesRdd.toDF("a", "b")
    // +1 AFTER the clamp: a Long.MaxValue bound must not overflow to
    // a negative limit
    val bound = math.min(driverMaxEdges, Int.MaxValue.toLong - 9L)
    val overflow = edgesPinned.limit((bound + 1L).toInt).count() > bound
    if (!overflow) {
      val bounded = edgesRdd.collect()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      bounded.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val ids = bounded.flatMap(e => Seq(e._1, e._2)).distinct
      val rows = ids.map(id => (id, find(id)))
      edgesRdd.unpersist(blocking = false)
      return rows.toSeq.toDF("id", "component")
    }
    // Distributed fallback: alternating LARGE-STAR / SMALL-STAR
    // contraction (Kiveris et al., "Connected Components in MapReduce
    // and Beyond", 2014) — the r16 label-propagation loop needed up to
    // `diameter` rounds and its probe record was straggler-noisy at
    // 1.5M edges; star contraction converges in O(log² n) rounds on
    // ANY topology (a long path that cost label-prop `diameter` rounds
    // halves every round here; dense LSH clusters collapse in 1–2),
    // and the edge list SHRINKS toward one star edge per non-root node
    // as it runs. Each round is two groupBy+rejoin passes over the
    // edge list — the rejoin reuses the groupBy's hash exchange — plus
    // one exact fixpoint check (count + anti-join; no probabilistic
    // signature can stop the loop early on a collision). Per-round
    // caches release as soon as the next round materializes; self-loop
    // rows ride outside the contraction (large-star would silently
    // drop a degree-0 node) and label themselves.
    //
    //   large-star: every node links its LARGER neighbors to
    //               min(Γ(u) ∪ {u})   — emits (v, m) for v > u
    //   small-star: every node links its smaller neighbors and itself
    //               to the minimum    — emits (v, m), v ≠ m, and (u, m)
    //
    // Fixpoint = star forests rooted at each component's minimum
    // member, which is exactly the driver union-find's labeling
    // (PipelineSpec pins path equality).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      val m = sym.groupBy("a").agg(min("b").as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      sym.join(m, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // input arrives oriented a > b (large-star output), so Γ(a) here
      // is exactly the smaller-neighbor set the operator contracts
      val m = e.groupBy("a").agg(min("b").as("m"))
      e.join(m, "a").filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .unionByName(m.select(col("a"), col("m").as("b")))
    }
    // Each star round references the previous round's frame ~10 times
    // (sym union + min-rejoin, twice), so an un-truncated logical plan
    // grows EXPONENTIALLY with rounds — round 5 is a gigabyte-scale
    // plan tree before a single task runs. Every round therefore hops
    // through a cached RDD: the hop pins the round's data (so the next
    // round reads materialized partitions, and stragglers can't
    // re-climb the whole lineage) and resets the plan to a leaf — the
    // public-API form of per-round localCheckpoint.
    def pin(df: DataFrame): (org.apache.spark.rdd.RDD[(Long, Long)], Long, DataFrame) = {
      // MEMORY_AND_DISK, not the MEMORY_ONLY cache default: evicting a
      // round's partitions would recompute through the chain of prior
      // rounds all the way back to the (expensive) input pair plan —
      // spilling 16-byte pairs is strictly cheaper
      val rdd = df.as[(Long, Long)].rdd
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (rdd, rdd.count(), rdd.toDF("a", "b"))
    }
    var (curRdd, curCount, cur) = pin(edgesPinned.dropDuplicates("a", "b"))
    // round 0 is materialized off the cache by pin's count — the raw
    // edge pin has served both its readers and can go
    edgesRdd.unpersist(blocking = false)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val (nextRdd, nextCount, next) = pin(
        smallStar(largeStar(cur.filter(col("a") =!= col("b"))))
          .unionByName(cur.filter(col("a") === col("b")))
          .dropDuplicates("a", "b"))
      // exact fixpoint: same cardinality and next ⊆ cur ⇒ equal sets
      val changed = nextCount != curCount ||
        next.join(cur, Seq("a", "b"), "left_anti").limit(1).count() > 0L
      curRdd.unpersist(blocking = false)
      curRdd = nextRdd
      cur = next
      curCount = nextCount
      converged = !changed
      it += 1
    }
    if (!converged) {
      curRdd.unpersist(blocking = false)
      require(converged,
        s"connectedComponents did not converge within $maxIter rounds" +
          " — raise maxIter")
    }
    // star edges: (member, root); every root appears as b (and an
    // isolated self-loop node as its own (x, x) row) — the min-agg is
    // a no-op at fixpoint but keeps the assembly deterministic
    cur.select(col("a").as("id"), col("b").as("component"))
      .unionByName(cur.select(col("b").as("id"), col("b").as("component")))
      .groupBy("id").agg(min("component").as("component"))
  }

  /** Quality-aware duplicate-cluster keeper join — the act step on a
    * component table (the p18 closure): each clustered doc joins its
    * quality score and the component keeper is the highest-quality
    * member (ties to the smallest id). Returns one auditable row per
    * clustered doc: (idCol, component, scoreCol, keeper_id, kept).
    *
    * Scale shape is a measured TWO-PATH GATE, not an assumption: on a
    * curated corpus the clustered slice is orders of magnitude smaller
    * than the corpus and BROADCASTS, so the corpus-side quality scan
    * streams through without shuffling — but on a raw web crawl
    * near-dup clusters cover 30–50 % of documents (the RefinedWeb/CCNet
    * regime), where a forced broadcast of a billions-of-rows component
    * table is an executor-OOM scale-killer. The gate CACHES the
    * component table and counts the cache (so the closure assembly is
    * computed once, not once for the gate and once for the join —
    * [[connectedComponents]]' driver path is a local relation where
    * this is free; its distributed output is an aggregation that is
    * not) and above
    * `maxBroadcastRows` declares a hash-co-partitioned SortMergeJoin
    * on the id instead ([[incrementalDedup]]'s both-sides-large
    * discipline); the keeper window then re-partitions only the
    * clustered rows by component. Both plan shapes are spec-pinned
    * (PlanShapeSpec guards the GATE, not one branch). */
  def qualityKeeper(qual: DataFrame, scoreCol: String, comp: DataFrame,
      idCol: String, maxBroadcastRows: Long = 4L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val side = gatedCompSide(comp, maxBroadcastRows)
    qual.join(side, Seq(idCol))
      .withColumn("keeper_id", first(col(idCol)).over(
        Window.partitionBy("component")
          .orderBy(col(scoreCol).desc, col(idCol))))
      .select(col(idCol), col("component"), col(scoreCol),
        col("keeper_id"), (col(idCol) === col("keeper_id")).as("kept"))
  }

  /** The measured broadcast/SortMergeJoin cardinality gate over a
    * CACHED component table — shared by [[qualityKeeper]] and
    * [[groupKeyedSplit]]. Caching BEFORE the gate count matters: a
    * distributed-path component table is an uncached aggregation, and
    * counting it uncached would compute the whole closure assembly
    * twice (once for the gate, once for the join) — exactly in the
    * dup-heavy regime the gate exists for. One-slot lifecycle, same
    * as the signature cache. */
  private def gatedCompSide(comp: DataFrame, maxBroadcastRows: Long): DataFrame = {
    require(maxBroadcastRows >= 0, "maxBroadcastRows must be >= 0")
    val cached = graft.Memo.keeperComponents.pin(comp)
    val clustered = cached.count()
    if (clustered <= maxBroadcastRows) broadcast(cached)
    else cached.hint("shuffle_merge")
  }

  /** Group-keyed fold split — the leakage FIX the split-leakage audit
    * motivates: each row's fold is [[Sampling.fold]] of its GROUP
    * key — its near-dup component label (from
    * [[connectedComponents]]) when clustered, its own id otherwise —
    * so a near-dup pair can never straddle folds: both members carry
    * the same component, hence the same key, hence the same fold.
    * Returns one row per input row: (idCol, group_key, fold).
    *
    * Scale shape: ONE left join of the corpus against the component
    * table behind the same measured broadcast/SMJ cardinality gate as
    * [[qualityKeeper]] (curated corpus → tiny clustered slice
    * broadcasts and the corpus never shuffles; raw-crawl regime →
    * hash-co-partitioned SortMergeJoin); the fold itself is row-local
    * SplitMix64 arithmetic — no further exchange, and the assignment
    * is rerun-, retry-, and repartition-stable like everything keyed
    * by [[Sampling.fold]]. */
  def groupKeyedSplit(df: DataFrame, idCol: String, comp: DataFrame,
      seed: Long, folds: Int, maxBroadcastRows: Long = 4L << 20): DataFrame = {
    // comp is keyed by idCol with a `component` label (the caller
    // renames connectedComponents' `id`), the qualityKeeper contract
    val side = gatedCompSide(comp, maxBroadcastRows)
    df.select(col(idCol))
      .join(side, Seq(idCol), "left")
      .withColumn("group_key", coalesce(col("component"), col(idCol)))
      .withColumn("fold", Sampling.fold(col("group_key"), seed, folds))
      .select(col(idCol), col("group_key"), col("fold"))
  }

  /** The `chunks` disjoint low-to-high bit slices of a 64-bit
    * signature — THE canonical definition, shared by the batch
    * [[hammingPairs]] and the streaming near-dup paths
    * (StreamPipeline.sigChunks), so the mask arithmetic cannot diverge
    * per copy: one chunk means bits = 64, where the naive
    * `(1L << 64) - 1` mask wraps to 0 and would collide EVERY
    * signature into bucket 0. */
  private[graft] def sigChunkValues(sig: Column, chunks: Int): Seq[Column] = {
    val bits = 64 / chunks
    (0 until chunks).map { c =>
      val shifted = shiftrightunsigned(sig, c * bits)
      if (bits == 64) shifted else shifted.bitwiseAND(lit((1L << bits) - 1))
    }
  }

  /** Near-duplicate pairs over ANY 64-bit fingerprint column:
    * Hamming(sig0, sig1) ≤ maxHamming, bucketed on (maxHamming+1)
    * disjoint chunks of the fingerprint — by pigeonhole, a pair within
    * distance maxHamming agrees on at least one chunk, so recall is
    * 1.0 wrt the fingerprint. (64 need not divide evenly: the top
    * 64 mod (maxHamming+1)·bits bits simply belong to no chunk, which
    * can only ADD collisions — never lose a pair.) Works for SimHash
    * (text — [[simHashPairs]]), dHash
    * ([[Multimodal.perceptualHashes]] — image near-dup), or any other
    * 64-bit locality-sensitive signature. */
  def hammingPairs(signed0: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, maxBucketSize: Int = 4096): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "need 0 <= maxHamming < 64")
    val chunks = maxHamming + 1
    val signed = signed0.select(col(idCol).as("id"), col(sigCol).as("sim"))
      .filter(col("sim").isNotNull)
    val chunked = signed.select(col("id"), col("sim"),
      posexplode(array(sigChunkValues(col("sim"), chunks): _*))
        .as(Seq("chunk", "chunk_val")))
    // distributed in-bucket pair emission (capped); the 64-bit
    // fingerprint rides along both join sides (16 bytes/row), so the
    // Hamming verify needs no rejoin and prunes pairs as they stream out
    // of the join, BEFORE the dedup shuffle — nothing quadratic is ever
    // materialized or shuffled
    inBucketPairs(chunked, Seq("chunk", "chunk_val"), Seq("sim"), maxBucketSize,
        prune = p => p
          .withColumn("hamming", bit_count(col("sim0").bitwiseXOR(col("sim1"))))
          .filter(col("hamming") <= maxHamming))
      .select("id0", "id1", "hamming")
  }

  /** Near-duplicate pairs by SimHash: [[hammingPairs]] over the
    * [[simHash]] fingerprint of the token stream. */
  def simHashPairs(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, seed: Long = 42L,
      maxBucketSize: Int = 4096): DataFrame =
    hammingPairs(
      spread(df).select(col(idCol).as("id"), simHash(seed)(col(textCol)).as("sim")),
      "id", "sim", maxHamming, maxBucketSize)

  /** Line-level boilerplate dedup (CCNet/Dolma-style): drop every line
    * that occurs more than `maxDf` times across the whole corpus — nav
    * bars, cookie banners, boilerplate footers — keeping each document's
    * remaining lines in order. Returns (idCol, n_lines, n_dropped,
    * cleaned). Document-level exact dedup ([[dedupExact]]) does not
    * cover this: the boilerplate line recurs inside otherwise-unique
    * documents.
    *
    * Scale shape (the 100 TB case): TWO corpus scans, ZERO corpus-wide
    * data shuffles.
    *  1. Count pass: lines explode to their 64-bit xxhash64 only (8
    *     bytes + count per DISTINCT line after the map-side partial
    *     aggregate — boilerplate collapses before the exchange), one
    *     hash-partitioned count, filter df > maxDf. The surviving
    *     boilerplate set is tiny BY CONSTRUCTION (≤ total_lines/maxDf
    *     distinct values).
    *  2. Clean pass: the boilerplate hashes collapse to ONE array row
    *     broadcast-cross-joined onto the corpus, and each document
    *     filters its own lines row-locally (array_contains per line —
    *     linear in the boilerplate set, fine for the banner/footer sets
    *     this targets). The document text never shuffles and never
    *     regroups; membership is whole-stage-codegen'd.
    *
    * CONTRACT: the broadcast design point is the CCNet regime —
    * boilerplate is the tiny head of the line-frequency distribution,
    * so `maxDf` must scale with the corpus (a df threshold of 50 on a
    * 10¹²-line corpus would admit up to total/maxDf = 2·10¹⁰ hashes,
    * which no executor can hold; a proportional threshold — df >
    * 0.01 % of docs — keeps the set in the 10³–10⁶ range at any scale).
    * The single-row agg makes an oversized set fail loudly at the
    * broadcast, not silently OOM mid-join.
    *
    * Grouping by the 64-bit line hash instead of the line text cuts the
    * count-pass exchange ~an order of magnitude; a cross-line collision
    * mislabeling a clean line as boilerplate needs ~2^32 DISTINCT lines
    * to become likely (birthday bound) and is the standard trade the
    * oracle's string-keyed restatement bounds at ~1e-11 per corpus of
    * 10^4 lines (cf. [[ngramJaccard]]'s identical argument). */
  def lineDedup(docs: DataFrame, textCol: String, idCol: String,
      maxDf: Long): DataFrame = {
    require(maxDf > 0, "maxDf must be positive")
    // split(null) yields a null ARRAY, which would propagate null
    // n_lines/n_dropped/cleaned for a null-text doc; coalesce to ""
    // so such a doc behaves as a one-empty-line document (counted,
    // cleanable) instead of silently nulling out downstream.
    val lineSplit = split(coalesce(col(textCol), lit("")), "\n", -1)
    val boilArr = docs
      .select(explode(lineSplit).as("line"))
      .groupBy(xxhash64(col("line")).as("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .agg(sort_array(collect_list("h")).as("boil_hashes"))
    docs.crossJoin(broadcast(boilArr))
      .withColumn("__lines", lineSplit)
      .withColumn("__kept", filter(col("__lines"),
        l => !array_contains(col("boil_hashes"), xxhash64(l))))
      .select(col(idCol),
        size(col("__lines")).cast("long").as("n_lines"),
        (size(col("__lines")) - size(col("__kept"))).cast("long").as("n_dropped"),
        array_join(col("__kept"), "\n").as("cleaned"))
  }

  /** Span-level exact-duplicate statistics — the finest dedup
    * granularity (cf. Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"; reference has no analogue): every
    * `width`-token sliding window of every document is hashed, a window
    * whose corpus-wide occurrence count exceeds 1 is a DUPLICATED SPAN
    * (including self-repetition inside one document — repeated text is
    * repeated text wherever its twin lives), and each document reports
    *   (n_windows, n_dup_windows, longest_dup_run)
    * where longest_dup_run is the longest run of CONSECUTIVE duplicated
    * window positions — the length signal a span-removal pass (or a
    * contamination audit) thresholds on. Documents shorter than `width`
    * tokens report all-zero rows (present, not dropped). Tokenization
    * is the corpus-wide whitespace convention (trim+lower+split), so
    * the oracle restates it verbatim.
    *
    * Scale shape (100 TB): three linear exchanges, all carrying
    * fixed-width rows — never document text.
    *   1. window construction is ROW-LOCAL (one codegen'd higher-order
    *      expression per doc) and each window immediately reduces to
    *      (id, pos, xxhash64) — 24-byte rows, ~one per corpus token;
    *   2. the occurrence count is a map-side-combined aggregate on the
    *      hash (the exchange carries distinct windows + partial
    *      counts), joined back to the window stream as a
    *      hash-co-partitioned join — the build row per key is ONE
    *      (h, df) pair, so a boilerplate span repeated 10^8 times skews
    *      only the probe side, which AQE skew-split handles;
    *   3. per-doc stats are ONE aggregate keyed by id: counts fold
    *      map-side; the run-length needs the doc's duplicated
    *      POSITIONS, collected and folded row-locally (sort_array +
    *      aggregate, codegen'd) — per-doc state is O(dup windows of
    *      that one doc), bounded by document length, not corpus size.
    * The hash-keyed count is the same 2^-64-collision trade as
    * [[lineDedup]] (the oracle's string-keyed restatement would expose
    * a collision as a hash mismatch). */
  def spanDupStats(docs: DataFrame, textCol: String, idCol: String,
      width: Int): DataFrame = {
    require(width > 0, "width must be positive")
    val tk = split(trim(lower(coalesce(col(textCol), lit("")))), "\\s+")
    // bindArray: an unbound `tk` inside the window lambda re-splits the
    // whole document once per window — O(tokens²) per row
    val wins = graft.functions.BindOnce.bindArray(tk, tks =>
      when(size(tks) >= width,
        transform(sequence(lit(0), size(tks) - width),
          i => array_join(slice(tks, i + 1, lit(width)), " "))).otherwise(array()))
    val w = docs.select(col(idCol), posexplode(wins).as(Seq("pos", "win")))
      .select(col(idCol), col("pos"), xxhash64(col("win")).as("h"))
    val df = w.groupBy("h").agg(count(lit(1)).as("df"))
    val m = w.join(df, "h")
      .select(col(idCol), col("pos"), (col("df") > 1).as("dup"))
    val perDoc = m.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_windows"),
      sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_windows"),
      // collect_list skips the NULLs the `when` leaves on non-dup rows
      sort_array(collect_list(when(col("dup"), col("pos")))).as("__dp"))
    val longest = aggregate(col("__dp"),
      struct(lit(0L).as("best"), lit(0L).as("cur"), lit(-2L).as("prev")),
      (acc, p) => {
        val cur = when(p.cast("long") === acc("prev") + 1L, acc("cur") + 1L)
          .otherwise(lit(1L))
        struct(greatest(acc("best"), cur).as("best"), cur.as("cur"),
          p.cast("long").as("prev"))
      },
      acc => acc("best"))
    docs.select(col(idCol))
      .join(perDoc.withColumn("__run", longest), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("__run"), lit(0L)).as("longest_dup_run"))
  }

  /** Span-level duplicate REMOVAL — the act step on [[spanDupStats]]'s
    * audit (Lee et al. excise the duplicated passages, they don't just
    * count them): every token covered by at least one corpus-duplicated
    * `width`-token window is dropped, and the document re-assembles
    * from the surviving tokens in order (single-space joined — the
    * corpus-wide whitespace normalization the token convention already
    * implies). Returns (id, n_tokens, n_removed, cleaned). A document
    * that is entirely duplicated text cleans to ''; a doc shorter than
    * `width` tokens passes through untouched (whitespace-normalized).
    *
    * Scale shape: the window-hash/df chain is [[spanDupStats]]'s (three
    * linear fixed-width exchanges, never document text); the ONLY new
    * aggregate state is each doc's DUPLICATED window positions —
    * bounded by the doc's own length, and empty for the clean majority.
    * Reconstruction is ROW-LOCAL: the sorted dup positions fold into
    * disjoint covered intervals (overlap-or-adjacent merge), and the
    * kept text is the concatenation of the inter-interval token slices
    * — O(tokens + intervals) per row, never an O(tokens × dup) scan,
    * and the corpus text itself never shuffles. The oracle restates the
    * semantics definitionally (covered indices exploded, anti-joined,
    * string_agg'd in index order), so the interval-merge reconstruction
    * is checked against the simple form. */
  def removeDupSpans(docs: DataFrame, textCol: String, idCol: String,
      width: Int): DataFrame = {
    require(width > 0, "width must be positive")
    val tk = split(trim(lower(coalesce(col(textCol), lit("")))), "\\s+")
    val wins = graft.functions.BindOnce.bindArray(tk, tks =>
      when(size(tks) >= width,
        transform(sequence(lit(0), size(tks) - width),
          i => array_join(slice(tks, i + 1, lit(width)), " "))).otherwise(array()))
    val w = docs.select(col(idCol), posexplode(wins).as(Seq("pos", "win")))
      .select(col(idCol), col("pos"), xxhash64(col("win")).as("h"))
    val dfc = w.groupBy("h").agg(count(lit(1)).as("df"))
    val dp = w.join(dfc, "h").filter(col("df") > 1)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__dp"))
    val joined = docs.select(col(idCol), tk.as("__tk")).join(dp, Seq(idCol), "left")
    // sorted dup positions → disjoint covered intervals [s, e]
    // (overlap-or-adjacent merge; e = p + width − 1 ≤ n − 1 always).
    // get() (never element_at: ANSI throws on out-of-bounds) + the
    // short-circuit guard keep the empty-accumulator step safe.
    val emptyIv = array().cast("array<struct<s:bigint,e:bigint>>")
    val ivs = aggregate(coalesce(col("__dp"), array().cast("array<int>")),
      emptyIv,
      (acc, p) => {
        val pl = p.cast("long")
        val last = get(acc, size(acc) - 1)
        when(size(acc) > 0 && pl <= last("e") + 1L,
          concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last("s").as("s"),
              greatest(last("e"), pl + (width - 1)).as("e")))))
          .otherwise(concat(acc,
            array(struct(pl.as("s"), (pl + (width - 1)).as("e")))))
      })
    // row-local reconstruction: cursor walks the token array, keeping
    // the slice before each interval, then the tail
    val kept = aggregate(col("__iv"),
      struct(lit(0L).as("cur"), array().cast("array<string>").as("kept")),
      (acc, iv) => struct(
        (iv("e") + 1L).as("cur"),
        concat(acc("kept"),
          slice(col("__tk"), acc("cur").cast("int") + 1,
            (iv("s") - acc("cur")).cast("int"))).as("kept")),
      acc => concat(acc("kept"),
        slice(col("__tk"), acc("cur").cast("int") + 1,
          (size(col("__tk")) - acc("cur").cast("int")))))
    val nRemoved = aggregate(col("__iv"), lit(0L),
      (a, iv) => a + (iv("e") - iv("s") + 1L))
    joined.withColumn("__iv", ivs)
      .select(col(idCol),
        when(size(col("__tk")) === 1 && element_at(col("__tk"), 1) === "", 0L)
          .otherwise(size(col("__tk")).cast("long")).as("n_tokens"),
        nRemoved.as("n_removed"),
        array_join(kept, " ").as("cleaned"))
  }
}

/** Shared row-local hash primitives (SplitMix64 finalizer + a simple
  * 64-bit byte hash). Kept UDF-friendly: static, allocation-free. */
object DetRngHash extends Serializable {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64 over bytes, finalized with mix — deterministic across
    * JVMs (unlike String.hashCode on exotic encodings). */
  def xx(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    mix(h)
  }
}
