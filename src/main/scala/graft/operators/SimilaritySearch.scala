package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`) — engine
  * extension for training-data pipelines (BASELINE.json north star).
  *
  * Two paths:
  *  - brute force: exact cosine top-k entirely in native expressions
  *    (zip_with dot product inside whole-stage codegen) — the correctness
  *    baseline, O(n) per query, fine up to millions of rows per executor.
  *  - LSH-bucketed: random-hyperplane signatures (sign of 64 random
  *    projections) bucket the vectors; near-dup search joins within
  *    chunk-equal buckets only. This is the 100 TB path: the shuffle
  *    carries (id, 64-bit signature), not the vectors, and exact cosine
  *    runs only on candidate pairs.
  */
object SimilaritySearch {

  /** Cosine similarity between two array<double> columns — a custom
    * Catalyst expression (one fused codegen'd pass over the array data;
    * see [[graft.functions.CosineSimilarity]]). Bit-identical to the
    * zip_with/aggregate higher-order formulation it replaced. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  private def asDoubles(c: Column): Column = transform(c, _.cast("double"))

  /** Exact top-k nearest neighbors of one query vector: a single scan,
    * codegen'd dot product, TakeOrderedAndProject for the top-k (no
    * global sort materialization). */
  def bruteForceTopK(
      df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Double], k: Int): DataFrame = {
    val q = typedLit(query)
    df.select(col(idCol).as("neighbor_id"),
        cosine(asDoubles(col(vecCol)), q).as("cosine"))
      .filter(col("cosine").isNotNull)
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
      .limit(k)
  }

  /** The SQ8 quantizer's per-dimension model state: reconstruction is
    * `x̂_d = mins(d) + code_d · scales(d)`. */
  final case class Sq8Params(mins: Seq[Double], scales: Seq[Double])

  /** SQ8 scalar-quantizer training — per-dimension corpus ranges, the
    * FAISS-SQ discipline: ONE posexplode aggregate whose map-side
    * combined exchange carries (dim × partitions) partial rows, never
    * vectors; the result is dimension-sized and lives on the driver
    * like the IVF centroid table (quantizer = model state). */
  def sq8Params(df: DataFrame, vecCol: String): Sq8Params = {
    // NaN elements are excluded from range fitting: Spark's max sorts
    // NaN above +Inf, so ONE bad element would otherwise poison that
    // dimension's scale to NaN and corrupt every CLEAN vector's codes
    // (the bad vector itself quantizes to NULL — Sq8Quantize's
    // NaN-as-misfit contract). A dimension with no finite value at all
    // has no usable range and fails loudly.
    val rows = df.select(posexplode(col(vecCol)).as(Seq("d", "x")))
      .filter(!isnan(col("x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("d").collect()
    require(rows.nonEmpty, "sq8Params needs a non-empty corpus")
    val dims: Seq[Int] = rows.map(_.getInt(0)).toSeq
    require(dims == dims.indices,
      s"sq8Params: dimensions ${(dims.indices.toSet -- dims.toSet).toSeq.sorted} have no finite values")
    val mins = rows.map(_.getFloat(1).toDouble).toSeq
    val scales = rows.map(r =>
      (r.getFloat(2).toDouble - r.getFloat(1).toDouble) / 255.0).toSeq
    Sq8Params(mins, scales)
  }

  /** SQ8 asymmetric top-k: quantize the corpus row-locally
    * ([[graft.functions.Sq8Quantize]] — at 100 TB the codes are the
    * stored index, 4× smaller than the float corpus), score CODES
    * against the float query ([[graft.functions.Sq8CosineQuery]], one
    * codegen'd pass, floats never touched at query time), take top-k
    * as TakeOrderedAndProject on the bit-deterministic
    * (approx DESC, id) order, then exact-rerank only the k survivors
    * with the full-precision cosine. Returns
    * (neighbor_id, approx_cosine, cosine). */
  def sq8TopK(df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Double], k: Int, params: Sq8Params): DataFrame = {
    val codes = graft.functions.Sq8Quantize(col(vecCol), params.mins, params.scales)
    // the top-k heap carries ONLY (id, approx) — 16 bytes/row; the
    // float corpus is touched again solely by the k-row join-back for
    // the exact rerank (carrying the vectors through the sort would
    // ship the whole float corpus through the heap, defeating the
    // scan-codes-only story)
    val top = df.select(col(idCol).as("neighbor_id"),
        graft.functions.Sq8CosineQuery(codes, query, params.mins, params.scales)
          .as("approx_cosine"))
      .filter(col("approx_cosine").isNotNull)
      .orderBy(col("approx_cosine").desc, col("neighbor_id").asc)
      .limit(k)
    broadcast(top)
      .join(df.select(col(idCol).as("neighbor_id"), col(vecCol).as("__v")),
        Seq("neighbor_id"))
      .select(col("neighbor_id"), col("approx_cosine"),
        cosine(asDoubles(col("__v")), typedLit(query)).as("cosine"))
      .orderBy(col("approx_cosine").desc, col("neighbor_id").asc)
  }

  /** Embedding near-duplicate pairs: hyperplane-LSH buckets → exact
    * cosine on candidates only. Returns (id0, id1, cosine) with
    * cosine >= minCosine. Chunks give recall on pairs whose signatures
    * differ in <= chunks-1 bits (small angles ⇒ few differing bits).
    *
    * Scale shape: the bucket self-join shuffles only (id, signature
    * chunk) tuples; the full vectors are joined back onto the surviving
    * candidate pairs only — at 100 TB the wide rows never enter the
    * O(candidates) shuffle.
    *
    * `bits` sizes the signature (a multiple of 64; limbs of a wide
    * signature pack little-endian). It bounds the BUCKET KEY SPACE:
    * chunks × 2^(bits/chunks) total buckets, so occupancy at a given
    * corpus size is corpus × keys-per-row / that. The r12 scale-killer
    * was exactly this: 8 chunks over 64 bits key on 8-bit values —
    * 2,048 buckets total, every one ~2,000 deep at a 500 k corpus, and
    * past the cap recall degrades to star edges.
    *
    * `probeHamming = 1` turns on symmetric MULTI-PROBE: each row also
    * emits its chunk value with every single bit flipped (17 keys per
    * chunk), so two rows collide on a chunk iff their chunk values are
    * within Hamming distance 2 — the recall a short chunk value gives
    * up, recovered without shrinking the key space. For
    * moderate-similarity mining (q = 1−θ/π per agreeing bit), a 16-bit
    * chunk alone collides with q^16 ≈ 6e-4 at cosine 0.4 — useless —
    * while d≤2 collision is q^16 + 16pq^15 + 120p²q^14 ≈ 0.033,
    * matching the 8-bit chunk's q^8 ≈ 0.025 WITH the 2^16-value key
    * space. The cost is keys-per-row × 17, which is the scale trade:
    * 17× more (tiny) shuffle rows versus a bucket table that saturates
    * linearly with the corpus. */
  def cosineNearDupPairs(
      df: DataFrame, vecCol: String, idCol: String,
      minCosine: Double = 0.95, chunks: Int = 4, seed: Long = 42L,
      maxBucketSize: Int = 4096, bits: Int = 64,
      probeHamming: Int = 0): DataFrame = {
    require(bits > 0 && bits % 64 == 0, "bits must be a positive multiple of 64")
    require(bits % chunks == 0, "chunks must divide bits")
    val chunkBits = bits / chunks
    require(chunkBits <= 64 && 64 % chunkBits == 0,
      "a chunk must fit one limb (bits/chunks <= 64 dividing 64)")
    require(probeHamming == 0 || probeHamming == 1,
      "probeHamming supports 0 (exact) or 1 (single-bit multi-probe)")
    val nLimbs = bits / 64
    // one cached signature table (r19, §2.4): the bucket pass reads it
    // once and each vector rejoin re-evaluates its sig-isNotNull filter —
    // uncached, the HyperplaneSignatures kernel ran 3× per corpus pass
    // (one slot, pass lifetime)
    val signed = graft.Memo.signatures.pin(Dedup.spread(df)
      .select(col(idCol).as("id"), asDoubles(col(vecCol)).as("v"),
        graft.functions.HyperplaneSignatures(col(vecCol), seed, bits).as("sig"))
      .filter(col("sig").isNotNull))
    val chunked = hyperplaneBuckets(signed, chunks, chunkBits, probeHamming)
    // signature-Hamming prefilter AS THE PAIRS STREAM out of the bucket
    // self-join, before the dedup shuffle and the vector rejoin: E[d] =
    // bits·θ/π with sd = √(bits·p(1−p)) ≤ √bits/2, so a +4σ slack above
    // the threshold's expected distance prunes only pairs whose angle
    // is far too wide while keeping recall at the target cosine
    val theta = math.acos(math.max(-1.0, math.min(1.0, minCosine)))
    val maxHamming = math.min(bits.toDouble,
      bits * theta / math.Pi + 2.0 * math.sqrt(bits.toDouble))
    def hamming(a: String, b: String): Column =
      (0 until nLimbs).map(k =>
        bit_count(element_at(col(a), k + 1)
          .bitwiseXOR(element_at(col(b), k + 1))))
        .reduce(_ + _)
    // distributed in-bucket pair emission (capped): pairs stream out of a
    // per-bucket self-join across tasks; the cap bounds a degenerate
    // bucket — beyond it the pair set was quadratic-noise, not candidates
    val candidates =
      Dedup.inBucketPairs(chunked, Seq("chunk", "chunk_val"), Seq("sig"),
          maxBucketSize,
          prune = p => p.filter(hamming("sig0", "sig1") <= maxHamming))
        .select("id0", "id1")
    // vectors rejoin per candidate pair only
    val vecs = signed.select(col("id"), col("v"))
    candidates
      .join(vecs.select(col("id").as("id0"), col("v").as("v0")), "id0")
      .join(vecs.select(col("id").as("id1"), col("v").as("v1")), "id1")
      .withColumn("cosine", cosine(col("v0"), col("v1")))
      .filter(col("cosine") >= minCosine)
      .select("id0", "id1", "cosine")
  }

  /** Incremental EMBEDDING near-dup dedup — the semantic rung of the
    * snapshot-refresh family ([[graft.operators.Dedup.incrementalDedup]]
    * exact hashes, [[graft.operators.Dedup.incrementalNearDedup]] text
    * MinHash, here embedding cosine): every NEW vector (id absent from
    * the prior snapshot) is checked against the prior snapshot's
    * hyperplane-signature table; verdict `near_dup_of_prior` with the
    * best-matching prior keeper (highest exact cosine ≥ `minCosine`,
    * ties to the smallest prior id) or `new` (keeper = itself, NULL
    * cosine). One auditable row per new vector.
    *
    * Scale shape mirrors the text rung: BOTH snapshots are
    * corpus-sized, so every join is declared SHUFFLE_MERGE — the id
    * anti-join, the bipartite (chunk, chunk_val) bucket join (both
    * sides multi-probe, so a collision ⟺ chunk-Hamming ≤ 2·probe — the
    * p05 oracle form), and the two vector rejoins on the surviving
    * deduped candidates. The full-signature Hamming prefilter prunes
    * AS PAIRS STREAM out of the bucket join (the +4σ slack above the
    * threshold angle, [[cosineNearDupPairs]]'s bound), hot prior-side
    * buckets keep three deterministic hubs, and the keeper argmax is
    * one combinable max(struct). */
  def incrementalEmbedDedup(prior: DataFrame, curr: DataFrame,
      vecCol: String, idCol: String, minCosine: Double,
      chunks: Int = 8, bits: Int = 128, probeHamming: Int = 1,
      seed: Long = 42L, maxBucketSize: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bits > 0 && bits % 64 == 0, "bits must be a positive multiple of 64")
    require(bits % chunks == 0, "chunks must divide bits")
    val chunkBits = bits / chunks
    require(chunkBits <= 64 && 64 % chunkBits == 0,
      "a chunk must fit one limb (bits/chunks <= 64 dividing 64)")
    require(probeHamming == 0 || probeHamming == 1,
      "probeHamming supports 0 (exact) or 1 (single-bit multi-probe)")
    val nLimbs = bits / 64
    val newDocs = curr
      .join(prior.select(col(idCol)).hint("shuffle_merge"), Seq(idCol), "left_anti")
    def signedOf(df: DataFrame): DataFrame = Dedup.spread(df)
      .select(col(idCol).as("id"), asDoubles(col(vecCol)).as("v"),
        graft.functions.HyperplaneSignatures(col(vecCol), seed, bits).as("sig"))
      .filter(col("sig").isNotNull)
    val sigNew = signedOf(newDocs)
    val sigPrior = signedOf(prior)
    val nb = hyperplaneBuckets(sigNew.select(col("id"), col("sig")),
        chunks, chunkBits, probeHamming)
      .select(col("id").as("new_id"), col("sig").as("sig_n"),
        col("chunk"), col("chunk_val"))
    val w = Window.partitionBy("chunk", "chunk_val")
    val salted = xxhash64(col("prior_id"), lit(0x517cc1b7L))
    val pb = hyperplaneBuckets(sigPrior.select(col("id"), col("sig")),
        chunks, chunkBits, probeHamming)
      .select(col("id").as("prior_id"), col("sig").as("sig_p"),
        col("chunk"), col("chunk_val"))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__is_hub",
        col("prior_id") === min(col("prior_id")).over(w) ||
          col("prior_id") === max(col("prior_id")).over(w) ||
          salted === min(salted).over(w))
      .filter(col("__n") <= maxBucketSize || col("__is_hub"))
      .select("chunk", "chunk_val", "prior_id", "sig_p")
    val theta = math.acos(math.max(-1.0, math.min(1.0, minCosine)))
    val maxHamming = math.min(bits.toDouble,
      bits * theta / math.Pi + 2.0 * math.sqrt(bits.toDouble))
    val hamming = (0 until nLimbs).map(k =>
      bit_count(element_at(col("sig_n"), k + 1)
        .bitwiseXOR(element_at(col("sig_p"), k + 1))))
      .reduce(_ + _)
    val cand = nb.hint("shuffle_merge")
      .join(pb, Seq("chunk", "chunk_val"))
      .filter(hamming <= maxHamming)
      .select("new_id", "prior_id")
      .dropDuplicates("new_id", "prior_id")
    val matches = cand
      .hint("shuffle_merge")
      .join(sigNew.select(col("id").as("new_id"), col("v").as("__vn")), Seq("new_id"))
      .hint("shuffle_merge")
      .join(sigPrior.select(col("id").as("prior_id"), col("v").as("__vp")), Seq("prior_id"))
      .withColumn("cosine", cosine(col("__vn"), col("__vp")))
      .filter(col("cosine").isNotNull && col("cosine") >= minCosine)
    val best = matches.groupBy(col("new_id"))
      .agg(max(struct(col("cosine").as("c"), (-col("prior_id")).as("np"),
        col("prior_id").as("pid"))).as("b"))
      .select(col("new_id").as(idCol), col("b.pid").as("__keeper"),
        col("b.c").as("__cos"))
    newDocs.select(col(idCol))
      .hint("shuffle_merge")
      .join(best, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__keeper").isNotNull, lit("near_dup_of_prior"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("__keeper"), col(idCol)).as("keeper_id"),
        col("__cos").as("cosine"))
  }

  /** The LSH bucket table from a `(id, sig)` signed frame — narrow
    * relation for the bucket machinery: ids + limb array (8·limbs
    * bytes) + chunk values; the vectors stay out of the shuffle.
    * Multi-probe keys of chunk c keep c as the chunk index — a flipped
    * value must land in the same chunk's bucket family. Shared by
    * [[cosineNearDupPairs]] and the scale-probe occupancy audit. */
  private[graft] def hyperplaneBuckets(signed: DataFrame, chunks: Int,
      chunkBits: Int, probeHamming: Int): DataFrame = {
    def chunkVal(c: Int): Column = {
      val limb = element_at(col("sig"), (c * chunkBits) / 64 + 1)
      val shifted = shiftrightunsigned(limb, (c * chunkBits) % 64)
      if (chunkBits == 64) shifted
      else shifted.bitwiseAND(lit((1L << chunkBits) - 1))
    }
    // two-stage explode, NOT one flat (chunks × (1+chunkBits)) array:
    // the flat form's generated code grows linearly in the probe-key
    // count and at 32-bit chunks with multi-probe (264 keys) blows the
    // JVM's 64 KB method limit, silently dropping the whole projection
    // out of codegen. Stage 1 explodes the chunk bases (chunks-sized
    // array); stage 2 expands each base's single-bit probe flips with
    // one transform-over-sequence loop — O(1) generated code at any
    // chunkBits. Same (chunk, chunk_val) multiset as the flat form.
    val base = signed.select(col("id"), col("sig"),
      posexplode(array((0 until chunks).map(chunkVal): _*))
        .as(Seq("chunk", "__base")))
    if (probeHamming == 0) base.withColumnRenamed("__base", "chunk_val")
    else {
      import org.apache.spark.sql.graft.ColumnBridge
      def shl(one: Column, by: Column): Column = ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.ShiftLeft(
          ColumnBridge.expression(one), ColumnBridge.expression(by)))
      base.select(col("id"), col("sig"), col("chunk"),
        explode(concat(array(col("__base")),
          transform(sequence(lit(0), lit(chunkBits - 1)),
            b => col("__base").bitwiseXOR(shl(lit(1L), b))))).as("chunk_val"))
    }
  }

  /** A fitted IVF coarse quantizer: k-means centroids + the cell-assigned
    * data. Build once, reuse across queries — at scale the `cells` frame
    * is written partitioned by `cell` so a probe reads only its cells. */
  final case class IvfIndex(centroids: Array[(Int, Array[Double])], cells: DataFrame)

  /** Fit the IVF index: a coarse quantizer needs only a REPRESENTATIVE
    * SAMPLE, never the corpus (the FAISS training protocol), so the
    * k-means++/Lloyd fit runs driver-side on a bounded hash-ordered
    * sample — one distributed top-k pass (per-partition heaps, unbiased
    * because id-hash order is independent of the vectors, deterministic
    * across retries) and a milliseconds-scale local fit, replacing an
    * MLlib job per Lloyd iteration. Assignment stays distributed and
    * whole-stage-codegen via the NearestCentroid native expression.
    *
    * Driver memory: the collected fit sample is capped at BOTH
    * `maxFitSample` rows and `fitSampleBudgetBytes` (sample × dim × 8
    * bytes, default 256 MB) — the row cap alone would collect ~2 GB at
    * 4096-dim embeddings. The dimension is probed from one row before
    * the sample collect. */
  def ivfIndex(
      df: DataFrame, vecCol: String, idCol: String,
      nCentroids: Int = 16, seed: Long = 42L, maxIter: Int = 10,
      maxFitSample: Int = 65536,
      fitSampleBudgetBytes: Long = 256L << 20): IvfIndex = {
    val data = df.select(col(idCol).as("id"), asDoubles(col(vecCol)).as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
    val dim = data.select(size(col("v"))).head().getInt(0)
    val budgetRows = (fitSampleBudgetBytes / (math.max(dim, 1) * 8L))
      .min(maxFitSample.toLong).max(nCentroids.toLong).toInt
    val sample: Array[Array[Double]] = data
      .orderBy(xxhash64(col("id"), lit(seed)))
      .limit(budgetRows)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    val centroids = KMeansLocal.fit(sample, nCentroids, maxIter, seed)
    val cells = data.withColumn("cell",
        graft.functions.NearestCentroid(col("v"), centroids.map(_.toSeq).toSeq))
      .filter(col("cell").isNotNull)
      .select(col("id"), col("v"), col("cell"))
    IvfIndex(centroids.zipWithIndex.map { case (c, i) => (i, c) }, cells)
  }

  // ----------------------------------------------- index persistence
  //
  // The p83 `add` path's whole point is a RECURRING crawl-refresh job,
  // which runs in a NEW session: the frozen coarse quantizer and the
  // cell table must round-trip through storage (the BayesDB.save
  // catalog discipline applied to ANN model state) or every refresh
  // refits the quantizer — exactly the drift ivfAdd's contract forbids.
  // Formats are pure data-plane (parquet), so a reload is bit-identical
  // (doubles round-trip exactly through parquet) and any engine can
  // read the index. Cell tables write PARTITIONED BY cell, so a
  // probe's cell filter prunes at the file level on the reloaded index
  // — the "written partitioned by cell" scale story made literal.

  /** Persist a fitted IVF index under `dir` (centroid table +
    * cell-partitioned data parquet). */
  def ivfSave(index: IvfIndex, dir: String): Unit = {
    val spark = index.cells.sparkSession
    import spark.implicits._
    index.centroids.toSeq.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    index.cells.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/cells.parquet")
  }

  /** Reload an IVF index saved by [[ivfSave]] — reads only storage, so
    * a fresh session resumes `ivfAdd`/`ivfTopK` against the FROZEN
    * quantizer (no refit). */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex = {
    val cents = spark.read.parquet(s"$dir/centroids.parquet")
      .select(col("cell").cast("int"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, s"ivfLoad: no centroids under $dir")
    val cells = spark.read.parquet(s"$dir/cells.parquet")
      .select(col("id"), col("v"), col("cell").cast("int").as("cell"))
    IvfIndex(cents, cells)
  }

  /** Persist a trained SQ8 scalar quantizer (per-dimension rows —
    * readable by any engine, ordered reload). */
  def sq8Save(params: Sq8Params, spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    import spark.implicits._
    params.mins.indices.map(d => (d, params.mins(d), params.scales(d)))
      .toDF("d", "mn", "scale")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/sq8.parquet")
  }

  /** Reload SQ8 params saved by [[sq8Save]]. */
  def sq8Load(spark: org.apache.spark.sql.SparkSession, dir: String): Sq8Params = {
    val rows = spark.read.parquet(s"$dir/sq8.parquet")
      .select(col("d").cast("int"), col("mn"), col("scale"))
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, s"sq8Load: no params under $dir")
    val dims = rows.map(_.getInt(0)).toSeq
    require(dims == dims.indices, s"sq8Load: non-contiguous dimensions under $dir")
    Sq8Params(rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** Persist an IVF-SQ8 composite index (centroids + scalar-quantizer
    * params + cell-partitioned code table — the floats are NOT part of
    * the stored index, same as the in-memory contract). */
  def ivfSq8Save(index: IvfSq8Index, dir: String): Unit = {
    val spark = index.cells.sparkSession
    import spark.implicits._
    index.centroids.toSeq.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    sq8Save(index.params, spark, dir)
    index.cells.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/cells.parquet")
  }

  /** Reload a composite index saved by [[ivfSq8Save]]. */
  def ivfSq8Load(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfSq8Index = {
    val cents = spark.read.parquet(s"$dir/centroids.parquet")
      .select(col("cell").cast("int"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, s"ivfSq8Load: no centroids under $dir")
    val cells = spark.read.parquet(s"$dir/cells.parquet")
      .select(col("id"), col("codes"), col("cell").cast("int").as("cell"))
    IvfSq8Index(cents, sq8Load(spark, dir), cells)
  }

  /** Incremental index maintenance — the FAISS `add` path: assign NEW
    * vectors into an EXISTING index's cells (NearestCentroid against
    * the frozen coarse quantizer — no refit, which is the operational
    * point: a crawl refresh must not move the ten-billion-row base
    * corpus between cells) and union the cell tables. Base assignments
    * are untouched by construction; the increment pays one row-local
    * codegen pass. Quantizer drift under a shifted increment
    * distribution is the operator's documented trade-off (FAISS's
    * too) — re-fit on a schedule, not per increment. */
  def ivfAdd(index: IvfIndex, df: DataFrame, vecCol: String,
      idCol: String): IvfIndex = {
    val data = df.select(col(idCol).as("id"), asDoubles(col(vecCol)).as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
    val added = data.withColumn("cell",
        graft.functions.NearestCentroid(col("v"),
          index.centroids.map(_._2.toSeq).toSeq))
      .filter(col("cell").isNotNull)
      .select(col("id"), col("v"), col("cell"))
    IvfIndex(index.centroids, index.cells.unionByName(added))
  }

  /** Driver-side k-means (k-means++ init, Lloyd refinement) for the IVF
    * coarse quantizer — the fit input is a bounded sample, so local
    * arrays beat a per-iteration distributed job by orders of magnitude
    * at every scale. Deterministic for a fixed seed. */
  private[operators] object KMeansLocal {
    private def sqdist(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }

    def fit(xs: Array[Array[Double]], k: Int, maxIter: Int, seed: Long): Array[Array[Double]] = {
      val n = xs.length
      if (n == 0) return Array.empty
      val kk = math.min(k, n)
      val rng = new java.util.Random(seed)
      // k-means++ seeding: next center sampled ∝ distance² to nearest
      val cents = new Array[Array[Double]](kk)
      cents(0) = xs(rng.nextInt(n)).clone()
      val d2 = Array.fill(n)(Double.MaxValue)
      for (c <- 1 until kk) {
        var sum = 0.0
        var i = 0
        while (i < n) {
          val d = sqdist(xs(i), cents(c - 1))
          if (d < d2(i)) d2(i) = d
          sum += d2(i); i += 1
        }
        var r = rng.nextDouble() * sum
        var pick = 0
        while (pick < n - 1 && r > d2(pick)) { r -= d2(pick); pick += 1 }
        cents(c) = xs(pick).clone()
      }
      // Lloyd with movement early-stop; an emptied cluster keeps its
      // previous centroid (same behavior the MLlib fit had)
      val assign = new Array[Int](n)
      val dim = xs(0).length
      var iter = 0
      var moved = true
      while (iter < maxIter && moved) {
        moved = false
        var i = 0
        while (i < n) {
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < kk) {
            val d = sqdist(xs(i), cents(c))
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          if (assign(i) != best || iter == 0) { assign(i) = best; moved = true }
          i += 1
        }
        val sums = Array.fill(kk)(new Array[Double](dim))
        val counts = new Array[Int](kk)
        i = 0
        while (i < n) {
          val c = assign(i); counts(c) += 1
          var j = 0
          while (j < dim) { sums(c)(j) += xs(i)(j); j += 1 }
          i += 1
        }
        for (c <- 0 until kk if counts(c) > 0) {
          var j = 0
          while (j < dim) { sums(c)(j) /= counts(c); j += 1 }
          cents(c) = sums(c)
        }
        iter += 1
      }
      cents
    }
  }

  /** Johnson–Lindenstrauss random-sign projection (p93): every vector
    * maps to `outDim` Rademacher sums `out[j] = Σ_d ±v[d]`, the sign of
    * each (d, j) cell a pure function of the seed through the shared
    * SplitMix64 chain (positive iff `hash63(d·2²⁰ + j, seed)` is even)
    * — so two engines derive the SAME matrix independently and the
    * projection needs no stored-weights side channel. The classic JL
    * guarantee (Achlioptas 2003: ±1 entries suffice) makes the output a
    * distance-preserving sketch: the scale path for dedup/ANN when the
    * raw dimension is large (project once row-locally, bucket/search in
    * the small space, verify survivors on the originals).
    *
    * Scale shape: the sign matrix is outDim × dim booleans embedded as
    * a plan reference object; the projection is ONE row-local
    * whole-stage-codegen pass ([[graft.functions.SignedProject]]),
    * zero exchanges. Returns (id, v, proj). */
  def randomSignProject(df: DataFrame, vecCol: String, idCol: String,
      outDim: Int, seed: Long): DataFrame = {
    require(outDim > 0, "outDim must be positive")
    val data = df.select(col(idCol).as("id"), asDoubles(col(vecCol)).as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
    val dim = data.select(size(col("v"))).head().getInt(0)
    require(outDim <= (1 << 20), "outDim exceeds the sign-key stride")
    val signs: Seq[Seq[Boolean]] = (0 until outDim).map { j =>
      (0 until dim).map { d =>
        ((DetRngHash.mix((d.toLong * (1L << 20) + j) ^ seed) >>> 1) & 1L) == 0L
      }
    }
    data.withColumn("proj", graft.functions.SignedProject(col("v"), signs))
  }

  /** An oracle-statable k-means fit (p91): centroids after `iters`
    * FIXED Lloyd iterations, plus the final sample assignment counts
    * and per-cluster inertia. Unlike [[KMeansLocal]] (java.util.Random
    * k-means++, movement early-stop — fine for a coarse quantizer, not
    * restatable in SQL), every step here is a pure function of
    * (ids, seed) in fully specified IEEE order, so a SQL engine can
    * RETRAIN the model and match it bit-for-bit (the p54 BPE-retrain
    * discipline applied to clustering):
    *  - fit sample = bottom-`sampleCap` rows of the (hash63(id, seed),
    *    id) total order (the ivfIndex sample discipline — one
    *    distributed TakeOrderedAndProject, never a corpus collect);
    *  - init = the first k sample points in that order (deterministic;
    *    the k-means++ seeding it forgoes matters for QUALITY on
    *    adversarial data, not for the mechanics this gate pins);
    *  - assignment = argmin of squared L2 with the EXACT
    *    [[graft.functions.NearestCentroid]] kernel arithmetic
    *    (dim-ascending `d += (x-c)*(x-c)` fold from 0.0, strict `<`, so
    *    ties keep the lowest cluster index);
    *  - update = per-dimension member sum in sample order / count (an
    *    emptied cluster keeps its previous centroid);
    *  - inertia = final-assignment d² summed in sample order.
    * All folds are sequential in a specified order, so DuckDB's
    * list_reduce over ORDER BY lists reproduces every double exactly. */
  final case class KmeansFit(centroids: Array[Array[Double]],
    sampleN: Array[Long], inertia: Array[Double])

  /** Squared L2 with the [[graft.functions.NearestCentroid]] kernel's
    * exact op order. */
  private def sqDistOrdered(x: Array[Double], c: Array[Double]): Double = {
    var d = 0.0; var j = 0
    while (j < x.length) { val t = x(j) - c(j); d += t * t; j += 1 }
    d
  }

  private def argminCluster(x: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bd = Double.MaxValue; var c = 0
    while (c < cents.length) {
      val d = sqDistOrdered(x, cents(c))
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  def kmeansFit(df: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int, sampleCap: Int, seed: Long): KmeansFit = {
    val data = df.select(col(idCol).as("id"), asDoubles(col(vecCol)).as("v"))
      .filter(col("v").isNotNull && size(col("v")) > 0)
    val sample: Array[Array[Double]] = data
      .orderBy(Sampling.hash63(col("id"), seed), col("id"))
      .limit(sampleCap)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    require(sample.length >= k,
      s"kmeansFit: need at least k=$k sample rows, got ${sample.length}")
    val dim = sample(0).length
    require(sample.forall(_.length == dim), "kmeansFit: ragged vector dimensions")
    val n = sample.length
    val cents = Array.tabulate(k)(i => sample(i).clone())
    val asg = new Array[Int](n)
    var t = 0
    while (t < iters) {
      var i = 0
      while (i < n) { asg(i) = argminCluster(sample(i), cents); i += 1 }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      i = 0
      while (i < n) {
        val c = asg(i); counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += sample(i)(j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { sums(c)(j) /= counts(c); j += 1 }
          cents(c) = sums(c)
        }
        c += 1
      }
      t += 1
    }
    // Final assignment against the post-iteration centroids: counts and
    // inertia accumulate in sample order (the order the oracle's
    // list_reduce replays).
    val sampleN = new Array[Long](k)
    val inertia = new Array[Double](k)
    var i = 0
    while (i < n) {
      val c = argminCluster(sample(i), cents)
      sampleN(c) += 1
      inertia(c) += sqDistOrdered(sample(i), cents(c))
      i += 1
    }
    KmeansFit(cents, sampleN, inertia)
  }

  /** Persist a [[KmeansFit]] (centroid table + per-cluster stats) as
    * one parquet — the ivfSave discipline applied to the trained
    * clustering, so a recurring job (st29's stream router, p95's
    * stratified draw) runs cross-session against the FROZEN model
    * instead of refitting. Doubles round-trip bit-exactly through
    * parquet. */
  def kmeansSave(fit: KmeansFit, spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    import spark.implicits._
    fit.centroids.indices.map { c =>
      (c, fit.centroids(c).toSeq, fit.sampleN(c), fit.inertia(c))
    }.toDF("cluster", "centroid", "sample_n", "inertia")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/kmeans.parquet")
  }

  /** Reload a fit saved by [[kmeansSave]] — reads only storage; the
    * reloaded centroids are bit-identical, so routing decisions cannot
    * drift across sessions. */
  def kmeansLoad(spark: org.apache.spark.sql.SparkSession, dir: String): KmeansFit = {
    val rows = spark.read.parquet(s"$dir/kmeans.parquet")
      .select(col("cluster").cast("int"), col("centroid"),
        col("sample_n").cast("long"), col("inertia"))
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, s"kmeansLoad: no model under $dir")
    require(rows.map(_.getInt(0)).toSeq == rows.indices,
      s"kmeansLoad: non-contiguous cluster ids under $dir")
    KmeansFit(rows.map(_.getSeq[Double](1).toArray),
      rows.map(_.getLong(2)), rows.map(_.getDouble(3)))
  }

  /** The `nProbe` cells nearest the query by centroid cosine — the
    * driver-side routing step every IVF search starts with (the
    * centroid table is model state, broadcast-sized by construction). */
  private def nearestCells(centroids: Array[(Int, Array[Double])],
      query: Seq[Double], nProbe: Int): Seq[Int] = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    centroids.map { case (cid, c) =>
      val dot = c.zip(query).map { case (a, b) => a * b }.sum
      val cn = math.sqrt(c.map(x => x * x).sum)
      (cid, if (cn == 0 || qn == 0) -2.0 else dot / (cn * qn))
    }.sortBy(-_._2).take(nProbe).map(_._1).toSeq
  }

  /** IVF two-stage search: rank the query against the (broadcast-sized)
    * centroid table, then exact cosine only inside the `nProbe` nearest
    * cells — the scan prunes to ~nProbe/nCentroids of the data, and the
    * cell filter pushes down to the (cell-partitioned) index at scale. */
  def ivfTopK(index: IvfIndex, query: Seq[Double], k: Int, nProbe: Int): DataFrame = {
    val probeCells = nearestCells(index.centroids, query, nProbe)
    index.cells
      .filter(col("cell").isin(probeCells: _*))
      .select(col("id").as("neighbor_id"), cosine(col("v"), typedLit(query)).as("cosine"))
      .filter(col("cosine").isNotNull)
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
      .limit(k)
  }

  /** An IVF-SQ8 composite index — the shape FAISS actually ships at
    * scale (`IVF<n>,SQ8`): the coarse quantizer prunes the scan to
    * `nProbe` cells and the scalar codes compress what remains 4×. The
    * stored index is (id, cell, codes) — one byte per dimension plus
    * the routing key; the float corpus is NOT part of it and is only
    * touched by the k-row exact rerank. */
  final case class IvfSq8Index(centroids: Array[(Int, Array[Double])],
    params: Sq8Params, cells: DataFrame)

  /** Build the composite index from a fitted coarse quantizer and a
    * trained scalar quantizer: ONE row-local corpus pass computes each
    * vector's cell (NearestCentroid, codegen) and its SQ8 codes
    * (Sq8Quantize, codegen) — no shuffle; at scale the result is
    * written partitioned by `cell` so a probe reads only its cells.
    * Rows the scalar quantizer rejects (null/NaN/misfit vectors) keep
    * NULL codes and are dropped — the same rows sq8TopK's flat scan
    * drops, which is what keeps the exhaustive-probe search exactly
    * equal to the flat scan (the p15 oracle discipline). */
  def ivfSq8Index(df: DataFrame, vecCol: String, idCol: String,
      index: IvfIndex, params: Sq8Params): IvfSq8Index = {
    val cells = df.select(
        col(idCol).as("id"),
        graft.functions.NearestCentroid(asDoubles(col(vecCol)),
          index.centroids.map(_._2.toSeq).toSeq).as("cell"),
        graft.functions.Sq8Quantize(col(vecCol), params.mins, params.scales)
          .as("codes"))
      .filter(col("cell").isNotNull && col("codes").isNotNull)
    IvfSq8Index(index.centroids, params, cells)
  }

  /** IVF-SQ8 search: route to the `nProbe` nearest cells, scan ONLY
    * those cells' CODES against the float query
    * ([[graft.functions.Sq8CosineQuery]], one codegen'd pass — scan
    * volume scales with nProbe, not the corpus), take the top-k on the
    * bit-deterministic (approx DESC, id) order, then exact-rerank just
    * the k survivors against the float corpus (broadcast k-row join).
    * With nProbe = nCentroids this is EXACTLY the flat SQ8 scan
    * ([[sq8TopK]]) — every cell scanned, ranking independent of the
    * quantizer fit — which is what puts the whole composite behind the
    * p58 oracle. Returns (neighbor_id, approx_cosine, cosine). */
  def ivfSq8TopK(index: IvfSq8Index, corpus: DataFrame, vecCol: String,
      idCol: String, query: Seq[Double], k: Int, nProbe: Int): DataFrame = {
    val probeCells = nearestCells(index.centroids, query, nProbe)
    val top = index.cells
      .filter(col("cell").isin(probeCells: _*))
      .select(col("id").as("neighbor_id"),
        graft.functions.Sq8CosineQuery(col("codes"), query,
          index.params.mins, index.params.scales).as("approx_cosine"))
      .filter(col("approx_cosine").isNotNull)
      .orderBy(col("approx_cosine").desc, col("neighbor_id").asc)
      .limit(k)
    broadcast(top)
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__v")),
        Seq("neighbor_id"))
      .select(col("neighbor_id"), col("approx_cosine"),
        cosine(asDoubles(col("__v")), typedLit(query)).as("cosine"))
      .orderBy(col("approx_cosine").desc, col("neighbor_id").asc)
  }

  /** Semantic deduplication (SemDedup, Abbas et al. 2023): cluster the
    * embedding space, then find near-duplicate pairs ONLY within a
    * cluster — the clustering bounds the quadratic pairwise stage at
    * (cluster size)² instead of corpus², which is the entire reason the
    * technique scales. A row is dropped iff some SAME-CLUSTER row with a
    * smaller id has cosine ≥ `theta` to it (smallest id per duplicate
    * group survives — no transitive closure: the rule is local to the
    * pair, deterministic, and independently restatable).
    *
    * Clustering here is a DETERMINISTIC seeded-hash centroid sample —
    * the k rows smallest in (hash63(id, seed), id) order — rather than
    * fitted k-means: any partition of the space bounds the pairwise
    * stage (cluster quality trades recall, not correctness), and the
    * deterministic choice keeps the whole operator a pure function of
    * (data, seed) that an independent SQL engine can restate
    * (fitted-centroid assignment is the p07/[[ivfIndex]] path, whose
    * RNG is why p07 is a rows-only key). k auto-scales as
    * ceil(n / targetClusterSize), so the pairwise stage stays
    * n·targetClusterSize expected comparisons at EVERY corpus size.
    *
    * Scale shape: the centroid sample is one TakeOrderedAndProject
    * (k rows to the driver, bounded by `maxCentroidBytes` — beyond
    * that an expression-embedded table stops being the right
    * vehicle and assignment should ride the IVF index; fail loudly);
    * assignment is ONE row-local codegen'd TWO-LEVEL argmax pass
    * ([[graft.functions.NearestCentroidCosine2L]] — no shuffle, no
    * UDF, and n·d·(k/64 + 64) work instead of the flat argmax's
    * quadratic n·k·d; with k ≤ 64 the two rules coincide bit-exactly,
    * which is what the oracle restates);
    * the within-cluster self-join shuffles on the cluster id ONCE (the
    * identical child plan on both sides collapses to a ReusedExchange),
    * and the per-row duplicate count joins back on id. NULL ids,
    * vectors, or zero-norm vectors raise — a corpus with broken
    * embeddings should fail, not silently cluster to garbage.
    *
    * Returns (idCol, cluster = centroid's id, n_dups, kept). */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
      theta: Double, seed: Long, targetClusterSize: Int = 64,
      maxCentroidBytes: Long = 64L << 20): DataFrame = {
    require(theta > -1.0 && theta <= 1.0, "theta must be in (-1, 1]")
    require(targetClusterSize > 0, "targetClusterSize must be positive")
    val data = emb.select(
      when(col(idCol).isNotNull, col(idCol).cast("long"))
        .otherwise(raise_error(lit(
          s"graft semDedup: NULL $idCol — broken upstream corpus?")).cast("long"))
        .as("__id"),
      when(col(vecCol).isNotNull, asDoubles(col(vecCol)))
        .otherwise(raise_error(lit(
          s"graft semDedup: NULL $vecCol — broken upstream embedding?"))
          .cast("array<double>"))
        .as("__v"))
    val n = data.count()
    val k = math.max(1L, (n + targetClusterSize - 1) / targetClusterSize)
    val dim = if (n == 0) 0
      else data.select(size(col("__v"))).head().getInt(0)
    require(k * dim * 8L <= maxCentroidBytes,
      s"graft semDedup: $k centroids x $dim dims exceeds the " +
        s"$maxCentroidBytes-byte driver/broadcast budget — raise " +
        "targetClusterSize, or assign through the IVF index instead")
    // k rows to the driver via TakeOrderedAndProject — never a sort
    val centRows = data
      .withColumn("__h", Sampling.hash63(col("__id"), seed))
      .orderBy(col("__h"), col("__id"))
      .limit(k.toInt)
      .select(col("__id"), col("__v"))
      .collect()
    val centIds: Seq[Long] = centRows.map(_.getLong(0)).toSeq
    val cents: Seq[Seq[Double]] = centRows.map(_.getSeq[Double](1)).toSeq
    // Two-level assignment (see NearestCentroidCosine2L): the flat
    // argmax is n·k·d FLOPs = n²d/targetClusterSize once k scales with
    // the corpus — quadratic (the 100× probe measured 52×). The
    // super-centroid level is the hash-order PREFIX of the centroid
    // list (another uniform deterministic sample), fanout 64:
    // assignment work drops to n·d·(k/64 + ~64). With k ≤ 64 there is
    // ONE super and the rule reduces bit-exactly to the flat argmax —
    // which is what the oracle SFs exercise and the spec pins both ways.
    val centArr = cents.map(_.toArray).toArray
    val centNorms = graft.functions.NearestCentroidCosine.normsOf(centArr)
    val nSupers = ((cents.length + 63) / 64).max(1)
    val superIdx = (0 until nSupers).toSeq
    val superVecs: Array[Array[Double]] = superIdx.map(centArr(_)).toArray
    val superNorms: Array[Double] = superIdx.map(centNorms(_)).toArray
    val groups = Array.fill(nSupers)(Vector.newBuilder[Int])
    centArr.indices.foreach { c =>
      val s = graft.functions.NearestCentroidCosine2L.assignFlat(
        centArr(c), superVecs, superNorms)
      if (s >= 0) groups(s) += c // ascending ⇒ fine ties → smallest global idx
    }
    val idx = graft.functions.NearestCentroidCosine2L(col("__v"), cents,
      superIdx, groups.map(_.result()).toSeq)
    val assigned = data.withColumn("cluster",
        when(idx.isNotNull, element_at(typedLit(centIds), idx + 1))
          .otherwise(raise_error(lit(
            "graft semDedup: unassignable vector (null element, zero " +
              "norm, or dimension mismatch) — broken upstream embedding?"))
            .cast("long")))
    val a = assigned.select(col("__id").as("a_id"), col("cluster"), col("__v").as("a_v"))
    val b = assigned.select(col("__id").as("b_id"), col("cluster"), col("__v").as("b_v"))
    val dupCounts = a.join(b, Seq("cluster"))
      .filter(col("b_id") < col("a_id") &&
        cosine(col("a_v"), col("b_v")) >= theta)
      .groupBy(col("a_id")).agg(count(lit(1)).as("n_dups"))
    assigned.select(col("__id"), col("cluster"))
      .join(dupCounts, col("__id") === col("a_id"), "left")
      .select(col("__id").as(idCol), col("cluster"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (coalesce(col("n_dups"), lit(0L)) === 0L).as("kept"))
  }
}
