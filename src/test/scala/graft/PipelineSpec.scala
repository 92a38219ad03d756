package graft

import graft.backends.DetRng
import graft.operators.{Dedup, SimilaritySearch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pipeline-operator correctness: recall of the LSH families against
  * planted near-duplicates, and IVF recall against brute-force top-k. */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  // --------------------------- planted near-duplicate document corpus

  /** 40 base documents of 60 random words; for each of the first 10, a
    * near-duplicate with 3 words changed (jaccard >> 0.8) is planted as
    * id+1000. Unrelated docs share essentially no 3-gram shingles. */
  private lazy val docs: DataFrame = {
    import spark.implicits._
    val rng = DetRng(2024L)
    def word(): String = {
      val len = 3 + rng.nextInt(6)
      (0 until len).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    }
    val bases = (0 until 40).map(i => (i.toLong, (0 until 60).map(_ => word())))
    val nearDups = bases.take(10).map { case (id, words) =>
      val mutated = words.updated(5, word()).updated(25, word()).updated(45, word())
      (id + 1000L, mutated)
    }
    (bases ++ nearDups).map { case (id, ws) => (id, ws.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  private val plantedPairs: Set[(Long, Long)] =
    (0 until 10).map(i => (i.toLong, i + 1000L)).toSet

  test("minhash LSH finds every planted near-dup pair with no random-pair noise") {
    val cands = Dedup.minHashCandidates(docs, "text", "doc_id", minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = plantedPairs.intersect(cands)
    assert(found.size >= 9, s"minhash recall ${found.size}/10 on planted near-dups")
    val spurious = cands -- plantedPairs
    assert(spurious.isEmpty, s"unrelated docs surfaced as candidates: $spurious")
  }

  test("over-cap buckets emit star pairs instead of silently vanishing") {
    import spark.implicits._
    // 120 exact copies of one text — every band bucket holds all 120
    // ids, far over the 64 cap. Before r12 the cap filter DROPPED those
    // buckets and a massively-duplicated corpus produced ZERO candidates
    // (the 100× probe's p02 returned 0 rows). The star emission keeps
    // every member connected to the bucket minimum with O(k) pairs.
    val copies = (0 until 120).map(i =>
      (i.toLong, "massively duplicated boilerplate page content with many words here"))
      .toDF("doc_id", "text")
    val cands = Dedup.minHashCandidates(copies, "text", "doc_id",
        minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // r13: stars go to THREE deterministic hubs (min id, max id, and a
    // hash-mid id) so one unlucky hub cannot disconnect true duplicates
    // in a mixed-content bucket. Pin the min- and max-hub stars exactly
    // and bound the total: between 2 hubs' worth (hash-mid may coincide
    // with min/max) and 3 disjoint stars — far below the 7140 full
    // pairwise set.
    assert(cands.forall { case (a, b) => a < b }, "pairs must be oriented")
    assert((1 until 120).map(i => (0L, i.toLong)).toSet.subsetOf(cands),
      "min-hub star missing")
    assert((0 until 119).map(i => (i.toLong, 119L)).toSet.subsetOf(cands),
      "max-hub star missing")
    assert(cands.size >= 237 && cands.size <= 354,
      s"expected 2-3 hub stars (237..354 pairs), got ${cands.size}")
    // every pair touches a hub (hubs touch ~119 members; non-hubs only
    // touch hubs) — the emission is hub-incident by construction
    val degree = cands.toSeq.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val hubs = degree.filter(_._2 >= 100).keySet
    assert(hubs.contains(0L) && hubs.contains(119L) && hubs.size <= 3,
      s"expected <=3 hubs incl. min and max, got $hubs")
    assert(cands.forall(p => hubs.contains(p._1) || hubs.contains(p._2)))
    // connectivity survives to components: one cluster, every member
    val comp = Dedup.connectedComponents(
      Dedup.minHashCandidates(copies, "text", "doc_id", minEstJaccard = 0.5)
        .select(col("id0"), col("id1")), "id0", "id1")
    assert(comp.select("component").distinct().count() == 1L)
    assert(comp.count() == 120L)
  }

  test("hammingPairs maxHamming=0: the one-chunk mask must not wrap and collide the corpus into bucket 0") {
    import spark.implicits._
    // 5002 signatures, two identical: with the (1L << 64) - 1 == 0
    // mask wrap, every row keys bucket (0, 0) — over the 4096 cap, so
    // only hub-star edges emit and the identical non-hub pair is LOST,
    // breaking the pigeonhole recall-1.0 contract. With the guarded
    // mask each signature keys its own bucket and the twins pair.
    val sigs = ((0 until 5000).map(i => (i.toLong, i.toLong * 1000L + 7L)) ++
      Seq((9001L, -42L), (9002L, -42L))).toDF("id", "sim")
    val pairs = Dedup.hammingPairs(sigs, "id", "sim", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((9001L, 9002L)),
      s"expected exactly the identical twins, got ${pairs.size} pairs")
  }

  test("incremental near-dup dedup: prior matches, in-increment blindness, tie-break, short docs") {
    import spark.implicits._
    // prior snapshot: two byte-identical docs (0, 4 — tie-break target)
    // plus an unrelated one
    // 60 DISTINCT words: a 3-word mutation then moves ~9 of ~58
    // shingles (jaccard ≈ 0.85), safely above the 0.3 gate — a
    // repeated-phrase base would collapse to ~10 distinct shingles and
    // push the same edit below it
    val base = (0 until 60).map(i => s"word$i").mkString(" ")
    val prior = Seq(
      (0L, base), (4L, base),
      (8L, "completely different prior content about oranges and rivers " * 6))
      .toDF("doc_id", "text")
    // increment: 101 = exact copy of prior content, 102 = near-dup of
    // it (3 words changed), 103 = genuinely new, 104 = too short for
    // a 3-shingle signature
    val near = base.replace("word5 ", "changedA ")
      .replace("word25 ", "changedB ").replace("word45 ", "changedC ")
    val curr = prior.unionByName(Seq(
      (101L, base), (102L, near),
      (103L, "entirely novel increment text about mountains and code " * 6),
      (104L, "hi there")).toDF("doc_id", "text"))
    val out = Dedup.incrementalNearDedup(prior, curr, "text", "doc_id",
        minEstJaccard = 0.3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out.keySet == Set(101L, 102L, 103L, 104L),
      "one row per NEW doc, nothing else")
    // exact copy: est 1.0 against BOTH prior holders — keeper is the
    // smallest prior id (the argmax tie-break)
    assert(out(101L) == ("near_dup_of_prior", 0L))
    assert(out(102L) == ("near_dup_of_prior", 0L))
    assert(out(103L) == ("new", 103L))
    // < 3 tokens: no signature, auditable 'new' row rather than a drop
    assert(out(104L) == ("new", 104L))
  }

  test("incremental embed dedup: prior matches, tie-break, new vectors, degenerate embeddings") {
    import spark.implicits._
    val rng = DetRng(123L)
    val base = Array.fill(16)(rng.nextGaussian()).map(_.toFloat)
    val far = Array.fill(16)(rng.nextGaussian()).map(_.toFloat)
    def seqOf(a: Array[Float]) = a.toSeq
    // prior: two identical vectors (0, 4 — the tie-break target) and an
    // unrelated one
    val prior = Seq(
      (0L, seqOf(base)), (4L, seqOf(base)), (8L, seqOf(far)))
      .toDF("vec_id", "embedding")
    // increment: 101 = exact copy (cosine 1 to BOTH prior holders),
    // 102 = scaled copy (cosine 1 — scale-invariant), 103 = genuinely
    // new direction, 104 = zero vector (no cosine is defined)
    val curr = prior.unionByName(Seq(
      (101L, seqOf(base)),
      (102L, seqOf(base.map(_ * 3f))),
      (103L, seqOf(Array.fill(16)(rng.nextGaussian()).map(_.toFloat))),
      (104L, Seq.fill(16)(0f))).toDF("vec_id", "embedding"))
    val out = SimilaritySearch.incrementalEmbedDedup(
        prior, curr, "embedding", "vec_id", minCosine = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out.keySet == Set(101L, 102L, 103L, 104L),
      "one row per NEW vector, nothing else")
    // identical cosines against prior 0 and 4: keeper = smallest id
    assert(out(101L) == ("near_dup_of_prior", 0L))
    assert(out(102L) == ("near_dup_of_prior", 0L))
    assert(out(103L) == ("new", 103L))
    // zero norm: no defined cosine — auditable 'new', never a drop
    assert(out(104L) == ("new", 104L))
  }

  test("contamination surfaces an embedded benchmark passage position-independently") {
    import spark.implicits._
    // winnowing's coverage guarantee: any shared substring of length
    // >= k + window - 1 (= 23 chars at defaults) contributes at least
    // one common print, wherever it sits in either document — the
    // scalar p11 fingerprint mixes window POSITIONS and could never
    // match a passage embedded at a different offset
    val benchmark = "the quick brown fox jumps over the lazy dog near the river bank today"
    val contaminated = s"some leading filler text then $benchmark and trailing words"
    val clean = "completely unrelated content words with zero overlap whatsoever in phrasing"
    val df = Seq((0L, benchmark), (5L, contaminated), (7L, clean))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.contamination(
        df.filter(col("doc_id") =!= 0L), df.filter(col("doc_id") === 0L),
        "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.contains(5L), s"embedded benchmark text must be flagged: $out")
    val (matched, total, score) = out(5L)
    assert(matched >= 1L && matched <= total && score > 0.0 && score <= 1.0)
    assert(!out.contains(7L), s"clean doc must not be flagged: $out")
    // the print SET itself: distinct, sorted, null below k chars
    val prints = df.select(
      graft.functions.WinnowPrintSet(col("text"), 8, 16).as("p"))
      .collect().map(_.getSeq[Long](0))
    prints.foreach { p =>
      assert(p == p.sorted && p.distinct.length == p.length)
    }
    assert(Seq("short").toDF("text")
      .select(graft.functions.WinnowPrintSet(col("text"), 8, 16))
      .head.isNullAt(0))
  }

  test("deterministic split/sample: native mix64 equals the JVM kernel; assignments survive repartition") {
    import spark.implicits._
    import graft.operators.Sampling
    // the native-arithmetic SplitMix64 column is bit-equal to the JVM
    // kernel every other operator derives from
    val keys = (Seq(-3L, 0L, 1L, Long.MaxValue, Long.MinValue) ++
      (1 to 50).map(i => i * 2654435761L)).toDF("k")
    val got = keys.select(col("k"), Sampling.mix64(col("k")).as("m")).collect()
    got.foreach(r => assert(r.getLong(1) ==
      graft.operators.DetRngHash.mix(r.getLong(0)), s"mix64 mismatch at ${r.getLong(0)}"))
    // fold: a pure function of (key, seed) — identical under any
    // partitioning, all folds populated, and the same key never splits
    val ids = (0L until 500L).toDF("id")
    def folds(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), Sampling.fold(col("id"), 42L, 10).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = folds(ids)
    val b = folds(ids.repartition(13))
    assert(a == b, "fold assignment must not depend on partitioning")
    assert(a.values.toSet == (0L until 10L).toSet, "all folds populated over 500 keys")
    val trainFrac = a.values.count(_ < 8).toDouble / a.size
    assert(trainFrac > 0.7 && trainFrac < 0.9, s"80% target, got $trainFrac")
    // stratified sample: exactly min(n, |stratum|), stable under
    // repartition, hash-ordered not id-ordered
    val docs = (0L until 100L).map(i => (i, s"src${i % 3}")).toDF("id", "src")
    def pick(df: org.apache.spark.sql.DataFrame) =
      Sampling.stratifiedSample(df, "src", "id", 5, 7L)
        .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    val s1 = pick(docs)
    assert(s1 == pick(docs.repartition(17)))
    assert(s1.groupBy(_._1).forall(_._2.size == 5))
    val tiny = Seq((1L, "only"), (2L, "only")).toDF("id", "src")
    assert(pick(tiny).size == 2, "quota caps at stratum size")
  }

  test("capPerGroup: exact per-group top-cap, invariant to cells and partitioning, ≡ stratifiedSample") {
    import spark.implicits._
    import graft.operators.Sampling
    // Zipf-shaped groups: one hot (1000 rows), one medium (100), one
    // below the cap (7) — the web-domain skew profile the two-phase
    // rank exists for
    val rows = ((0L until 1000L).map(i => (i, "hot")) ++
      (1000L until 1100L).map(i => (i, "mid")) ++
      (1100L until 1107L).map(i => (i, "tiny"))).toDF("id", "g")
    def run(df: org.apache.spark.sql.DataFrame, cells: Int) =
      Sampling.capPerGroup(df, "g", "id", cap = 10, seed = 5L, cells = cells)
        .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    val base = run(rows, 1)
    // the phase-one pre-prune must never change the answer: any cells
    // count, any input partitioning
    assert(base == run(rows, 64), "cells=64 must equal cells=1")
    assert(base == run(rows.repartition(13), 7), "partitioning+cells must not move rows")
    // same selection as the one-window stratifiedSample (same total order)
    val strat = Sampling.stratifiedSample(rows, "g", "id", 10, 5L)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(base == strat, "capPerGroup must select the stratifiedSample set")
    val sizes = base.groupBy(_._1).view.mapValues(_.size).toMap
    assert(sizes == Map("hot" -> 10, "mid" -> 10, "tiny" -> 7), s"got $sizes")
  }

  test("capPerGroup string keys: cells genuinely spread (cast-to-long would NULL them into one cell)") {
    import spark.implicits._
    import graft.operators.Sampling
    // A string key casts to NULL under cast("long") — if the cell id
    // were derived that way, every row of the hot group would land in
    // ONE cell and phase one would degenerate to the single-reducer
    // sort the two-phase design exists to avoid. Pin that the cell
    // derivation is a real hash of the string: a 512-row hot group
    // must occupy many distinct cells (binomially, P(≤8 of 16 cells
    // hit by 512 hashes) is astronomically small), and the cap result
    // must stay exact and cells-invariant.
    val rows = ((0 until 512).map(i => (f"key_$i%04d", "hot")) ++
      (0 until 5).map(i => (s"t$i", "tiny"))).toDF("id", "g")
    val cellCount = rows.filter($"g" === "hot")
      .select(Sampling.cellOf($"id", seed = 5L, cells = 16).as("c"))
      .distinct().count()
    assert(cellCount > 8, s"512 string keys hit only $cellCount of 16 cells — cells are not spreading")
    def run(cells: Int) =
      Sampling.capPerGroup(rows, "g", "id", cap = 10, seed = 5L, cells = cells)
        .collect().map(r => (r.getString(1), r.getString(0))).toSet
    val base = run(1)
    assert(base == run(16), "string-key cap must be cells-invariant")
    val sizes = base.groupBy(_._1).view.mapValues(_.size).toMap
    assert(sizes == Map("hot" -> 10, "tiny" -> 5), s"got $sizes")
  }

  test("tokenBudgetSample: ≡ one-window form, invariant to bucketBits and partitioning, edge cases") {
    import spark.implicits._
    import graft.operators.Sampling
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // Zipf-shaped sources plus zero-token docs (i % 13 == 0 rows in
    // "mid"): the histogram-threshold path must reproduce the naive
    // window cumsum exactly, including zero-token rows whose own count
    // cannot move the prefix
    val rows = ((0L until 800L).map(i => (i, "hot", (i % 7) + 1)) ++
      (800L until 880L).map(i => (i, "mid", i % 13)) ++
      (880L until 885L).map(i => (i, "tiny", 50L))).toDF("id", "g", "tok")
    def run(df: org.apache.spark.sql.DataFrame, bits: Int) =
      Sampling.tokenBudgetSample(df, "g", "id", "tok",
          budget = 200L, seed = 11L, bucketBits = bits)
        .select("id", "kept").collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    val naive = {
      val w = Window.partitionBy($"g")
        .orderBy(Sampling.hash63($"id", 11L), $"id")
        .rowsBetween(Window.unboundedPreceding, -1)
      rows.withColumn("cum", coalesce(sum($"tok").over(w), lit(0L)))
        .select($"id", ($"cum" < 200L).as("kept")).collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    }
    val base = run(rows, 16)
    assert(base == naive, "histogram-threshold path must equal the one-window form")
    // bucketBits=0 degenerates to a single bucket (everything through
    // the boundary window); any bits and any partitioning must agree
    assert(base == run(rows, 0), "bucketBits=0 must not change the sample")
    assert(base == run(rows.repartition(13), 4), "partitioning+bits must not move rows")
    // the kept set is a budget-crossing prefix: realized tokens ≥
    // budget for every group whose total reaches it, and dropping the
    // hash-order-last kept row goes back under budget (minimality)
    val byGroup = rows.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    for (g <- Seq("hot", "mid", "tiny")) {
      val total = byGroup.filter(_._2 == g).map(_._3).sum
      val kept = byGroup.filter(t => t._2 == g && base(t._1)).map(_._3).sum
      if (total >= 200L) assert(kept >= 200L, s"$g realized $kept < budget")
      else assert(kept == total, s"$g under budget must keep everything")
    }
    // budget above the group total: every row kept
    val all = Sampling.tokenBudgetSample(rows.filter($"g" === "tiny"),
        "g", "id", "tok", budget = 100000L, seed = 11L)
      .select("kept").collect().map(_.getBoolean(0))
    assert(all.forall(identity), "budget > total must keep all rows")
    // NULL token counts must raise, not silently sample
    val withNull = Seq((1L, "g", java.lang.Long.valueOf(3L)),
      (2L, "g", null.asInstanceOf[java.lang.Long])).toDF("id", "g", "tok")
    val ex = intercept[Exception] {
      Sampling.tokenBudgetSample(withNull, "g", "id", "tok",
        budget = 10L, seed = 1L).collect()
    }
    assert(ex.getMessage != null)
  }

  test("semDedup: ≡ naive in-JVM replay, min-id survives, auto-k, ties, loud failures") {
    import spark.implicits._
    import graft.operators.DetRngHash
    // 130 deterministic 6-dim vectors + 10 planted EXACT duplicates
    // (i ↔ i+200 identical ⇒ same cluster, cosine 1.0 ≥ θ ⇒ the larger
    // id must be dropped). n=140, targetClusterSize=64 ⇒ k=3.
    def vec(i: Long): Seq[Double] =
      (0 until 6).map(j => (((i * 31 + j * 17) % 13) - 6).toDouble + 0.25)
    val rows = ((0L until 130L).map(i => (i, vec(i))) ++
      (0L until 10L).map(i => (i + 200L, vec(i))))
    val df = rows.toDF("vec_id", "embedding")
    val theta = 0.92
    val out = SimilaritySearch.semDedup(df, "vec_id", "embedding",
        theta = theta, seed = 7L, targetClusterSize = 64)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // naive replay: same hash, same argmax rule, same pair rule
    def h63(id: Long) = DetRngHash.mix(id ^ 7L) >>> 1
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val k = (rows.size + 63) / 64
    assert(k == 3, s"auto-k should be 3 for n=${rows.size}")
    val cents = rows.sortBy { case (id, _) => (h63(id), id) }.take(k)
    val assign = rows.map { case (id, v) =>
      // strictly-greater-wins ⇒ smallest index on ties, like the kernel
      val best = cents.zipWithIndex.minBy { case ((_, cv), i) => (-cos(v, cv), i) }
      id -> best._1._1
    }.toMap
    val naive = rows.map { case (id, v) =>
      val nd = rows.count { case (oid, ov) =>
        oid < id && assign(oid) == assign(id) && cos(v, ov) >= theta }
      id -> ((assign(id), nd.toLong, nd == 0))
    }.toMap
    assert(out == naive, "semDedup must equal the naive replay")
    // planted exact duplicates: identical vectors share a cluster and
    // the larger id is never kept
    for (i <- 0L until 10L) {
      assert(out(i + 200L)._1 == out(i)._1, s"dup $i split across clusters")
      assert(!out(i + 200L)._3, s"planted dup ${i + 200L} must be dropped")
    }
    // the minimum id of every cluster is always kept (nothing smaller exists)
    out.groupBy(_._2._1).foreach { case (c, members) =>
      val minId = members.keys.min
      assert(members(minId)._3, s"cluster $c min id $minId must be kept")
    }
    // partitioning cannot move a decision
    val rep = SimilaritySearch.semDedup(df.repartition(7), "vec_id", "embedding",
        theta = theta, seed = 7L, targetClusterSize = 64)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(rep == out, "repartition must not change the result")
    // NULL vector raises; zero-norm vector raises; budget raises
    val withNull = (rows :+ (999L, null.asInstanceOf[Seq[Double]])).toDF("vec_id", "embedding")
    intercept[Exception] {
      SimilaritySearch.semDedup(withNull, "vec_id", "embedding", 0.9, 7L).collect()
    }
    val withZero = (rows :+ (999L, Seq.fill(6)(0.0))).toDF("vec_id", "embedding")
    val exZ = intercept[Exception] {
      SimilaritySearch.semDedup(withZero, "vec_id", "embedding", 0.9, 7L).collect()
    }
    assert(exZ.getMessage != null)
    val exB = intercept[IllegalArgumentException] {
      SimilaritySearch.semDedup(df, "vec_id", "embedding", 0.9, 7L,
        targetClusterSize = 1, maxCentroidBytes = 16L)
    }
    assert(exB.getMessage.contains("budget"))
  }

  test("semDedup two-level assignment (k > 64): ≡ naive two-level replay; one super ≡ flat kernel") {
    import spark.implicits._
    import graft.operators.DetRngHash
    import graft.functions.{NearestCentroidCosine, NearestCentroidCosine2L}
    def vec(i: Long): Seq[Double] =
      (0 until 6).map(j => (((i * i * 7 + i * 31 + j * (17 + i % 5)) % 97) - 48).toDouble / 7.0)
    val rows = (0L until 600L).map(i => (i, vec(i)))
    val df = rows.toDF("vec_id", "embedding")
    val theta = 0.9
    // targetClusterSize=4 ⇒ k=150 ⇒ 3 super-groups: the two-level
    // branch is genuinely exercised (not the one-super reduction)
    val out = SimilaritySearch.semDedup(df, "vec_id", "embedding",
        theta = theta, seed = 5L, targetClusterSize = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    def h63(id: Long) = DetRngHash.mix(id ^ 5L) >>> 1
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val k = (rows.size + 3) / 4
    assert(k == 150)
    val cents = rows.sortBy { case (id, _) => (h63(id), id) }.take(k)
    val nSupers = (k + 63) / 64
    assert(nSupers == 3, "two-level path must be active")
    val supers = cents.take(nSupers)
    // strictly-greater-wins argmax (⇒ smallest index on ties)
    def argmaxIdx(v: Seq[Double], cands: Seq[Seq[Double]]): Int =
      cands.zipWithIndex.minBy { case (cv, i) => (-cos(v, cv), i) }._2
    val memberOf: Map[Int, Seq[Int]] = cents.indices
      .groupBy(c => argmaxIdx(cents(c)._2, supers.map(_._2)))
      .map { case (s, cs) => s -> cs.sorted }
    val assign = rows.map { case (id, v) =>
      val s = argmaxIdx(v, supers.map(_._2))
      val grp = memberOf(s)
      val fine = grp.minBy(c => (-cos(v, cents(c)._2), c))
      id -> cents(fine)._1
    }.toMap
    val naive = rows.map { case (id, v) =>
      val nd = rows.count { case (oid, ov) =>
        oid < id && assign(oid) == assign(id) && cos(v, ov) >= theta }
      id -> ((assign(id), nd.toLong, nd == 0))
    }.toMap
    assert(out == naive, "two-level semDedup must equal the naive two-level replay")
    assert(memberOf.size > 1, "fixture must spread centroids over >1 super")
    // with ONE super the two-level kernel reduces bit-exactly to flat
    val someCents = rows.take(5).map(_._2)
    val flatVs2l = df.select(
      NearestCentroidCosine(transform(col("embedding"), _.cast("double")), someCents).as("f"),
      NearestCentroidCosine2L(transform(col("embedding"), _.cast("double")), someCents,
        Seq(0), Seq(someCents.indices)).as("t"))
      .collect()
    assert(flatVs2l.forall(r => r.getInt(0) == r.getInt(1)),
      "one-super two-level must equal the flat kernel")
  }

  test("winnowing containment guarantee holds at EVERY embedding offset (k+window-1 chars)") {
    import spark.implicits._
    // Schleimer et al.'s coverage theorem needs SLIDING windows: a
    // k+window-1-char shared passage (= exactly one full window of
    // k-grams, the documented detection minimum) must contribute a
    // common print wherever it sits. The tumbling-block variant (the
    // scalar p11 fingerprint's combine) realigns with the offset and
    // missed some offsets — this pins the fixed kernel against all of
    // them.
    val passage = "qwzxkvjrypfmgdnbhtlscue" // 23 chars = k + window - 1
    assert(passage.length == 23)
    val refs = Seq((0L, passage)).toDF("doc_id", "text")
    val docs = (0 to 24).map { off =>
      (100L + off, ("a" * off) + passage + " unrelated trailing words here")
    }.toDF("doc_id", "text")
    val flagged = graft.operators.TextAnalysis.contamination(
        docs, refs, "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    val missing = (0 to 24).map(100L + _).filterNot(flagged)
    assert(missing.isEmpty,
      s"offsets ${missing.map(_ - 100)} missed the embedded passage")
  }

  test("sliding winnow prints match a brute-force reimplementation on random texts") {
    import spark.implicits._
    // the O(n) monotonic-deque kernel against the O(n*w) definition:
    // distinct minima of every window of 16 consecutive gram hashes
    // (single global minimum when fewer than one window of grams)
    val rnd = new scala.util.Random(23)
    val alphabet = "abcdefg hij"
    val texts = (Seq(8, 9, 15, 22, 23, 24, 40) ++ Seq.fill(30)(rnd.nextInt(200) + 8))
      .map(len => (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    def brute(text: String, k: Int, w: Int): Seq[Long] = {
      val s = text.toLowerCase
      if (s.length < k) return null
      val grams = (0 to s.length - k).map { i =>
        var h = 0L
        s.substring(i, i + k).foreach(c => h = h * 257L + c)
        graft.operators.DetRngHash.mix(h)
      }
      val mins =
        if (grams.length < w) Seq(grams.min)
        else (0 to grams.length - w).map(i => grams.slice(i, i + w).min)
      mins.distinct.sorted
    }
    val got = texts.toDF("text")
      .select(col("text"), graft.functions.WinnowPrintSet(col("text"), 8, 16).as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    texts.foreach { t =>
      assert(got(t) == brute(t, 8, 16), s"kernel/brute mismatch on '${t.take(30)}...'")
    }
  }

  test("repetition metrics: hand-computed fractions on planted token streams") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a a b"),              // top: 3/4; bigrams aa,aa,ab -> dup 1/3
      (2L, "x y z w"),              // all distinct: top 1/4, dup 0
      (3L, "q q q q"),              // top 1; bigrams qq x3 -> dup 2/3
      (4L, "solo"),                 // single token: top 1, dup 0
      (5L, "  \t "),                // blank -> NULL row
      (6L, "ab c a bc")             // separator sanity: (ab,c) != (a,bc) -> dup 0
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.repetitionMetrics(df, "text")
      .select("doc_id", "top_unigram_frac", "dup_bigram_frac")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getDouble(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((0.75, 1.0 / 3)))
    assert(got(2L) == ((0.25, 0.0)))
    assert(got(3L) == ((1.0, 2.0 / 3)))
    assert(got(4L) == ((1.0, 0.0)))
    assert(got(5L) == null)
    assert(got(6L) == ((0.25, 0.0)))
  }

  test("gopher repetition: hand-computed fractions on planted structures") {
    import spark.implicits._
    val df = Seq(
      (1L, "x\ny\nx"),                          // dup line, no paras
      (2L, "p\n\nq\n\np"),                       // dup para (and dup line)
      (3L, "c d e f g h c d e f g h"),           // period-6 token stream
      (4L, ""),                                  // token-less -> all zeros
      (5L, (0 until 40).map(i => f"w$i%02d").mkString(" "))
    ).toDF("doc_id", "text")
    val cols = graft.operators.TextAnalysis.RepetitionColumns
    val got = graft.operators.TextAnalysis.gopherRepetition(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (cols.map(c => r.getDouble(r.fieldIndex(c))), r.getString(r.fieldIndex("verdict")))).toMap

    val (f1, _) = got(1L)
    assert(f1(0) == 1.0 / 3 && f1(1) == 1.0 / 3, "dup line fracs")
    assert(f1(2) == 0.0 && f1(3) == 0.0, "single paragraph -> no para dups")
    assert(f1(4) == 2.0 / 3, "top-2gram 'x y' c=1, 2 chars of 3")
    assert(f1(5) == 1.0 && f1(6) == 0.0, "top-3gram whole doc; <4 tokens")

    val (f2, _) = got(2L)
    assert(f2(2) == 1.0 / 3 && f2(3) == 1.0 / 3, "dup para fracs")
    assert(f2(0) == 1.0 / 3, "empty split pieces dropped from line dups")

    val (f3, v3) = got(3L)
    assert(f3(4) == 1.0 / 3 && f3(5) == 0.5 && f3(6) == 2.0 / 3,
      "top-{2,3,4}gram on the period-6 stream")
    assert(f3(7) == 1.0 && f3(8) == 1.0, "dup-5/6-grams cover every token")
    assert(f3(9) == 0.0 && f3(12) == 0.0, "period 6 -> no 7..10-gram repeats")
    assert(v3 == "drop")

    val (f4, v4) = got(4L)
    assert(f4.forall(_ == 0.0) && v4 == "keep", "blank doc scores zeros")

    val (f5, v5) = got(5L)
    assert(f5(4) == 6.0 / 120 && v5 == "keep",
      "40 distinct 3-char tokens: top bigram c=1, 6 of 120 chars")
  }

  test("group-keyed split: cross-fold near-dup pairs vanish by construction") {
    import graft.operators.Sampling
    val pairs = Dedup.minHashCandidates(docs, "text", "doc_id", minEstJaccard = 0.5)
      .select(col("id0"), col("id1"))
    val comp = Dedup.connectedComponents(pairs, "id0", "id1")
      .select(col("id").as("doc_id"), col("component"))
    val split = Dedup.groupKeyedSplit(docs, "doc_id", comp, 42L, 10)
    val folds = split.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the p49 audit on THIS split finds nothing: both pair members
    // share a component, hence a group key, hence a fold
    val straddling = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => folds(a)._2 != folds(b)._2 }
    assert(straddling.isEmpty, s"cross-fold near-dup pairs: $straddling")
    // unclustered docs keep the plain iid fold of their own id
    val clustered = comp.collect().map(_.getLong(0)).toSet
    val iid = docs.select(col("doc_id"),
        Sampling.fold(col("doc_id"), 42L, 10).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    folds.foreach { case (id, (gk, f)) =>
      if (!clustered.contains(id)) {
        assert(gk == id && f == iid(id), s"unclustered doc $id must fold iid")
      }
    }
    assert(clustered.nonEmpty, "fixture sanity: some docs must cluster")
  }

  test("c4 line filter: hand-computed line keeps and doc verdicts") {
    import spark.implicits._
    val df = Seq(
      (1L, "one two three four five.\nshort line.\nno punct here at all\nuses javascript in this line."),
      (2L, "lorem ipsum dolor sit amet.\na b c d e. f g. h i."),
      (3L, "a b { c }"),
      (4L, "alpha beta gamma delta eps. second one here now done! third query sentence ends well?"),
      (5L, "he said \"yes it is done today\"")
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.c4LineFilter(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    // doc 1: only the 5-word terminal line survives (short / no-punct /
    // javascript all dropped); 1 sentence < 3 -> drop
    assert(got(1L) == ((4L, 1L, 1L, "drop", "one two three four five.")))
    // doc 2: BOTH lines keep (the lorem line passes the LINE rules) but
    // the doc drops on the lorem phrase; 4 sentences counted
    assert(got(2L)._2 == 2L && got(2L)._3 == 4L && got(2L)._4 == "drop")
    // doc 3: brace doc-kill + the line fails terminal punct
    assert(got(3L) == ((1L, 0L, 0L, "drop", "")))
    // doc 4: one kept line carrying . ! ? -> 3 sentences -> keep
    assert(got(4L)._2 == 1L && got(4L)._3 == 3L && got(4L)._4 == "keep")
    // doc 5: closing quote is terminal punctuation; 0 sentences -> drop
    assert(got(5L)._2 == 1L && got(5L)._3 == 0L && got(5L)._4 == "drop")
  }

  test("sequence packing: bins are exact cumulative-budget cuts within hash shards") {
    import spark.implicits._
    import graft.operators.Sampling
    val docs = (0 until 200).map(i =>
        (i.toLong, Seq.fill(i % 37 + 1)("w").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("n_tokens",
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"))
    def pack(df: org.apache.spark.sql.DataFrame) =
      Sampling.packBins(df, "doc_id", "n_tokens", 64L, 4, 5L)
        .select("doc_id", "shard", "bin", "bin_offset", "n_tokens")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
    val rows = pack(docs)
    assert(rows.toSet == pack(docs.repartition(9)).toSet,
      "packing must not depend on partitioning")
    // independent reconstruction: within a shard, bin*budget+bin_offset
    // IS the exclusive prefix sum of token counts in packing order —
    // sort by global offset and replay the cumsum
    rows.groupBy(_._2).foreach { case (_, shardRows) =>
      val ordered = shardRows.sortBy(r => r._3 * 64L + r._4)
      var cum = 0L
      ordered.foreach { case (id, _, bin, off, n) =>
        assert(bin * 64L + off == cum,
          s"doc $id: expected offset $cum, got bin=$bin off=$off")
        assert(off >= 0L && off < 64L)
        cum += n
      }
    }
    // every shard is populated (hash-balanced over 200 docs)
    assert(rows.map(_._2).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L))
  }

  // ------------------------------------------------- p25 PII battery

  private def piiRow(text: String): (Long, Long, Long, String) = {
    import spark.implicits._
    val df = graft.operators.TextAnalysis.piiStats(
      Seq((1L, text)).toDF("id", "t"), "t")
    val r = df.select("n_emails", "n_phones", "n_ipv4", "redacted").head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
  }

  test("PII scan: detection + redaction on the straightforward cases") {
    assert(piiRow("mail me at a.b+c@sub.example.org today") ===
      ((1L, 0L, 0L, "mail me at [EMAIL] today")))
    assert(piiRow("call 415-555-0134 or 415.555.0199.") ===
      ((0L, 2L, 0L, "call [PHONE] or [PHONE].")))
    assert(piiRow("host 192.168.0.1, gw 10.0.0.254") ===
      ((0L, 0L, 2L, "host [IP], gw [IP]")))
    assert(piiRow("clean text with no pii at all") ===
      ((0L, 0L, 0L, "clean text with no pii at all")))
  }

  test("PII scan: unicode-adjacent matches and non-ASCII text survive redaction") {
    // ASCII character classes match the embedded ASCII substring only;
    // surrounding multi-byte text is untouched (Java and RE2 both scan
    // by codepoint here)
    assert(piiRow("日本語user@example.comテスト") ===
      ((1L, 0L, 0L, "日本語[EMAIL]テスト")))
    assert(piiRow("résumé café naïve") === ((0L, 0L, 0L, "résumé café naïve")))
    // non-ASCII digits are NOT [0-9]: no phone
    assert(piiRow("١٢٣-٤٥٦-٧٨٩٠")._2 === 0L)
  }

  test("PII scan: boundary and near-miss battery") {
    // digit runs flowing into a phone shape are not phones (\b guards)
    assert(piiRow("id 1415-555-0134 x")._2 === 0L)
    assert(piiRow("415-555-01345")._2 === 0L)
    // dates and octet-invalid quads are not IPs
    assert(piiRow("on 07.08.2025 at 999.999.999.999")._3 === 0L)
    assert(piiRow("256.1.1.1 and 1.2.3.256")._3 === 0L)
    // leading-zero octets don't match (01 is neither 0 nor [1-9][0-9])
    assert(piiRow("01.2.3.4")._3 === 0L)
    // a longer dotted run: no \b between 'v' and '1' (both word chars),
    // so the leftmost match starts at the '2' — "2.3.4.5" redacts,
    // "v1." survives. Verified bit-identical in RE2/DuckDB.
    assert(piiRow("v1.2.3.4.5") === ((0L, 0L, 1L, "v1.[IP]")))
    // TLD needs >= 2 alpha; double @ never matches
    assert(piiRow("a@b.c or user@@nope")._1 === 0L)
    assert(piiRow("a@b.co")._1 === 1L)
    // adjacent punctuation is fine (boundaries are class-driven)
    assert(piiRow("(ops@example.com),") === ((1L, 0L, 0L, "([EMAIL]),")))
  }

  test("PII scan: counts are per-pattern on the original text; redaction is sequential") {
    // the phone-shaped local part counts as a phone AND is part of the
    // email match; email redacts first, so the phone placeholder never
    // appears — both facts the oracle restates
    val (e, p, i, red) = piiRow("reach 415-555-0134@example.com now")
    assert((e, p, i) === ((1L, 1L, 0L)))
    assert(red === "reach [EMAIL] now")
    // placeholders contain no digits/@: the chain cannot cascade
    assert(piiRow("x 1.2.3.4 y")._4 === "x [IP] y")
  }

  test("PII scan: null and empty propagate") {
    import spark.implicits._
    val df = graft.operators.TextAnalysis.piiStats(
      Seq((1L, null: String), (2L, "")).toDF("id", "t"), "t")
      .select("id", "n_emails", "redacted").orderBy("id").collect()
    assert(df(0).isNullAt(1) && df(0).isNullAt(2))
    assert(df(1).getLong(1) === 0L && df(1).getString(2) === "")
  }

  test("line dedup drops corpus-frequent lines only, preserving order") {
    import spark.implicits._
    // 10 docs: unique head line, FOOTER on all (df=10), BANNER on evens
    // (df=5), a tail line unique per doc — threshold 4 cuts between
    // BANNER (dropped) and the uniques (kept)
    val docs = (0L until 10L).map { i =>
      val mid = if (i % 2 == 0) "BANNER" else s"mid $i"
      (i, s"head $i\nFOOTER\n$mid\ntail $i")
    }.toDF("doc_id", "text")
    val out = graft.operators.Dedup.lineDedup(docs, "text", "doc_id", 4L)
      .orderBy("doc_id").collect()
    assert(out.length === 10)
    for (r <- out) {
      val id = r.getLong(0)
      assert(r.getLong(1) === 4L, "n_lines")
      val expectDropped = if (id % 2 == 0) 2L else 1L
      assert(r.getLong(2) === expectDropped, s"n_dropped for doc $id")
      val mid = if (id % 2 == 0) "" else s"\nmid $id"
      assert(r.getString(3) === s"head $id$mid\ntail $id", s"cleaned for doc $id")
    }
    // threshold boundary: df == maxDf keeps (strict >)
    val keep = graft.operators.Dedup.lineDedup(docs, "text", "doc_id", 10L)
      .agg(sum("n_dropped")).head().getLong(0)
    assert(keep === 0L, "df == maxDf must be kept")
    // null text behaves as a one-empty-line document, not a null row
    // (split(null) would otherwise null out n_lines/cleaned downstream)
    val withNull = docs.unionByName(
      Seq((99L, null: String)).toDF("doc_id", "text"))
    val nr = graft.operators.Dedup.lineDedup(withNull, "text", "doc_id", 4L)
      .filter(col("doc_id") === 99L).head()
    assert(nr.getLong(1) === 1L && nr.getLong(2) === 0L && nr.getString(3) === "",
      s"null-text doc must clean to empty, got $nr")
  }

  test("spanDupStats: embedded passage found, run length exact, short/self-repeat edges") {
    import spark.implicits._
    // Hand-computed at width=3.
    //   doc1 "a b c d e f g h"     → 6 windows; abc/bcd/cde shared with
    //                                doc2 → n_dup=3, positions 0,1,2 → run 3
    //   doc2 "x y a b c d e q r s" → 8 windows; dup at positions 2,3,4 → run 3
    //   doc3 "m n"                 → shorter than width → all zeros, still a row
    //   doc4 "a b c z z z a b c"   → 7 windows; the SELF-repeated abc at
    //                                positions 0 and 6 (df=4 with docs 1/2)
    //                                → n_dup=2, non-consecutive → run 1
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d e q r s"),
      (3L, "m n"),
      (4L, "a b c z z z a b c")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.spanDupStats(docs, "text", "doc_id", width = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 6L, 3L, 3L),
      (2L, 8L, 3L, 3L),
      (3L, 0L, 0L, 0L),
      (4L, 7L, 2L, 1L)), s"got ${out.toSeq}")
    // repartition invariance: corpus-wide df and the per-doc fold must
    // not depend on physical layout
    val out2 = graft.operators.Dedup.spanDupStats(
      docs.repartition(7), "text", "doc_id", width = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out2.toSeq === out.toSeq)
  }

  test("removeDupSpans: excision exact on hand fixture — overlap merge, full coverage, short/blank/self-repeat edges") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaa bbb ccc ddd eee"),                 // unique → untouched
      (2L, "xxx yyy zzz qqq"),                     // shares "xxx yyy zzz" with 3
      (3L, "ppp xxx yyy zzz rrr"),
      (4L, "mmm mmm mmm mmm mmm"),                 // self-repetition → fully covered
      (5L, "ss tt"),                               // shorter than width → pass through
      (6L, "  ss   tt  "),                         // whitespace-normalized pass-through
      (7L, ""),                                    // blank
      (8L, "k1 k2 k3 k4 u1 u2 k1 k2 k3 k4"),       // two covered runs, interval merge
      (9L, "k1 k2 k3 k4 z1 z2"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.removeDupSpans(docs, "text", "doc_id", width = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) === ((1L, 5L, 0L, "aaa bbb ccc ddd eee")))
    assert(out(1) === ((2L, 4L, 3L, "qqq")))
    assert(out(2) === ((3L, 5L, 3L, "ppp rrr")))
    assert(out(3) === ((4L, 5L, 5L, "")), "self-repeated doc cleans to empty")
    assert(out(4) === ((5L, 2L, 0L, "ss tt")))
    assert(out(5) === ((6L, 2L, 0L, "ss tt")), "whitespace normalizes on pass-through")
    assert(out(6) === ((7L, 0L, 0L, "")))
    // doc 8: "k1 k2 k3" @0+6 and "k2 k3 k4" @1+7 duplicate → covered
    // [0,3] ∪ [6,9] (merged per run) → survivors u1 u2
    assert(out(7) === ((8L, 10L, 8L, "u1 u2")))
    assert(out(8) === ((9L, 6L, 4L, "z1 z2")))
    // repartition cannot change the result
    val again = graft.operators.Dedup
      .removeDupSpans(docs.repartition(5), "text", "doc_id", width = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(again.toSeq === out.toSeq)
  }

  test("split-leakage audit flags exactly the cross-fold planted near-dup pairs") {
    // the p49 body over the planted near-dup corpus: candidates with
    // est_jaccard >= 0.5 are exactly the planted pairs (pinned above);
    // the leaked subset must be those whose ids fold apart under the
    // closed-form SplitMix64 replay
    def foldOf(id: Long): Long =
      ((graft.operators.DetRngHash.mix(id ^ 42L) >>> 1) % 10 + 10) % 10
    val leaked = Dedup.minHashCandidates(docs, "text", "doc_id", minEstJaccard = 0.5)
      .withColumn("fold0", graft.operators.Sampling.fold(col("id0"), 42L, 10))
      .withColumn("fold1", graft.operators.Sampling.fold(col("id1"), 42L, 10))
      .filter(col("fold0") =!= col("fold1"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = plantedPairs.filter { case (a, b) => foldOf(a) != foldOf(b) }
    assert(leaked.subsetOf(plantedPairs), s"non-planted leak rows: ${leaked -- plantedPairs}")
    // the minhash recall pin above allows ONE planted pair to miss the
    // candidate set, so at most one expected leak may be absent
    assert((expected -- leaked).size <= 1,
      s"missed leaked pairs: ${expected -- leaked}")
    assert(leaked.forall { case (a, b) => foldOf(a) != foldOf(b) })
  }

  test("vocabCoverage: rank order, tie-break, cumulative fractions exact on hand corpus") {
    import spark.implicits._
    // counts: bb=3, aa=2, zz=2, c=1 → order bb, aa, zz (tie → token ASC), c
    val docs = Seq((1L, "bb aa zz"), (2L, "bb zz aa"), (3L, "bb c"), (4L, "  "))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.vocabCoverage(docs, "text", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq === Seq(
      (1L, "bb", 3L, 3L, 3.0 / 8),
      (2L, "aa", 2L, 5L, 5.0 / 8),
      (3L, "zz", 2L, 7L, 7.0 / 8)))
  }

  test("corpus report card aggregates agree with the per-doc kernels (hand corpus)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "srcA", "the quick brown fox jumps over a lazy dog"),
      (2L, "srcA", "the quick brown fox jumps over a lazy dog"), // exact dup of 1
      (3L, "srcA", "a completely different text about the weather"),
      (4L, "srcB", "le chat est sur la table et il dort"),
      (5L, "srcB", ""))
      .toDF("doc_id", "source", "text")
    // the key body, minus Tables.load
    val scored = graft.operators.TextAnalysis.qualityMetrics(docs, "text")
      .withColumn("pred_lang", graft.operators.TextAnalysis.languageId(col("text")))
    val g = graft.operators.TextAnalysis.gopherRules(docs, "text", "doc_id", 3L, 80L)
      .select(col("doc_id"), col("gopher_pass"))
    val rep = scored.join(g, Seq("doc_id")).groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
        countDistinct(sha2(col("text").cast("binary"), 256)).as("n_unique_texts"),
        sum(when(col("gopher_pass"), 1L).otherwise(0L)).as("n_gopher_pass"),
        sum(when(col("pred_lang") === "en", 1L).otherwise(0L)).as("n_en"))
      .orderBy("source").collect()
    val a = rep(0); val b = rep(1)
    assert(a.getString(0) === "srcA" && a.getLong(1) === 3L)
    assert(a.getLong(2) === 9L + 9L + 7L, "total tokens srcA")
    assert(a.getLong(3) === 2L, "two distinct texts in srcA (one exact dup)")
    assert(a.getLong(5) === 3L, "all srcA docs are en")
    assert(b.getString(0) === "srcB" && b.getLong(1) === 2L)
    assert(b.getLong(2) === 9L, "fr doc 9 tokens + blank 0")
    assert(b.getLong(3) === 2L)
    assert(b.getLong(5) === 0L, "srcB is fr + blank, no en")
    // gopher pass agrees with the kernel run standalone
    val standalone = graft.operators.TextAnalysis
      .gopherRules(docs, "text", "doc_id", 3L, 80L)
      .collect().map(r => (r.getLong(0), r.getBoolean(10))).toMap
    val bySource = Map("srcA" -> Seq(1L, 2L, 3L), "srcB" -> Seq(4L, 5L))
    for (r <- rep)
      assert(r.getLong(4) ===
        bySource(r.getString(0)).count(standalone(_)).toLong)
  }

  test("bigramLmScore: add-k arithmetic exact against hand computation, short-doc edge") {
    import spark.implicits._
    // Reference slice = even ids. Ref doc 0 "a b a c":
    //   unigrams a:2 b:1 c:1 → V=3; bigrams (a,b):1 (b,a):1 (a,c):1.
    // Hand-computed add-1 log-probs:
    //   (a,b): ln((1+1)/(2+3)) = ln(0.4)
    //   (b,a): ln((1+1)/(1+3)) = ln(0.5)
    //   (a,c): ln((1+1)/(2+3)) = ln(0.4)
    //   (b,d): ln((0+1)/(1+3)) = ln(0.25)   (unseen bigram, seen context)
    //   (d,a): ln((0+1)/(0+3)) = ln(1.0/3)  (unseen context → uniform floor)
    val docs = Seq(
      (0L, "a b a c"),    // ref; score = (ln .4 + ln .5 + ln .4) / 3
      (1L, "a b d"),      // (a,b) + (b,d) → (ln .4 + ln .25) / 2
      (2L, "d a"),        // ref-selected but also scored: (d,a) → ln(1/3)
      (3L, "z")).toDF("doc_id", "text")  // 1 token → 0 bigrams, NULL score
    // doc 2 is even → joins the reference! Recompute: ref = docs 0, 2
    //   tokens a,b,a,c,d,a → a:3 b:1 c:1 d:1 → V=4
    //   bigrams (a,b):1 (b,a):1 (a,c):1 (d,a):1
    //   doc0: (a,b)=ln(2/5) (b,a)=ln(2/5) (a,c)=ln(2/7)... recompute:
    //     (a,b): (1+1)/(3+4)=2/7; (b,a): (1+1)/(1+4)=2/5; (a,c): 2/7
    //   doc1: (a,b)=2/7; (b,d): (0+1)/(1+4)=1/5
    //   doc2: (d,a): (1+1)/(1+4)=2/5
    val out = graft.operators.TextAnalysis.bigramLmScore(
        docs, "text", "doc_id",
        refCond = org.apache.spark.sql.functions.pmod($"doc_id", org.apache.spark.sql.functions.lit(2)) === 0)
      .orderBy("doc_id").collect()
    def ln(x: Double) = math.log(x)
    val expect = Seq(
      (0L, 3L, Some((ln(2.0 / 7) + ln(2.0 / 5) + ln(2.0 / 7)) / 3)),
      (1L, 2L, Some((ln(2.0 / 7) + ln(1.0 / 5)) / 2)),
      (2L, 1L, Some(ln(2.0 / 5))),
      (3L, 0L, None))
    for (((id, n, s), r) <- expect.zip(out)) {
      assert(r.getLong(0) === id && r.getLong(1) === n, s"row $r")
      s match {
        case Some(v) => assert(math.abs(r.getDouble(2) - v) < 1e-12,
          s"doc $id score ${r.getDouble(2)} != $v")
        case None => assert(r.isNullAt(2), s"doc $id must have NULL score")
      }
    }
  }

  test("htmlToText: adversarial markup — nested fakes, comments, CDATA, entities, unterminated blocks") {
    import spark.implicits._
    def extract(s: String): String = {
      val r = Seq(Tuple1(s)).toDF("h")
        .select(graft.operators.TextAnalysis.htmlToText(col("h")).as("t"))
        .head()
      if (r.isNullAt(0)) null else r.getString(0)
    }
    // script content (incl. a fake tag in a string and a bare <) drops whole
    assert(extract("""a<script>if(x<2){s="<b>no</b>"}</script>b""") === "a b")
    // style drops whole, even with a CSS comment hiding a tag
    assert(extract("""a<style>p{/*<div>x</div>*/}</style>b""") === "a b")
    // comment hiding a div never resurfaces; CDATA drops whole
    assert(extract("a<!-- <div>hidden</div> -->b") === "a b")
    assert(extract("a<![CDATA[raw <bytes> ]]>b") === "a b")
    // tags become spaces (words never glue), attributes with > quirks aside
    assert(extract("word1<br>word2<div class='x'>word3</div>") === "word1 word2 word3")
    // entity decode order: &amp;lt; is the LITERAL text "&lt;", never '<'
    assert(extract("x &amp;lt;y&amp;gt; z") === "x &lt;y&gt; z")
    assert(extract("""q &lt;b&gt; &quot;w&quot; &apos;e&apos; &#39;r&#39; a&nbsp;b &amp; c""")
      === """q <b> "w" 'e' 'r' a b & c""")
    // unterminated script degrades to tag-strip (deterministic, no error)
    assert(extract("a<script>var x=1; b") === "a var x=1; b")
    // case-insensitive element match
    assert(extract("a<SCRIPT>x</SCRIPT>b<STYLE>y</STYLE>c") === "a b c")
    // whitespace collapse + trim; NULL propagates
    assert(extract("  a\n\n<b> b </b>\t c  ") === "a b c")
    val nr = Seq(Tuple1(null: String)).toDF("h")
      .select(graft.operators.TextAnalysis.htmlToText(col("h")).as("t")).head()
    assert(nr.isNullAt(0))
  }

  test("lengthQuantileFilter: exact ceil-rank quantiles, boundary inclusivity, repartition-stable") {
    import spark.implicits._
    // 10 docs of lengths 1..10 (doc i has i tokens). N=10:
    //   P10 rank = ceil(10*10/100) = 1  → p_lo = 1 (cum(1)=1 ≥ 1)
    //   P90 rank = ceil(90*10/100) = 9  → p_hi = 9 (cum(9)=9)
    // → doc 10 dropped, docs 1..9 kept (boundaries INCLUSIVE).
    val docs = (1 to 10).map(i => (i.toLong, Seq.fill(i)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .lengthQuantileFilter(docs, "text", "doc_id", 10, 90)
      .orderBy("doc_id").collect()
    assert(out.forall(r => r.getLong(2) === 1L && r.getLong(3) === 9L),
      s"thresholds: ${out.head}")
    assert(out.map(_.getBoolean(4)).toSeq === (Seq.fill(9)(true) :+ false))
    // N=11 (one extra 5-token doc): P90 rank = ceil(9.9) = 10 → p_hi
    // still 9 — the ceil arithmetic, not rounding, decides
    val docs11 = docs.unionByName(Seq((11L, "w w w w w")).toDF("doc_id", "text"))
    val hi11 = graft.operators.TextAnalysis
      .lengthQuantileFilter(docs11, "text", "doc_id", 10, 90)
      .select("p_hi").head().getLong(0)
    assert(hi11 === 9L, s"p_hi with N=11 must be 9, got $hi11")
    val again = graft.operators.TextAnalysis
      .lengthQuantileFilter(docs.repartition(7), "text", "doc_id", 10, 90)
      .orderBy("doc_id").collect()
    assert(again.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
  }

  test("gopherRules: each rule fires on its planted violation, integer boundaries exact") {
    import spark.implicits._
    val good = ((1 to 15).flatMap(_ => Seq("the", "quick", "brown", "fox"))).mkString(" ") // 60 tokens, stopwords, clean
    val docs = Seq(
      (1L, good),                                                    // passes all
      (2L, "the a of"),                                              // word count < 30
      (3L, good + ("\n- bullet item" * 10)),                         // 10/11 bullet lines
      (4L, "the weather is a bit odd today...\nand the rest..."),    // 2/2 ellipsis lines (+short)
      (5L, good + " #### ## #"),                                     // 7 '#' vs 63 tokens → 70 > 63
      (6L, "1 2 3 4 5 6 7 8 9 10 11 12 the a"),                      // 2/14 alpha words
      (7L, good.replace("the", "zzz")),                              // no stopwords
      (8L, ""),                                                      // blank
      (9L, null.asInstanceOf[String]))                               // NULL ≡ blank
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .gopherRules(docs, "text", "doc_id", minTokens = 30L, maxTokens = 80L)
      .orderBy("doc_id").collect()
    def flags(r: org.apache.spark.sql.Row): Seq[Boolean] =
      (3 to 9).map(r.getBoolean) // r_word_count..r_stopwords
    assert(flags(out(0)) === Seq(true, true, true, true, true, true, true))
    assert(out(0).getBoolean(10), "good doc must pass overall")
    assert(!out(1).getBoolean(3) && !out(1).getBoolean(10), "short doc fails word count")
    assert(!out(2).getBoolean(6), "bullet doc fails bullet-lines (10/11 > 0.9)")
    assert(out(2).getBoolean(7), "bullet doc's ellipsis rule unaffected")
    assert(!out(3).getBoolean(7), "ellipsis doc fails ellipsis-lines (2/2 > 0.3)")
    assert(!out(4).getBoolean(5), s"symbol doc fails symbol ratio: ${out(4)}")
    assert(!out(5).getBoolean(8), "numeric doc fails alpha-words (2/14 < 0.8)")
    assert(!out(6).getBoolean(9), "stopword-free doc fails stopword rule")
    val blank = out(7)
    assert(blank.getLong(1) === 0L && !blank.getBoolean(3) && blank.getBoolean(5),
      "blank doc: zero tokens, fails word count, vacuous ratios pass")
    assert(out(8).toSeq === blank.toSeq.updated(0, 9L),
      "NULL text must gate exactly like blank, never NULL flags")
    // row-local: no exchange anywhere in the un-sorted plan
    val plan = graft.operators.TextAnalysis
      .gopherRules(docs, "text", "doc_id").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gopherRules must not shuffle:\n$plan")
  }

  test("chunkTokens: start/length arithmetic exact, no redundant tail, blank doc emits one empty chunk") {
    import spark.implicits._
    def doc(n: Int): String = (0 until n).map(i => s"t$i").mkString(" ")
    val docs = Seq((10L, doc(10)), (9L, doc(9)), (8L, doc(8)), (4L, doc(4)),
      (2L, doc(2)), (0L, ""), (99L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .chunkTokens(docs, "text", "doc_id", chunk = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(t => (t._1, t._2))
    val byDoc = out.groupBy(_._1)
    // n=10 → starts 0,3,6; last chunk covers t6..t9 (full width)
    assert(byDoc(10L).map(t => (t._3, t._4)).toSeq === Seq((0L, 4L), (3L, 4L), (6L, 4L)))
    assert(byDoc(10L).last._5 === "t6 t7 t8 t9")
    // n=9 → starts 0,3,6; tail short (3)
    assert(byDoc(9L).map(t => (t._3, t._4)).toSeq === Seq((0L, 4L), (3L, 4L), (6L, 3L)))
    // n=8 → starts 0,3,6; tail len 2, NOT a subrange of chunk@3 (covers t6,t7)
    assert(byDoc(8L).map(t => (t._3, t._4)).toSeq === Seq((0L, 4L), (3L, 4L), (6L, 2L)))
    // n <= chunk → exactly one chunk
    assert(byDoc(4L).map(t => (t._3, t._4)).toSeq === Seq((0L, 4L)))
    assert(byDoc(2L).map(t => (t._3, t._4)).toSeq === Seq((0L, 2L)))
    // blank → one empty chunk, present not dropped; NULL ≡ blank
    assert(byDoc(0L).toSeq === Seq((0L, 0L, 0L, 0L, "")))
    assert(byDoc(99L).toSeq === Seq((99L, 0L, 0L, 0L, "")),
      "NULL-text doc must emit its empty chunk, not vanish")
    // every token of every doc is covered by some chunk
    for (n <- Seq(10, 9, 8, 4, 2); tok <- 0 until n)
      assert(byDoc(n.toLong).exists(t => t._3 <= tok && tok < t._3 + t._4),
        s"token $tok of doc $n uncovered")
    val plan = graft.operators.TextAnalysis
      .chunkTokens(docs, "text", "doc_id", 4, 3).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunkTokens must not shuffle:\n$plan")
  }

  test("canonicalUrl: case, fragment, tracking params, sort, and the refresh near-miss") {
    import spark.implicits._
    val cases = Seq(
      "HTTPS://ExAmple.COM/Path/Q?utm_source=a&id=3&ref=z#frag" -> "https://example.com/Path/Q?id=3",
      "http://a.com/x?refresh=1&ref=tw" -> "http://a.com/x?refresh=1",
      "https://a.com/x?b=2&a=1" -> "https://a.com/x?a=1&b=2",
      "https://a.com/x?utm_campaign=z" -> "https://a.com/x",
      "https://a.com" -> "https://a.com",
      "https://a.com/x?ref&a=1" -> "https://a.com/x?a=1", // bare tracking name (no '=')
      "https://a.com/x#sec" -> "https://a.com/x",
      "https://a.com/x?a=1&&b=2" -> "https://a.com/x?a=1&b=2", // empty param dropped
      "HTTP://U.COM:8080/A?z=1&utm_x=9" -> "http://u.com:8080/A?z=1", // port kept, host-lowered
      "not a url at all" -> null,            // malformed → NULL, never "://"
      "htp:/missing.example" -> null)
    val out = cases.map(_._1).zipWithIndex.map { case (u, i) => (i, u) }
      .toDF("i", "u")
      .select(col("i"), graft.operators.TextAnalysis.canonicalUrl(col("u")).as("c"))
      .orderBy("i").collect().map(_.getString(1))
    cases.map(_._2).zip(out).foreach { case (want, got) =>
      assert(got === want)
    }
  }

  test("bm25TopK: hand-computed scores, length normalization, rank order") {
    import spark.implicits._
    val docs = Seq((0L, "x x y"), (1L, "x z z z"), (2L, "w w w")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .bm25TopK(docs, "text", "doc_id", Seq("x", "y"), k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val avglen = 10.0 / 3
    def part(tf: Long, dfT: Long, len: Long): Double =
      math.log(1.0 + (3 - dfT + 0.5) / (dfT + 0.5)) *
        (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * len / avglen))
    val d0 = part(2, 2, 3) + part(1, 1, 3) // x twice + y once
    val d1 = part(1, 2, 4)                 // x once
    assert(out.map(_._1).toSeq === Seq(0L, 1L), "doc 2 matches nothing; d0 outranks d1")
    assert(math.abs(out(0)._2 - d0) < 1e-12, s"${out(0)._2} vs $d0")
    assert(math.abs(out(1)._2 - d1) < 1e-12, s"${out(1)._2} vs $d1")
  }

  test("ngramContainment: distinct-gram asymmetric containment, self-pair excluded, sub-n docs inert") {
    import spark.implicits._
    val docs = Seq(
      (1L, "z z a b c d q"),       // shares {a b c, b c d} with ref 100
      (2L, "p q r s"),             // no overlap
      (3L, "a b c a b c x"),       // duplicate gram counted ONCE
      (100L, "a b c d e f"),       // the ref itself (also in docs → self-pair excluded)
      (4L, "a b"))                 // shorter than n → no grams
      .toDF("doc_id", "text")
    val refs = docs.filter(col("doc_id") === 100L)
      .select(col("doc_id").as("ref_id"), col("text"))
    val out = graft.operators.TextAnalysis
      .ngramContainment(docs, refs, "text", "doc_id", "ref_id",
        n = 3, minContainment = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    // ref grams: "a b c","b c d","c d e","d e f" → 4
    assert(out.toSeq === Seq(
      (1L, 100L, 2L, 4L, 0.5),
      (3L, 100L, 1L, 4L, 0.25)))
    // a fully-embedded ref scores containment 1.0
    val embedded = Seq((5L, "u v a b c d e f w")).toDF("doc_id", "text")
    val full = graft.operators.TextAnalysis
      .ngramContainment(embedded, refs, "text", "doc_id", "ref_id", 3, 0.2)
      .head()
    assert(full.getDouble(4) === 1.0)
    // sameIdSpace = false: an id-colliding pair between UNRELATED sides
    // is a legitimate leakage pair and must be kept
    val unrelated = graft.operators.TextAnalysis
      .ngramContainment(docs, refs, "text", "doc_id", "ref_id",
        n = 3, minContainment = 0.2, sameIdSpace = false)
      .collect().map(r => (r.getLong(0), r.getDouble(4))).sortBy(_._1)
    assert(unrelated.toSeq === Seq((1L, 0.5), (3L, 0.25), (100L, 1.0)),
      "id collision 100↔100 must surface when id spaces are unrelated")
  }

  test("tfidfTopTerms: sklearn-smoothed idf exact, score/term total order at the k-boundary") {
    import spark.implicits._
    // N=3. df: common→3, mid→2, rare→1, solo→1.
    //   idf(common) = ln(4/4)+1 = 1
    //   idf(mid)    = ln(4/3)+1
    //   idf(rare)   = ln(4/2)+1 = ln 2 + 1
    // doc1 "common common mid rare": common tf2 → 2.0; rare → ln2+1
    //   ≈ 1.693; mid → ln(4/3)+1 ≈ 1.288 → order common, rare, mid.
    // doc3 "common solo": tie-break — solo (ln2+1 ≈ 1.693) beats
    //   common (1.0); both tf1.
    val docs = Seq(
      (1L, "common common mid rare"),
      (2L, "common mid"),
      (3L, "common solo")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.tfidfTopTerms(docs, "text", "doc_id", k = 2)
      .orderBy("doc_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    def idf(df: Int) = math.log(4.0 / (df + 1)) + 1
    val expect = Seq(
      (1L, 1L, "common", 2 * idf(3)),
      (1L, 2L, "rare", idf(1)),
      (2L, 1L, "mid", idf(2)),
      (2L, 2L, "common", idf(3)),
      (3L, 1L, "solo", idf(1)),
      (3L, 2L, "common", idf(3)))
    assert(out.length === expect.length, s"got ${out.toSeq}")
    for ((o, e) <- out.zip(expect)) {
      assert(o._1 === e._1 && o._2 === e._2 && o._3 === e._3, s"got $o want $e")
      assert(math.abs(o._4 - e._4) < 1e-12, s"score ${o._4} != ${e._4}")
    }
    // equal-score tie breaks by term ASC: two df-1 tf-1 terms in one doc
    val tie = Seq((1L, "zzz aaa")).toDF("doc_id", "text")
    val t = graft.operators.TextAnalysis.tfidfTopTerms(tie, "text", "doc_id", k = 1)
      .select("term").head().getString(0)
    assert(t === "aaa")
  }

  test("topNgrams n=1 ignores blank docs (no phantom '' unigram)") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "   "), (3L, "")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.topNgrams(docs, "text", n = 1, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out === Map("a" -> 2L, "b" -> 1L), s"got $out")
  }

  test("weighted mix: exact copies for integer weights, expectation-exact fractional split, repartition-stable") {
    import spark.implicits._
    val df = (0L until 400L).map(i => (i, if (i < 100) "a" else if (i < 200) "b"
      else if (i < 300) "c" else "d")).toDF("id", "src")
    val w = when(col("src") === "a", 3.0).when(col("src") === "b", 1.0)
      .when(col("src") === "c", 0.5).otherwise(0.0)
    val out = graft.operators.Sampling.weightedMix(df, "id", w, seed = 5L)
    val bySrc = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("a") === 300L, "integer weight 3.0 = exactly 3 copies each")
    assert(bySrc("b") === 100L)
    assert(!bySrc.contains("d"), "weight 0 drops the source")
    // seeded-hash keep for frac 0.5: between 30% and 70% of 100 (the
    // binomial 5-sigma band), and copy_no runs 0..n-1
    assert(bySrc("c") > 30L && bySrc("c") < 70L, s"c=${bySrc("c")}")
    val copies = out.filter(col("src") === "a").groupBy("id")
      .agg(sort_array(collect_list("copy_no")).as("cs")).select("cs")
      .distinct().collect()
    assert(copies.length === 1 && copies(0).getSeq[Long](0) === Seq(0L, 1L, 2L))
    // pure function of (key, seed): identical multiset under repartition
    val a = out.select("id", "src", "copy_no").collect()
      .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val b = graft.operators.Sampling.weightedMix(df.repartition(7), "id", w, 5L)
      .select("id", "src", "copy_no").collect()
      .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(a === b, "mix must be repartition-stable")
  }

  test("domain stats: URL extraction battery and per-domain counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "see https://a.com/x and https://a.com/y plus http://b.net"),
      (2L, "again https://a.com/z end"),
      // sentence-final dot: host must end alphanumeric, so the dot stays
      (3L, "dotted https://c.org. end"),
      // near-misses: wrong scheme, single slash, bare host
      (4L, "htp://x.com ftp://f.org https:/nope.com www.bare.com"),
      (5L, "path chars https://d.io/a_b-c.d/e/ stop")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.domainStats(docs, "text", "doc_id")
      .orderBy("domain").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out === Array(
      ("a.com", 3L, 2L),   // 3 URLs over docs 1 and 2
      ("b.net", 1L, 1L),
      ("c.org", 1L, 1L),   // trailing dot stripped by the alnum rule
      ("d.io", 1L, 1L)))   // underscore/dash/dot path accepted
  }

  test("weighted mix copies equal the closed form for arbitrary weights") {
    // independent JVM replay of the kernel: n_copies(key) =
    // floor(w) + [mix(key ^ seed) >>> 1 < floor(frac(w) * 2^63)] — pins
    // the column arithmetic (incl. the exact power-of-two threshold)
    // against a direct Scala computation, for awkward weights too
    import spark.implicits._
    val seed = 17L
    for (w <- Seq(0.1, 0.9999999999999999, 1.0 / 3.0, 2.7182818, 5.0)) {
      val df = (0L until 200L).map(i => Tuple1(i)).toDF("id")
      val got = graft.operators.Sampling.weightedMix(df, "id", lit(w), seed)
        .groupBy("id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val thresh = math.floor((w - math.floor(w)) * math.pow(2, 63)).toLong
      (0L until 200L).foreach { id =>
        val h = graft.operators.DetRngHash.mix(id ^ seed) >>> 1
        val expect = math.floor(w).toLong + (if (h < thresh) 1L else 0L)
        assert(got.getOrElse(id, 0L) === expect, s"w=$w id=$id")
      }
    }
  }

  test("repeated minhash calls hold at most one cached signature table") {
    import org.apache.spark.storage.StorageLevel
    val s1 = Dedup.minHashSignedForProfile(docs, "text", "doc_id", seed = 101L)
    s1.count()
    assert(s1.storageLevel != StorageLevel.NONE, "first signature table should be cached")
    val s2 = Dedup.minHashSignedForProfile(docs, "text", "doc_id", seed = 202L)
    s2.count()
    assert(s1.storageLevel == StorageLevel.NONE,
      "previous signature cache must be evicted by the next call")
    assert(s2.storageLevel != StorageLevel.NONE, "newest signature table stays cached")
    // identical re-request must NOT evict its own cache entry
    val s3 = Dedup.minHashSignedForProfile(docs, "text", "doc_id", seed = 202L)
    s3.count()
    assert(s3.storageLevel != StorageLevel.NONE)
  }

  test("ngram jaccard verification keeps planted pairs above threshold") {
    val cands = Dedup.minHashCandidates(docs, "text", "doc_id", minEstJaccard = 0.3)
    val verified = Dedup.ngramJaccard(docs, cands, "text", "doc_id", minJaccard = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plantedPairs.intersect(verified).size >= 9)
  }

  test("hammingPairs on a raw signature column: pigeonhole recall incl. the uncovered top bits") {
    import spark.implicits._
    // maxHamming=2 → 3 chunks of 21 bits covering bits 0..62; bit 63
    // belongs to NO chunk — a pair differing only there must STILL be
    // found (they agree on every chunk; the gap adds collisions, never
    // misses). Far-apart signatures must not pair.
    val sigs = Seq(
      (1L, 0x0123456789abcdefL),
      (2L, 0x0123456789abcdefL ^ (1L << 63)),            // Hamming 1, top bit
      (3L, 0x0123456789abcdefL ^ 3L),                    // Hamming 2, low bits
      (4L, -1L),                                         // far from everything
      (5L, 0L)).toDF("doc_id", "sig")
    val pairs = graft.operators.Dedup
      .hammingPairs(sigs, "doc_id", "sig", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs === Set((1L, 2L, 1), (1L, 3L, 2), (2L, 3L, 3)).filter(_._3 <= 2),
      s"got $pairs")
  }

  test("simhash pigeonhole bucketing finds low-hamming pairs") {
    val pairs = Dedup.simHashPairs(docs, "text", "doc_id", maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 3-of-60 word mutations flip few simhash bits; most planted pairs
    // must land within hamming 12 while random pairs concentrate near 32
    assert(plantedPairs.intersect(pairs).size >= 7,
      s"simhash found only ${plantedPairs.intersect(pairs).size}/10 planted pairs")
  }

  test("connected components label clusters by minimum member") {
    import spark.implicits._
    // two clusters: a 6-node PATH (diameter 5 — forces several
    // propagation rounds) and a triangle; labels must be the min id
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (30L, 31L), (31L, 32L), (30L, 32L))
      .toDF("id0", "id1")
    val comp = Dedup.connectedComponents(pairs, "id0", "id1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (10L to 15L).foreach(v => assert(comp(v) == 10L, s"$v -> ${comp(v)}"))
    (30L to 32L).foreach(v => assert(comp(v) == 30L, s"$v -> ${comp(v)}"))
    // the distributed label-propagation path (forced past the driver
    // bound) labels identically
    // the distributed path must release per-round caches as it goes: a
    // diameter-5 graph runs several rounds, and only the final labels
    // cache may remain pinned afterwards (plus nothing from sym/earlier
    // rounds — the r11 leak kept every round's cache alive)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val compDist = Dedup.connectedComponents(pairs, "id0", "id1",
      driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cachedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(cachedAfter - cachedBefore <= 1,
      s"connectedComponents pinned ${cachedAfter - cachedBefore} caches")
    assert(compDist == comp, s"paths disagree: $compDist vs $comp")
    // planted near-dups: every (i, i+1000) pair collapses to component i
    val planted = Dedup.connectedComponents(
      plantedPairs.toSeq.toDF("id0", "id1"), "id0", "id1")
      .groupBy("component").count().collect()
    assert(planted.length == 10 && planted.forall(_.getLong(1) == 2L))
    // the input pair plan computes EXACTLY ONCE on both paths (r17
    // finding: the gate used to collect-and-discard, then the fallback
    // recomputed the pair plan from scratch) — an accumulator in the
    // pair plan counts per-row computations
    val acc = spark.sparkContext.longAccumulator("ccEdgeScans")
    val bump = udf { (a: Long) => { acc.add(1L); a } }
    val counted = pairs.select(bump(col("id0")).as("id0"), col("id1"))
    Dedup.connectedComponents(counted, "id0", "id1").collect()
    assert(acc.value == 8L, s"driver path scanned pairs ${acc.value}/8 times")
    acc.reset()
    Dedup.connectedComponents(counted, "id0", "id1", driverMaxEdges = 0L)
      .collect()
    assert(acc.value == 8L,
      s"distributed path scanned pairs ${acc.value}/8 times")
    // non-convergence is loud: a 30-node path with maxIter 2
    val long = (0L until 30L).map(i => (i, i + 1)).toDF("id0", "id1")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(long, "id0", "id1", maxIter = 2,
        driverMaxEdges = 0L)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("exact dedup groups identical content only") {
    import spark.implicits._
    val withCopies = docs.union(
      docs.filter(col("doc_id") < 5).withColumn("doc_id", col("doc_id") + 5000L))
    val groups = Dedup.exactGroups(withCopies, "text", "doc_id")
    assert(groups.filter(col("n_copies") === 2).count() == 5)
    val deduped = Dedup.dedupExact(withCopies, "text", "doc_id")
    assert(deduped.count() == 50)
    assert(deduped.filter(col("doc_id") >= 5000).count() == 0, "keeper is min id")
  }

  // --------------------------------------------- embeddings: IVF + LSH

  private lazy val embeddings: DataFrame = {
    import spark.implicits._
    val rng = DetRng(77L)
    val dim = 16
    // 8 well-separated cluster centers, 50 points each
    val centers = (0 until 8).map(_ => Array.fill(dim)(rng.nextGaussian() * 5))
    val rows = for {
      c <- centers.indices
      i <- 0 until 50
    } yield ((c * 50 + i).toLong,
      centers(c).map(x => (x + 0.3 * rng.nextGaussian()).toFloat).toSeq)
    rows.toDF("vec_id", "embedding")
  }

  test("image dHash: hand-computed bits, integer-binned pooling, undefined below the grid, edit locality") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    def pngOf(w: Int, h: Int)(px: (Int, Int) => Int): Array[Byte] = {
      val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, px(x, y))
      val out = new ByteArrayOutputStream(); ImageIO.write(im, "png", out)
      out.toByteArray
    }
    // 18×16: left half black, right half white → within a row, cells
    // 0..3 are all-black, cell 4 straddles (mean 127.5), 5..8 white.
    // left>right never holds on a non-decreasing profile → dhash 0;
    // the mirrored image (white→black) sets every within-row
    // comparison where left cell mean > right: cells 0..3 white,
    // 4 straddle, 5..8 black → bits at cx ∈ {3, 4} per row
    val split = pngOf(18, 16)((x, _) => if (x < 9) 0x000000 else 0xffffff)
    val mirror = pngOf(18, 16)((x, _) => if (x < 9) 0xffffff else 0x000000)
    val d1 = graft.operators.Multimodal.dHash64(split).get
    val d2 = graft.operators.Multimodal.dHash64(mirror).get
    assert(d1 === 0L, s"non-decreasing profile must hash to 0, got ${d1.toHexString}")
    val expectMirror = (0 until 8).map(cy => (1L << (cy * 8 + 3)) | (1L << (cy * 8 + 4))).reduce(_ | _)
    assert(d2 === expectMirror, s"${d2.toHexString} vs ${expectMirror.toHexString}")
    // a small local edit flips few bits (the near-dup property LSH
    // bucketing relies on): brighten one corner pixel block
    val edited = pngOf(18, 16)((x, y) =>
      if (x < 2 && y < 2) 0x808080 else if (x < 9) 0xffffff else 0x000000)
    val d3 = graft.operators.Multimodal.dHash64(edited).get
    assert(java.lang.Long.bitCount(d2 ^ d3) <= 4,
      s"local edit flipped ${java.lang.Long.bitCount(d2 ^ d3)} bits")
    // undefined below the pooling grid; non-image bytes undefined
    assert(graft.operators.Multimodal.dHash64(pngOf(8, 16)((_, _) => 0)).isEmpty)
    assert(graft.operators.Multimodal.dHash64(pngOf(18, 7)((_, _) => 0)).isEmpty)
    assert(graft.operators.Multimodal.dHash64("not a png".getBytes).isEmpty)
  }

  test("multimodal decode is a real PNG codec round-trip") {
    import graft.operators.Multimodal
    val media = Multimodal.syntheticMedia(docs.limit(5))
    val feats = Multimodal.extractFeatures(media, "doc_id", "media").collect()
    assert(feats.length == 5)
    assert(feats.forall(_.decoded), "PNG payloads must decode through the real codec")
    // decoded dimensions match the encoder's formula, not byte heuristics
    val byId = feats.map(f => f.doc_id -> f).toMap
    docs.limit(5).collect().foreach { r =>
      val id = r.getLong(0)
      val len = r.getString(1).length
      assert(byId(id).width == 8 + (id % 24).toInt)
      assert(byId(id).height == 8 + (len % 24))
      assert(byId(id).mean_byte >= 0 && byId(id).mean_byte <= 255)
    }
    // non-image payloads fall back to byte statistics
    val raw = Multimodal.decodeKernel(1L, Array[Byte](1, 2, 3, 4))
    assert(!raw.decoded && raw.n_bytes == 4 && raw.mean_byte == 2.5)
  }

  test("fast PNG path matches ImageIO across color types and filter mixes") {
    import graft.operators.Multimodal
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    val rng = new scala.util.Random(17)
    // gradients favor sub/up/paeth scanline filters, noise favors none;
    // ARGB hits color type 6, RGB hits 2 (gray stays on the general
    // codec — ImageIO's CS_GRAY->sRGB transform makes getRGB non-trivial
    // there, so the fast path declines colorType 0)
    val types = Seq(BufferedImage.TYPE_INT_RGB, BufferedImage.TYPE_INT_ARGB)
    for (t <- types; mode <- Seq("noise", "gradx", "grady", "mixed")) {
      val w = 5 + rng.nextInt(40); val h = 5 + rng.nextInt(40)
      val im = new BufferedImage(w, h, t)
      for (y <- 0 until h; x <- 0 until w) {
        val v = mode match {
          case "noise" => rng.nextInt(1 << 24)
          case "gradx" => (x * 255 / w) * 0x010101
          case "grady" => (y * 255 / h) * 0x010101
          case _ => if (y % 2 == 0) rng.nextInt(1 << 24) else (x * 255 / w) * 0x010101
        }
        im.setRGB(x, y, v | 0xff000000)
      }
      val out = new ByteArrayOutputStream()
      ImageIO.write(im, "png", out)
      val bytes = out.toByteArray
      val fast = Multimodal.decodePngFast(bytes)
      assert(fast.isDefined, s"type=$t mode=$mode must take the fast path")
      val Some((fw, fh, fsum, fhist)) = fast
      // independent expectation straight from the BufferedImage
      var sum = 0L; val hist = new Array[Long](4)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = im.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        sum += lum; hist(lum >> 6) += 1
      }
      assert((fw, fh) == (w, h), s"type=$t mode=$mode dims")
      assert(fsum == sum, s"type=$t mode=$mode lum sum $fsum != $sum")
      assert(fhist.toSeq == hist.toSeq, s"type=$t mode=$mode hist")
    }
    // gray PNGs decline the fast path (colorType 0 → general codec)
    val gim = new BufferedImage(9, 9, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 9; x <- 0 until 9) gim.setRGB(x, y, (x * 28) * 0x010101)
    val gout = new ByteArrayOutputStream()
    ImageIO.write(gim, "png", gout)
    assert(graft.operators.Multimodal.decodePngFast(gout.toByteArray).isEmpty)
  }

  test("decodePngFast rejects malformed chunk lengths instead of looping") {
    import graft.operators.Multimodal
    import java.io.ByteArrayOutputStream
    // hand-built PNG: signature + a well-formed 8-bit RGB IHDR, then a
    // chunk whose 32-bit length reads as a negative Int (0xFFFFFFF4 =
    // -12) — before the length guard this made `off += 12 + len` a
    // no-op and the chunk walk spun forever on an arbitrary binary
    // payload; the guard must bounce it to the general codec (None)
    def crafted(lenBytes: Array[Int]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).foreach(out.write)
      // IHDR: len 13, type, w=2 h=2 depth=8 color=2 rest 0, fake crc
      Seq(0, 0, 0, 13).foreach(out.write)
      "IHDR".getBytes("US-ASCII").foreach(b => out.write(b.toInt))
      Seq(0, 0, 0, 2, 0, 0, 0, 2, 8, 2, 0, 0, 0).foreach(out.write)
      Seq(1, 2, 3, 4).foreach(out.write)
      lenBytes.foreach(out.write)
      "tEXt".getBytes("US-ASCII").foreach(b => out.write(b.toInt))
      (0 until 24).foreach(_ => out.write(0))
      out.toByteArray
    }
    val negLen = crafted(Array(0xFF, 0xFF, 0xFF, 0xF4))
    assert(Multimodal.decodePngFast(negLen).isEmpty)
    // a length far past the buffer must also bail, not read out of range
    val hugeLen = crafted(Array(0x7F, 0xFF, 0xFF, 0xFF))
    assert(Multimodal.decodePngFast(hugeLen).isEmpty)
    // and the decode operator as a whole still answers (general codec
    // marks it undecodable rather than wedging the task)
    val feat = Multimodal.decodeKernel(1L, negLen)
    assert(!feat.decoded)
  }

  test("decode kernel reproduces the fixture's closed-form pixel statistics") {
    import graft.operators.Multimodal
    // the same rows MediaFixture persists, regenerated in-memory: every
    // case's (w, h, mean luminance, histogram) has an analytical form
    // computed independently of the kernel — decode must match exactly
    val fixture = graft.tools.MediaFixture.rows()
    assert(fixture.length >= 30)
    fixture.foreach { row =>
      val f = Multimodal.decodeKernel(row.doc_id, row.media)
      assert(f.decoded, s"fixture ${row.doc_id} (${row.kind}) must decode")
      assert(f.width == row.width && f.height == row.height,
        s"${row.kind} ${row.doc_id}: got ${f.width}x${f.height}, want ${row.width}x${row.height}")
      assert(math.abs(f.mean_byte - row.mean_byte) < 5e-7,
        s"${row.kind} ${row.doc_id}: mean ${f.mean_byte} != ${row.mean_byte}")
      assert(f.byte_hist4 == Seq(row.h0, row.h1, row.h2, row.h3),
        s"${row.kind} ${row.doc_id}: hist ${f.byte_hist4}")
    }
  }

  test("IVF top-k recall >= 0.9 vs brute force") {
    val q = embeddings.filter(col("vec_id") === 0)
      .head().getSeq[Float](1).map(_.toDouble)
    val exact = SimilaritySearch.bruteForceTopK(embeddings, "embedding", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSet
    val index = SimilaritySearch.ivfIndex(embeddings, "embedding", "vec_id", nCentroids = 8)
    val approx = SimilaritySearch.ivfTopK(index, q, 10, nProbe = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall < 0.9")
  }

  test("IVF probing every cell equals brute force exactly") {
    val q = embeddings.filter(col("vec_id") === 0)
      .head().getSeq[Float](1).map(_.toDouble)
    val exact = SimilaritySearch.bruteForceTopK(embeddings, "embedding", "vec_id", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val index = SimilaritySearch.ivfIndex(embeddings, "embedding", "vec_id", nCentroids = 8)
    val full = SimilaritySearch.ivfTopK(index, q, 10, nProbe = index.centroids.length)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.toSeq == exact.toSeq,
      "exhaustive probes must reproduce the exact ranking — a mismatch means cell routing lost a vector")
  }

  test("IVF-SQ8 composite: exhaustive probing equals the flat SQ8 scan; pruned probes keep recall") {
    val q = embeddings.filter(col("vec_id") === 0)
      .head().getSeq[Float](1).map(_.toDouble)
    val params = SimilaritySearch.sq8Params(embeddings, "embedding")
    val ivf = SimilaritySearch.ivfIndex(embeddings, "embedding", "vec_id",
      nCentroids = 8)
    val idx = SimilaritySearch.ivfSq8Index(embeddings, "embedding", "vec_id",
      ivf, params)
    // nProbe = all cells: the composite must reproduce sq8TopK's flat
    // scan BIT-EXACTLY (same codes, same approx order, same rerank) —
    // a mismatch means the cell routing dropped or misrouted a vector
    val flat = SimilaritySearch.sq8TopK(embeddings, "embedding", "vec_id",
        q, 10, params)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val full = SimilaritySearch.ivfSq8TopK(idx, embeddings, "embedding",
        "vec_id", q, 10, nProbe = ivf.centroids.length)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(full == flat,
      "exhaustive IVF-SQ8 must equal the flat SQ8 scan exactly")
    // the production shape: 2 of 8 cells scanned, recall vs the flat
    // scan's top-10 stays high on the well-separated cluster fixture
    val pruned = SimilaritySearch.ivfSq8TopK(idx, embeddings, "embedding",
        "vec_id", q, 10, nProbe = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = flat.map(_._1).toSet.intersect(pruned).size.toDouble / 10
    assert(recall >= 0.9, s"IVF-SQ8 recall $recall < 0.9")
  }

  test("IVF and IVF-SQ8 indexes round-trip through storage bit-identically") {
    val q = embeddings.filter(col("vec_id") === 0)
      .head().getSeq[Float](1).map(_.toDouble)
    val ivf = SimilaritySearch.ivfIndex(embeddings, "embedding", "vec_id",
      nCentroids = 8)
    val params = SimilaritySearch.sq8Params(embeddings, "embedding")
    val comp = SimilaritySearch.ivfSq8Index(embeddings, "embedding", "vec_id",
      ivf, params)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_rt").toFile
    SimilaritySearch.ivfSave(ivf, s"$dir/ivf")
    SimilaritySearch.ivfSq8Save(comp, s"$dir/comp")
    val rIvf = SimilaritySearch.ivfLoad(spark, s"$dir/ivf")
    val rComp = SimilaritySearch.ivfSq8Load(spark, s"$dir/comp")
    // the model state reloads exactly: centroid table, SQ8 params
    assert(rIvf.centroids.map(_._1).toSeq == ivf.centroids.map(_._1).toSeq)
    assert(rIvf.centroids.map(_._2.toSeq).toSeq ==
      ivf.centroids.map(_._2.toSeq).toSeq, "centroids drifted through parquet")
    assert(rComp.params == params, "SQ8 params drifted through parquet")
    // search results off the reloaded indexes are bit-identical, both
    // pruned (the production shape) and exhaustive
    for (nProbe <- Seq(2, 8)) {
      val a = SimilaritySearch.ivfTopK(ivf, q, 10, nProbe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = SimilaritySearch.ivfTopK(rIvf, q, 10, nProbe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == b, s"IVF search diverged after reload at nProbe=$nProbe")
      val c = SimilaritySearch.ivfSq8TopK(comp, embeddings, "embedding",
        "vec_id", q, 10, nProbe)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      val d = SimilaritySearch.ivfSq8TopK(rComp, embeddings, "embedding",
        "vec_id", q, 10, nProbe)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      assert(c == d, s"IVF-SQ8 search diverged after reload at nProbe=$nProbe")
    }
    // the reloaded cell table is cell-partitioned on disk: a probe's
    // cell filter prunes whole files, not rows
    assert(new java.io.File(s"$dir/ivf/cells.parquet").listFiles()
      .exists(_.getName.startsWith("cell=")),
      "cells.parquet is not partitioned by cell")
    // and ivfAdd composes with the reloaded (frozen) quantizer
    val added = SimilaritySearch.ivfAdd(rIvf,
      embeddings.withColumn("vec_id", col("vec_id") + 1000000L),
      "embedding", "vec_id")
    assert(added.centroids.map(_._2.toSeq).toSeq ==
      ivf.centroids.map(_._2.toSeq).toSeq, "ivfAdd refit the quantizer")
    assert(added.cells.count() == 2 * ivf.cells.count())
  }

  test("fused language-ID expression matches the composed-operator form") {
    import spark.implicits._
    // real corpus: every document at sf0.001, all five labeled languages
    val real = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    // adversarial tokenization edges: Spark trim strips ASCII space ONLY,
    // split keeps leading/trailing empty tokens around \t and \n, ties
    // between language scores break on the larger lang code, Han chars
    // are decisive, and empty/whitespace text scores 'und'
    val edges = Seq(
      "the der le el de", "  the the  ", "\tthe und\n", "le le la der der",
      "", " ", "\t\n", "que une", "que una", "中文 text the", "DE shi ZAI",
      "nothing matches here at all", "und und", "the der").zipWithIndex
      .map { case (t, i) => (100000L + i, t) }.toDF("doc_id", "text")
    val all = real.unionByName(edges)
    val mismatch = all
      .withColumn("fused", graft.operators.TextAnalysis.languageId(col("text")))
      .withColumn("composed", graft.operators.TextAnalysis.composedLanguageId(col("text")))
      .filter(not(col("fused") <=> col("composed")))
      .select("doc_id", "text", "fused", "composed")
      .collect()
    assert(mismatch.isEmpty,
      mismatch.take(5).mkString("fused != composed on: ", "; ", ""))
  }

  test("nbQualityClassifier: hand-computed NB log-odds, NULL/blank → NULL score, one-class error, repartition-stable") {
    import spark.implicits._
    import graft.operators.{DetRngHash, TextAnalysis}
    def bucket(t: String, d: Int): Int =
      java.lang.Long.remainderUnsigned(DetRngHash.xx(t.getBytes("UTF-8")), d).toInt
    // dim 8 keeps the hand computation honest; labels by id parity
    val docs = Seq(
      (0L, "good good text"), (2L, "good text"),        // pos (even), train
      (1L, "junk junk spam"), (3L, "spam junk"),        // neg (odd), train
      (4L, "good junk"),                                 // scored only (but id%1==0 train? trainCond below = id < 4)
      (5L, ""), (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val dim = 8
    val out = TextAnalysis.nbQualityClassifier(docs, "text", "doc_id",
        posCond = pmod(col("doc_id"), lit(2)) === 0,
        trainCond = col("doc_id") < 4, dim = dim, k = 1.0)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    // manual counts over the 4 train docs
    val posToks = Seq("good", "good", "text", "good", "text")
    val negToks = Seq("junk", "junk", "spam", "spam", "junk")
    val cp = posToks.groupBy(bucket(_, dim)).view.mapValues(_.size).toMap
    val cn = negToks.groupBy(bucket(_, dim)).view.mapValues(_.size).toMap
    def lo(t: String): Double = {
      val b = bucket(t, dim)
      math.log((cp.getOrElse(b, 0) + 1.0) / (posToks.size + dim)) -
        math.log((cn.getOrElse(b, 0) + 1.0) / (negToks.size + dim))
    }
    def exp(ts: String*): Double =
      BigDecimal(ts.map(lo).sum / ts.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0L) === ((3L, exp("good", "good", "text"))))
    assert(out(4L) === ((2L, exp("good", "junk"))))
    assert(out(0L)._2.asInstanceOf[Double] > 0 &&
      out(1L)._2.asInstanceOf[Double] < 0,
      s"pos doc must score positive, neg negative: ${out(0L)} ${out(1L)}")
    // NULL and blank: 0 tokens, NULL score
    assert(out(5L) === ((0L, null)) && out(6L) === ((0L, null)))
    // repartition must not change anything (fixed-order driver fit)
    val out2 = TextAnalysis.nbQualityClassifier(docs.repartition(7), "text",
        "doc_id", pmod(col("doc_id"), lit(2)) === 0, col("doc_id") < 4, dim, 1.0)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    assert(out2 === out)
    // a one-class training slice must fail loudly
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.nbQualityClassifier(docs, "text", "doc_id",
        posCond = lit(true), trainCond = col("doc_id") < 4, dim, 1.0)
        .collect()
    }
    assert(e.getMessage.contains("BOTH classes"))
  }

  test("p53 classifier separates planted boilerplate totally on held-out docs") {
    val out = graft.operators.PipelineQueries
      .p53QualityClassifier(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val heldout = out.filter(_._1 % 3 != 0)
    def clean(id: Long) = id % 13 != 0 && id % 17 != 0 && id % 19 != 0
    val minClean = heldout.filter(p => clean(p._1)).map(_._2).min
    val maxJunk = heldout.filter(p => !clean(p._1)).map(_._2).max
    assert(minClean > maxJunk,
      s"held-out separation must be total: minClean=$minClean <= maxJunk=$maxJunk")
    assert(minClean >= 0.25 && maxJunk < 0.25,
      s"the calibrated keep threshold must split the classes: $minClean / $maxJunk")
  }

  test("p74 DSIR: exact quota, target tracked, and genuinely resampled") {
    val out = graft.operators.PipelineQueries
      .p74DsirSelect(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4)))
    val n = out.length
    val sel = out.filter(_._4)
    assert(sel.length === math.max(1, n / 4),
      s"quota must be exact: ${sel.length} of $n")
    def clean(id: Long) = id % 13 != 0 && id % 17 != 0 && id % 19 != 0
    // target tracked: junk weights sit ≫ a Gumbel scale below the
    // clean mass, so nothing junk gets resampled in at the gate SFs
    assert(sel.forall(p => clean(p._1)),
      s"junk selected: ${sel.filterNot(p => clean(p._1)).take(3).toSeq}")
    // ...but the selection is NOT the hard top-n by weight — the
    // Gumbel draw shuffles within the clean mass (the resampling
    // property that distinguishes DSIR from a threshold filter)
    val topByWeight = out.sortBy(p => (-p._2, p._1)).take(sel.length)
      .map(_._1).toSet
    assert(!sel.map(_._1).toSet.subsetOf(topByWeight),
      "selection must differ from the hard top-n by weight")
    // the engine/oracle agreement at the cutoff rides on the key gap
    // there being far above cross-engine libm drift (~1e-13)
    val keys = out.map(_._3).sortBy(-_)
    val gap = keys(sel.length - 1) - keys(sel.length)
    assert(gap > 1e-5, s"cutoff key gap too small for the gate: $gap")
  }

  test("p74 DSIR: NULL text ≡ blank (empty product, weight 0) and named empty-target error") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta"), (2L, null.asInstanceOf[String]),
      (3L, ""), (4L, "alpha alpha")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.dsirSelect(
        docs, "text", "doc_id", targetCond = col("doc_id") === 1L,
        frac = 0.5, dim = 64, seed = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(out(1)._2 === 0L && out(2)._2 === 0L)
    assert(out(1)._3 === 0.0 && out(2)._3 === 0.0,
      s"empty/NULL docs carry the empty-product weight 0: ${out.toSeq}")
    val e = intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.dsirSelect(
        docs, "text", "doc_id", targetCond = lit(false), frac = 0.5)
    }
    assert(e.getMessage.contains("target slice has no tokens"))
  }

  test("p75 Bloom gate: self-hit, planted near-dup catch, and ≥1 reproduced FP") {
    val out = graft.operators.PipelineQueries
      .p75BloomDecontaminate(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    val ref = out.filter(_._1 % 10 == 0)
    assert(ref.forall(r => r._3 === r._2),
      "every reference doc must self-hit on every gram")
    val flaggedNonRef = out.filter(r => r._1 % 10 != 0 && r._4)
    // the corpus plants near-duplicates of some reference docs — the
    // gate must catch them as bulk-hit docs (true contamination)...
    assert(flaggedNonRef.exists(r => r._3 >= r._2 - 2 && r._2 >= 5),
      s"no near-dup contamination caught: ${flaggedNonRef.toSeq}")
    // ...and at this load a few single-gram false positives are the
    // price of the 8 KB filter (the oracle reproduces them bit-exactly;
    // this pin is that they EXIST, i.e. the gate genuinely runs at a
    // lossy operating point rather than degenerating to an exact set)
    assert(flaggedNonRef.exists(_._3 == 1L),
      "expected at least one single-gram false positive at this load")
    // the clean bulk passes
    assert(flaggedNonRef.length * 10 < out.length,
      s"too many flagged non-ref docs: ${flaggedNonRef.length}")
  }

  test("HLL kernel packing pinned against an independent bit-level restatement") {
    import org.apache.spark.unsafe.types.UTF8String
    for (s <- Seq("a", "hello", "https://Example0.com/Path/3?id=7", "",
                  "éclair 中文");
         p <- Seq(4, 8, 12)) {
      val z = graft.operators.DetRngHash.xx(s.getBytes("UTF-8"))
      val rest = z & ((1L << (64 - p)) - 1L)
      // independent rho: 1-based leading-one rank via the binary-string
      // length (what the DuckDB oracle's bin() restatement computes)
      val expRho =
        if (rest == 0L) 64 - p + 1
        else (64 - p) - java.lang.Long.toBinaryString(rest).length + 1
      val expReg = (z >>> (64 - p)).toInt
      val pk = graft.functions.HllRegRho.kernel(UTF8String.fromString(s), p)
      assert(pk === ((expReg << 8) | expRho), s"key '$s' p=$p")
      assert((pk & 255) >= 1 && (pk & 255) <= 64 - p + 1, "rho range")
    }
  }

  test("HLL: merge ≡ direct sketch, calibrated error, NULL keys ignored") {
    import spark.implicits._
    val rows = (0 until 1000).map(i => ("g", s"key-$i")) ++
      (0 until 200).map(i => ("h", s"other-$i"))
    val df = rows.toDF("grp", "key")
    val regs = graft.operators.Sketches.hllRegisters(df, "grp", "key", 8)
    val est = graft.operators.Sketches.hllEstimate(regs, "grp", 8)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(math.abs(est("g") - 1000.0) / 1000.0 < 0.2,
      s"p=8 estimate for n=1000 out of envelope: ${est("g")}")
    assert(math.abs(est("h") - 200.0) / 200.0 < 0.2,
      s"p=8 estimate for n=200 out of envelope: ${est("h")}")
    // the union sketch by register-wise max ≡ sketching the union
    val merged = graft.operators.Sketches
      .hllMergeRegisters(regs, "grp", "*")
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSet
    val direct = graft.operators.Sketches
      .hllRegisters(df.withColumn("grp", lit("*")), "grp", "key", 8)
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSet
    assert(merged === direct, "register merge must equal the union sketch")
    // NULLs contribute no register (COUNT(DISTINCT) semantics)
    val withNull = (rows ++ Seq(("g", null.asInstanceOf[String])))
      .toDF("grp", "key")
    val regsN = graft.operators.Sketches.hllRegisters(withNull, "grp", "key", 8)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val regs0 = regs.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    assert(regsN === regs0, "NULL keys must not perturb the register file")
  }

  test("p76: both correction branches live; estimates track exact within the envelope") {
    val out = graft.operators.PipelineQueries
      .p76HllCardinality(spark, "/root/testdata/sf0.001").collect()
    val p4star = out.find(r => r.getInt(0) == 4 && r.getString(1) == "*").get
    assert(p4star.getLong(3) === 0L, "p=4 rollup must saturate every register")
    assert(p4star.getDouble(4) === p4star.getDouble(5),
      "saturated rollup must take the RAW estimator branch")
    val p8 = out.filter(r => r.getInt(0) == 8)
    assert(p8.exists(r => r.getDouble(4) != r.getDouble(5)),
      "linear-counting branch must fire at p=8")
    p8.foreach { r =>
      val rel = math.abs(r.getDouble(5) - r.getLong(6)) / r.getLong(6).toDouble
      assert(rel < 0.25, s"p=8 estimate out of envelope: $r")
    }
  }

  test("Aho–Corasick: hand-computed counts — overlap, nesting, suffix dictionary, case fold") {
    val auto = graft.functions.AcAutomaton.build(graft.operators
      .PipelineQueries.P77Patterns)
    // 'free money now' holds 'free money' + 'free money now' + 'money
    // now' (nested + suffix-link reporting); 'aaaa' holds THREE
    // overlapping 'aa'; 'casino casino' two; case-folded catch.
    assert(auto.scan("xFREE Money nowx aaaa casino casino").toSeq ===
      Seq(8L, 5L))
    assert(auto.scan("").toSeq === Seq(0L, 0L))
    assert(auto.scan("nothing objectionable here").toSeq === Seq(0L, 0L))
    // a pattern that is a strict INFIX of matched text still counts
    assert(auto.scan("aa").toSeq === Seq(1L, 1L))
    assert(auto.scan("free money").toSeq === Seq(1L, 1L))
    // partial prefixes do not count
    assert(auto.scan("free mone").toSeq === Seq(0L, 0L))
  }

  test("Aho–Corasick build: named errors for empty list, empty pattern, duplicates, budget") {
    import graft.functions.AcAutomaton
    assert(intercept[IllegalArgumentException](AcAutomaton.build(Nil))
      .getMessage.contains("blocklist is empty"))
    assert(intercept[IllegalArgumentException](
        AcAutomaton.build(Seq("ok", "")))
      .getMessage.contains("empty pattern"))
    assert(intercept[IllegalArgumentException](
        AcAutomaton.build(Seq("Spam", "spam")))
      .getMessage.contains("duplicate patterns"))
    assert(intercept[IllegalArgumentException](
        AcAutomaton.build(Seq("a", "b", "c"), maxPatterns = 2))
      .getMessage.contains("over the 2"))
    assert(intercept[IllegalArgumentException](
        AcAutomaton.build(Seq("abcdefgh"), maxNodes = 3))
      .getMessage.contains("node budget"))
  }

  test("blocklistFilter: NULL text ≡ blank; verdicts match per-row scans") {
    import spark.implicits._
    val docs = Seq((1L, "win FREE MONEY NOW friends"),
      (2L, null.asInstanceOf[String]), (3L, "casino aaaa casino"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .blocklistFilter(docs, "text", "doc_id", graft.operators
        .PipelineQueries.P77Patterns)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out(0) === ((1L, 3L, 3L, true)))
    assert(out(1) === ((2L, 0L, 0L, false)))
    assert(out(2) === ((3L, 5L, 2L, true)))
  }

  test("Count–Min: one-sided guarantee under forced collisions; exact when uncollided; absent probes read noise") {
    import spark.implicits._
    // heavy-tail stream: token t0 × 64, t1 × 32, ..., t6 × 1
    val occurrences = (0 until 7).flatMap(i =>
      Seq.fill(64 >> i)(s"t$i")) ++ Seq.fill(5)("pad")
    val toks = occurrences.toDF("token")
    val exact = occurrences.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // w = 4 forces collisions: estimates must NEVER underestimate, and
    // with 8 distinct tokens in 4 cells at least one must overestimate
    val cellsSmall = graft.operators.Sketches.cmsBuild(toks, "token", d = 2, w = 4)
    val qs = exact.keys.toSeq.toDF("token")
    val estSmall = graft.operators.Sketches
      .cmsEstimate(cellsSmall, qs, "token", d = 2, w = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) =>
      assert(estSmall(t) >= n, s"CM underestimated $t: ${estSmall(t)} < $n")
    }
    assert(exact.exists { case (t, n) => estSmall(t) > n },
      "w=4 over 8 tokens must collide somewhere")
    // a wide sketch resolves every query exactly on this tiny stream
    val cellsWide = graft.operators.Sketches.cmsBuild(toks, "token", d = 4, w = 512)
    val estWide = graft.operators.Sketches
      .cmsEstimate(cellsWide, qs.unionByName(Seq("absent-token").toDF("token")),
        "token", d = 4, w = 512)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) => assert(estWide(t) === n) }
    assert(estWide("absent-token") >= 0L)
    // the shared hash primitive is DetRngHash.xx bit-for-bit
    val viaExpr = toks.limit(1).select(
      graft.functions.Xx64(lit("t0"))).head().getLong(0)
    assert(viaExpr === graft.operators.DetRngHash.xx("t0".getBytes("UTF-8")))
  }

  test("packSplit: token conservation, exact bin fullness, contiguous pieces, empty docs keep a row") {
    val out = graft.operators.PipelineQueries
      .p80PackSplit(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // conservation: per doc, Σ piece_tokens = n_tokens
    out.groupBy(_._1).foreach { case (id, ps) =>
      assert(ps.map(_._7).sum === ps.head._3, s"doc $id loses tokens")
      // piece_no dense from 0; pieces after the first start at offset 0
      assert(ps.map(_._4).sorted.toSeq === (0L until ps.length).toSeq)
      ps.filter(_._4 > 0).foreach(p =>
        assert(p._6 === 0L, s"doc $id piece ${p._4} starts mid-bin"))
    }
    // exact fullness: every bin except each shard's LAST holds 512
    out.groupBy(r => (r._2, r._5)).foreach { case ((shard, bin), ps) =>
      val lastBin = out.filter(_._2 == shard).map(_._5).max
      if (bin < lastBin)
        assert(ps.map(_._7).sum === 512L,
          s"shard $shard bin $bin not full: ${ps.map(_._7).sum}")
    }
    // at least one document actually splits (long docs exist), and the
    // split is what p23 cannot express
    assert(out.exists(_._4 > 0), "no document crossed a bin boundary")
    // a zero-token doc keeps exactly one empty piece row
    out.filter(_._3 == 0L).groupBy(_._1).foreach { case (_, ps) =>
      assert(ps.length === 1 && ps.head._7 === 0L)
    }
  }

  test("Aho–Corasick fuzz: 300 random corpora agree with the naive per-pattern position scan") {
    val rng = DetRng(7717L)
    def randStr(len: Int, alpha: Int): String =
      (0 until len).map(_ => ('a' + rng.nextInt(alpha)).toChar).mkString
    for (_ <- 0 until 300) {
      // small alphabet → dense overlaps, nested matches, shared prefixes
      val pats = (0 until 2 + rng.nextInt(5))
        .map(_ => randStr(1 + rng.nextInt(4), 2)).distinct
      val auto = graft.functions.AcAutomaton.build(pats)
      val text = randStr(rng.nextInt(60), 2)
      var naiveTotal = 0L
      var naiveDistinct = 0L
      pats.foreach { p =>
        val n = (0 to text.length - p.length)
          .count(i => text.regionMatches(i, p, 0, p.length))
        naiveTotal += n
        if (n > 0) naiveDistinct += 1
      }
      assert(auto.scan(text).toSeq === Seq(naiveTotal, naiveDistinct),
        s"pats=$pats text=$text")
    }
  }

  test("robots glob fuzz: 500 random patterns agree with a regex reference") {
    val rng = DetRng(9241L)
    def randPat(): String = {
      val body = (0 until 1 + rng.nextInt(6)).map(_ =>
        rng.nextInt(3) match {
          case 0 => "a"
          case 1 => "b"
          case _ => "*"
        }).mkString
      if (rng.nextInt(3) == 0) body + "$" else body
    }
    def randPath(): String =
      (0 until rng.nextInt(8)).map(_ => ('a' + rng.nextInt(2)).toChar).mkString
    for (_ <- 0 until 500) {
      val pat = randPat()
      val path = randPath()
      val anchored = pat.endsWith("$")
      val core = (if (anchored) pat.dropRight(1) else pat).replace("*", ".*")
      val rx = ("^" + core + (if (anchored) "$" else "")).r
      val expected =
        if (anchored) rx.matches(path)
        else rx.findPrefixOf(path).isDefined ||
          // a '*' can consume past any prefix: regex prefix search on
          // the pattern against every path prefix
          (0 to path.length).exists(k => ("^" + core + "$").r.matches(path.take(k)))
      assert(graft.functions.RobotsKernel.patMatches(pat, path) === expected,
        s"pat=$pat path=$path")
    }
  }

  test("ivfAdd: frozen quantizer, base assignments untouched, increment routed like a refit-free FAISS add") {
    import spark.implicits._
    val rng = DetRng(4242L)
    val vecs = (0L until 200L).map(i =>
      (i, Seq.fill(8)(rng.nextDouble().toFloat)))
      .toDF("vec_id", "embedding")
    val base = vecs.filter(col("vec_id") % 10 =!= 0)
    val inc = vecs.filter(col("vec_id") % 10 === 0)
    val idx = graft.operators.SimilaritySearch
      .ivfIndex(base, "embedding", "vec_id", nCentroids = 4)
    val merged = graft.operators.SimilaritySearch
      .ivfAdd(idx, inc, "embedding", "vec_id")
    // no refit: the centroid table is the SAME object graph
    assert(merged.centroids eq idx.centroids)
    // base rows keep their cells; increment rows appear exactly once,
    // assigned by the same frozen NearestCentroid rule
    val before = idx.cells.select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val after = merged.cells.select("id", "cell").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(1)).toSeq).toMap
    before.foreach { case (id, c) => assert(after(id) === Seq(c)) }
    val incIds = inc.select("vec_id").collect().map(_.getLong(0)).toSet
    incIds.foreach { id => assert(after(id).length === 1, s"vec $id") }
    assert(after.keySet === before.keySet ++ incIds)
    val reassigned = graft.operators.SimilaritySearch
      .ivfAdd(idx, inc, "embedding", "vec_id").cells
      .filter(col("id").isin(incIds.toSeq: _*))
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(incIds.map(id => id -> after(id).head).toMap === reassigned,
      "increment assignment must be deterministic")
  }

  test("NFC kernel: combining sequences compose, already-NFC text returns the SAME buffer") {
    import org.apache.spark.unsafe.types.UTF8String
    val dec = UTF8String.fromString("cafe\u0301 A\u030A n\u0303")
    val out = graft.functions.NfcNormalize.kernel(dec)
    assert(out.toString === "caf\u00e9 \u00c5 \u00f1")
    // the fast path: an already-normalized input must not copy
    val nfc = UTF8String.fromString("caf\u00e9 plain ascii")
    assert(graft.functions.NfcNormalize.kernel(nfc) eq nfc)
    // codepoint counts shrink by exactly the composed marks
    assert(dec.numChars() - out.numChars() === 3)
  }

  test("sample-quantile sketch: small groups exact, rank error bounded, repartition-stable") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, if (i < 10) "small" else "big", i))
      .toDF("id", "grp", "v")
    val qs = Seq(("p50", 0.5), ("p90", 0.9))
    val out = graft.operators.Sketches
      .sampleQuantiles(df, "grp", "id", "v", k = 64, seed = 5L, qs)
      .collect().map(r => (r.getString(0), r.getString(3)) ->
        (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    // a group with n <= k samples EVERYTHING: the estimate is the exact
    // discrete quantile (values 0..9 -> p50 = v[5] = 5, p90 = v[9] = 9)
    assert(out(("small", "p50")) == ((10L, 10L, 5L)), out(("small", "p50")))
    assert(out(("small", "p90")) == ((10L, 10L, 9L)), out(("small", "p90")))
    // the large group samples ~k of 1990 uniform values; the sample
    // quantile's rank error is O(n/sqrt(k)) whp — assert a generous 2x
    val (nB, mB, p50B) = out(("big", "p50"))
    assert(nB == 1990L && mB > 32L && mB < 128L, s"sample size $mB off")
    assert(math.abs(p50B - 1004L) < 2 * 1990 / 8,
      s"big p50 estimate $p50B too far from 1004")
    // pure function of (ids, seed): a different partitioning must
    // reproduce every estimate bit-for-bit
    val out2 = graft.operators.Sketches
      .sampleQuantiles(df.repartition(17), "grp", "id", "v", k = 64, seed = 5L, qs)
      .collect().map(r => (r.getString(0), r.getString(3)) ->
        (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    assert(out2 == out, "estimates moved under repartitioning")
    // NULL ids fail loudly, never silently bias the sample
    val withNull = df.union(Seq((0L, "big", 1L)).toDF("id", "grp", "v")
      .select(lit(null).cast("long").as("id"), col("grp"), col("v")))
    val e = intercept[Exception] {
      graft.operators.Sketches
        .sampleQuantiles(withNull, "grp", "id", "v", k = 64, seed = 5L, qs)
        .collect()
    }
    def msg(t: Throwable): String = {
      var c: Throwable = t; var m = String.valueOf(t.getMessage)
      while (c.getCause != null) { c = c.getCause; m += " | " + c.getMessage }
      m
    }
    assert(msg(e).contains("NULL id"), msg(e))
    // ...including in a SMALL group, where the n <= k disjunct would
    // short-circuit a lazily-placed guard
    val smallNull = df.union(Seq(("small", 1L)).toDF("grp", "v")
      .select(lit(null).cast("long").as("id"), col("grp"), col("v")))
    val e2 = intercept[Exception] {
      graft.operators.Sketches
        .sampleQuantiles(smallNull, "grp", "id", "v", k = 64, seed = 5L, qs)
        .collect()
    }
    assert(msg(e2).contains("NULL id"), msg(e2))
    // NULL values fail loudly too — collect_list would silently drop
    // them while count() still counts, misaligning every rank index
    val nullV = df.union(Seq((99999L, "small")).toDF("id", "grp")
      .select(col("id"), col("grp"), lit(null).cast("long").as("v")))
    val e3 = intercept[Exception] {
      graft.operators.Sketches
        .sampleQuantiles(nullV, "grp", "id", "v", k = 64, seed = 5L, qs)
        .collect()
    }
    assert(msg(e3).contains("NULL v"), msg(e3))
  }

  test("LSH audit contracts: oversized recall slice is a named error; precision needs no budget; band edges validated") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, s"tok a b c d e f g $i"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.lshRecallAudit(docs, "text", "doc_id", lit(true),
        maxAuditDocs = 10)
    }
    assert(e.getMessage.contains("quadratic by design"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.lshRecallAudit(docs, "text", "doc_id", lit(true),
        bandEdges = Seq(0.8, 0.4))
    }
    assert(e2.getMessage.contains("bandEdges"), e2.getMessage)
    // the precision audit has no quadratic stage and therefore no
    // budget: the same 40-doc slice just runs
    val p = Dedup.lshPrecisionAudit(docs, "text", "doc_id", lit(true))
      .collect()
    // near-identical planted docs: candidates exist and all verify true
    val star = p.find(_.getString(0) == "*")
    assert(star.nonEmpty && star.get.getLong(1) > 0L)
    assert(star.get.getLong(1) == star.get.getLong(2),
      s"expected all candidates true on this fixture: ${p.mkString(",")}")
    // the materialized-candidates path (what a 100 TB job passes — its
    // dedup run's candidate table) must equal the regenerate default
    val cands = Dedup.minHashCandidates(docs, "text", "doc_id",
      minEstJaccard = 0.2)
    val viaTable = Dedup.lshPrecisionAudit(docs, "text", "doc_id",
        lit(true), candidates = Some(cands))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaTable ==
      p.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
      "candidate-table path diverged from the regenerate path")
    val viaTableR = Dedup.lshRecallAudit(docs, "text", "doc_id",
        lit(true), candidates = Some(cands))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val regenR = Dedup.lshRecallAudit(docs, "text", "doc_id", lit(true))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaTableR == regenR,
      "recall candidate-table path diverged from the regenerate path")
  }

  test("NFKC kernel: compatibility folds + canonical composition; already-NFKC returns the SAME buffer") {
    import org.apache.spark.unsafe.types.UTF8String
    // ligature, superscript, squared unit, fullwidth, numero, circled
    // digit — each folds to its Unicode-standard compatibility image —
    // plus a combining sequence that composes (the NFC subset)
    val in = UTF8String.fromString(
      "\uFB01le \u00B2nd \u339E \uFF26\uFF15 \u2116\u2466 cafe\u0301")
    assert(graft.functions.NfkcNormalize.kernel(in).toString ===
      "file 2nd km F5 No7 caf\u00E9")
    // NFC leaves compatibility characters ALONE — the two forms must
    // disagree exactly there (the reason p85 exists beside p84)
    assert(graft.functions.NfcNormalize.kernel(in).toString ===
      "\uFB01le \u00B2nd \u339E \uFF26\uFF15 \u2116\u2466 caf\u00E9")
    // fast path: an already-NFKC input must not copy
    val plain = UTF8String.fromString("plain ascii caf\u00E9")
    assert(graft.functions.NfkcNormalize.kernel(plain) eq plain)
  }

  test("bloom kernel: positions match the contains test; empty ref is a named error") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "x y z w v u"),
      (3L, "a b c d e")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.bloomDecontaminate(
        docs, "text", "doc_id", refCond = col("doc_id") === 1L,
        shingle = 5, mBits = 64, probes = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // doc 1: both its grams are members; doc 3: its single gram is
    // doc 1's first gram — a true cross-doc hit
    assert(out(0) === ((1L, 2L, 2L)))
    assert(out(2) === ((3L, 1L, 1L)))
    val e = intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.bloomDecontaminate(
        docs, "text", "doc_id", refCond = lit(false))
    }
    assert(e.getMessage.contains("reference slice has no grams"))
  }

  test("NULL text ≡ blank across qualityMetrics/languageId; NULL media keeps its pHash row") {
    import spark.implicits._
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""))
      .toDF("doc_id", "text")
    val q = graft.operators.TextAnalysis.qualityMetrics(docs, "text")
      .withColumn("pred_lang", graft.operators.TextAnalysis.languageId(col("text")))
      .select("doc_id", "n_chars_m", "n_tokens", "quality_score", "pred_lang")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4))).sortBy(_._1)
    assert(q(0).copy(_1 = 2L) === q(1),
      s"NULL doc must score exactly like the blank doc: ${q.toSeq}")
    assert(q(0)._5 === "und")
    // NULL media: auditable defined=false row, not a silent drop
    val media = Seq((7L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "media")
    val ph = graft.operators.Multimodal
      .perceptualHashes(media, "doc_id", "media").collect()
    assert(ph.toSeq === Seq(
      graft.operators.Multimodal.PerceptualHash(7L, defined = false, 0L)))
  }

  test("subword count: alnum runs + punctuation as their own tokens") {
    import spark.implicits._
    val cases = Seq(
      "hello world"        -> 2L,   // plain words
      "don't stop, now!"   -> 7L,   // don ' t stop , now !
      "a1b2"               -> 1L,   // one alnum run
      ",,"                 -> 2L,   // each punct char its own token
      "  spaced   out  "   -> 2L,   // whitespace pieces dropped
      ""                   -> 0L,
      "tab\there"          -> 3L)   // tab survives space-only trim
    val got = cases.map(_._1).toDF("text")
      .select(operators.TextAnalysis.subwordCount(col("text")).cast("long"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cases.map(_._2), s"subword counts $got != ${cases.map(_._2)}")
  }

  test("hyperplane LSH near-dup pairs find same-cluster vectors only") {
    val pairs = SimilaritySearch.cosineNearDupPairs(
      embeddings, "embedding", "vec_id", minCosine = 0.98, chunks = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "tight clusters must yield near-dup pairs")
    assert(pairs.forall { case (a, b) => a / 50 == b / 50 },
      "cross-cluster vectors must not pass the cosine threshold")
  }

  test("fused quality-stats expression matches the composed-operator form") {
    import spark.implicits._
    // adversarial: tabs/newlines the ASCII-space-only trim keeps, a
    // vertical tab, leading/trailing separators (split keeps the empty
    // tokens), every stopword, punctuation runs, unicode text, NULL,
    // empty, and whitespace-only rows
    val texts: Seq[String] = Seq(
      "the quick brown fox, it was HERE!",
      "\tthe and of to\n", "a  b\u000Bc", " ", "", "\n\n", "...!?;:",
      "als die Straße naß war — naïve café ¡hola! 中文 टेस्ट",
      "THE AND OF TO IN IS ARE WAS WERE IT THAT THIS WITH FOR ON AS AT an or",
      "word " * 50, null, "x", "  padded  ", "a-b_c~d`e", "12 34.5 6,7")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, Option(t)) }
      .toDF("doc_id", "text")
    val cols = Seq("doc_id", "n_chars_m", "n_tokens", "punct_ratio",
      "stopword_ratio", "mean_word_len", "quality_score").map(org.apache.spark.sql.functions.col)
    val fused = graft.operators.TextAnalysis.qualityMetrics(df, "text")
      .select(cols: _*).orderBy("doc_id").collect()
    val composed = graft.operators.TextAnalysis.composedQualityMetrics(df, "text")
      .select(cols: _*).orderBy("doc_id").collect()
    assert(fused.toSeq === composed.toSeq)
    val plan = graft.operators.TextAnalysis.qualityMetrics(df, "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ArrayFilter") && !plan.contains("regexp_replace"),
      s"the interpreted lambda and regex rewrites must be gone:\n$plan")
  }

  test("fused gopher-stats and subword-count expressions match their composed forms") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val texts: Seq[String] = Seq(
      "- bullet one\n* bullet two\nplain line\nto be continued...",
      "#### #### 123 456 789 0 11 22 33 44 55 66 77 88",
      "the and of to in is are was were it that this with for on as at",
      "....... ... .. . ...", "a\nb\nc\n", "", " ", "\n\n", "- ", "* x",
      "mixed CASE Text-With_Punct!and#hash ...", "\t tab\u000Bvt",
      "unicode naïve café 中文 — txt", null, "word " * 40,
      "...\n...\nline", "-no space bullet", "0 1 2", "a1b2c3 x!y?z")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, Option(t)) }
      .toDF("doc_id", "text")
    // gopher parity (bounds tight so both outcomes occur)
    val gcols = Seq("doc_id", "n_tokens", "n_lines", "r_word_count",
      "r_mean_word_len", "r_symbol_ratio", "r_bullet_lines",
      "r_ellipsis_lines", "r_alpha_words", "r_stopwords", "gopher_pass").map(col)
    val gf = graft.operators.TextAnalysis.gopherRules(df, "text", "doc_id", 2L, 30L)
      .select(gcols: _*).orderBy("doc_id").collect()
    val gc = graft.operators.TextAnalysis.composedGopherRules(df, "text", "doc_id", 2L, 30L)
      .select(gcols: _*).orderBy("doc_id").collect()
    assert(gf.toSeq === gc.toSeq)
    // subword parity (null in -> null out preserved)
    val sf = df.select(col("doc_id"),
        graft.operators.TextAnalysis.subwordCount(col("text")).as("n"))
      .orderBy("doc_id").collect()
    val sc = df.select(col("doc_id"),
        graft.operators.TextAnalysis.composedSubwordCount(col("text")).as("n"))
      .orderBy("doc_id").collect()
    assert(sf.toSeq === sc.toSeq)
    // plan guards: the interpreted lambdas and regex passes are gone
    val gplan = graft.operators.TextAnalysis.gopherRules(df, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!gplan.contains("ArrayFilter") && !gplan.contains("regexp_replace"),
      s"gopher lambdas/regexes must be gone:\n$gplan")
    val splan = df.select(graft.operators.TextAnalysis.subwordCount(col("text")))
      .queryExecution.executedPlan.toString
    assert(!splan.contains("ArrayFilter") && !splan.toLowerCase.contains("split"),
      s"subword lookaround split must be gone:\n$splan")
  }

  // ------------------------------------------ p91 oracle-statable k-means

  /** Naive independent Lloyd replay of [[SimilaritySearch.kmeansFit]]'s
    * contract (functional style — nothing shared with the while-loop
    * implementation): bottom-cap sample by (mix-hash, id), first-k
    * init, fixed iterations, strict-< argmin in cluster order, means in
    * sample order, empty cluster keeps its centroid. */
  private def naiveKmeans(rows: Seq[(Long, Array[Double])], k: Int,
      iters: Int, cap: Int, seed: Long)
      : (Vector[Vector[Double]], Vector[Long], Vector[Double]) = {
    val sample = rows
      .sortBy { case (id, _) => (graft.operators.DetRngHash.mix(id ^ seed) >>> 1, id) }
      .take(cap).map(_._2)
    def d2(x: Array[Double], c: Vector[Double]): Double =
      x.indices.foldLeft(0.0)((s, j) => s + (x(j) - c(j)) * (x(j) - c(j)))
    def nearest(x: Array[Double], cs: Vector[Vector[Double]]): Int =
      cs.indices.minBy(c => (d2(x, cs(c)), c))
    var cents = sample.take(k).map(_.toVector).toVector
    for (_ <- 0 until iters) {
      val byC = sample.groupBy(x => nearest(x, cents))
      cents = cents.zipWithIndex.map { case (old, c) =>
        byC.get(c) match {
          case None => old
          case Some(ms) =>
            old.indices.map { j =>
              ms.foldLeft(0.0)((s, x) => s + x(j)) / ms.size
            }.toVector
        }
      }
    }
    val asg = sample.map(x => nearest(x, cents))
    val n = Vector.tabulate(k)(c => asg.count(_ == c).toLong)
    val inertia = Vector.tabulate(k) { c =>
      sample.zip(asg).filter(_._2 == c).foldLeft(0.0)((s, xa) => s + d2(xa._1, cents(c)))
    }
    (cents, n, inertia)
  }

  test("kmeansFit matches an independent functional Lloyd replay bit-for-bit") {
    import spark.implicits._
    val rng = DetRng(9107L)
    val rows = (0 until 90).map { i =>
      val center = i % 3
      (i.toLong, Array.tabulate(5)(d =>
        center * 2.0 + rng.nextGaussian() * 0.3 + d * 0.01))
    }
    val df = rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val fit = SimilaritySearch.kmeansFit(df, "embedding", "vec_id",
      k = 3, iters = 4, sampleCap = 64, seed = 9107L)
    val (cents, n, inertia) = naiveKmeans(rows, 3, 4, 64, 9107L)
    assert(fit.centroids.map(_.toVector).toVector === cents)
    assert(fit.sampleN.toVector === n)
    assert(fit.inertia.toVector === inertia)
    // and the sample cap genuinely bites: full-sample fit differs
    val fitAll = SimilaritySearch.kmeansFit(df, "embedding", "vec_id",
      k = 3, iters = 4, sampleCap = 90, seed = 9107L)
    assert(fitAll.sampleN.sum === 90L && fit.sampleN.sum === 64L)
  }

  test("kmeansFit: an emptied cluster keeps its centroid with zero count and inertia") {
    import spark.implicits._
    // Two EXACT point masses, k=3: by pigeonhole two of the three init
    // points coincide, and the strict-< tie rule routes every member to
    // the lower-indexed twin — the duplicate centroid must survive
    // untouched with sampleN=0, inertia=0.
    val rows = (0 until 24).map { i =>
      val blob = if (i < 12) 0.0 else 100.0
      (i.toLong, Array(blob, blob))
    }
    val df = rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val fit = SimilaritySearch.kmeansFit(df, "embedding", "vec_id",
      k = 3, iters = 3, sampleCap = 24, seed = 5L)
    val (cents, n, inertia) = naiveKmeans(rows, 3, 3, 24, 5L)
    assert(fit.centroids.map(_.toVector).toVector === cents)
    assert(fit.sampleN.toVector === n)
    assert(fit.inertia.toVector === inertia)
    val empties = fit.sampleN.indices.filter(fit.sampleN(_) == 0L)
    assert(empties.nonEmpty, "fixture must empty at least one cluster")
    empties.foreach { c => assert(fit.inertia(c) === 0.0) }
  }

  test("kmeansFit fuzz battery: 60 random corpora pin the fit against the functional replay") {
    import spark.implicits._
    val rng = DetRng(91999L)
    (0 until 60).foreach { trial =>
      val n = 5 + rng.nextInt(60)
      val dim = 1 + rng.nextInt(6)
      val k = 1 + rng.nextInt(math.min(n, 5))
      val iters = 1 + rng.nextInt(4)
      val cap = k + rng.nextInt(n)
      val seed = rng.nextLong()
      // cluster-ish data with exact duplicates sprinkled in (the
      // degenerate regimes: coincident init points, emptied clusters)
      val rows = (0 until n).map { i =>
        val c = i % math.max(1, k)
        val v =
          if (rng.nextInt(4) == 0) Array.fill(dim)(c.toDouble) // exact dup mass
          else Array.tabulate(dim)(d => c * 3.0 + rng.nextGaussian() + d * 0.1)
        (i.toLong, v)
      }
      val df = rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      val fit = SimilaritySearch.kmeansFit(df, "embedding", "vec_id",
        k = k, iters = iters, sampleCap = cap, seed = seed)
      val (cents, cnts, inertia) = naiveKmeans(rows, k, iters, cap, seed)
      assert(fit.centroids.map(_.toVector).toVector === cents,
        s"trial $trial (n=$n dim=$dim k=$k iters=$iters cap=$cap seed=$seed): centroids diverged")
      assert(fit.sampleN.toVector === cnts, s"trial $trial: counts diverged")
      assert(fit.inertia.toVector === inertia, s"trial $trial: inertia diverged")
    }
  }

  test("kmeansSave/kmeansLoad: bit-identical round-trip, identical routing") {
    import spark.implicits._
    val rng = DetRng(9108L)
    val df = (0 until 50).map(i =>
      (i.toLong, Array.fill(6)(rng.nextGaussian()).toSeq)).toDF("vec_id", "embedding")
    val fit = SimilaritySearch.kmeansFit(df, "embedding", "vec_id",
      k = 4, iters = 3, sampleCap = 50, seed = 11L)
    val dir = java.nio.file.Files.createTempDirectory("graft_kmeans_rt").toFile
    dir.deleteOnExit()
    SimilaritySearch.kmeansSave(fit, spark, dir.getAbsolutePath)
    val back = SimilaritySearch.kmeansLoad(spark, dir.getAbsolutePath)
    assert(back.centroids.map(_.toVector).toVector ===
      fit.centroids.map(_.toVector).toVector)
    assert(back.sampleN.toVector === fit.sampleN.toVector)
    assert(back.inertia.toVector === fit.inertia.toVector)
    // a fresh session's routing off the reloaded model is identical
    val r1 = df.select(col("vec_id"), graft.functions.NearestCentroid(
        transform(col("embedding"), _.cast("double")),
        fit.centroids.map(_.toSeq).toSeq).as("c")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val r2 = df.select(col("vec_id"), graft.functions.NearestCentroid(
        transform(col("embedding"), _.cast("double")),
        back.centroids.map(_.toSeq).toSeq).as("c")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(r1 === r2)
  }

  // ---------------------------------------- p93 random-sign projection

  test("SignedProject kernel: hand-computed sums, mismatch and null-element guards") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(Some(3.0), Some(4.0)))),
      (2L, Some(Seq(Some(1.0), Some(2.0), Some(3.0)))), // dim mismatch -> null
      (3L, Some(Seq(Some(5.0), None)))                  // null element -> null
    ).toDF("id", "v")
    val signs = Seq(Seq(true, false), Seq(false, false))
    val got = df.select(col("id"),
        graft.functions.SignedProject(col("v"), signs).as("p"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
    assert(got(1L) === Seq(3.0 - 4.0, -3.0 - 4.0))
    assert(got(2L) === null)
    assert(got(3L) === null)
  }

  test("randomSignProject: deterministic matrix, duplicate vectors stay cosine-1, no shuffle") {
    import spark.implicits._
    val rng = DetRng(9301L)
    val rows = (0 until 30).map(i =>
      (i.toLong, Array.fill(24)(rng.nextGaussian()).toSeq)) ++
      Seq((100L, null.asInstanceOf[Seq[Double]]))
    val df = rows.toDF("vec_id", "embedding")
    val p1 = SimilaritySearch.randomSignProject(df, "embedding", "vec_id", 8, 93L)
    val p2 = SimilaritySearch.randomSignProject(df.repartition(5), "embedding", "vec_id", 8, 93L)
    val m1 = p1.collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    val m2 = p2.collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    assert(m1 === m2, "projection must be layout-independent")
    assert(!m1.contains(100L), "null vectors are filtered")
    // exact duplicates stay exactly cosine-1 in the projected space
    val dup = Seq((0L, rows.head._2), (1L, rows.head._2)).toDF("vec_id", "embedding")
    val pd = SimilaritySearch.randomSignProject(dup, "embedding", "vec_id", 8, 93L)
      .collect().map(_.getSeq[Double](2))
    assert(pd(0) === pd(1))
    // plan: the projection is a pure row-local pass — no exchange
    val plan = p1.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection must not shuffle:\n$plan")
  }

  // ------------------------------------- p92 CCNet per-language buckets

  test("ccnetLangBuckets: bucket decomposition equals the naive per-language window") {
    import spark.implicits._
    val rng = DetRng(9201L)
    val enWords = Vector("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog", "and", "runs", "far", "away")
    val deWords = Vector("der", "schnelle", "braune", "fuchs", "springt",
      "ueber", "den", "faulen", "hund", "und", "rennt", "weg")
    val docs = (0 until 120).map { i =>
      val ws = if (i % 3 == 0) deWords else enWords
      val n = 5 + rng.nextInt(20)
      (i.toLong, (0 until n).map(_ => ws(rng.nextInt(ws.size))).mkString(" "))
    } ++ Seq((900L, "one"), (901L, ""))  // < 2 tokens -> 'na'
    val df = docs.toDF("doc_id", "text")
    val refCond = pmod(col("doc_id"), lit(5)) === 0
    val got = graft.operators.TextAnalysis
      .ccnetLangBuckets(df, "text", "doc_id", refCond)
      .select("doc_id", "pred_lang", "lm_logprob", "bucket")
      .collect().map(r => (r.getLong(0),
        (r.getString(1), Option(if (r.isNullAt(2)) null else r.getDouble(2)), r.getString(3))))
      .toMap
    // naive replay: the per-language window the engine's decomposition avoids
    val scored = graft.operators.TextAnalysis
      .bigramLmScoreOrdered(df, "text", "doc_id", refCond)
      .join(df.select(col("doc_id"),
        graft.operators.TextAnalysis.languageId(col("text")).as("pl")), Seq("doc_id"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getString(3)))
    val byLang = scored.filter(_._2.isDefined).groupBy(_._3)
    val expected: Map[Long, String] = scored.map { case (id, sc, pl) =>
      sc match {
        case None => id -> "na"
        case Some(s) =>
          val ranked = byLang(pl).sortBy(t => (-t._2.get, t._1))
          val rk = ranked.indexWhere(_._1 == id) + 1
          val n = ranked.length.toLong
          id -> (if (rk <= n / 3) "head" else if (rk <= 2 * n / 3) "middle" else "tail")
      }
    }.toMap
    expected.foreach { case (id, b) =>
      assert(got(id)._3 === b, s"doc $id: got ${got(id)}, want $b")
    }
    assert(got(900L)._3 === "na" && got(901L)._3 === "na")
    // thirds property per language
    val counts = got.values.groupBy(v => (v._1, v._3)).view.mapValues(_.size).toMap
    byLang.foreach { case (lg, rows) =>
      val n = rows.length
      assert(counts.getOrElse((lg, "head"), 0) === n / 3, s"$lg head")
      assert(counts.getOrElse((lg, "middle"), 0) === 2 * n / 3 - n / 3, s"$lg middle")
    }
  }

  test("LmDocScore kernel is bit-parity with the batch ordered-fold join pipeline") {
    import spark.implicits._
    val rng = DetRng(9301L)
    val ws = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val random = (0 until 50).map { i =>
      (i.toLong, (0 until 2 + rng.nextInt(25)).map(_ => ws(rng.nextInt(6))).mkString(" "))
    }
    val nasty = Seq(
      (100L, "\tleading tab beta"), (101L, "trailing space alpha "),
      (102L, "multi   spacevt\ngamma"), (103L, "UPPER Case MiXeD beta"),
      (104L, "naïve café 中文 beta"), (105L, ""), (106L, "one"),
      (107L, null.asInstanceOf[String]), (108L, "beta beta beta beta"),
      (109L, "  nbsp is not java ws beta"),
      // NUL is not whitespace, so it stays inside a token: the pairs
      // (a<NUL>b, c) of reference doc 111 and (a, b<NUL>c) of doc 112
      // must not share a bigram entry
      (111L, "a\u0000b c"), (112L, "a b\u0000c"))
    val df = (random ++ nasty).toDF("doc_id", "text")
    val refCond = pmod(col("doc_id"), lit(3)) === 0
    val model = graft.operators.TextAnalysis.lmModelFor(df, "text", refCond)
    val batch = graft.operators.TextAnalysis
      .bigramLmScoreOrdered(df, "text", "doc_id", refCond)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val kernel = df.select(col("doc_id"),
        graft.functions.LmDocScore(col("text"), model).as("s"))
      .collect().map { r =>
        val arr = if (r.isNullAt(1)) None else Some(r.getSeq[Double](1))
        r.getLong(0) -> (arr.map(_.head.toLong).getOrElse(0L), arr.map(_(1)))
      }.toMap
    assert(batch.keySet === kernel.keySet)
    batch.foreach { case (id, (n, s)) =>
      assert(kernel(id)._1 === n, s"doc $id: n_bigrams ${kernel(id)._1} vs $n")
      (s, kernel(id)._2) match {
        case (None, None) => ()
        case (Some(a), Some(b)) =>
          assert(a === b, s"doc $id: score not bit-equal: $a vs $b")
        case other => fail(s"doc $id: null mismatch $other")
      }
    }
  }

  test("bigramLmScoreOrdered: same model as bigramLmScore, deterministic fold") {
    import spark.implicits._
    val rng = DetRng(9202L)
    val ws = Vector("alpha", "beta", "gamma", "delta", "eps")
    val df = (0 until 60).map { i =>
      (i.toLong, (0 until 4 + rng.nextInt(30)).map(_ => ws(rng.nextInt(5))).mkString(" "))
    }.toDF("doc_id", "text")
    val refCond = pmod(col("doc_id"), lit(4)) === 0
    val a = graft.operators.TextAnalysis
      .bigramLmScore(df, "text", "doc_id", refCond)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).sortBy(_._1)
    val b = graft.operators.TextAnalysis
      .bigramLmScoreOrdered(df, "text", "doc_id", refCond)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).sortBy(_._1)
    assert(a.map(t => (t._1, t._2)).toSeq === b.map(t => (t._1, t._2)).toSeq)
    a.zip(b).foreach { case ((id, _, x), (_, _, y)) =>
      assert(x.isNaN === y.isNaN)
      if (!x.isNaN) assert(math.abs(x - y) < 1e-12, s"doc $id: $x vs $y")
    }
    // the ordered fold is run-stable: two evaluations, identical bits
    val b2 = graft.operators.TextAnalysis
      .bigramLmScoreOrdered(df.repartition(7), "text", "doc_id", refCond)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).sortBy(_._1)
    b.map(t => (t._1, t._3)).zip(b2).foreach { case ((id, x), (_, y)) =>
      assert(x.isNaN === y.isNaN)
      if (!x.isNaN) assert(x === y, s"doc $id not bit-stable across layouts")
    }
  }

  test("kmeansFit assignment rule is exactly the NearestCentroid kernel's") {
    import spark.implicits._
    val rng = DetRng(777L)
    val rows = (0 until 40).map(i =>
      (i.toLong, Array.fill(4)(rng.nextGaussian())))
    val df = rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val fit = SimilaritySearch.kmeansFit(df, "embedding", "vec_id",
      k = 4, iters = 2, sampleCap = 40, seed = 777L)
    val viaKernel = df.select(col("vec_id"),
        graft.functions.NearestCentroid(
          transform(col("embedding"), _.cast("double")),
          fit.centroids.map(_.toSeq).toSeq).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val (cents, _, _) = naiveKmeans(rows, 4, 2, 40, 777L)
    rows.foreach { case (id, v) =>
      val expected = cents.indices.minBy(c =>
        (v.indices.foldLeft(0.0)((s, j) => s + (v(j) - cents(c)(j)) * (v(j) - cents(c)(j))), c))
      assert(viaKernel(id) === expected, s"vec $id routed differently")
    }
  }
}
