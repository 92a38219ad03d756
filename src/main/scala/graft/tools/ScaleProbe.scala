package graft.tools

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical 10× scale probe: union-duplicate the sf0.1 tables with
  * re-keyed ids into a scratch dir (testdata stays untouched), then time
  * the most expensive suite keys at 1× and 10× and print per-key scaling
  * factors with output-row counts. The question it answers is the
  * 100-TB one in miniature: does each operator's cost grow ~linearly in
  * input (modulo genuinely quadratic outputs like near-dup PAIRS, which
  * duplication inflates ~100× by construction — the row counts printed
  * alongside let a reader separate "more work per row" from "more rows
  * out").
  *
  *   sbt "runMain graft.tools.ScaleProbe /root/testdata/sf0.1 /tmp/graft_scale10 10"
  *
  * Facts are replicated with shifted keys (FK-consistently: lineitem
  * follows orders, orders follow customer); dimension tables copy once.
  * Each table lands as a single file named `<table>.parquet` to mirror
  * the testdata layout (the streaming keys glob that exact name).
  */
object ScaleProbe {

  private val ProbeKeys = Seq(
    "q01_agg", "q03_join_topk", "q18_sessionize",
    "p01_dedup_exact", "p02_minhash_lsh", "p03_simhash", "p04_ngram_jaccard",
    "p05_cosine_near_dup", "p07_ann_ivf", "p11_fingerprint",
    "p18_dedup_components",
    "st01_stream_windowed_lang", "st04_stream_near_dup",
    "st05_stream_embed_near_dup", "st06_stream_sessionize")

  /** Tables become visible by ATOMIC single-file rename: a crashed
    * build leaves only `_tmp_*` directories behind (never matched by
    * the reuse check or the unmarked-dir guard), so `$table.parquet`
    * existing implies the table is complete — the invariant that makes
    * writing the `_factor` marker before building safe. */
  private def writeAsSingleFile(df: DataFrame, outDir: String, table: String): Unit = {
    val tmp = s"$outDir/_tmp_$table"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file for $table"))
    val dest = new java.io.File(s"$outDir/$table.parquet")
    if (dest.exists()) dest.delete()
    if (!part.renameTo(dest)) sys.error(s"rename failed for $table")
    new java.io.File(tmp).listFiles().foreach(_.delete())
    new java.io.File(tmp).delete()
  }

  /** Replicate `df` `factor`× shifting each (table-key column → stride)
    * so replica k's keys live in their own range. */
  private def replicate(df: DataFrame, factor: Int,
      shifts: Map[String, Long]): DataFrame =
    (0 until factor).map { k =>
      shifts.foldLeft(df) { case (d, (c, stride)) =>
        d.withColumn(c, col(c) + lit(k * stride))
      }
    }.reduce(_ unionByName _)

  def build(spark: SparkSession, srcDir: String, outDir: String, factor: Int,
      tables: Set[String] = AllTables): Unit = {
    new java.io.File(outDir).mkdirs()
    // strides: one power-of-ten above each table's max key at sf0.1 so
    // replica ranges never collide and joins stay FK-consistent
    val C = 1000000L   // customer keys
    val O = 10000000L  // order keys
    val D = 1000000L   // doc ids
    val V = 1000000L   // vec ids
    def want(t: String) = tables.contains(t)
    if (want("documents"))
      writeAsSingleFile(replicate(Tables.load(spark, srcDir, "documents"), factor,
        Map("doc_id" -> D)), outDir, "documents")
    if (want("embeddings")) {
      // SPARK_GRAFT_PROBE_ROTATE=1: transform replica k's embedding by a
      // per-replica orthogonal map — a circular rotation by k mod dim
      // positions composed with a ±1 diagonal sign-flip keyed on the
      // rotation BLOCK k/dim (coordinate j flips iff
      // xxhash64(block, j) is odd). Both factors are norm-preserving
      // and deterministic, so each replica's vectors decorrelate from
      // the others' instead of being exact copies. The composition's
      // period is dim × 2^dim distinct transforms, so every replica k
      // in any practical factor gets its OWN transform class — a plain
      // k%dim rotation alone has only dim classes and at factor=1000
      // would duplicate each vector ~factor/dim times, silently turning
      // the distinct-corpus probe back into a duplicate-corpus one.
      // Copy-replication probes the quadratic-duplicate regime (every
      // replica pair is a true near-dup — output grows ~factor² by
      // construction; probed at 100×); rotation+flip probes the
      // DISTINCT-corpus regime, the one the p05 bucket key space is
      // sized for (occupancy must stay bounded as distinct vectors grow).
      val rotate = sys.env.get("SPARK_GRAFT_PROBE_ROTATE").contains("1")
      val emb = Tables.load(spark, srcDir, "embeddings")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val replicas = (0 until factor).map { k =>
        val shifted = emb.withColumn("vec_id", col("vec_id") + lit(k * V))
        if (!rotate || k == 0) shifted
        else {
          val r = k % dim
          val rotated =
            if (r == 0) col("embedding")
            else concat(slice(col("embedding"), r + 1, dim - r),
              slice(col("embedding"), 1, r))
          val block = (k / dim).toLong
          val flipped =
            if (block == 0L) rotated
            else transform(rotated, (x, j) =>
              when((xxhash64(lit(block), j) % 2) === 0, x).otherwise(-x))
          shifted.withColumn("embedding", flipped)
        }
      }
      writeAsSingleFile(replicas.reduce(_ unionByName _), outDir, "embeddings")
    }
    if (want("customer"))
      writeAsSingleFile(replicate(Tables.load(spark, srcDir, "customer"), factor,
        Map("c_custkey" -> C)), outDir, "customer")
    if (want("orders"))
      writeAsSingleFile(replicate(Tables.load(spark, srcDir, "orders"), factor,
        Map("o_orderkey" -> O, "o_custkey" -> C)), outDir, "orders")
    if (want("lineitem"))
      writeAsSingleFile(replicate(Tables.load(spark, srcDir, "lineitem"), factor,
        Map("l_orderkey" -> O)), outDir, "lineitem")
    // events replicate as a fact stream: new users per replica, so
    // sessionization's user/session cardinality grows with the corpus
    if (want("events"))
      writeAsSingleFile(replicate(Tables.load(spark, srcDir, "events"), factor,
        Map("event_id" -> 10000000L, "user_id" -> 10000000L)), outDir, "events")
    // dimensions copy once — at scale the fact tables grow, the dims don't
    Seq("region", "nation", "supplier", "part").filter(want).foreach { t =>
      writeAsSingleFile(Tables.load(spark, srcDir, t), outDir, t)
    }
  }

  private val AllTables = Set("documents", "embeddings", "customer", "orders",
    "lineitem", "events", "region", "nation", "supplier", "part")

  /** Tables each probe key reads — a 100× run of a key subset only
    * replicates what that subset scans (a 100× lineitem is ~60 M rows
    * of single-file write the sessionization keys never touch). */
  private val KeyTables: Map[String, Set[String]] = Map(
    "q01_agg" -> Set("lineitem"),
    "q03_join_topk" -> Set("customer", "orders", "lineitem", "nation", "region"),
    "q18_sessionize" -> Set("events"),
    "st01_stream_windowed_lang" -> Set("documents"),
    "st04_stream_near_dup" -> Set("documents"),
    "st05_stream_embed_near_dup" -> Set("documents", "embeddings"),
    "st06_stream_sessionize" -> Set("events"),
    "st07_sessionize_append" -> Set("events"),
    "st11_stream_stream_join" -> Set("events"),
    "p31_domain_cap" -> Set("documents"),
    "p32_top_ngrams" -> Set("documents"),
    "p41_gopher_rules" -> Set("documents"),
    "p67_gopher_repetition" -> Set("documents"),
    "p68_c4_filter" -> Set("documents"),
    "p69_group_split" -> Set("documents"),
    "st17_stream_c4_clean" -> Set("documents"),
    "st18_stream_repetition_filter" -> Set("documents"),
    "p42_doc_chunks" -> Set("documents"),
    "p43_url_canonical" -> Set("documents"),
    "p44_bm25" -> Set("documents"),
    "p45_pair_contamination" -> Set("documents"),
    "p46_span_removal" -> Set("documents"),
    "p47_corpus_report" -> Set("documents"),
    "p48_vocab_coverage" -> Set("documents"),
    "p49_split_leakage" -> Set("documents"),
    "p52_url_frontier" -> Set("documents"),
    "st13_stream_token_budget" -> Set("documents"),
    "p92_ccnet_buckets" -> Set("documents"),
    "p94_schema_evolution" -> Set("documents"),
    "p91_kmeans_train" -> Set("embeddings"),
    "p93_random_projection" -> Set("embeddings"),
    "p95_cluster_sample" -> Set("embeddings")
  ).withDefaultValue(Set("documents", "embeddings"))

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_scale10"
    val factor = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: comma-separated key subset (e.g. the 6 most
    // expensive keys at 100×) — only their tables get replicated
    val probeKeys =
      if (args.length > 3) args(3).split(",").toSeq else ProbeKeys
    val spark = graft.GraftSession.local()
    // per-table reuse must be factor-guarded: a dir partially built at
    // one factor silently completed at another would print a probe
    // table mixing scales under one heading. A dir that already holds
    // parquet WITHOUT a marker (pre-guard build, or a run that died
    // between writing tables and the marker) is equally unknown — treat
    // it as an error rather than silently reusing it, and write the
    // marker BEFORE building so a crashed build can never leave
    // unmarked tables behind.
    val marker = new java.io.File(s"$outDir/_factor")
    val existingTables = Option(new java.io.File(outDir).listFiles()).toSeq
      .flatten.filter(_.getName.endsWith(".parquet")).map(_.getName)
    if (marker.exists()) {
      val prev = new String(java.nio.file.Files.readAllBytes(marker.toPath),
        "UTF-8").trim
      require(prev == factor.toString,
        s"$outDir was built at factor $prev, not $factor — use a fresh dir")
    } else require(existingTables.isEmpty,
      s"$outDir holds ${existingTables.mkString(",")} with no _factor marker " +
        "(unknown scale) — use a fresh dir")
    val needed = probeKeys.map(KeyTables).reduce(_ ++ _)
    val missing = needed.filterNot(t =>
      new java.io.File(s"$outDir/$t.parquet").exists())
    if (missing.nonEmpty) {
      println(s"[scale] building ${factor}x of ${missing.mkString(",")} at $outDir")
      new java.io.File(outDir).mkdirs()
      java.nio.file.Files.write(marker.toPath,
        factor.toString.getBytes("UTF-8"))
      build(spark, srcDir, outDir, factor, missing)
    } else println(s"[scale] reusing $outDir")

    // times what a caller gets: every output column is hashed and
    // reduced, so the optimizer cannot prune a projection kernel the row
    // count does not depend on (count() timed p25's PiiScan as a bare
    // scan). The max over the row hash cannot overflow (ANSI mode is on;
    // the value is discarded).
    def timeOne(key: String, dir: String): (Double, Long) = {
      graft.Memo.resetPass()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(key)(spark, dir)
      val n = df.select(xxhash64(df.columns.map(col): _*).as("h"))
        .agg(count(lit(1)), max(col("h"))).head().getLong(0)
      ((System.nanoTime() - t0) / 1e9, n)
    }
    // warmup
    spark.range(1000000).selectExpr("sum(id)").collect()
    println(f"${"key"}%-28s ${"t1x"}%8s ${s"t${factor}x"}%8s ${"factor"}%7s ${"rows1x"}%9s ${s"rows${factor}x"}%10s")
    probeKeys.foreach { key =>
      val (t1, n1) = timeOne(key, srcDir)
      val (tN, nN) = timeOne(key, outDir)
      println(f"$key%-28s $t1%8.2f $tN%8.2f ${tN / t1}%7.1f $n1%9d $nN%10d")
    }
    spark.stop()
  }
}
