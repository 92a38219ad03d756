package graft

import graft.bql.BayesDB
import org.scalatest.funsuite.AnyFunSuite

/** Scale-shape assertions on the plans the BQL planner emits:
  * membership subqueries must become joins (never a driver-side
  * collect-and-isin), and wide populations must not produce
  * Catalyst-depth-busting expression chains
  * (reference behavior: src/compiler.py compiles IN to SQLite subqueries;
  * our distributed analogue is a semi/anti join). */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val bdb: BayesDB = {
    val b = new BayesDB(spark, seed = 11L)
    import spark.implicits._
    val t1 = Seq(
      (1L, "foo", 24.0), (2L, "bar", 33.0), (3L, "foo", 41.0),
      (4L, "baz", 57.0), (5L, "bar", 12.0), (6L, "foo", 30.0)
    ).toDF("id", "label", "age")
    b.registerTable("t1", t1)
    val refs = Seq((Some(1L), "a"), (Some(3L), "b"), (None, "c"))
      .toDF("ref_id", "tag")
    b.registerTable("refs", refs)
    b
  }

  private def optimized(sql: String): String =
    bdb.execute(sql).queryExecution.optimizedPlan.toString

  test("IN (subquery) plans as a left-semi join, results unchanged") {
    val sql = "select id from t1 where id in (select ref_id from refs where tag <> 'c')"
    assert(optimized(sql).contains("LeftSemi"))
    assert(bdb.execute(sql).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("NOT IN (subquery) plans as an anti join with null-aware semantics") {
    // set {1, 3, null}: NOT IN over a set containing null selects nothing
    val withNull = "select id from t1 where id not in (select ref_id from refs)"
    assert(optimized(withNull).contains("LeftAnti"))
    assert(bdb.execute(withNull).count() == 0)
    // set {1, 3}: complement
    val noNull =
      "select id from t1 where id not in (select ref_id from refs where ref_id is not null)"
    assert(bdb.execute(noNull).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 4L, 5L, 6L))
    // empty set: NOT IN keeps every row
    val empty =
      "select id from t1 where id not in (select ref_id from refs where tag = 'zzz')"
    assert(bdb.execute(empty).count() == 6)
  }

  test("uncorrelated EXISTS conjunct plans as a one-row scalar subquery, no join") {
    val pos = "select id from t1 where exists (select 1 from refs where tag = 'a') and age > 30"
    // RewriteNonCorrelatedExists: isnotnull(scalar-subquery(LIMIT 1))
    import org.apache.spark.sql.catalyst.expressions.{IntegerLiteral, ScalarSubquery}
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Join}
    val plan = bdb.execute(pos).queryExecution.optimizedPlan
    val subs = plan.flatMap(_.expressions.flatMap(_.collect { case s: ScalarSubquery => s.plan }))
    assert(subs.nonEmpty && subs.forall(_.exists {
      case GlobalLimit(IntegerLiteral(1), _) => true
      case _ => false
    }), plan)
    assert(plan.collectFirst { case j: Join => j }.isEmpty, plan)
    assert(bdb.execute(pos).collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L, 4L))
    val neg = "select id from t1 where exists (select 1 from refs where tag = 'zzz')"
    assert(bdb.execute(neg).count() == 0)
  }

  test("IN nested under OR still evaluates correctly (fallback path)") {
    val sql = "select id from t1 where age > 50 or id in (select ref_id from refs where tag = 'a')"
    assert(bdb.execute(sql).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 4L))
  }

  test("parquet scans push filters down and prune columns") {
    val df = graft.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .filter(org.apache.spark.sql.functions.col("l_quantity") < 5)
      .select("l_orderkey")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      s"filter must reach the parquet scan:\n$plan")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_quantity") && read.contains("l_orderkey") &&
      !read.contains("l_extendedprice"),
      s"scan must read only the needed columns: $read")
  }

  test("tableStore ingest restores pushdown and pruning over rowid'd tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store").toString
    val b = new graft.bql.BayesDB(spark, seed = 3L, tableStore = Some(dir))
    import spark.implicits._
    b.registerTable("st", (1 to 500).map(i => (i.toLong, i % 7, s"v$i"))
      .toDF("k", "grp", "payload"))
    // rowid is stable and 1-based through the store round-trip
    assert(b.execute("select rowid from st where k = 42").collect()
      .head.getLong(0) == 42L)
    val plan = b.execute("select k from st where grp = 3")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      s"stored table must push filters to parquet:\n$plan")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("payload"),
      s"stored table must prune unused columns: $read")
  }

  test("rowid ingest stays in Tungsten: broadcast offsets join, no RDD scan") {
    import spark.implicits._
    val b = new graft.bql.BayesDB(spark, seed = 5L)
    b.registerTable("wt", (1 to 200).map(i => (i.toLong, s"p$i"))
      .toDF("k", "payload").repartition(4))
    val plan = b.table("wt").queryExecution.executedPlan.toString
    assert(!plan.contains("Scan ExistingRDD"),
      s"rowid ingest must not round-trip through an RDD:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"partition-offset join must broadcast the offsets side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"partition-offset join must never shuffle the data side:\n$plan")
  }

  test("equality-correlated IN decorrelates; non-equality agg theta-joins") {
    // round 4: the equality-correlated forms decorrelate (D3 narrowed) —
    // no refs.tag equals a t1.label, so the correlated IN is empty-set
    assert(bdb.execute(
      "select id from t1 where id in (select ref_id from refs where tag = t1.label)")
      .collect().isEmpty)
    // round 6: aggregate correlated by inequality theta-decorrelates
    // (keys → theta join → group → rejoin), never per-row execution
    val sql = "select id, (select count(*) from refs where ref_id < id) as n from t1 order by id"
    assert(bdb.execute(sql).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L), (6L, 2L)))
    val plan = optimized(sql)
    assert(plan.contains("Join LeftOuter") && plan.contains("Aggregate"),
      s"theta decorrelation must plan as join+aggregate:\n$plan")
  }
}

/** A dha-like wide population (reference fixture tests/dha.csv is 64
  * columns): PAIRWISE VARIABLES over 32 variables is 1,024 pairs — a
  * nested when-chain dispatch would build a 1,024-deep Catalyst
  * expression; the map-lookup dispatch must handle it. */
class WidePopulationSpec extends AnyFunSuite {
  import TestSpark._

  private val nVars = 32

  private lazy val bdb: BayesDB = {
    val b = new BayesDB(spark, seed = 13L)
    val names = (0 until nVars).map(j => s"v$j")
    val rows = (0 until 40).map { i =>
      org.apache.spark.sql.Row.fromSeq(
        (0 until nVars).map(j => (i * (j + 3) % 17).toDouble + 0.25 * j))
    }
    val schema = org.apache.spark.sql.types.StructType(
      names.map(n => org.apache.spark.sql.types.StructField(
        n, org.apache.spark.sql.types.DoubleType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    b.registerTable("wide", df)
    b.execute("create population pw for wide (" +
      names.map(n => s"$n numerical").mkString(";") + ")")
    b.execute("create generator gw for pw using crosscat")
    b.execute("initialize 2 models for gw")
    b.execute("analyze gw for 1 iteration")
    b
  }

  test("pairwise dependence probability over 32 variables plans and runs") {
    val df = bdb.execute(
      "estimate dependence probability from pairwise variables of pw")
    assert(df.count() == nVars.toLong * nVars)
    val self = df.filter("name0 = 'v3' and name1 = 'v3'")
      .collect().head.getAs[Double]("value")
    assert(self == 1.0)
  }

  test("FOR-subcolumns restriction computes only the restricted pairs") {
    val df = bdb.execute(
      "estimate dependence probability from pairwise variables of pw for v1, v2")
    val got = df.collect().map(r => (r.getAs[String]("name0"), r.getAs[String]("name1")))
    assert(got.length == 4)
    assert(got.toSet == Set(("v1", "v1"), ("v1", "v2"), ("v2", "v1"), ("v2", "v2")))
  }

  test("p10 lang-id has no Exchange before the row-local projection") {
    // r3 verdict #2: a blanket spread() repartitioned the full text
    // column before pure-codegen expressions. The only shuffle allowed
    // is the groupBy aggregation itself (partials first, map-side).
    val df = graft.operators.PipelineQueries.p10LangId(spark, sf)
    val planStr = df.queryExecution.executedPlan.toString
    // plans print top-down, so the LAST HashAggregate is the map-side
    // partial: everything below it (project + scan) must be shuffle-free
    val partialAgg = planStr.lastIndexOf("HashAggregate")
    assert(partialAgg >= 0 && planStr.contains("Scan parquet"), planStr)
    assert(!planStr.substring(partialAgg).contains("Exchange"),
      s"shuffle below the partial aggregate (spread regression):\n$planStr")
    // only the groupBy hash exchange + orderBy range exchange are allowed
    assert("Exchange (hash|range)partitioning".r.findAllIn(planStr).size <= 2,
      s"unexpected extra shuffle:\n$planStr")
  }

  test("q18 sessionize reuses ONE user_id shuffle end-to-end") {
    // both window passes AND the (user_id, session_id) rollup must ride
    // the single hash exchange on user_id — the grouping keys are a
    // superset of the window partitioning, so no re-shuffle is legal
    // before the final output sort
    val df = graft.operators.Relational.q18Sessionize(spark, sf)
    val planStr = df.queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(planStr).size
    assert(hashExchanges == 1,
      s"expected exactly one hash shuffle (user_id), got $hashExchanges:\n$planStr")
    assert("Exchange (hash|range)partitioning".r.findAllIn(planStr).size <= 2,
      s"unexpected extra shuffle:\n$planStr")
  }

  test("two-phase sessionize: one salted shuffle over events, one over sessions") {
    // the skew path may shuffle twice — but phase 1's (user_id, bucket)
    // exchange is the only one that moves EVENTS; phase 2's user_id
    // exchange moves the per-bucket session list, and each groupBy
    // rides its preceding window partitioning with no re-shuffle
    val events = Tables.load(spark, sf, "events")
    val df = graft.operators.Relational.sessionizeTwoPhase(
      events, 1800L * 1000000L, 86400L * 1000000L)
    val planStr = df.queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(planStr).size
    assert(hashExchanges == 2,
      s"expected two hash shuffles (salted events + session merge), got $hashExchanges:\n$planStr")
    assert("Exchange (hash|range)partitioning".r.findAllIn(planStr).size <= 3,
      s"unexpected extra shuffle:\n$planStr")
    // the event-volume exchange must carry the salt in its keys
    assert("Exchange hashpartitioning\\([^)]*bucket".r.findFirstIn(planStr).isDefined,
      s"no exchange partitioned by the bucket salt:\n$planStr")
  }

  test("LSH pair emission is a distributed bucket self-join, not a collected bucket row") {
    // r5 verdict #1: the round-4 rewrite collected each bucket into ONE
    // row (groupBy + collect_list) and exploded pairs from it — each
    // bucket's O(k²) expansion ran in a single task. The fixed shape
    // emits pairs from a per-bucket-key JOIN, which streams and
    // distributes across tasks; collect_list must not appear anywhere in
    // the candidate-generation plans.
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f h"), (3L, "x y z w q r"))
      .toDF("doc_id", "text")
    for (df <- Seq(
        graft.operators.Dedup.minHashCandidates(docs, "text", "doc_id"),
        graft.operators.Dedup.simHashPairs(docs, "text", "doc_id"))) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("collect_list"),
        s"single-task-per-bucket pair expansion (r4 regression):\n$plan")
      assert(plan.contains("Join"), s"expected a bucket self-join:\n$plan")
    }
  }

  test("star emission shares the bucket window pass — no hub groupBy+join") {
    // r12 verdict #1: over-cap star hubs were materialized by a separate
    // groupBy(keys).agg(min(struct)) + join — ~2 extra passes over the
    // bucket exchange under every LSH key (p02/p03/p05/st04 regressions).
    // The r13 shape flags hubs in the SAME window pass that counts the
    // bucket and emits star edges from the same self-join as the capped
    // pairs: exactly ONE join and at most three Window nodes (count +
    // hub flags on the left; Catalyst prunes the right down to count
    // alone) in the whole candidate plan, and no struct-min hub
    // aggregate anywhere.
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val plan = graft.operators.Dedup.simHashPairs(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert("(?i)join".r.findAllIn(plan).size == 1,
      s"expected exactly the bucket self-join:\n$plan")
    assert("Window \\[".r.findAllIn(plan).size <= 3,
      s"expected <=3 Window nodes over one bucket exchange:\n$plan")
    assert(!plan.contains("min(struct"),
      s"hub groupBy+join should be gone (r12 verdict #1):\n$plan")
  }

  test("decontamination plans as a broadcast semi-join: the corpus never shuffles for the match") {
    // the p20/st08 scale claim made checkable: the benchmark print set
    // is the BROADCAST side of a LeftSemi join, so the corpus streams
    // through one scan — a SortMergeJoin here would mean both sides
    // shuffle on the print hash, i.e. a corpus-wide exchange that grows
    // with corpus size
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (0L until 40L).map(i =>
      (i, s"document number $i with some shared boilerplate text to fingerprint"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.contamination(
      docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0),
      "text", "doc_id")
    out.count() // finalize AQE
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a semi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"benchmark side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not shuffle for the match:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"winnow prints must stay a native expression:\n$plan")
  }

  test("domain cap: blocklist broadcasts, cap pre-prunes on (group, cell) — no corpus SortMergeJoin") {
    // p31's scale shape made checkable: the blocklist is the BROADCAST
    // side of a LeftAnti hash join (a blocklist shuffle would grow with
    // the corpus), and the per-domain cap runs TWO window passes — the
    // (domain, cell) pre-prune then the tiny exact pass — so a hot
    // domain never serializes one reducer's sort
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col, concat, lit, pmod}
    val docs = (0L until 400L).map(i => (i, s"d${i % 3}.example.com"))
      .toDF("doc_id", "domain")
    val bl = Seq("d9.example.com").toDF("blocked_domain")
    val pass = docs.join(broadcast(bl),
      docs("domain") === bl("blocked_domain"), "left_anti")
    val out = graft.operators.Sampling.capPerGroup(pass, "domain", "doc_id",
      cap = 5, seed = 1031L)
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"blocklist must broadcast as an anti join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never shuffle against the blocklist:\n$plan")
    assert("(?s)Window".r.findAllIn(plan).size >= 2,
      s"expected the two-phase rank's two Window passes:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"hash order must stay native:\n$plan")
  }

  test("top-ngrams: map-side combine + TakeOrderedAndProject — no global sort, one exchange") {
    // p32's scale shape: the count aggregate must split into
    // partial/final HashAggregates around ONE exchange (the exchange
    // then carries distinct n-grams, not token occurrences), and the
    // top-k must be per-partition heaps merged on the driver
    // (TakeOrderedAndProject), never a corpus-wide Sort
    import spark.implicits._
    val docs = (0L until 200L).map(i =>
      (i, s"alpha beta gamma token${i % 7} delta epsilon zeta"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.topNgrams(docs, "text", n = 2, k = 10)
    out.collect()
    // AQE's toString appends the pre-adaptive "Initial Plan" — count
    // nodes only in the final section or every node double-counts
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject, not a global sort:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregation:\n$plan")
    assert("Exchange".r.findAllIn(plan).size <= 1,
      s"expected at most one exchange:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"gram construction must stay native:\n$plan")
  }

  test("spanDupStats: native window construction, partial-agg'd df count, bounded exchanges") {
    // p33's scale shape: window construction must be row-local codegen
    // (no ScalaUDF), the occurrence count must split into partial/final
    // aggregates (the exchange carries distinct window hashes + partial
    // counts, not token occurrences), and the whole plan is a fixed
    // number of hash exchanges — never a corpus-wide global Sort (the
    // per-doc run fold is row-local sort_array + aggregate, and any
    // within-partition sort belongs to a join/agg, not an ordering).
    import spark.implicits._
    val docs = (0L until 200L).map(i =>
      (i, s"alpha beta gamma token${i % 5} delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.spanDupStats(docs, "text", "doc_id", width = 3)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"window construction must stay native:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final df aggregation:\n$plan")
    // hash exchanges only (df agg, join sides, per-doc agg, left join
    // back) — a global ordering exchange (rangepartitioning) would mean
    // a corpus-wide sort snuck in
    assert(!plan.contains("rangepartitioning"),
      s"no global sort exchange expected:\n$plan")
  }

  test("lengthQuantileFilter: histogram pre-aggregation + broadcast thresholds — never a corpus sort") {
    // p36's scale shape: the corpus reduces to a length histogram via
    // partial/final aggregation (the exchange carries distinct lengths),
    // the single-partition window runs over that bounded histogram only,
    // and the thresholds come back as a BroadcastExchange — the corpus
    // itself is never sorted or range-partitioned
    import spark.implicits._
    val docs = (0L until 300L).map(i =>
      (i, Seq.fill((i % 37 + 1).toInt)("w").mkString(" "))).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .lengthQuantileFilter(docs, "text", "doc_id", 10, 90)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final histogram aggregation:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"thresholds must broadcast back:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"the corpus must never range-shuffle for a sort:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"), s"native only:\n$plan")
  }

  test("tfidfTopTerms: map-side-combined counts, broadcast N, no global sort") {
    import spark.implicits._
    val docs = (0L until 200L).map(i =>
      (i, s"alpha beta common token${i % 11} gamma")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.tfidfTopTerms(docs, "text", "doc_id", 3)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final (doc, term) aggregation:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"N must ride a broadcast cross join:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"per-doc top-k is a hash-partitioned window, never a global sort:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"), s"native only:\n$plan")
  }

  test("PII scan stays a native codegen'd expression — no ScalaUDF, no shuffle") {
    // p25's scale story IS this plan: one row-local projection inside
    // whole-stage codegen, nothing exchanges. Built over range() — a
    // literal local Seq constant-folds to a LocalTableScan under
    // ConvertToLocalRelation, which would vacuously pass/fail the
    // codegen assertion depending on suite order.
    import org.apache.spark.sql.functions.{col, concat_ws, lit}
    val base = spark.range(4).select(col("id"),
      concat_ws(" ", lit("a@b.co 1.2.3.4 call"), col("id").cast("string")).as("t"))
    val df = graft.operators.TextAnalysis.piiStats(base, "t")
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.toLowerCase.contains("udf"),
      s"expected a native expression:\n$opt")
    val exec = df.queryExecution.executedPlan.toString
    assert(!exec.contains("Exchange"), s"PII scan must not shuffle:\n$exec")
    assert(exec.contains("*("), s"expected whole-stage codegen:\n$exec")
  }

  test("line dedup: corpus shuffles only 8-byte hashes; cleaning is a broadcast membership pass") {
    // p26's scale story: the count pass exchanges (hash, partial count)
    // only, the boilerplate set collapses to ONE broadcast row, and the
    // document text NEVER regroups — exactly two Exchanges (count
    // shuffle + 1-row collect_list), a BroadcastNestedLoopJoin for the
    // membership array, and no sort-merge anywhere
    import spark.implicits._
    val docs = (0L until 20L).map(i => (i, s"unique $i\nFOOTER"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.lineDedup(docs, "text", "doc_id", 5L)
    out.count() // finalize AQE
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"membership must be a broadcast cross join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no corpus-side shuffle join:\n$plan")
    assert("Exchange".r.findAllIn(plan).size <= 3,
      s"corpus text must not regroup (count shuffle + 1-row agg + broadcast only):\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"), s"native only:\n$plan")
  }

  test("weighted mix stays row-local — no shuffle, no UDF") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val df = (0L until 20L).map(i => (i, "s")).toDF("id", "src")
    val out = graft.operators.Sampling.weightedMix(df, "id", lit(2.5), 3L)
    val exec = out.queryExecution.executedPlan.toString
    assert(!exec.contains("Exchange"), s"mix must not shuffle:\n$exec")
    assert(!exec.toLowerCase.contains("scalaudf"), s"native only:\n$exec")
  }

  test("gopher repetition battery stays row-local — no shuffle, no UDF, one codegen span") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    // spark.range, not a local Seq: ConvertToLocalRelation would fold a
    // LocalRelation input into a pre-computed LocalTableScan and there
    // would be no executed projection to assert on
    val df = spark.range(10).select(col("id").as("doc_id"),
      concat(lit("a b a b x\ny\nx "), col("id").cast("string")).as("text"))
    val out = graft.operators.TextAnalysis.gopherRepetition(df, "text", "doc_id")
    val exec = out.queryExecution.executedPlan.toString
    assert(!exec.contains("Exchange"),
      s"13 fractions + verdict must be one scan pass:\n$exec")
    assert(!exec.toLowerCase.contains("scalaudf"), s"native only:\n$exec")
    // the simpleString marks WholeStageCodegen stages with a "*(n)" prefix
    assert(exec.contains("*(1) Project"), s"kernel must codegen:\n$exec")
  }

  test("bloom probe stays row-local — no shuffle, no UDF, one codegen span") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val bits = Array.fill(64)(-1L) // all-set filter: shape test only
    val df = spark.range(10).select(col("id").as("doc_id"),
      concat(lit("a b c d e f "), col("id").cast("string")).as("text"))
    val out = graft.operators.TextAnalysis.bloomProbe(
      df, "text", "doc_id", bits, shingle = 5, probes = 4)
    val exec = out.queryExecution.executedPlan.toString
    assert(!exec.contains("Exchange"),
      s"the probe must be a zero-exchange projection:\n$exec")
    assert(!exec.toLowerCase.contains("scalaudf"), s"native only:\n$exec")
    assert(exec.contains("*(1) Project"), s"kernel must codegen:\n$exec")
  }

  test("group-keyed split gate: tiny cluster table broadcasts, forced-shut gate goes SMJ, branches agree") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (0L until 300L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val comp = (0L until 120L).map(i => (i, i / 4 * 4)).toDF("doc_id", "component")
    val small = graft.operators.Dedup.groupKeyedSplit(docs, "doc_id", comp, 42L, 10)
    small.count()
    val planSmall = small.queryExecution.executedPlan.toString
    assert(planSmall.contains("BroadcastHashJoin"),
      s"a tiny cluster table must broadcast (corpus never shuffles):\n$planSmall")
    val forced = graft.operators.Dedup.groupKeyedSplit(
      docs, "doc_id", comp, 42L, 10, maxBroadcastRows = 0L)
    forced.count()
    val planForced = forced.queryExecution.executedPlan.toString
    assert(planForced.contains("SortMergeJoin"),
      s"above the gate the join must hash-co-partition (SMJ):\n$planForced")
    assert(!planForced.contains("BroadcastHashJoin"),
      s"no forced broadcast above the gate:\n$planForced")
    assert(small.orderBy("doc_id").collect().toSeq ==
      forced.orderBy("doc_id").collect().toSeq,
      "gate branches must agree row-for-row")
  }

  test("c4 line filter stays row-local — no shuffle, no UDF") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val df = spark.range(10).select(col("id").as("doc_id"),
      concat(lit("a b c d e.\nshort."), col("id").cast("string")).as("text"))
    val out = graft.operators.TextAnalysis.c4LineFilter(df, "text", "doc_id")
    val exec = out.queryExecution.executedPlan.toString
    assert(!exec.contains("Exchange"), s"clean must be one scan pass:\n$exec")
    assert(!exec.toLowerCase.contains("scalaudf"), s"native only:\n$exec")
  }

  test("HLL register pass: native kernel, map-side-combined aggregate — the exchange is register-bounded") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val df = spark.range(100).select(lit("g").as("grp"),
      concat(lit("k"), col("id").cast("string")).as("key"))
    val regs = graft.operators.Sketches.hllRegisters(df, "grp", "key", 8)
    val exec = regs.queryExecution.executedPlan.toString
    assert(!exec.toLowerCase.contains("scalaudf"), s"native kernel only:\n$exec")
    assert(exec.contains("graft_hll_reg_rho"), s"expected the HLL kernel:\n$exec")
    assert(exec.contains("partial_max"),
      s"register max must combine map-side so the exchange carries register partials, not observations:\n$exec")
    val est = graft.operators.Sketches.hllEstimate(regs, "grp", 8)
    val estExec = est.queryExecution.executedPlan.toString
    assert(!estExec.toLowerCase.contains("scalaudf"), s"estimate stays native:\n$estExec")
  }

  test("blocklist gate stays row-local — automaton as plan reference, no shuffle, no UDF") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val df = spark.range(50).select(col("id").as("doc_id"),
      concat(lit("some text free money "), col("id").cast("string")).as("text"))
    val out = graft.operators.TextAnalysis.blocklistFilter(
      df, "text", "doc_id", graft.operators.PipelineQueries.P77Patterns)
    val exec = out.queryExecution.executedPlan.toString
    assert(!exec.contains("Exchange"), s"gate must be one scan pass:\n$exec")
    assert(!exec.toLowerCase.contains("scalaudf"), s"native kernel only:\n$exec")
    assert(exec.contains("graft_ac_scan"), s"expected the AC kernel:\n$exec")
  }

  test("dedup/similarity kernels run as native expressions, not ScalaUDFs") {
    // round 6: the signature/agreement/fingerprint kernels are Catalyst
    // expressions with doGenCode — a ScalaUDF in these plans means a
    // regression back to encoder-converted, non-codegen evaluation
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f h"))
      .toDF("doc_id", "text")
    val vecs = Seq((1L, Seq(1f, 2f, 3f)), (2L, Seq(3f, 2f, 1f)))
      .toDF("vec_id", "embedding")
    val plans = Seq(
      graft.operators.Dedup.minHashCandidates(docs, "text", "doc_id"),
      graft.operators.Dedup.simHashPairs(docs, "text", "doc_id"),
      graft.operators.SimilaritySearch.cosineNearDupPairs(
        vecs, "embedding", "vec_id"),
      graft.operators.SimilaritySearch.cosineNearDupPairs(
        vecs, "embedding", "vec_id", chunks = 8, bits = 128, probeHamming = 1),
      docs.select(graft.operators.TextAnalysis.fingerprint()(
        org.apache.spark.sql.functions.col("text"))))
    for (df <- plans) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.toLowerCase.contains("udf"),
        s"expected native expressions only:\n$plan")
    }
  }

  test("incremental dedup: both sides large — every join SortMergeJoin, nothing broadcasts") {
    // p55's scale shape made checkable: a daily crawl increment and the
    // prior snapshot are BOTH corpus-sized, so the id anti-join and the
    // content-registry join must hash-co-partition (SMJ), never
    // broadcast — and the increment keeper must come from a Window over
    // the same content_hash partitioning, not a second aggregate+join.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (0L until 400L).map(i => (i, s"content ${i % 150}"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.incrementalDedup(
      docs.filter(col("doc_id") % 4 =!= 1), docs, "text", "doc_id")
    out.count() // finalize AQE
    val plan = out.queryExecution.executedPlan.toString
    assert("SortMergeJoin".r.findAllIn(plan).size == 2,
      s"expected exactly the id anti-join + content registry join as SMJ:\n$plan")
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
      s"neither corpus-sized side may broadcast:\n$plan")
    assert("Window \\[".r.findAllIn(plan).size == 1,
      s"increment keeper must be ONE window pass:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"content hashing must stay native:\n$plan")
  }

  test("incremental near-dup dedup: both sides large — SMJ everywhere, zero broadcast, native kernels") {
    // p61's scale shape: increment AND prior snapshot are corpus-sized,
    // so the id anti-join, the (band, band_hash) bucket join, the two
    // signature rejoins, and the final verdict join must all
    // hash-co-partition — nothing may broadcast — and the signature /
    // agreement kernels must stay native codegen expressions.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (0L until 400L)
      .map(i => (i, s"some words repeated here ${i % 150} alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.incrementalNearDedup(
      docs.filter(col("doc_id") % 4 =!= 1), docs, "text", "doc_id",
      minEstJaccard = 0.2)
    out.count() // finalize AQE
    val plan = out.queryExecution.executedPlan.toString
    assert("SortMergeJoin".r.findAllIn(plan).size >= 5,
      s"anti-join + band join + 2 sig rejoins + verdict join must be SMJ:\n$plan")
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
      s"neither corpus-sized side may broadcast:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"signature/agreement kernels must stay native:\n$plan")
  }

  test("incremental embed dedup: both snapshots large — SMJ everywhere, zero broadcast, native kernels") {
    // p66's scale shape: the id anti-join, the bipartite
    // (chunk, chunk_val) bucket join, the two vector rejoins, and the
    // verdict join must all hash-co-partition; signatures and cosine
    // stay native codegen expressions.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = (0L until 400L)
      .map(i => (i, Seq.tabulate(8)(d => ((i % 40) * (d + 1)).toFloat + 1f)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.SimilaritySearch.incrementalEmbedDedup(
      emb.filter(col("vec_id") % 4 =!= 1), emb, "embedding", "vec_id",
      minCosine = 0.4)
    out.count() // finalize AQE
    val plan = out.queryExecution.executedPlan.toString
    assert("SortMergeJoin".r.findAllIn(plan).size >= 5,
      s"anti-join + bucket join + 2 vector rejoins + verdict join must be SMJ:\n$plan")
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
      s"neither snapshot may broadcast:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"signature/cosine kernels must stay native:\n$plan")
  }

  test("IVF-SQ8 cells written partitioned by cell: a probe is PARTITION PRUNING, not a filter scan") {
    // the p62 scale claim made checkable: at 100 TB the code table is
    // stored partitioned by `cell`, so an nProbe query must prune at
    // the source — the scan's PartitionFilters carry the cell
    // predicate and only the probed cells' files are read.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = (0L until 400L).map { i =>
      val c = (i % 4).toInt
      (i, Seq.tabulate(8)(d => (if (d == c * 2) 5f else 0.1f) + i * 1e-4f))
    }.toDF("vec_id", "embedding")
    val params = graft.operators.SimilaritySearch.sq8Params(emb, "embedding")
    val ivf = graft.operators.SimilaritySearch.ivfIndex(
      emb, "embedding", "vec_id", nCentroids = 4)
    val idx = graft.operators.SimilaritySearch.ivfSq8Index(
      emb, "embedding", "vec_id", ivf, params)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfsq8_").toString
    idx.cells.write.mode("overwrite").partitionBy("cell").parquet(dir)
    val back = spark.read.parquet(dir)
    val probed = back.filter(col("cell").isin(0, 1))
    // collect(), not count(): count wraps in a NEW aggregate plan, so
    // this dataset's own scan (whose metrics we read below) never runs
    assert(probed.collect().length == 200)
    val plan = probed.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*cell".r
    assert(pf.findFirstIn(plan).isDefined,
      s"the cell predicate must reach PartitionFilters (pruning), not remain a data filter:\n$plan")
    // file accounting: the executed scan's numFiles metric must equal
    // the files under the TWO probed cell directories, not all four
    // (inputFiles is relation-level and would list everything)
    assert(back.select(col("cell")).distinct().count() == 4,
      "fixture must land 4 cell directories")
    val scan = probed.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in the probe plan"))
    def filesUnder(cells: Set[String]): Long =
      new java.io.File(dir).listFiles.filter(d => cells.contains(d.getName))
        .flatMap(_.listFiles).count(_.getName.endsWith(".parquet")).toLong
    val read = scan.metrics("numFiles").value
    assert(read == filesUnder(Set("cell=0", "cell=1")) &&
      read < filesUnder(Set("cell=0", "cell=1", "cell=2", "cell=3")),
      s"the scan must read exactly the probed cells' files, read=$read")
  }

  test("ivfTopK on a RELOADED index partition-prunes to the probed cells") {
    // the r18 persistence path must keep the p62 pruning story: ivfSave
    // writes cells partitioned by cell, so a pruned search off ivfLoad
    // reads only the probed cells' files — model state round-tripping
    // through storage must not demote the cell filter to a data filter.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = (0L until 400L).map { i =>
      val c = (i % 4).toInt
      (i, Seq.tabulate(8)(d => (if (d == c * 2) 5f else 0.1f) + i * 1e-4f))
    }.toDF("vec_id", "embedding")
    val ivf = graft.operators.SimilaritySearch.ivfIndex(
      emb, "embedding", "vec_id", nCentroids = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_prune_").toString
    graft.operators.SimilaritySearch.ivfSave(ivf, dir)
    val reloaded = graft.operators.SimilaritySearch.ivfLoad(spark, dir)
    val q = emb.filter(col("vec_id") === 0L).head().getSeq[Float](1)
      .map(_.toDouble)
    val top = graft.operators.SimilaritySearch.ivfTopK(reloaded, q, 5, nProbe = 2)
    assert(top.collect().length == 5)
    val plan = top.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"the reloaded index's cell routing must reach PartitionFilters:\n$plan")
    val scan = top.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in the reloaded-search plan"))
    val cellDirs = new java.io.File(s"$dir/cells.parquet").listFiles
      .filter(_.getName.startsWith("cell=")).length
    assert(cellDirs == 4, s"expected 4 cell directories, got $cellDirs")
    val read = scan.metrics("numFiles").value
    val total = new java.io.File(s"$dir/cells.parquet").listFiles
      .filter(_.getName.startsWith("cell="))
      .flatMap(_.listFiles).count(_.getName.endsWith(".parquet")).toLong
    assert(read < total,
      s"a 2-of-4-cell probe must read fewer than all $total files, read=$read")
  }

  test("quality keeper gate, small-cluster branch: members broadcast — the corpus never shuffles for the join") {
    // p57's scale shape made checkable — BOTH branches of the measured
    // gate, not one assumed shape. Curated-corpus regime: the clustered
    // slice is tiny relative to the corpus, so it must be the BROADCAST
    // side of the quality join; the keeper window partitions only that
    // slice.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (0L until 300L).map(i => (i, s"text of document number $i with words"))
      .toDF("doc_id", "text")
    val comp = Seq((3L, 3L), (7L, 3L), (13L, 13L), (14L, 13L))
      .toDF("doc_id", "component")
    val qual = graft.operators.TextAnalysis.qualityMetrics(docs, "text")
      .select(col("doc_id"), col("quality_score"))
    val out = graft.operators.Dedup.qualityKeeper(
      qual, "quality_score", comp, "doc_id")
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"cluster members must broadcast below the gate threshold:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must not shuffle against a tiny cluster slice:\n$plan")
  }

  test("quality keeper gate, dup-heavy branch: above the threshold the join is SortMergeJoin, never a forced broadcast") {
    // RefinedWeb regime: near-dup clusters cover 30-50% of a raw crawl,
    // so the component table is corpus-scale and a forced broadcast is
    // an executor-OOM scale-killer — above maxBroadcastRows the gate
    // must declare a hash-co-partitioned SortMergeJoin on the id.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (0L until 300L).map(i => (i, s"text of document number $i with words"))
      .toDF("doc_id", "text")
    // 40% of docs clustered — and the gate forced shut (threshold 0)
    // so the test pins the SMJ branch without a multi-GB fixture
    val comp = (0L until 120L).map(i => (i, i / 4 * 4)).toDF("doc_id", "component")
    val qual = graft.operators.TextAnalysis.qualityMetrics(docs, "text")
      .select(col("doc_id"), col("quality_score"))
    val out = graft.operators.Dedup.qualityKeeper(
      qual, "quality_score", comp, "doc_id", maxBroadcastRows = 0L)
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"a corpus-scale cluster table must hash-co-partition (SMJ):\n$plan")
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
      s"neither corpus-sized side may broadcast above the gate threshold:\n$plan")
    // semantics are branch-invariant: same keepers either way
    val viaBroadcast = graft.operators.Dedup.qualityKeeper(
        qual, "quality_score", comp, "doc_id")
      .orderBy("doc_id").collect().toSeq
    val viaSmj = out.orderBy("doc_id").collect().toSeq
    assert(viaBroadcast == viaSmj, "gate branches must agree row-for-row")
  }
}

/** Shuffles in a DataFrame's final (post-AQE) physical plan, read after it
  * ran: the exchanges EnsureRequirements planned and AQE kept. */
object FinalShuffles extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def apply(df: org.apache.spark.sql.DataFrame): Int =
    collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }.size
}

/** The one-partition rule of `BayesDB.registerTable`: a table registered
  * from a one-partition frame is cached behind a narrow `coalesce(1)`, so
  * its scan reports `SinglePartition` and a GROUP BY + HAVING + ORDER BY
  * over it plans with no shuffle and runs as one Spark job. A
  * multi-partition table keeps its partitions and its shuffles. */
class OnePartitionTableSpec extends AnyFunSuite {
  import TestSpark._
  import org.apache.spark.sql.DataFrame

  /** 40 rows over `parts` slices of an RDD scan, which (like a file scan)
    * reports unknown partitioning, even over one slice; values are small
    * integers, so sums are exact whatever the aggregation order. */
  private def frame(parts: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(
      (0 until 40).map(i => (i.toLong, (i % 4).toString, i * 2.0)), parts)
      .toDF("k", "grp", "x")
  }

  private def sql(table: String): String =
    s"select grp, count(*) as n, sum(x) as s from $table" +
      " group by grp having count(*) > 5 order by grp"

  /** Collects `df`; returns its rows and the number of Spark jobs the
    * collect ran. */
  private def run(df: DataFrame): (Seq[Seq[Any]], Int) =
    SparkJobs.during(df.collect().toSeq.map(_.toSeq))

  private def expected(df: DataFrame, view: String): Seq[Seq[Any]] = {
    df.createOrReplaceTempView(view)
    spark.sql(sql(view)).collect().toSeq.map(_.toSeq)
  }

  test("one-partition table: GROUP BY + HAVING + ORDER BY plans no shuffle, runs one job") {
    val b = new BayesDB(spark, seed = 17L)
    val raw = frame(1)
    b.registerTable("one", raw)
    assert(b.table("one").rdd.getNumPartitions == 1)
    val df = b.execute(sql("one"))
    val (rows, jobs) = run(df)
    assert(FinalShuffles(df) == 0, "a one-partition table needs no exchange")
    assert(jobs == 1, s"expected one Spark job, saw $jobs")
    assert(rows == expected(raw, "one_raw"))
    assert(rows.map(_.head) == Seq("0", "1", "2", "3"))
  }

  test("multi-partition table keeps its partitions and its shuffle") {
    val b = new BayesDB(spark, seed = 17L)
    val raw = frame(4)
    b.registerTable("four", raw)
    assert(b.table("four").rdd.getNumPartitions == 4)
    val df = b.execute(sql("four"))
    val (rows, _) = run(df)
    assert(FinalShuffles(df) > 0, "a 4-partition table still plans its shuffle")
    assert(rows == expected(raw, "four_raw"))
  }
}
