package graft

import graft.bql.{BayesDB, Parser}
import org.scalatest.funsuite.AnyFunSuite

/** Error-surface checks (reference: tests/test_error_bql.py): common
  * user mistakes must fail fast with messages naming the offender. */
class ErrorSurfaceSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val bdb: BayesDB = {
    val b = new BayesDB(spark)
    import spark.implicits._
    b.registerTable("et", Seq((1L, 2.0), (2L, 3.0)).toDF("id", "x"))
    b
  }

  private def messageOf(body: => Any): String =
    intercept[Exception](body).getMessage

  test("unknown objects are named in the error") {
    assert(messageOf(bdb.execute("select * from nosuch")).contains("nosuch"))
    assert(messageOf(bdb.execute("estimate x from nopop")).contains("nopop"))
    assert(messageOf(bdb.execute("initialize 2 models for nogen")).contains("nogen"))
    assert(messageOf(bdb.execute("drop table nosuch")).contains("nosuch"))
    assert(messageOf(bdb.execute(
      "create population ep for et (y numerical)")).contains("y"))
  }

  test("lifecycle ordering errors") {
    bdb.execute("create population ep2 for et (id ignore; x numerical)")
    // query before any generator
    assert(messageOf(bdb.execute("simulate x from ep2 limit 2"))
      .toLowerCase.contains("generator"))
    bdb.execute("create generator eg2 for ep2 using nig_normal")
    // query before INITIALIZE
    assert(messageOf(bdb.execute("simulate x from ep2 limit 2"))
      .toLowerCase.contains("initialize"))
    // ANALYZE before INITIALIZE
    assert(messageOf(bdb.execute("analyze eg2 for 1 iteration"))
      .toLowerCase.contains("initialized"))
  }

  test("phrase-level misuse") {
    // estimators outside a model context
    assert(messageOf(bdb.execute("select predictive probability of x from et"))
      .toLowerCase.contains("estimate"))
    // SIMULATE without LIMIT is a parse error (reference: parse.py:327)
    intercept[Parser.ParseError] { bdb.execute("simulate x from ep2") }
    // more than one phrase per execute
    intercept[Parser.ParseError] { bdb.execute("select 1; select 2") }
    // unknown backend
    assert(messageOf(bdb.execute(
      "create generator bad for ep2 using nosuchbackend") match {
        case _ => bdb.execute("initialize 1 model for bad")
      }).contains("nosuchbackend"))
  }

  test("duplicate creation guarded; IF NOT EXISTS tolerated") {
    bdb.execute("create table dup as select 1 as a")
    assert(messageOf(bdb.execute("create table dup as select 2 as a"))
      .contains("dup"))
    bdb.execute("create table if not exists dup as select 3 as a")
    assert(bdb.execute("select a from dup").head.getLong(0) == 1L)
    bdb.execute("drop table dup")
  }

  test("PREDICTIVE RELEVANCE condition-set collect is bounded") {
    bdb.execute("create population ep4 for et (id ignore; x numerical)")
    bdb.execute("create generator eg4 for ep4 using nig_normal")
    bdb.execute("initialize 1 model for eg4")
    // a broad TO EXISTING ROWS condition over the cap must fail fast,
    // naming the knob — not silently collect the table onto the driver
    spark.conf.set("graft.bql.relevance.maxConditionRows", "1")
    try {
      val msg = messageOf(bdb.execute(
        "estimate predictive relevance to existing rows (x >= 0)" +
          " in the context of x from ep4").collect())
      assert(msg.contains("maxConditionRows"), msg)
    } finally spark.conf.unset("graft.bql.relevance.maxConditionRows")
    // under the default cap the same phrase runs
    val ok = bdb.execute(
      "estimate predictive relevance to existing rows (x >= 0)" +
        " in the context of x from ep4").collect()
    assert(ok.length == 2)
  }

  test("IN-subquery under OR plans with no Spark job") {
    // the subquery stays in the plan: nothing is collected while planning
    val sql = "select * from et where id in (select id from et) or x > 99"
    bdb  // registration runs jobs of its own
    val (df, jobs) = SparkJobs.during(bdb.execute(sql))
    assert(jobs == 0, s"planning started $jobs Spark job(s)")
    // and the query keeps IN-or-OR semantics
    assert(df.collect().length == 2)
  }

  test("pipeline-operator parameter misuse fails at the call, not mid-job") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val vecs = Seq((1L, Seq(1f, 2f))).toDF("id", "v")
    val docs = Seq((1L, "a")).toDF("id", "t")
    def msg(body: => Any): String = intercept[Exception](body).getMessage
    assert(msg(graft.operators.SimilaritySearch.cosineNearDupPairs(
      vecs, "v", "id", bits = 100)).contains("multiple of 64"))
    assert(msg(graft.operators.SimilaritySearch.cosineNearDupPairs(
      vecs, "v", "id", probeHamming = 2)).contains("probeHamming"))
    assert(msg(graft.operators.SimilaritySearch.cosineNearDupPairs(
      vecs, "v", "id", chunks = 3, bits = 64)).contains("divide"))
    assert(msg(graft.operators.Sampling.fold(col("id"), 1L, 0))
      .contains("folds"))
    assert(msg(graft.operators.Sampling.stratifiedSample(docs, "t", "id", 0, 1L))
      .contains("n must be positive"))
    assert(msg(graft.operators.Sampling.packBins(docs, "id", "id", 0L, 4, 1L))
      .contains("budgetTokens"))
    assert(msg(graft.operators.Sampling.packBins(docs, "id", "id", 10L, 0, 1L))
      .contains("shards"))
  }
}
