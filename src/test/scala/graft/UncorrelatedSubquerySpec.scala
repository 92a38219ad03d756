package graft

import graft.bql.BayesDB
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

/** Uncorrelated subqueries stay in the plan: in every position (WHERE,
  * SELECT list, CASE, top-level conjunct or under OR) building the
  * statement's DataFrame starts no Spark job, and the result equals
  * Spark SQL's over the same tables (reference: bayeslite compiles a
  * subquery into the one SQLite statement that holds it). */
class UncorrelatedSubquerySpec extends AnyFunSuite {
  import TestSpark._

  private lazy val bdb: BayesDB = {
    import spark.implicits._
    val t = Seq[(Long, String, Option[Double])](
      (1L, "a", Some(10.0)), (2L, "b", Some(20.0)), (3L, "a", Some(30.0)),
      (4L, "c", None), (5L, "b", Some(50.0))
    ).toDF("id", "g", "x").coalesce(1)
    val s = Seq[(Option[Long], String)](
      (Some(1L), "p"), (Some(3L), "q"), (None, "r"), (Some(9L), "p")
    ).toDF("k", "tag").coalesce(1)
    val b = new BayesDB(spark, seed = 5L)
    b.registerTable("usq_t", t)
    b.registerTable("usq_s", s)
    t.createOrReplaceTempView("usq_t")
    s.createOrReplaceTempView("usq_s")
    assert(b.table("usq_t").rdd.getNumPartitions == 1)
    b
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Plans `bql` (counting the jobs started meanwhile) and checks its rows
    * against Spark SQL's for `sql`; returns the planned frame. */
  private def check(bql: String, sql: String): DataFrame = {
    bdb  // registration runs jobs of its own
    val (df, jobs) = SparkJobs.during(bdb.execute(bql))
    assert(jobs == 0, s"planning started $jobs Spark job(s): $bql")
    assert(rows(df) == rows(spark.sql(sql)), bql)
    df
  }

  private def check(sql: String): DataFrame = check(sql, sql)

  test("scalar subquery in WHERE, in the SELECT list and under CASE") {
    check("select id from usq_t where x > (select avg(x) from usq_t)")
    check("select id, (select max(k) from usq_s) as m from usq_t")
    check("select id, case when x > (select avg(x) from usq_t) then 'hi'" +
      " else 'lo' end as c from usq_t")
  }

  test("EXISTS and NOT EXISTS, top level and under OR") {
    check("select id from usq_t where exists (select 1 from usq_s where tag = 'p')")
    check("select id from usq_t where not exists (select 1 from usq_s where tag = 'zz')")
    check("select id from usq_t where x > 40 or exists (select 1 from usq_s where tag = 'zz')")
    check("select id from usq_t where x > 40 or not exists (select 1 from usq_s where tag = 'p')")
  }

  test("IN and NOT IN, top level and under OR") {
    check("select id from usq_t where id in (select k from usq_s where k is not null)")
    check("select id from usq_t where id not in (select k from usq_s where k is not null)")
    check("select id from usq_t where x > 40 or id in (select k from usq_s where tag = 'q')")
    check("select id from usq_t where x > 40 or id not in (select k from usq_s where tag = 'p')")
  }

  test("IN over a set holding NULL keeps three-valued logic") {
    // NOT IN over {1, 3, NULL, 9} selects nothing; under OR only the
    // other disjunct can hold
    assert(check("select id from usq_t where id not in (select k from usq_s)").count() == 0)
    check("select id from usq_t where x > 40 or id not in (select k from usq_s)")
    check("select id from usq_t where id in (select k from usq_s)")
  }

  test("an empty scalar is a NULL typed like the subquery's column") {
    val df = check("select id, (select x from usq_t where x > 1000) as e from usq_t")
    assert(df.schema("e").dataType == DoubleType)
    assert(df.collect().forall(_.isNullAt(1)))
  }

  test("a multi-row scalar yields its first row, not an error") {
    // SQLite takes the first row of a multi-row scalar; Spark SQL would
    // raise, so the reference statement spells the LIMIT 1 out
    val df = check(
      "select id from usq_t where x = (select x from usq_t where x is not null order by x desc)",
      "select id from usq_t where x = (select x from usq_t where x is not null order by x desc limit 1)")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(5L))
  }
}
