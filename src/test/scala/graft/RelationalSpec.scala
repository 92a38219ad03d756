package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  // one task retry: DeterminismSpec proves sampling replays
  // bit-identically after a task re-execution (DetRng's whole contract)
  lazy val spark: SparkSession = GraftSession.local(cores = 4, taskRetries = 2)
  val sf: String = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("every declared query returns rows and a well-formed schema") {
    operators.Relational.queries.foreach { case (name, q) =>
      val df = q(spark, sf)
      val n = df.count()
      assert(n > 0, s"$name returned 0 rows")
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.columns.distinct.length == df.columns.length,
        s"$name has duplicate column names: ${df.columns.mkString(",")}")
    }
  }

  test("every query has either an oracle or is explicitly rows-only") {
    val missing = operators.Relational.queries.keySet -- operators.Relational.oracles.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
  }

  test("q01 aggregates match direct computation") {
    import org.apache.spark.sql.functions._
    val df = operators.Relational.q01Agg(spark, sf)
    val li = Tables.load(spark, sf, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    val expectTotal = li.count()
    val gotTotal = df.agg(sum("count_order")).head.getLong(0)
    assert(gotTotal == expectTotal)
  }

  test("q03 top-k is ordered by revenue desc") {
    val rev = operators.Relational.q03JoinTopK(spark, sf)
      .select("revenue").collect().map(_.getDouble(0))
    assert(rev.length <= 10)
    assert(rev.sameElements(rev.sortBy(-_: Double)))
  }

  test("q08 respects limit+offset") {
    val rows = operators.Relational.q08OrderLimitOffset(spark, sf).collect()
    assert(rows.length == 20)
  }

  test("rowid is stable, dense 1..N, and follows the natural key order") {
    val df = Tables.loadWithRowid(spark, sf, "nation")
    val byId = df.select("rowid", "n_nationkey").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    // dense 1..N — no gaps or duplicates from the distributed numbering
    assert(byId.map(_._1).sameElements(1L to byId.length))
    // rowid rank equals natural-key rank (SQLite insertion-order parity)
    assert(byId.map(_._2).sameElements(byId.map(_._2).sorted))
    // deterministic across loads
    val ids2 = Tables.loadWithRowid(spark, sf, "nation")
      .select("rowid", "n_nationkey").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(byId.sameElements(ids2))
  }
}

/** q18 sessionization against hand-built sessions with known gaps. */
class SessionizeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("gap threshold splits sessions exactly at 30 minutes") {
    import java.sql.Timestamp
    def t(sec: Long) = new Timestamp(sec * 1000L)
    // user 1: two events 10s apart, then one 1801s after the second
    // (> 1800 → new session); an event EXACTLY 1800s later stays in
    // session (strict >). user 2: a single event.
    val events = Seq(
      (1L, t(0),    1L, "a", 1.0, "{}"),
      (2L, t(10),   1L, "a", 1.0, "{}"),
      (3L, t(1811), 1L, "a", 1.0, "{}"),
      (4L, t(3611), 1L, "a", 1.0, "{}"),  // 1800s after event 3: same session
      (5L, t(99),   2L, "b", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_q18").toString
    events.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.Relational.q18Sessionize(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 1L, 2L, 10L * 1000000L),       // session 1: events 1,2 span 10s
      (1L, 2L, 2L, 1800L * 1000000L),     // session 2: events 3,4 span 1800s
      (2L, 1L, 1L, 0L)), got.toSeq.toString)
  }
}
