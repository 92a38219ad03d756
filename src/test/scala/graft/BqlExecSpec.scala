package graft

import graft.bql.BayesDB
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end BQL execution over a t1-style fixture (reference:
  * tests/test_core.py:222-266 exercises the same lifecycle against
  * SQLite + nig_normal; here the engine is Spark + the planner). */
class BqlExecSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val bdb: BayesDB = {
    val b = new BayesDB(spark, seed = 7L)
    import spark.implicits._
    val t1 = Seq(
      (1L, "foo", 24.0, 130.0),
      (2L, "bar", 33.0, 180.0),
      (3L, "foo", 41.0, 210.0),
      (4L, "baz", 57.0, 140.0),
      (5L, "bar", 12.0, 100.0),
      (6L, "foo", 30.0, 160.0),
      (7L, "baz", 45.0, 175.0),
      (8L, "bar", 52.0, 195.0)
    ).toDF("id", "label", "age", "weight")
    b.registerTable("t1", t1)
    b.execute("create population p1 for t1 (id ignore; label ignore;" +
      " age numerical; weight numerical)")
    b.execute("create generator g1 for p1 using nig_normal")
    b.execute("initialize 4 models for g1")
    b.execute("analyze g1 for 1 iteration")
    b
  }

  private def rows(sql: String, binds: Seq[Any] = Nil): Seq[Seq[Any]] =
    bdb.execute(sql, binds).collect().toSeq.map(_.toSeq)

  private def one(sql: String): Any = rows(sql).head.head

  test("two engines on one session register the math UDFs once") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    def erf = registry.lookupFunctionBuilder(FunctionIdentifier("erf"))
    new BayesDB(spark, seed = 1L)
    val before = erf
    assert(before.isDefined)
    new BayesDB(spark, seed = 2L)
    assert(erf.get eq before.get, "the second engine re-registered erf")
  }

  // ------------------------------------------------------------- SELECT

  test("select literals and arithmetic without FROM") {
    assert(one("select 1 + 2 * 3") == 7L)
    assert(one("select 'a' || 'b'") == "ab")
    assert(one("select 7 & 3") == 3L)
    assert(one("select 1 << 4") == 16L)
    assert(one("select -(2 + 3)") == -5L)
    assert(one("select cast(3.7 as int)") == 3L)
    assert(one("select case when 1 < 2 then 'y' else 'n' end") == "y")
    assert(one("select ifnull(null, 9)") == 9L)
  }

  test("rowid matches zipWithIndex numbering (multi-partition ingest)") {
    import spark.implicits._
    // 3 partitions with uneven sizes: the offset arithmetic must place
    // every row exactly where rdd.zipWithIndex would have
    val df = (1 to 23).map(i => (i * 10L, s"v$i")).toDF("k", "v").repartition(3)
    val b2 = new BayesDB(spark, seed = 11L)
    b2.registerTable("zt", df)
    val got = b2.table("zt").select("k", "rowid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = df.rdd.zipWithIndex
      .map { case (r, i) => (r.getLong(0), i + 1L) }.collect().toMap
    assert(got == want)
    assert(got.values.toSeq.sorted == (1L to 23L))
  }

  test("select star hides rowid, projects table columns") {
    val df = bdb.execute("select * from t1")
    assert(df.columns.toSeq == Seq("id", "label", "age", "weight"))
    assert(df.count() == 8)
  }

  test("where / order / limit / offset / distinct") {
    assert(rows("select id from t1 where age > 40 order by id").flatten ==
      Seq(3L, 4L, 7L, 8L))
    assert(rows("select id from t1 order by age desc limit 2").flatten ==
      Seq(4L, 8L))
    assert(rows("select id from t1 order by id limit 2 offset 3").flatten ==
      Seq(4L, 5L))
    assert(rows("select distinct label from t1 order by label").flatten ==
      Seq("bar", "baz", "foo"))
  }

  test("aggregates, group by, having, positional keys") {
    assert(one("select count(*) from t1") == 8L)
    assert(one("select count(distinct label) from t1") == 3L)
    val grouped = rows(
      "select label, count(*) as n, max(weight) as w from t1" +
        " group by label having count(*) >= 3 order by label")
    assert(grouped == Seq(Seq("bar", 3L, 195.0), Seq("foo", 3L, 210.0)))
    assert(rows("select label, avg(age) as a from t1 group by 1 order by 2 desc limit 1")
      .head.head == "baz")
  }

  test("like, in-list, in-subquery, between, scalar subquery, exists") {
    assert(rows("select id from t1 where label like 'BA%' order by id").flatten ==
      Seq(2L, 4L, 5L, 7L, 8L))  // SQLite LIKE is case-insensitive
    assert(rows("select id from t1 where label in ('foo') order by id").flatten ==
      Seq(1L, 3L, 6L))
    assert(rows("select id from t1 where id in (select id from t1 where age > 50)" +
      " order by id").flatten == Seq(4L, 8L))
    assert(rows("select id from t1 where age between 30 and 45 order by id").flatten ==
      Seq(2L, 3L, 6L, 7L))  // BETWEEN is inclusive on both ends
    assert(one("select (select max(age) from t1)") == 57.0)
    assert(one("select exists (select 1 from t1 where age > 100)") == false)
  }

  // nation/customer keyed as in TPC-H: nation k < 24 has 58 + k % 5
  // customers, so both 60 and 61 occur as per-nation counts; nation 24
  // has none, so a correlated count over it aggregates an empty set
  private lazy val tpch: BayesDB = {
    val b = new BayesDB(spark, seed = 7L)
    import spark.implicits._
    b.registerTable("nation",
      (0L until 25L).map(k => (k, k % 5)).toDF("n_nationkey", "n_regionkey"))
    b.registerTable("customer",
      (for (k <- 0L until 24L; i <- 0L until 58L + k % 5) yield (k * 100 + i, k))
        .toDF("c_custkey", "c_nationkey"))
    b
  }

  private def tpchRows(sql: String): Seq[Seq[Any]] =
    tpch.execute(sql).collect().toSeq.map(_.toSeq)

  test("aggregates under an IN-list, plain and in a correlated scalar") {
    assert(tpchRows("SELECT count(*) IN (25) AS x FROM nation") == Seq(Seq(true)))
    def perNation(item: String) = tpchRows(s"SELECT n_nationkey, (SELECT $item" +
      " FROM customer WHERE c_nationkey = n_nationkey) AS k FROM nation ORDER BY n_nationkey")
    val inList = perNation("count(*) IN (60, 61)")
    assert(inList == perNation("count(*) = 60 OR count(*) = 61"))
    assert(inList.count(_(1) == true) == 10)
    // over the empty set the item sees count 0, not NULL
    assert(inList.last == Seq(24L, false))
    assert(perNation("count(*) IN (0)").last == Seq(24L, true))
    assert(perNation("count(*) + 1").last == Seq(24L, 1L))
    assert(perNation("count(*)").last == Seq(24L, 0L))
  }

  test("IN-lists with expression elements equal their = / OR spelling") {
    def pair(inList: String, orSpelled: String): Unit = {
      def q(p: String) = tpchRows(
        s"SELECT n_nationkey, $p AS k FROM nation ORDER BY n_nationkey")
      val got = q(inList)
      assert(got == q(orSpelled))
      assert(got.exists(_(1) == true))
    }
    pair("n_nationkey IN (1, n_regionkey)",
      "n_nationkey = 1 OR n_nationkey = n_regionkey")
    // the correlated element decorrelates into a column first
    val sub = "(SELECT max(c_nationkey) FROM customer WHERE c_nationkey < n_nationkey)"
    pair(s"n_nationkey IN (1, $sub)", s"n_nationkey = 1 OR n_nationkey = $sub")
    // constant elements, a negated one included, reach the optimizer as
    // literals: a list over its threshold becomes one InSet
    val plan = tpch.execute("SELECT n_nationkey FROM nation WHERE n_nationkey IN (" +
      (-1 to 12).mkString(", ") + ")").queryExecution.optimizedPlan.toString
    assert(plan.contains("INSET"), plan)
  }

  test("escaped GLOB / REGEXP; MATCH rejected as divergence D1") {
    // ESCAPE makes the next pattern character literal
    assert(one("select 'a*b' glob 'a!*b' escape '!'") == true)
    assert(one("select 'axb' glob 'a!*b' escape '!'") == false)
    assert(one("select 'axb' glob 'a?b'") == true)
    assert(one("select 'a.b' regexp 'a!.b' escape '!'") == true)
    assert(one("select 'axb' regexp 'a!.b' escape '!'") == false)
    assert(one("select 'axb' regexp 'a.b'") == true)
    val e = intercept[UnsupportedOperationException] {
      bdb.execute("select 'a' match 'a'").collect()
    }
    assert(e.getMessage.contains("D1"))
  }

  test("parameters bind by number and name") {
    assert(rows("select id from t1 where age > ? order by id", Seq(40)).flatten ==
      Seq(3L, 4L, 7L, 8L))
    assert(bdb.executeNamed("select id from t1 where label = :lab order by id",
      Map("lab" -> "baz")).collect().map(_.getLong(0)).toSeq == Seq(4L, 7L))
  }

  test("comma cross join with where becomes an equi-join") {
    val n = one("select count(*) from t1 as a, t1 as b where a.id = b.id")
    assert(n == 8L)
  }

  test("modelNumbers lists the fitted ensemble (.describe models)") {
    assert(bdb.modelNumbers("g1").sorted == Seq(0, 1, 2, 3))
    assert(bdb.modelNumbers("no_such_gen").isEmpty)
  }

  test("sql_execute raw escape hatch: temp views, rowid, binds, UDFs") {
    // registered tables (rowid included) are visible to raw Spark SQL
    assert(bdb.sqlExecute("select count(*) as n from t1 where rowid <= 3")
      .head.getLong(0) == 3L)
    // positional + named binds splice as literals (never inside strings)
    assert(bdb.sqlExecute(
      "select id from t1 where age > ? and label <> '?x' order by id", Seq(40))
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 4L, 7L, 8L))
    assert(bdb.sqlExecute("select id from t1 where label = :lab order by id",
      Seq("baz")).collect().map(_.getLong(0)).toSeq == Seq(4L, 7L))
    // session math UDFs remain visible (reference keeps BQL UDFs in scope)
    assert(math.abs(bdb.sqlExecute("select erf(0.5) as e").head.getDouble(0)
      - 0.5204998778) < 1e-9)
    // string bindings with quotes and backslashes round-trip exactly:
    // Spark backslash-escapes in string literals, so a trailing \ must
    // not swallow the closing quote and '' is not a quote escape
    for (v <- Seq("it's", "a\\", "\\", "a'b\\c", "'\\'", "trailing\\")) {
      assert(bdb.sqlExecute("select ? as v", Seq(v)).head.getString(0) == v,
        s"round-trip failed for <$v>")
    }
    // parameter-free raw SQL with $/:/@ tokens passes through verbatim
    assert(bdb.sqlExecute("select `a$b` from (select 1 as `a$b`)")
      .head.getInt(0) == 1)
    // a DROPped table must not stay queryable through a stale temp view
    val b2 = new graft.bql.BayesDB(spark, seed = 3L)
    import spark.implicits._
    b2.registerTable("ephemeral", Seq((1L, "a")).toDF("id", "v"))
    assert(b2.sqlExecute("select count(*) from ephemeral").head.getLong(0) == 1L)
    b2.execute("drop table ephemeral")
    intercept[Exception] {
      b2.sqlExecute("select count(*) from ephemeral").collect()
    }
  }

  test("registered math UDFs work in BQL and raw spark.sql") {
    assert(math.abs(one("select erf(0.5)").asInstanceOf[Double] - 0.5204998778) < 1e-9)
    assert(math.abs(spark.sql("select lgamma(5.0)").head.getDouble(0) -
      math.log(24.0)) < 1e-12)
  }

  // ----------------------------------------------------------- commands

  test("guess schema returns one row per column") {
    val g = bdb.execute("guess schema for t1")
    assert(g.columns.toSeq == Seq("column", "stattype", "num_distinct", "reason"))
    assert(g.count() == 4)
  }

  test("create table as + drop table") {
    bdb.execute("create table heavy as select id, weight from t1 where weight > 150")
    assert(bdb.execute("select count(*) from heavy").head.getLong(0) == 5L)
    bdb.execute("drop table heavy")
    assert(!bdb.hasTable("heavy"))
  }

  test("create table from csv + nullify") {
    val f = java.io.File.createTempFile("graft_csv", ".csv")
    val w = new java.io.PrintWriter(f)
    w.println("name,score")
    w.println("alice,10")
    w.println("bob,-1")
    w.println("carol,30")
    w.close()
    bdb.execute(s"create table csvt from '${f.getAbsolutePath}'")
    assert(bdb.execute("select count(*) from csvt").head.getLong(0) == 3L)
    bdb.nullify("csvt", "score", -1)
    assert(bdb.execute("select count(*) from csvt where score is null")
      .head.getLong(0) == 1L)
    bdb.execute("drop table csvt")
    f.delete()
  }

  test("create table from orc dispatches on extension like parquet/json") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toFile
    val path = new java.io.File(dir, "t.orc").getAbsolutePath
    import spark.implicits._
    Seq((1L, "a", 2.5), (2L, "b", 3.5)).toDF("id", "tag", "x")
      .coalesce(1).write.mode("overwrite").orc(path)
    bdb.execute(s"create table orct from '$path'")
    try {
      assert(bdb.execute("select count(*) from orct").head.getLong(0) == 2L)
      assert(bdb.execute("select sum(x) from orct").head.getDouble(0) == 6.0)
    } finally bdb.execute("drop table orct")
  }

  test("csv ingest strictness mirrors the reference (tests/test_csv.py:43-97)") {
    def csvFile(content: String): java.io.File = {
      val f = java.io.File.createTempFile("graft_csv_strict", ".csv")
      val w = new java.io.PrintWriter(f)
      w.print(content)
      w.close()
      f
    }
    def ingest(content: String): Unit = {
      val f = csvFile(content)
      try bdb.execute(s"create table csv_strict from '${f.getAbsolutePath}'")
      finally { try bdb.execute("drop table csv_strict") catch { case _: Throwable => () }; f.delete() }
    }
    // empty file and header-only-no-columns: rejected
    intercept[Exception] { ingest("") }
    // duplicate column names, exact and case-insensitive: rejected
    intercept[Exception] { ingest("foo,foo\n0,1\n") }
    intercept[Exception] { ingest("foo,FOO\n0,1\n") }
    // strict row arity: too few and too many fields both reject
    intercept[Exception] { ingest("foo,bar\n0,1\n0\n") }
    intercept[Exception] { ingest("foo,bar\n0,1\n0,1,2\n") }
    // empty unquoted/quoted fields are VALID (csv.reader yields '' -
    // arity matches); the ragged probe must not mistake them for short
    // rows (reference read_csv.py:90-99 only checks arity)
    ingest("foo,bar,baz\na,,b\n,,\n\"\",x,\"\"\n")
    // quoted fields containing commas and embedded newlines are one field
    ingest("foo,bar\n\"a,b\",1\n\"line1\nline2\",2\n")
    // the reference's employees fixture imports cleanly
    val f = csvFile(
      """age,gender,salary,height,division,rank
        |34,M,74000,65,sales,3
        |41,M,65600,72,marketing,4
        |25,M,52000,69,accounting,5
        |23,F,81000,67,data science,3
        |36,F,96000,70,management,2
        |30,M,70000,73,sales,4
        |30,F,81000,73,engineering,3
        |""".stripMargin)
    bdb.execute(s"create table employees_csv from '${f.getAbsolutePath}'")
    assert(bdb.execute("select count(*) from employees_csv").head.getLong(0) == 7L)
    assert(bdb.execute("select count(distinct division) from employees_csv")
      .head.getLong(0) == 6L)
    bdb.execute("drop table employees_csv")
    f.delete()
  }

  test("nullifyValue counts cells across columns (test_nullify.py)") {
    import spark.implicits._
    val b = new graft.bql.BayesDB(spark, seed = 61L)
    b.registerTable("tn", Seq(
      ("1", ""), ("nan", "foo"), ("2", "nan"), ("2", "\"\""), ("", ""))
      .toDF("x", "y"))
    assert(b.nullifyValue("tn", "") == 3L)
    assert(b.execute("select count(*) from tn where x is null").head.getLong(0) == 1L)
    assert(b.execute("select count(*) from tn where y is null").head.getLong(0) == 2L)
    assert(b.nullifyValue("tn", "nan", Some(Seq("x"))) == 1L)
    assert(b.execute("select count(*) from tn where x is null").head.getLong(0) == 2L)
    assert(b.execute("select count(*) from tn where y = 'nan'").head.getLong(0) == 1L)
    assert(b.nullifyValue("tn", "fnord") == 0L)
  }

  test("group_concat honors a custom separator (SQLite semantics)") {
    val rows = bdb.execute(
      "select label, group_concat(id, ' | ') as ids from t1" +
        " where id <= 6 group by label order by label").collect()
    // separator must be the given string, not the default comma
    assert(rows.forall(r => r.getString(1) == null ||
      !r.getString(1).contains(",")), rows.mkString("; "))
    val all = bdb.execute(
      "select group_concat(id, '+') from t1 where id <= 3").head.getString(0)
    assert(all == "1+2+3", all)
    val dflt = bdb.execute(
      "select group_concat(id) from t1 where id <= 3").head.getString(0)
    assert(dflt == "1,2,3", dflt)
  }

  test("bqlmath surface parity at the reference's probe points (test_bqlmath.py)") {
    // every bqlmath function (src/bqlmath.py:20-46), probed through the
    // SQL surface at the reference's domain-valid probe points and
    // compared to the JVM's math — ONE query, one job
    val P = Seq(-2.5, -1.0, -0.1, 0.0, 0.1, 1.0, 2.5)
    def acoshJ(x: Double) = math.log(x + math.sqrt(x * x - 1))
    def asinhJ(x: Double) = math.log(x + math.sqrt(x * x + 1))
    def atanhJ(x: Double) = 0.5 * math.log((1 + x) / (1 - x))
    val one: Seq[(String, Double => Double, Seq[Double])] = Seq(
      ("acos", math.acos, P.filter(x => x >= -1 && x <= 1)),
      ("acosh", acoshJ, P.filter(_ >= 1)),
      ("asin", math.asin, P.filter(x => x >= -1 && x <= 1)),
      ("asinh", asinhJ, P),
      ("atan", math.atan, P),
      ("atanh", atanhJ, P.filter(x => x > -1 && x < 1)),
      ("ceil", math.ceil, P),
      ("cos", math.cos, P),
      ("cosh", math.cosh, P),
      ("degrees", math.toDegrees, P),
      ("erf", graft.functions.SpecialMath.erf, P),
      ("erfc", graft.functions.SpecialMath.erfc, P),
      ("exp", math.exp, P),
      ("expm1", math.expm1, P),
      ("fabs", math.abs, P),
      ("factorial", (x: Double) => (1L to x.toLong).product.toDouble,
        Seq(0.0, 1.0, 5.0)),
      ("floor", math.floor, P),
      ("gamma", bql.SqlFunctions.gammaFn, P.filterNot(x => x == x.floor && x <= 0)),
      ("lgamma", graft.functions.SpecialMath.lgamma, P.filter(_ > 0)),
      ("log", math.log, P.filter(_ > 0)))
    val two: Seq[(String, (Double, Double) => Double, Seq[(Double, Double)])] = Seq(
      ("atan2", math.atan2, P.flatMap(a => P.map(b => (a, b)))),
      ("copysign", math.copySign, P.flatMap(a => P.map(b => (a, b)))),
      ("fmod", (a: Double, b: Double) => a % b,
        P.flatMap(a => P.filter(_ != 0).map(b => (a, b)))),
      ("hypot", math.hypot, P.flatMap(a => P.map(b => (a, b)))),
      ("ldexp", (a: Double, i: Double) => a * math.pow(2, i),
        P.flatMap(a => Seq(-2.0, 0.0, 3.0).map(b => (a, b)))))
    val cols = Seq.newBuilder[(String, Double)]
    val sqlParts = Seq.newBuilder[String]
    var k = 0
    one.foreach { case (fn, f, probes) => probes.foreach { x =>
      sqlParts += s"$fn(cast($x as double)) AS f$k"
      cols += (s"$fn($x)" -> f(x)); k += 1
    } }
    two.foreach { case (fn, f, probes) => probes.foreach { case (x, y) =>
      val ya = if (fn == "ldexp") s"cast(${y.toInt} as int)" else s"cast($y as double)"
      sqlParts += s"$fn(cast($x as double), $ya) AS f$k"
      cols += (s"$fn($x,$y)" -> f(x, y)); k += 1
    } }
    val row = bdb.sqlExecute("SELECT " + sqlParts.result().mkString(", ")).head()
    cols.result().zipWithIndex.foreach { case ((label, expect), i) =>
      // ceil/floor/factorial return integral types in Spark
      val got = row.get(i).asInstanceOf[Number].doubleValue()
      assert(math.abs(got - expect) <= 1e-12 * math.max(1.0, math.abs(expect)),
        s"$label: got $got, expected $expect")
    }
  }

  test("infer * expands to all table columns with predict-wrapping") {
    val df = bdb.execute("infer * from p1 limit 3")
    assert(df.columns.toSeq == Seq("id", "label", "age", "weight"))
  }

  test("generator schema: SUBSAMPLE + basic dist clauses; alter population") {
    import spark.implicits._
    val t4 = (1 to 50).map(i => (i.toLong, i.toDouble, i * 2.0))
      .toDF("id", "a", "b")
    bdb.registerTable("t4", t4)
    bdb.execute("create population p4 for t4 (id ignore; a numerical; b numerical)")
    // schema body: subsample + validated basic clauses
    bdb.execute("create generator g4 for p4 using cgpm (subsample 20, a normal)")
    intercept[Exception] {
      bdb.execute("create generator g4bad for p4 using cgpm (a lognormal)")
    }
    bdb.execute("initialize 2 models for g4")
    bdb.execute("analyze g4 for 2 iterations")
    assert(bdb.execute("simulate a from p4 limit 5").count() == 5)
    // alter population: stattype change refused with generators attached
    intercept[Exception] {
      bdb.execute("alter population p4 set stattype of a to nominal")
    }
    // rename population works regardless
    bdb.execute("alter population p4 rename to p4x")
    assert(bdb.catalog.population("p4x").isDefined)
    bdb.execute("alter population p4x rename to p4")
    // add variable on a generator-free population
    bdb.registerTable("t5", t4)
    bdb.execute("create population p5 for t5 (id ignore; a numerical)")
    bdb.execute("alter population p5 add variable b numerical")
    assert(bdb.catalog.population("p5").get.variable("b").isDefined)
    bdb.execute("alter population p5 set stattype of b to nominal")
    assert(bdb.catalog.population("p5").get.variable("b").get.stattype ==
      graft.catalog.StatType.Nominal)
  }

  test("correlated subquery inside ESTIMATE's WHERE") {
    // the ESTIMATE frame (the population's base table) is the outer
    // scope; the correlated EXISTS references it by table name
    val df = bdb.execute(
      "estimate id from p1 where exists" +
        " (select 1 from t1 as u where u.id = t1.id and u.age > 40) order by id")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(3L, 4L, 7L, 8L))
  }

  test("correlated aggregate scalar decorrelates in ESTIMATE and INFER frames") {
    // ESTIMATE assembles through the same decorrelation pre-pass as
    // SELECT, so `ESTIMATE … WHERE col > (SELECT agg … WHERE u.k = t.k)`
    // plans as a grouped left join (b25's shape)
    val est = bdb.execute(
      "estimate id from p1 where age >" +
        " (select avg(u.age) from t1 as u where u.id % 2 = t1.id % 2) order by id")
    val sel = bdb.execute(
      "select id from t1 where age >" +
        " (select avg(u.age) from t1 as u where u.id % 2 = t1.id % 2) order by id")
    assert(est.collect().map(_.getLong(0)).toSeq ==
      sel.collect().map(_.getLong(0)).toSeq)
    assert(est.count() > 0)
    // same pre-pass in INFER EXPLICIT frames
    val inf = bdb.execute(
      "infer explicit id from p1 where age >" +
        " (select avg(u.age) from t1 as u where u.id % 2 = t1.id % 2) order by id")
    assert(inf.collect().map(_.getLong(0)).toSeq ==
      est.collect().map(_.getLong(0)).toSeq)
  }

  test("BEGIN...ROLLBACK restores catalog, tables, and model states") {
    val b = new BayesDB(spark, seed = 5L)
    import spark.implicits._
    b.registerTable("tx", Seq((1L, 2.0), (2L, 4.0), (3L, 6.0)).toDF("k", "x"))
    b.execute("begin")
    b.execute("create table tx2 as select * from tx where k > 1")
    b.execute("create population txp for tx (k ignore; x numerical)")
    b.execute("create generator txg for txp using nig_normal")
    b.execute("initialize 2 models for txg")
    b.nullify("tx", "x", 2.0)
    assert(b.hasTable("tx2") && b.catalog.population("txp").isDefined)
    assert(b.execute("select x from tx where k = 1").collect().head.isNullAt(0))
    b.execute("rollback")
    // no trace: DDL undone, nullify undone, model state gone
    assert(!b.hasTable("tx2"))
    assert(b.catalog.population("txp").isEmpty)
    assert(b.catalog.generator("txg").isEmpty)
    assert(b.execute("select x from tx where k = 1").collect().head.getDouble(0) == 2.0)
    // COMMIT keeps effects
    b.execute("begin")
    b.execute("create table tx3 as select * from tx")
    b.execute("commit")
    assert(b.hasTable("tx3"))
    // txn state machine matches the reference (src/txn.py:67-86)
    intercept[IllegalArgumentException](b.execute("commit"))
    intercept[IllegalArgumentException](b.execute("rollback"))
    b.execute("begin")
    intercept[IllegalArgumentException](b.execute("begin"))
    b.execute("rollback")
  }

  test("savepoints nest, keep on success, roll back on exception (reference test_bql.py:2190-2206)") {
    val b = new BayesDB(spark, seed = 6L)
    import spark.implicits._
    b.registerTable("sv", Seq((1L, 2.0), (2L, 4.0), (3L, 6.0)).toDF("k", "x"))

    // success at both depths: inner + outer effects all kept
    b.savepoint {
      b.execute("create table sv_a as select * from sv")
      b.savepoint {
        b.execute("create table sv_b as select * from sv where k > 1")
      }
    }
    assert(b.hasTable("sv_a") && b.hasTable("sv_b"))

    // inner failure rolls back only the inner frame
    intercept[IllegalStateException] {
      b.savepoint {
        b.execute("create table sv_c as select * from sv")
        try b.savepoint {
          b.execute("create table sv_d as select * from sv")
          throw new IllegalStateException("inner")
        } catch { case e: IllegalStateException =>
          assert(b.hasTable("sv_c") && !b.hasTable("sv_d"))
          throw e
        }
      }
    }
    // outer frame unwound too (the exception propagated through it)
    assert(!b.hasTable("sv_c") && !b.hasTable("sv_d"))

    // outer failure after a successful inner savepoint undoes both
    intercept[IllegalStateException] {
      b.savepoint {
        b.savepoint {
          b.execute("create population svp for sv (k ignore; x numerical)")
          b.execute("create generator svg for svp using nig_normal")
          b.execute("initialize 2 models for svg")
        }
        assert(b.catalog.population("svp").isDefined)
        throw new IllegalStateException("outer")
      }
    }
    assert(b.catalog.population("svp").isEmpty)
    assert(b.catalog.generator("svg").isEmpty)

    // savepointRollback always rolls back (reference test_backends.py:123)
    val n = b.savepointRollback {
      b.execute("create table sv_e as select * from sv")
      b.execute("select count(*) as n from sv_e").collect().head.getLong(0)
    }
    assert(n == 3L && !b.hasTable("sv_e"))

    // savepoints are allowed inside a BQL transaction; transaction()
    // refuses to nest inside a savepoint (reference test_bql.py:2199-2206)
    b.execute("begin")
    b.savepoint { b.savepoint { () } }
    b.execute("commit")
    b.savepoint {
      intercept[IllegalArgumentException](b.transaction(()))
    }
    // transaction() commits on success, rolls back on exception
    b.transaction { b.execute("create table sv_f as select * from sv") }
    assert(b.hasTable("sv_f"))
    intercept[IllegalStateException] {
      b.transaction {
        b.execute("create table sv_g as select * from sv")
        throw new IllegalStateException("txn")
      }
    }
    assert(!b.hasTable("sv_g"))
  }

  // --------------------------------------------------------- estimators

  test("estimate predictive probability per row") {
    val df = bdb.execute(
      "estimate id, predictive probability of weight as pp from p1 order by id")
    val vals = df.collect().map(_.getDouble(1))
    assert(vals.length == 8)
    assert(vals.forall(v => v > 0 && v < 1))
    // deterministic under the session seed
    val again = bdb.execute(
      "estimate id, predictive probability of weight as pp from p1 order by id")
      .collect().map(_.getDouble(1))
    assert(vals.toSeq == again.toSeq)
  }

  test("predictive probability given constraints differs from marginal") {
    val marginal = bdb.execute(
      "estimate predictive probability of weight as pp from p1 where id = 1")
      .head.getDouble(0)
    val conditional = bdb.execute(
      "estimate predictive probability of weight given (age) as pp from p1 where id = 1")
      .head.getDouble(0)
    assert(marginal > 0 && conditional > 0)
  }

  test("estimate by: probability density and dependence constants") {
    val d = one("estimate probability density of weight = 160 by p1")
    assert(d.asInstanceOf[Double] > 0)
    assert(one("estimate dependence probability of age with weight by p1") == 0.0)
    assert(one("estimate dependence probability of age with age by p1") == 1.0)
    val r2 = one("estimate correlation of age with weight by p1").asInstanceOf[Double]
    assert(r2 >= 0 && r2 <= 1)
    val pv = one("estimate correlation pvalue of age with weight by p1").asInstanceOf[Double]
    assert(pv >= 0 && pv <= 1)
  }

  test("estimate from variables of: 1-col functions") {
    val df = bdb.execute(
      "estimate *, dependence probability with age as dp," +
        " correlation with age as corr from variables of p1 order by name")
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == Seq(("age", 1.0), ("weight", 0.0)))
  }

  test("estimate from pairwise variables of: 2-col functions") {
    val df = bdb.execute(
      "estimate dependence probability from pairwise variables of p1" +
        " order by name0, name1")
    assert(df.columns.toSeq == Seq("population_id", "name0", "name1", "value"))
    val got = df.collect().map(r => (r.getString(1), r.getString(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      ("age", "age", 1.0), ("age", "weight", 0.0),
      ("weight", "age", 0.0), ("weight", "weight", 1.0)))
  }

  test("estimate from pairwise: 2-row similarity (nig_normal: degenerate 0)") {
    val df = bdb.execute(
      "estimate similarity in the context of weight from pairwise p1" +
        " where r0.rowid <= 2 and r1.rowid <= 2 order by rowid0, rowid1")
    assert(df.columns.toSeq == Seq("rowid0", "rowid1", "value"))
    assert(df.count() == 4)
    assert(df.collect().forall(_.getDouble(2) == 0.0))
  }

  test("similarity to a designated row in row context") {
    val df = bdb.execute(
      "estimate id, similarity to (rowid = 1) in the context of weight as s" +
        " from p1 order by id")
    assert(df.count() == 8)
  }

  test("predictive relevance plumbing (nig_normal: degenerate 0)") {
    val v = one("estimate predictive relevance of (rowid = 1)" +
      " to existing rows (rowid > 5)" +
      " and hypothetical rows with values ((weight = 150), (weight = 160, age = 30))" +
      " in the context of weight by p1")
    assert(v == 0.0)
  }

  test("infer fills nulls above the confidence threshold") {
    import spark.implicits._
    val t2 = Seq(
      (1L, Some(130.0), 24.0), (2L, None: Option[Double], 33.0),
      (3L, Some(210.0), 41.0), (4L, None: Option[Double], 57.0)
    ).toDF("id", "weight", "age")
    bdb.registerTable("t2", t2)
    bdb.execute("create population p2 for t2 (id ignore; weight numerical; age numerical)")
    bdb.execute("create generator g2 for p2 using nig_normal")
    bdb.execute("initialize 2 models for g2")
    bdb.execute("analyze g2 for 1 iteration")
    val inferred = bdb.execute("infer weight from p2 order by id")
    assert(inferred.columns.toSeq == Seq("weight"))
    assert(inferred.collect().forall(!_.isNullAt(0)))
    // explicit form with confidence column
    val exp = bdb.execute(
      "infer explicit id, predict weight as wh confidence wc from p2 order by id")
    assert(exp.columns.toSeq == Seq("id", "wh", "wc"))
    assert(exp.collect().forall(r => r.getDouble(2) >= 0 && r.getDouble(2) <= 1))
  }

  test("simulate honors limit and given constraints deterministically") {
    val df = bdb.execute("simulate age, weight from p1 given age = 30 limit 25")
    assert(df.columns.toSeq == Seq("age", "weight"))
    assert(df.count() == 25)
    val a = bdb.execute("simulate weight from p1 limit 10").collect().map(_.getDouble(0))
    val b = bdb.execute("simulate weight from p1 limit 10").collect().map(_.getDouble(0))
    assert(a.toSeq == b.toSeq, "simulate must be deterministic under the session seed")
  }

  test("simulate from models of: one row per ensemble member") {
    val df = bdb.execute(
      "simulate dependence probability of age with weight as dp," +
        " mutual information of age with weight using 10 samples as mi" +
        " from models of p1")
    assert(df.columns.toSeq == Seq("dp", "mi"))
    assert(df.count() == 4)  // 4 models initialized for g1
    // compound arithmetic over per-model values (macro expansion)
    val df2 = bdb.execute(
      "simulate 2 * dependence probability of age with weight as x from models of p1")
    assert(df2.collect().forall(r => r.getDouble(0) == 0.0))  // nig: dep = 0
  }

  test("driver-built frames report one partition: ORDER BY / GROUP BY need no shuffle") {
    Seq(
      "estimate * from variables of p1 order by name",
      "estimate dependence probability from pairwise variables of p1 order by name0, name1",
      "select age, count(*) as n from (simulate age from p1 limit 20) group by age order by age",
      "select dp, count(*) as n from (simulate dependence probability of age with weight" +
        " as dp from models of p1) group by dp order by dp",
      "select 1 + 2 as x order by x"
    ).foreach { q =>
      val df = bdb.execute(q)
      assert(df.collect().nonEmpty, q)
      assert(FinalShuffles(df) == 0, s"$q\n${df.queryExecution.executedPlan}")
    }
  }

  test("alter generator: ensure variables dependent/independent/view moves") {
    import spark.implicits._
    val rng = new scala.util.Random(9)
    bdb.registerTable("t9", (1 to 60).map(i =>
      (i.toLong, rng.nextGaussian(), rng.nextGaussian(), rng.nextGaussian()))
      .toDF("id", "a", "b", "c"))
    bdb.execute("create population p9 for t9 (id ignore;" +
      " a numerical; b numerical; c numerical)")
    bdb.execute("create generator g9 for p9 using cgpm")
    bdb.execute("initialize 3 models for g9")
    bdb.execute("analyze g9 for 2 iterations")
    def dep(x: String, y: String): Double =
      one(s"estimate dependence probability of $x with $y by p9")
        .asInstanceOf[Double]
    bdb.execute("alter generator g9 ensure variables * dependent")
    assert(dep("a", "b") == 1.0 && dep("b", "c") == 1.0)
    bdb.execute("alter generator g9 ensure variables * independent")
    assert(dep("a", "b") == 0.0 && dep("a", "c") == 0.0)
    bdb.execute("alter generator g9 ensure variables b in view of a")
    assert(dep("a", "b") == 1.0 && dep("a", "c") == 0.0)
    bdb.execute("alter generator g9 ensure variables b in singleton view")
    assert(dep("a", "b") == 0.0)
    // row-cluster move: rows 1,2 join row 3's cluster in a's view
    bdb.execute("alter generator g9 ensure rows (1, 2) in cluster of row 3" +
      " within view of a")
    val sim = one("estimate similarity of (rowid = 1) to (rowid = 3)" +
      " in the context of a by p9")
    assert(sim == 1.0, s"rows forced into one cluster must have similarity 1, got $sim")
  }

  test("nig_normal latent deviation variables (DEVIATION clause)") {
    import spark.implicits._
    bdb.registerTable("t8", (1 to 60).map(i => (i.toLong, 10.0 + (i % 5)))
      .toDF("id", "x"))
    bdb.execute("create population p8 for t8 (id ignore; x numerical)")
    bdb.execute("create generator g8 for p8 using nig_normal (xe deviation (x))")
    bdb.execute("initialize 4 models for g8")
    bdb.execute("analyze g8 for 1 iteration")
    // the latent variable is registered with a negative colno
    val xe = bdb.catalog.population("p8").get.variable("xe").get
    assert(xe.isLatent && xe.colno < 0)
    // deviations simulate as N(0, sigma_x): centered near zero, unlike x
    val devs = bdb.execute("simulate xe from p8 limit 200")
      .collect().map(_.getDouble(0))
    val xs = bdb.execute("simulate x from p8 limit 200")
      .collect().map(_.getDouble(0))
    assert(math.abs(devs.sum / devs.length) < 2.0, "deviation mean ≈ 0")
    assert(xs.sum / xs.length > 8.0, "x mean ≈ 12")
    // density of the deviation at 0 beats density far away
    val d0 = one("estimate probability density of xe = 0 by p8").asInstanceOf[Double]
    val d9 = one("estimate probability density of xe = 50 by p8").asInstanceOf[Double]
    assert(d0 > d9)
  }

  test("analyze program: VARIABLES / SKIP restriction, hints accepted") {
    import spark.implicits._
    bdb.registerTable("t7", (1 to 40).map(i => (i.toLong, i.toDouble, -i.toDouble))
      .toDF("id", "a", "b"))
    bdb.execute("create population p7 for t7 (id ignore; a numerical; b numerical)")
    bdb.execute("create generator g7 for p7 using cgpm")
    bdb.execute("initialize 2 models for g7")
    bdb.execute("analyze g7 for 2 iterations (variables a)")
    bdb.execute("analyze g7 for 1 iteration (skip b, quiet)")
    bdb.execute("analyze g7 for 1 iteration (optimized)")
    assert(bdb.execute("simulate a, b from p7 limit 4").count() == 4)
  }

  test("analyze program: ROWS and SUBPROBLEMS clauses execute") {
    import spark.implicits._
    bdb.registerTable("t10", (1 to 40).map(i => (i.toLong, i.toDouble, -i.toDouble))
      .toDF("id", "a", "b"))
    bdb.execute("create population p10 for t10 (id ignore; a numerical; b numerical)")
    bdb.execute("create generator g10 for p10 using cgpm")
    bdb.execute("initialize 2 models for g10")
    bdb.execute("analyze g10 for 1 iteration (rows 1, 2, 3)")
    bdb.execute("analyze g10 for 1 iteration (subproblem variable hyperparameters)")
    bdb.execute("analyze g10 for 1 iteration " +
      "(subproblems (row clustering, row clustering concentration))")
    bdb.execute("analyze g10 for 1 iteration " +
      "(variables a; subproblem variable clustering concentration; rows 4, 5)")
    assert(bdb.execute("simulate a, b from p10 limit 4").count() == 4)
  }

  test("USING MODELS restricts estimators to the named ensemble members") {
    val m0 = bdb.execute("simulate weight from p1 using model 0 limit 10")
      .collect().map(_.getDouble(0)).toSeq
    val m1 = bdb.execute("simulate weight from p1 using model 1 limit 10")
      .collect().map(_.getDouble(0)).toSeq
    assert(m0 != m1, "different posterior samples must draw differently")
    // density restricted to one model differs from the ensemble average
    val dAll = one("estimate probability density of weight = 160 by p1")
      .asInstanceOf[Double]
    val d0 = one("estimate probability density of weight = 160 by p1 using model 0")
      .asInstanceOf[Double]
    assert(dAll > 0 && d0 > 0 && dAll != d0)
    // unknown model numbers are rejected by name
    assert(intercept[Exception] {
      bdb.execute("simulate weight from p1 using models 17 limit 3")
    }.getMessage.contains("17"))
  }

  test("conditional mutual information and drop models subset") {
    // MI GIVEN with equality + marginalized conditions executes
    val v = one("estimate mutual information of age with weight" +
      " given (age = 30) using 20 samples by p1")
    assert(v.asInstanceOf[Double] >= 0.0)
    val v2 = one("estimate mutual information of age with weight" +
      " given (weight) using 20 samples by p1")
    assert(v2.asInstanceOf[Double] >= 0.0)
    // drop a model subset: remaining ensemble still answers queries
    import spark.implicits._
    bdb.registerTable("t6", (1 to 30).map(i => (i.toLong, i.toDouble)).toDF("id", "a"))
    bdb.execute("create population p6 for t6 (id ignore; a numerical)")
    bdb.execute("create generator g6 for p6 using cgpm")
    bdb.execute("initialize 4 models for g6")
    bdb.execute("analyze g6 for 2 iterations")
    bdb.execute("drop models 0-1 from g6")
    assert(bdb.catalog.modelNumbers("g6") == Seq(2, 3))
    assert(bdb.execute("simulate a from p6 limit 3").count() == 3)
  }

  test("probability of (expr) averages over the ensemble") {
    val v = one("estimate probability of (dependence probability of age with weight) by p1")
    assert(v == 0.0)
  }

  test("regress returns intercept + coefficient rows") {
    val df = bdb.execute("regress weight given (age) using 200 samples by p1")
    assert(df.columns.toSeq == Seq("variable", "coefficient"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("intercept", "age"))
  }

  test("regress K-1 dummy-codes nominal givens (regress.py:21-48)") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = (1 to 120).map { i =>
      val lab = Seq("a", "b", "c")(i % 3)
      val x = i.toDouble / 10.0
      val y = 2.0 * x + (i % 3) * 5.0 + rng.nextGaussian()
      (i.toLong, lab, x, y)
    }
    bdb.registerTable("treg", rows.toDF("id", "lab", "x", "y"))
    bdb.execute("create population preg for treg" +
      " (id ignore; lab nominal; x numerical; y numerical)")
    bdb.execute("create generator greg for preg using cgpm")
    bdb.execute("initialize 2 models for greg")
    bdb.execute("analyze greg for 4 iterations")
    val df = bdb.execute("regress y given (x, lab) using 150 samples by preg")
    val out = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    val names = out.map(_._1)
    // numeric given first, then K-1 kept dummies, then the dropped level at 0
    assert(names.head == "intercept")
    assert(names.contains("x"))
    assert(names.count(_.startsWith("lab_dum_")) == 3)
    val dropped = out.toMap.apply("lab_dum_a")
    assert(dropped == 0.0, "first sorted category is the dropped reference level")
    // nominal target is rejected, not a ClassCastException
    val e = intercept[IllegalArgumentException] {
      bdb.execute("regress lab given (x) using 20 samples by preg")
    }
    assert(e.getMessage.contains("numerical"))
  }

  test("predictive relevance honors USING MODELS in row context") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val rows = (1 to 60).map { i =>
      val x = (if (i % 2 == 0) -8.0 else 8.0) + rng.nextGaussian()
      (i.toLong, x)
    }
    bdb.registerTable("trel", rows.toDF("id", "x"))
    bdb.execute("create population prel for trel (id ignore; x numerical)")
    bdb.execute("create generator grel for prel using cgpm")
    bdb.execute("initialize 4 models for grel")
    bdb.execute("analyze grel for 5 iterations")
    def relevances(usingModels: String): Seq[Double] = bdb.execute(
      "estimate rowid, predictive relevance to existing rows (rowid < 10)" +
        " in the context of x as r" +
        s" from prel modeled by grel$usingModels order by rowid limit 20")
      .collect().map(_.getDouble(1)).toSeq
    val full = relevances("")
    val restricted = relevances(" using models 0")
    assert(full.length == 20 && restricted.length == 20)
    assert((full ++ restricted).forall(v => v >= 0.0 && v <= 1.0))
    assert(full != restricted,
      "USING MODELS subset must change the per-row relevance ensemble")
  }

  test("nominal variables end-to-end: infer, simulate, density with labels") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val rows = (1 to 200).map { i =>
      val cluster = i % 2
      val x = (if (cluster == 0) -5.0 else 5.0) + rng.nextGaussian()
      val label = if (i % 11 == 0) null else (if (cluster == 0) "neg" else "pos")
      (i.toLong, x, label)
    }
    bdb.registerTable("t3", rows.toDF("id", "x", "label"))
    bdb.execute("create population p3 for t3 (id ignore; x numerical; label nominal)")
    bdb.execute("create generator g3 for p3 using cgpm")
    bdb.execute("initialize 4 models for g3")
    bdb.execute("analyze g3 for 12 iterations")

    // SIMULATE returns labels, not codes
    val sim = bdb.execute("simulate label from p3 given x = 5 limit 40")
    assert(sim.schema("label").dataType.typeName == "string")
    val labs = sim.collect().map(_.getString(0))
    assert(labs.count(_ == "pos").toDouble / labs.length >= 0.8)

    // INFER fills the held-out labels with strings
    val inferred = bdb.execute("infer label with confidence 0.5 from p3 order by rowid")
    assert(inferred.collect().forall(!_.isNullAt(0)))

    // PROBABILITY DENSITY accepts label literals
    val pPos = one("estimate probability density of label = 'pos' given (x = 5) by p3")
      .asInstanceOf[Double]
    val pNeg = one("estimate probability density of label = 'neg' given (x = 5) by p3")
      .asInstanceOf[Double]
    assert(pPos > pNeg)

    // INFER EXPLICIT carries string value + confidence
    val exp = bdb.execute(
      "infer explicit rowid, predict label as lhat confidence lconf from p3 limit 5")
    assert(exp.schema("lhat").dataType.typeName == "string")
  }

  test("save/open round-trips tables, catalog, and fitted models") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bdb").toString
    val b1 = new bql.BayesDB(spark, seed = 21L)
    b1.registerTable("tp", (1 to 30).map(i => (i.toLong, i * 2.0)).toDF("id", "v"))
    b1.executeScript(
      """create population pp for tp (id ignore; v numerical);
        |create generator gp for pp using nig_normal;
        |initialize 3 models for gp;
        |analyze gp for 1 iteration""".stripMargin)
    val before = b1.execute("simulate v from pp limit 5").collect().map(_.getDouble(0))
    b1.save(dir)
    val b2 = bql.BayesDB.open(spark, dir)
    assert(b2.catalog.population("pp").isDefined)
    assert(b2.catalog.modelNumbers("gp") == Seq(0, 1, 2))
    assert(b2.execute("select count(*) from tp").head.getLong(0) == 30L)
    val after = b2.execute("simulate v from pp limit 5").collect().map(_.getDouble(0))
    assert(before.toSeq == after.toSeq,
      "reopened engine must reproduce the same seeded draws")
  }

  test("executeScript runs a multi-phrase .bql program end to end") {
    import spark.implicits._
    bdb.registerTable("ts1", (1 to 20).map(i => (i.toLong, i * 1.5)).toDF("id", "v"))
    val last = bdb.executeScript(
      """create population ps1 for ts1 (id ignore; v numerical);
        |create generator gs1 for ps1 using nig_normal;
        |initialize 2 models for gs1;
        |analyze gs1 for 1 iteration;
        |simulate v from ps1 limit 7""".stripMargin)
    assert(last.count() == 7)
  }

  test("select rejects model estimators (reference: BQLCompiler_None)") {
    intercept[Exception] {
      bdb.execute("select predictive probability of weight from t1").collect()
    }
  }

  test("estimator in SELECT and ORDER BY evaluates once (reference's documented 2x waste)") {
    // The reference warns (doc/bql.rst:500-527, Github issue #308) that
    // an estimator mentioned in both the output and the ORDER BY is
    // evaluated twice per row under sqlite3, and tells users to wrap a
    // subquery to avoid it. Our planner resolves ORDER BY aliases AND
    // structurally-identical estimator expressions to the projected
    // select column, so the estimator UDF appears exactly once in the
    // optimized plan and the Sort consumes the projected attribute —
    // no subquery workaround needed.
    for (q <- Seq(
        "estimate id, predictive probability of age as pp from p1 order by pp",
        "estimate id, predictive probability of age as pp from p1" +
          " order by predictive probability of age")) {
      val df = bdb.execute(q)
      val plan = df.queryExecution.optimizedPlan.toString
      val udfCount = "UDF\\(".r.findAllIn(plan).size
      assert(udfCount == 1,
        s"estimator must evaluate once, found $udfCount UDF sites in:\n$plan")
      val sortLine = plan.linesIterator.find(_.contains("Sort [")).getOrElse("")
      assert(!sortLine.contains("UDF("),
        s"Sort must consume the projected column, not re-evaluate: $sortLine")
      // and the two forms agree on the result
      assert(df.collect().map(_.getLong(0)).nonEmpty)
    }
  }

  test("the flagship entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
