package graft.operators

import graft.Tables
import graft.bql.BayesDB
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The BQL text surface, driver-checkable: each query is a BQL string
  * executed through the parser + planner (graft.bql), over the same
  * parquet tables the rest of the inventory uses. SQL-expressible
  * queries carry DuckDB oracles — proving the BQL front end produces
  * the same results as the hand-built DataFrame plans; model phrases
  * are rows-only with semantics pinned by BqlExecSpec.
  */
object BqlQueries {

  type Q = (SparkSession, String) => DataFrame

  /** One engine per scale-factor dir, with session lifetime: tables
    * registered once (rowid materialization scans each table once),
    * model lifecycle run once. */
  def bdb(spark: SparkSession, dir: String): BayesDB =
    graft.Memo.engines.getOrElseUpdate(dir) {
      val b = new BayesDB(spark, seed = 42L)
      // register concurrently: each table's rowid pass is its own small
      // Spark job, and per-job latency — not data volume — dominates at
      // this scale (the registry is a thread-safe map)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.traverse(
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents"))(t =>
        Future { b.registerTable(t, Tables.load(spark, dir, t)) }), 15.minutes)
      // model lifecycle over customer, mirroring ModelQueries' ensemble
      b.execute("create population cpop for customer (" +
        "set stattypes of c_acctbal, c_nationkey to numerical; " +
        "ignore c_name, c_mktsegment, c_custkey)")
      b.execute("create generator cgen for cpop using nig_normal")
      b.execute("initialize 8 models for cgen")
      b.execute("analyze cgen for 1 iteration")
      // CrossCat ensemble over lineitem's correlated numeric columns
      // (l_extendedprice scales with l_quantity — dependence must light up)
      b.execute("create population lpop for lineitem (" +
        "set stattypes of l_quantity, l_extendedprice, l_discount to numerical; " +
        "ignore l_orderkey, l_partkey, l_suppkey, l_linenumber, l_tax, " +
        "l_returnflag, l_linestatus, l_shipdate)")
      b.execute("create generator lgen for lpop using cgpm")
      b.execute("initialize 4 models for lgen")
      b.execute("analyze lgen for 10 iterations")
      // composed generator: a latent price factor over l_extendedprice
      // (factor analysis) and a linreg node for l_discount given
      // l_quantity — the cgpm LATENT / OVERRIDE MODEL surface (b21)
      b.execute("""create generator lcomp for lpop using cgpm (
        subsample 300;
        latent pricefac numerical;
        override model for l_extendedprice, pricefac using factor_analysis(l=1);
        override model for l_discount given l_quantity using linreg
      )""")
      b.execute("initialize 2 models for lcomp")
      b.execute("analyze lcomp for 2 iterations")
      // native loom backend over the same population (loom_backend.py's
      // query contract re-implemented without the external server: one
      // inference pass runs inside INITIALIZE, ANALYZE takes the whole
      // sample set only — LoomBackendSpec pins the surface)
      b.execute("create generator lloom for lpop using loom")
      b.execute("initialize 4 models for lloom")
      b.execute("analyze lloom for 4 iterations")
      // constant-9 troll backend on its OWN population over customer
      // (reference src/backends/troll_rng.py) — a separate population,
      // not another generator on cpop: a second generator there would
      // change the multi-generator mixture semantics of every cpop key
      // (SIMULATE/ESTIMATE draw across ALL of a population's
      // generators)
      b.execute("create population tpop for customer (" +
        "set stattypes of c_acctbal, c_nationkey to numerical; " +
        "ignore c_name, c_mktsegment, c_custkey)")
      b.execute("create generator tgen for tpop using troll_rng")
      b.execute("initialize 2 models for tgen")
      // restricted-ANALYZE ensemble (b43): its ONLY analysis passes run
      // under VARIABLES / ROWS / SUBPROBLEMS programs, so the fitted
      // state b43 hashes is a pure function of the restriction
      // machinery (CrossCatBackend's plan restriction) — over NATION
      // (25 rows, entirely inside the 500-row MCMC subsample, so the
      // literal ROWS list is guaranteed incorporated; a larger table's
      // seeded subsample won't deterministically contain named rowids
      // — the named-error path BqlExecSpec pins)
      b.execute("create population nrpop for nation (" +
        "set stattypes of n_nationkey, n_regionkey to numerical; " +
        "ignore n_name)")
      b.execute("create generator nrgen for nrpop using cgpm")
      b.execute("initialize 2 models for nrgen")
      b.execute("analyze nrgen for 2 iterations " +
        "(variables n_nationkey, n_regionkey; " +
        "rows 1, 2, 3, 4, 5, 6, 7, 8; " +
        "subproblems (row clustering, variable hyperparameters))")
      b.execute("analyze nrgen for 1 iteration (skip n_regionkey)")
      b
    }

  /** b01: BQL SELECT with filter + group + having + order (the pricing
    * summary shape through the parser/planner path). */
  val b01Select: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT l_returnflag, l_linestatus,
      |       count(*) AS n,
      |       sum(l_quantity) AS sum_qty,
      |       avg(l_extendedprice) AS avg_price
      |FROM lineitem
      |WHERE l_quantity < 30
      |GROUP BY l_returnflag, l_linestatus
      |HAVING count(*) > 10
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  val b01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(count(*) AS BIGINT) AS n,
      |       sum(l_quantity) AS sum_qty,
      |       avg(l_extendedprice) AS avg_price
      |FROM lineitem
      |WHERE l_quantity < 30
      |GROUP BY l_returnflag, l_linestatus
      |HAVING count(*) > 10
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** b02: comma cross join + WHERE equality (BQL's only join form;
    * Catalyst rewrites to an equi-join). */
  val b02Join: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT n.n_name, count(*) AS n_customers
      |FROM customer AS c, nation AS n
      |WHERE c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name
      |ORDER BY n_customers DESC, n.n_name
      |LIMIT 10""".stripMargin)

  val b02Sql: String =
    """SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_customers
      |FROM customer c, nation n
      |WHERE c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name
      |ORDER BY n_customers DESC, n.n_name
      |LIMIT 10""".stripMargin

  /** b03: IN-subquery + scalar subquery, both kept in the plan as
    * Catalyst subquery expressions. */
  val b03Subquery: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT c_custkey, c_acctbal
      |FROM customer
      |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
      |  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer)
      |ORDER BY c_acctbal DESC, c_custkey
      |LIMIT 20""".stripMargin)

  val b03Sql: String =
    """SELECT c_custkey, c_acctbal
      |FROM customer
      |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
      |  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer)
      |ORDER BY c_acctbal DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** b04: CASE / CAST / LIKE / IS NULL family. SQLite LIKE is
    * case-insensitive → DuckDB oracle uses ILIKE. */
  val b04Expressions: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT p_partkey,
      |       CASE WHEN p_size < 10 THEN 'small'
      |            WHEN p_size < 30 THEN 'medium'
      |            ELSE 'large' END AS size_class,
      |       CAST(p_retailprice AS int) AS price_int
      |FROM part
      |WHERE p_type LIKE '%BRASS%' AND p_name IS NOT NULL
      |ORDER BY p_partkey
      |LIMIT 50""".stripMargin)

  val b04Sql: String =
    """SELECT p_partkey,
      |       CASE WHEN p_size < 10 THEN 'small'
      |            WHEN p_size < 30 THEN 'medium'
      |            ELSE 'large' END AS size_class,
      |       CAST(floor(p_retailprice) AS BIGINT) AS price_int
      |FROM part
      |WHERE p_type ILIKE '%BRASS%' AND p_name IS NOT NULL
      |ORDER BY p_partkey
      |LIMIT 50""".stripMargin

  /** b05: GUESS SCHEMA FOR through the command path (rows-only —
    * heuristic output pinned by GuessSpec). */
  val b05GuessSchema: Q = (spark, dir) =>
    bdb(spark, dir).execute("GUESS SCHEMA FOR documents")

  /** b06: ESTIMATE with a model estimator column (rows-only). */
  val b06Estimate: Q = (spark, dir) => bdb(spark, dir).execute(
    """ESTIMATE c_custkey, PREDICTIVE PROBABILITY OF c_acctbal AS pp
      |FROM cpop
      |WHERE c_custkey <= 200
      |ORDER BY c_custkey""".stripMargin)

  /** b07: INFER with deterministic missingness (rows-only). */
  val b07Infer: Q = (spark, dir) => {
    val b = bdb(spark, dir)
    if (!b.hasTable("customer_holes")) {
      import org.apache.spark.sql.functions._
      val holes = Tables.load(spark, dir, "customer")
        .withColumn("c_acctbal",
          when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal")))
      b.registerTable("customer_holes", holes)
      b.execute("create population hpop for customer_holes (" +
        "set stattypes of c_acctbal, c_nationkey to numerical; " +
        "ignore c_name, c_mktsegment, c_custkey)")
      b.execute("create generator hgen for hpop using nig_normal")
      b.execute("initialize 4 models for hgen")
      b.execute("analyze hgen for 1 iteration")
    }
    b.execute(
      """INFER EXPLICIT c_custkey, PREDICT c_acctbal AS bal_hat CONFIDENCE bal_conf
        |FROM hpop
        |WHERE c_custkey <= 500
        |ORDER BY c_custkey""".stripMargin)
  }

  /** b08: SIMULATE materialization (rows-only; deterministic seed). */
  val b08Simulate: Q = (spark, dir) => bdb(spark, dir).execute(
    "SIMULATE c_acctbal, c_nationkey FROM cpop GIVEN c_nationkey = 3 LIMIT 100")

  /** b09: ESTIMATE ... FROM PAIRWISE VARIABLES OF (2-col context). */
  val b09PairwiseVars: Q = (spark, dir) => bdb(spark, dir).execute(
    """ESTIMATE DEPENDENCE PROBABILITY
      |FROM PAIRWISE VARIABLES OF cpop
      |ORDER BY name0, name1""".stripMargin)

  /** b10: REGRESS through simulate + OLS (rows-only). */
  val b10Regress: Q = (spark, dir) => bdb(spark, dir).execute(
    "REGRESS c_acctbal GIVEN (c_nationkey) USING 200 SAMPLES BY cpop")

  /** b11: 2-row SIMILARITY over a bounded pairwise self-join. */
  val b11SimilarityPairwise: Q = (spark, dir) => bdb(spark, dir).execute(
    """ESTIMATE SIMILARITY IN THE CONTEXT OF c_acctbal
      |FROM PAIRWISE cpop
      |WHERE r0.rowid <= 20 AND r1.rowid <= 20
      |ORDER BY rowid0, rowid1""".stripMargin)

  /** b12: PREDICTIVE RELEVANCE const form (rows-only; nig_normal
    * degenerate until CrossCat). */
  val b12PredictiveRelevance: Q = (spark, dir) => bdb(spark, dir).execute(
    """ESTIMATE PREDICTIVE RELEVANCE OF (rowid = 1)
      |TO EXISTING ROWS (rowid <= 10)
      |AND HYPOTHETICAL ROWS WITH VALUES ((c_acctbal = 5000))
      |IN THE CONTEXT OF c_acctbal
      |BY cpop""".stripMargin)

  /** b13: ESTIMATE ... FROM VARIABLES OF (1-col context). Oracle-backed
    * since r13: `*` over VARIABLES expands to the deterministic variable
    * metadata (`name`) and CORRELATION is frequentist Pearson r² with no
    * model dependency (reference src/compiler.py:844-919 — the VARIABLES
    * relation is population metadata, not model state), so DuckDB can
    * restate the whole output: the self-correlation 1.0 literal plus r²
    * recomputed from the same parquet. */
  val b13Variables: Q = (spark, dir) => bdb(spark, dir).execute(
    """ESTIMATE *, CORRELATION WITH c_acctbal AS corr
      |FROM VARIABLES OF cpop
      |ORDER BY name""".stripMargin)

  val b13Sql: String =
    """SELECT * FROM (
      |  SELECT 'c_acctbal' AS name, 1.0 AS corr
      |  UNION ALL
      |  SELECT 'c_nationkey' AS name,
      |         pow(corr(c_nationkey, c_acctbal), 2) AS corr
      |  FROM customer
      |  WHERE c_nationkey IS NOT NULL AND c_acctbal IS NOT NULL
      |) ORDER BY name""".stripMargin

  /** b33: the CORRELATION-only FROM VARIABLES surface, DuckDB-oracled —
    * unlike b13 (which mixes `*`), the estimator here is pure frequentist
    * Pearson r² with no model dependency, so the whole ESTIMATE ... FROM
    * VARIABLES OF pipeline (variable enumeration, 1-col context binding,
    * per-variable dispatch) sits behind the exact oracle. */
  val b33VariablesCorrelation: Q = (spark, dir) => bdb(spark, dir).execute(
    """ESTIMATE name, round(CORRELATION WITH c_acctbal, 6) AS corr
      |FROM VARIABLES OF cpop
      |ORDER BY name""".stripMargin)

  val b33Sql: String =
    """SELECT * FROM (
      |  SELECT 'c_acctbal' AS name, 1.0 AS corr
      |  UNION ALL
      |  SELECT 'c_nationkey' AS name,
      |         round(pow(corr(c_nationkey, c_acctbal), 2), 6) AS corr
      |  FROM customer
      |  WHERE c_nationkey IS NOT NULL AND c_acctbal IS NOT NULL
      |) ORDER BY name""".stripMargin

  /** b34: CORRELATION const form inside a row-wise ESTIMATE ... FROM p
    * (the b06 shape restricted to the SQL-expressible estimator). */
  val b34EstimateCorrelation: Q = (spark, dir) => bdb(spark, dir).execute(
    """ESTIMATE c_custkey, c_acctbal,
      |         round(CORRELATION OF c_acctbal WITH c_nationkey, 6) AS corr
      |FROM cpop
      |WHERE c_custkey <= 50
      |ORDER BY c_custkey""".stripMargin)

  val b34Sql: String =
    """SELECT c_custkey, c_acctbal,
      |       (SELECT round(pow(corr(c_acctbal, c_nationkey), 2), 6)
      |        FROM customer
      |        WHERE c_acctbal IS NOT NULL AND c_nationkey IS NOT NULL) AS corr
      |FROM customer
      |WHERE c_custkey <= 50
      |ORDER BY c_custkey""".stripMargin

  /** b14: CrossCat DEPENDENCE PROBABILITY — non-degenerate (unlike
    * nig_normal's constant 0) over lineitem's correlated columns. */
  val b14CrosscatDependence: Q = (spark, dir) => bdb(spark, dir).execute(
    """ESTIMATE DEPENDENCE PROBABILITY
      |FROM PAIRWISE VARIABLES OF lpop MODELED BY lgen
      |ORDER BY name0, name1""".stripMargin)

  /** b39: DEPENDENCE PROBABILITY through the native loom backend —
    * the same-kind indicator read from loom's stored column partitions
    * (reference loom_backend.py:532-549); l_quantity/l_extendedprice
    * must co-assign. */
  val b39LoomDependence: Q = (spark, dir) => bdb(spark, dir).execute(
    """ESTIMATE DEPENDENCE PROBABILITY
      |FROM PAIRWISE VARIABLES OF lpop MODELED BY lloom
      |ORDER BY name0, name1""".stripMargin)

  /** b40: the troll_rng constant-9 estimator contract through the FULL
    * BQL surface (reference src/backends/troll_rng.py:37-65): SIMULATE
    * draws are 9, PREDICT is (9, confidence 1), PROBABILITY DENSITY OF
    * VALUE 9 is exp(0)=1 and of any other value exp(-inf)=0 — closed
    * forms the DuckDB oracle states as literals, pinning the backend
    * dispatch + estimator plumbing with zero sampling noise. */
  val b40TrollEstimators: Q = (spark, dir) => {
    val b = bdb(spark, dir)
    import spark.implicits._
    val sims = b.execute(
      "SIMULATE c_acctbal, c_nationkey FROM tpop LIMIT 3")
      .collect().toSeq.sortBy(r => (r.getDouble(0), r.getDouble(1)))
      .zipWithIndex.flatMap { case (r, i) =>
        Seq((s"sim${i}_acctbal", r.getDouble(0)),
          (s"sim${i}_nation", r.getDouble(1)))
      }
    val pred = b.execute(
      """INFER EXPLICIT PREDICT c_acctbal AS v CONFIDENCE conf
        |FROM tpop LIMIT 1""".stripMargin)
      .collect().head
    val d9 = b.execute(
      "ESTIMATE PROBABILITY DENSITY OF c_acctbal = 9 AS d BY tpop")
      .collect().head.getDouble(0)
    val d7 = b.execute(
      "ESTIMATE PROBABILITY DENSITY OF c_acctbal = 7 AS d BY tpop")
      .collect().head.getDouble(0)
    (sims ++ Seq(
      ("predict_value", pred.getDouble(0)),
      ("predict_confidence", pred.getDouble(1)),
      ("density_at_9", d9),
      ("density_at_7", d7)))
      .toDF("metric", "value").orderBy("metric")
  }

  /** b41: loom SIMULATE GIVEN an observed rowid — the native loom
    * contract's observed-cells-only conditioning path (the adapter
    * conditions on the row's OBSERVED cells only, never latents —
    * reference test_loom_backend.py simulate-given-rowid cases;
    * LoomBackendSpec pins the constraint-overlap rejection). Rows-only
    * + det_match: draws are model samples, but deterministic per seed. */
  val b41LoomSimulateRowid: Q = (spark, dir) => bdb(spark, dir).execute(
    """SIMULATE l_extendedprice, l_discount FROM lpop MODELED BY lloom
      |GIVEN rowid = 5 LIMIT 40""".stripMargin)

  /** b43: restricted-ANALYZE determinism — the ONLY analysis nrgen ever
    * receives runs under explicit ANALYZE programs (VARIABLES + ROWS +
    * SUBPROBLEMS, then SKIP), so the ensemble state this key reflects
    * is a pure function of the restriction machinery
    * (CrossCatBackend's kernel/row/variable plan restriction — the
    * reference's `bayesdb_generator_analyze` program surface). The
    * det_match gate re-fits from scratch under the same seed and
    * hash-compares: a map-iteration-order or RNG leak ANYWHERE in the
    * restricted Gibbs path flips it. Rows-only by the same argument as
    * b14–b16 (sampler output no SQL engine restates). */
  val b43RestrictedAnalyze: Q = (spark, dir) => bdb(spark, dir).execute(
    """ESTIMATE DEPENDENCE PROBABILITY
      |FROM PAIRWISE VARIABLES OF nrpop MODELED BY nrgen
      |ORDER BY name0, name1""".stripMargin)

  /** b42: the persistence contract — the reference's on-disk .bdb
    * analogue ([[BayesDB.save]]/[[BayesDB.open]]; reference
    * bayesdb_open/bayesdb_save, src/bayesdb.py:50-88) driven through
    * the ORACLE gate: build a fresh engine, register a table, fit the
    * troll_rng generator, SAVE, reOPEN from disk, and run b40's full
    * closed-form estimator battery on the REOPENED engine plus a
    * relational count on the RESTORED table snapshot. Pins that
    * serialization preserves the catalog, fitted model states,
    * registered tables (rowid included — no re-indexing on open), and
    * the engine seed; any drift surfaces as a literal mismatch. */
  val b42SaveReopen: Q = (spark, dir) => {
    import spark.implicits._
    val fresh = new BayesDB(spark, seed = 42L)
    fresh.registerTable("customer", Tables.load(spark, dir, "customer"))
    fresh.execute("create population tpop for customer (" +
      "set stattypes of c_acctbal, c_nationkey to numerical; " +
      "ignore c_name, c_mktsegment, c_custkey)")
    fresh.execute("create generator tgen for tpop using troll_rng")
    fresh.execute("initialize 2 models for tgen")
    val tmp = java.nio.file.Files.createTempDirectory("graft_b42_").toString
    fresh.save(tmp)
    val b = BayesDB.open(spark, tmp)
    val sims = b.execute(
      "SIMULATE c_acctbal, c_nationkey FROM tpop LIMIT 3")
      .collect().toSeq.sortBy(r => (r.getDouble(0), r.getDouble(1)))
      .zipWithIndex.flatMap { case (r, i) =>
        Seq((s"sim${i}_acctbal", r.getDouble(0)),
          (s"sim${i}_nation", r.getDouble(1)))
      }
    val pred = b.execute(
      """INFER EXPLICIT PREDICT c_acctbal AS v CONFIDENCE conf
        |FROM tpop LIMIT 1""".stripMargin)
      .collect().head
    val d9 = b.execute(
      "ESTIMATE PROBABILITY DENSITY OF c_acctbal = 9 AS d BY tpop")
      .collect().head.getDouble(0)
    val n = b.execute("SELECT count(*) AS n FROM customer")
      .collect().head.getLong(0)
    (sims ++ Seq(
      ("predict_value", pred.getDouble(0)),
      ("predict_confidence", pred.getDouble(1)),
      ("density_at_9", d9),
      ("n_customer", n.toDouble)))
      .toDF("metric", "value").orderBy("metric")
  }

  /** b15: CrossCat 2-row similarity over a bounded pairwise join. */
  val b15CrosscatSimilarity: Q = (spark, dir) => bdb(spark, dir).execute(
    """ESTIMATE SIMILARITY IN THE CONTEXT OF l_quantity
      |FROM PAIRWISE lpop MODELED BY lgen
      |WHERE r0.rowid <= 12 AND r1.rowid <= 12
      |ORDER BY rowid0, rowid1""".stripMargin)

  /** b16: CrossCat conditional simulate (mixture posterior predictive). */
  val b16CrosscatSimulate: Q = (spark, dir) => bdb(spark, dir).execute(
    "SIMULATE l_extendedprice FROM lpop MODELED BY lgen GIVEN l_quantity = 40 LIMIT 50")

  /** b22: CrossCat INFER with row-conditioned imputation — PREDICT
    * draws condition on each row's latent cluster / observed cells
    * (not the marginal), bounded by the WHERE for bench stability. */
  val b22CrosscatInfer: Q = (spark, dir) => bdb(spark, dir).execute(
    """INFER EXPLICIT rowid, l_quantity,
      |  PREDICT l_extendedprice AS price_hat CONFIDENCE price_conf USING 8 SAMPLES
      |FROM lpop MODELED BY lgen
      |WHERE rowid <= 300
      |ORDER BY rowid""".stripMargin)

  /** b24: INFER through an OVERRIDE-composed output at bench scale —
    * PREDICT l_discount routes through the network: the linreg node
    * conditions on l_quantity, and the baseline evidence flows through
    * the CrossCat row context (CompositionSpec pins the imputed values
    * against the fitted line on a synthetic fixture). */
  val b24ForeignInfer: Q = (spark, dir) => bdb(spark, dir).execute(
    """INFER EXPLICIT rowid, l_quantity,
      |  PREDICT l_discount AS disc_hat CONFIDENCE disc_conf USING 4 SAMPLES
      |FROM lpop MODELED BY lcomp
      |WHERE rowid <= 200
      |ORDER BY rowid""".stripMargin)

  /** b21: cgpm composition — network dependence over a population whose
    * generator carries a LATENT factor (factor_analysis) and a linreg
    * OVERRIDE node; the latent appears as a first-class variable. */
  val b21Composition: Q = (spark, dir) => bdb(spark, dir).execute(
    """ESTIMATE DEPENDENCE PROBABILITY
      |FROM PAIRWISE VARIABLES OF lpop MODELED BY lcomp
      |ORDER BY name0, name1""".stripMargin)

  /** b17: EXISTS + NOT IN + BETWEEN, subqueries kept in the plan. */
  val b17Exists: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE EXISTS (SELECT 1 FROM nation WHERE n_regionkey = 0)
      |  AND s_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
      |  AND s_suppkey BETWEEN 10 AND 50
      |ORDER BY s_suppkey""".stripMargin)

  val b17Sql: String =
    """SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE EXISTS (SELECT 1 FROM nation WHERE n_regionkey = 0)
      |  AND s_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
      |  AND s_suppkey BETWEEN 10 AND 50
      |ORDER BY s_suppkey""".stripMargin

  /** b18: GLOB (anchored, case-sensitive) + COLLATE NOCASE comparison. */
  val b18GlobCollate: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT n_nationkey, n_name
      |FROM nation
      |WHERE n_name GLOB 'A*' OR n_name = 'france' COLLATE NOCASE
      |ORDER BY n_nationkey""".stripMargin)

  val b18Sql: String =
    """SELECT n_nationkey, n_name
      |FROM nation
      |WHERE n_name GLOB 'A*' OR lower(n_name) = lower('france')
      |ORDER BY n_nationkey""".stripMargin

  /** b19: positional GROUP BY / ORDER BY + LIMIT k,n (SQLite comma
    * form) + scalar function surface. */
  val b19Positional: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT o_orderpriority, count(*) AS n,
      |       round(avg(o_totalprice), 2) AS avg_price,
      |       min(substr(o_orderpriority, 1, 1)) AS pfx
      |FROM orders
      |GROUP BY 1
      |ORDER BY 2 DESC, 1
      |LIMIT 1, 3""".stripMargin)

  val b19Sql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |       round(avg(o_totalprice), 2) AS avg_price,
      |       min(substr(o_orderpriority, 1, 1)) AS pfx
      |FROM orders
      |GROUP BY 1
      |ORDER BY 2 DESC, 1
      |LIMIT 3 OFFSET 1""".stripMargin

  /** b20: expression surface — IS/IS NOT null-safe equality, CASE keyed,
    * nullif/coalesce, math builtins, string ops. */
  val b20Expressions: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT r_regionkey,
      |       upper(r_name) AS uname,
      |       CASE r_regionkey WHEN 0 THEN 'zero' WHEN 1 THEN 'one' ELSE 'many' END AS k,
      |       coalesce(nullif(r_regionkey, 0), -1) AS nz,
      |       round(sqrt(r_regionkey + 1), 6) AS rt,
      |       length(r_name) AS len
      |FROM region
      |WHERE r_name IS NOT NULL AND NOT (r_regionkey IS 99)
      |ORDER BY r_regionkey""".stripMargin)

  val b20Sql: String =
    """SELECT r_regionkey,
      |       upper(r_name) AS uname,
      |       CASE r_regionkey WHEN 0 THEN 'zero' WHEN 1 THEN 'one' ELSE 'many' END AS k,
      |       CAST(coalesce(nullif(r_regionkey, 0), -1) AS BIGINT) AS nz,
      |       round(sqrt(r_regionkey + 1), 6) AS rt,
      |       CAST(length(r_name) AS BIGINT) AS len
      |FROM region
      |WHERE r_name IS NOT NULL AND NOT (r_regionkey IS NOT DISTINCT FROM 99)
      |ORDER BY r_regionkey""".stripMargin

  /** b23: correlated subqueries (round-4 D3 narrowing) — an aggregate
    * scalar decorrelated into a grouped left join (count with the empty
    * group = 0 case live: some nations have no customers at sf0.001), a
    * second correlated aggregate, and a correlated EXISTS planned as a
    * native exists-subquery (reference: correlated subqueries come free
    * from SQLite, src/compiler.py:1795-1797). */
  val b23Correlated: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT n_name,
      |       (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey) AS custs,
      |       (SELECT max(c_acctbal) FROM customer WHERE c_nationkey = n_nationkey) AS top_bal
      |FROM nation
      |WHERE EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey)
      |ORDER BY custs DESC, n_name
      |LIMIT 10""".stripMargin)

  val b23Sql: String =
    """SELECT n_name,
      |       (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey) AS custs,
      |       (SELECT max(c_acctbal) FROM customer WHERE c_nationkey = n_nationkey) AS top_bal
      |FROM nation
      |WHERE EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey)
      |ORDER BY custs DESC, n_name
      |LIMIT 10""".stripMargin

  /** b25: correlated aggregate scalar subquery in an ESTIMATE frame's
    * WHERE — the population's base table is the outer scope, referenced
    * qualified from the inner query; the same decorrelation pre-pass as
    * SELECT runs because ESTIMATE assembles through it (round-6 D3
    * narrowing; reference compiles ESTIMATE WHERE as plain SQLite SQL so
    * correlation is free there, src/compiler.py:1795-1797). ESTIMATE of
    * plain base columns is SQL-expressible, so this one is oracled. */
  val b25EstimateCorrelated: Q = (spark, dir) => bdb(spark, dir).execute(
    """ESTIMATE c_custkey, c_acctbal FROM cpop
      |WHERE c_acctbal > (SELECT avg(u.c_acctbal) FROM customer AS u
      |                   WHERE u.c_nationkey = customer.c_nationkey)
      |ORDER BY c_custkey
      |LIMIT 50""".stripMargin)

  val b25Sql: String =
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE c_acctbal > (SELECT avg(u.c_acctbal) FROM customer AS u
      |                   WHERE u.c_nationkey = customer.c_nationkey)
      |ORDER BY c_custkey
      |LIMIT 50""".stripMargin

  /** b26: NON-equality correlated aggregate scalars (round-6 D3
    * narrowing) — "how many earlier orders did this customer place, and
    * what was the priciest of them": an equality pair PLUS a `<`
    * correlation, which the grouped-equality rewrite refuses and the
    * theta decorrelation handles (distinct outer key tuples →
    * theta join → group → null-safe rejoin; the equality half still
    * becomes the shuffle key, so the join is an equi-join with a range
    * residual, never a cross product). First order per customer counts
    * 0 / maxes NULL — the empty-theta-group case live. (Reference:
    * correlated subqueries come free from SQLite,
    * src/compiler.py:1795-1797.) */
  val b26ThetaCorrelated: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT o_orderkey,
      |       (SELECT count(*) FROM orders AS u
      |        WHERE u.o_custkey = orders.o_custkey
      |          AND u.o_orderdate < orders.o_orderdate) AS n_earlier,
      |       (SELECT max(u.o_totalprice) FROM orders AS u
      |        WHERE u.o_custkey = orders.o_custkey
      |          AND u.o_orderdate < orders.o_orderdate) AS prev_max
      |FROM orders
      |ORDER BY o_orderkey
      |LIMIT 100""".stripMargin)

  val b26Sql: String =
    """SELECT o_orderkey,
      |       (SELECT count(*) FROM orders AS u
      |        WHERE u.o_custkey = orders.o_custkey
      |          AND u.o_orderdate < orders.o_orderdate) AS n_earlier,
      |       (SELECT max(u.o_totalprice) FROM orders AS u
      |        WHERE u.o_custkey = orders.o_custkey
      |          AND u.o_orderdate < orders.o_orderdate) AS prev_max
      |FROM orders
      |ORDER BY o_orderkey
      |LIMIT 100""".stripMargin

  /** b27: GROUPED correlated scalar subqueries (round-6 D3 narrowing) —
    * greatest-n-per-group written as a scalar: each customer's most
    * frequent order priority (string item = a group key), its count
    * (aggregate item), the runner-up via OFFSET (row 2 of the ordered
    * groups; NULL when only one group exists), plus an ungrouped
    * aggregate whose no-op ORDER BY/LIMIT is stripped by
    * normalization. Decorrelates into one grouped aggregate + one
    * window ranked by the ORDER BY + equi-joins — never a per-row
    * subquery. Tie-breaks are total (count DESC, priority ASC) so the
    * picked row is deterministic on both engines. */
  val b27GroupedCorrelated: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT c_custkey,
      |       (SELECT o_orderpriority FROM orders WHERE o_custkey = c_custkey
      |        GROUP BY o_orderpriority
      |        ORDER BY count(*) DESC, o_orderpriority LIMIT 1) AS top_prio,
      |       (SELECT count(*) FROM orders WHERE o_custkey = c_custkey
      |        GROUP BY o_orderpriority
      |        ORDER BY count(*) DESC, o_orderpriority LIMIT 1) AS top_prio_n,
      |       (SELECT o_orderpriority FROM orders WHERE o_custkey = c_custkey
      |        GROUP BY o_orderpriority
      |        ORDER BY count(*) DESC, o_orderpriority
      |        LIMIT 1 OFFSET 1) AS second_prio,
      |       (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey
      |        ORDER BY 1 LIMIT 1) AS max_spend
      |FROM customer
      |WHERE c_custkey <= 300
      |ORDER BY c_custkey""".stripMargin)

  val b27Sql: String =
    """SELECT c_custkey,
      |       (SELECT o_orderpriority FROM orders WHERE o_custkey = c_custkey
      |        GROUP BY o_orderpriority
      |        ORDER BY count(*) DESC, o_orderpriority LIMIT 1) AS top_prio,
      |       (SELECT count(*) FROM orders WHERE o_custkey = c_custkey
      |        GROUP BY o_orderpriority
      |        ORDER BY count(*) DESC, o_orderpriority LIMIT 1) AS top_prio_n,
      |       (SELECT o_orderpriority FROM orders WHERE o_custkey = c_custkey
      |        GROUP BY o_orderpriority
      |        ORDER BY count(*) DESC, o_orderpriority
      |        LIMIT 1 OFFSET 1) AS second_prio,
      |       (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey
      |        ORDER BY 1 LIMIT 1) AS max_spend
      |FROM customer
      |WHERE c_custkey <= 300
      |ORDER BY c_custkey""".stripMargin

  /** b28: DEPTH-2 correlation (round-6 D3 narrowing) — the innermost
    * avg references o_orderkey TWO frames up; the mid level's equality
    * pair (l_orderkey = o_orderkey) requalifies the deep ref to the mid
    * frame, after which each level decorrelates one step into grouped
    * equi-joins. Orders with no above-average items exercise the empty
    * group live at both levels (count 0 / max NULL). */
  val b28NestedCorrelated: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT o_orderkey,
      |  (SELECT max(l_extendedprice) FROM lineitem
      |   WHERE l_orderkey = o_orderkey
      |     AND l_extendedprice > (SELECT avg(l_extendedprice) FROM lineitem AS l2
      |                            WHERE l2.l_orderkey = o_orderkey)) AS top_above_avg,
      |  (SELECT count(*) FROM lineitem
      |   WHERE l_orderkey = o_orderkey
      |     AND l_extendedprice > (SELECT avg(l_extendedprice) FROM lineitem AS l2
      |                            WHERE l2.l_orderkey = o_orderkey)) AS n_above_avg
      |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin)

  val b28Sql: String =
    """SELECT o_orderkey,
      |  (SELECT max(l_extendedprice) FROM lineitem
      |   WHERE l_orderkey = o_orderkey
      |     AND l_extendedprice > (SELECT avg(l_extendedprice) FROM lineitem AS l2
      |                            WHERE l2.l_orderkey = o_orderkey)) AS top_above_avg,
      |  (SELECT count(*)::BIGINT FROM lineitem
      |   WHERE l_orderkey = o_orderkey
      |     AND l_extendedprice > (SELECT avg(l_extendedprice) FROM lineitem AS l2
      |                            WHERE l2.l_orderkey = o_orderkey)) AS n_above_avg
      |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin

  /** b35: grouped/limited EXISTS-IN bodies in aggregate-bound mask
    * positions (round-8 D3 narrowing) — the EXISTS body carries GROUP BY
    * + ORDER BY + LIMIT (all existence-irrelevant: groups exist ⟺ rows
    * exist, order/cap don't change emptiness), the IN body GROUP BY on
    * its selected key (membership in grouped values ≡ raw values). Both
    * rewrite to decorrelatable counts inside the theta machinery. */
  val b35GroupedExistsIn: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT o_orderkey,
      |  (SELECT count(*) FROM lineitem AS l
      |   WHERE l.l_orderkey = o_orderkey
      |     AND EXISTS (SELECT p_brand FROM part AS p
      |                 WHERE p.p_partkey = l.l_partkey
      |                   AND p.p_retailprice > o_totalprice * 0.01
      |                 GROUP BY p_brand
      |                 ORDER BY p_brand
      |                 LIMIT 3)) AS n_exists_grouped,
      |  (SELECT count(*) FROM lineitem AS l
      |   WHERE l.l_orderkey = o_orderkey
      |     AND l.l_partkey IN (SELECT p_partkey FROM part AS p
      |                         WHERE p.p_size > o_custkey / 100.0
      |                         GROUP BY p_partkey)) AS n_in_grouped
      |FROM orders
      |WHERE o_orderkey <= 300
      |ORDER BY o_orderkey""".stripMargin)

  val b35Sql: String =
    """SELECT o_orderkey,
      |  (SELECT count(*)::BIGINT FROM lineitem l
      |   WHERE l.l_orderkey = o_orderkey
      |     AND EXISTS (SELECT p_brand FROM part p
      |                 WHERE p.p_partkey = l.l_partkey
      |                   AND p.p_retailprice > o_totalprice * 0.01
      |                 GROUP BY p_brand
      |                 ORDER BY p_brand
      |                 LIMIT 3)) AS n_exists_grouped,
      |  (SELECT count(*)::BIGINT FROM lineitem l
      |   WHERE l.l_orderkey = o_orderkey
      |     AND l.l_partkey IN (SELECT p_partkey FROM part p
      |                         WHERE p.p_size > o_custkey / 100.0
      |                         GROUP BY p_partkey)) AS n_in_grouped
      |FROM orders
      |WHERE o_orderkey <= 300
      |ORDER BY o_orderkey""".stripMargin

  /** b36: deep refs hidden inside FROM-subqueries (round-8 D3 closing) —
    * SQLite resolves outer names from any subquery position, FROM-terms
    * included; the planner flattens the correlated FROM-term into its
    * enclosing scalar body, surfacing the predicate where the equality
    * decorrelator sees it. The DuckDB oracle states the flattened
    * equivalent (DuckDB rejects non-LATERAL correlated FROM-terms). */
  val b36FromSubqueryDeep: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT o_orderkey,
      |  round((SELECT avg(x) FROM (SELECT l_extendedprice * (1 - l_discount) AS x
      |                             FROM lineitem
      |                             WHERE l_orderkey = o_orderkey) AS t), 6) AS avg_net,
      |  (SELECT count(*) FROM (SELECT l_linenumber AS ln FROM lineitem
      |                         WHERE l_orderkey = o_orderkey) AS u
      |   WHERE u.ln > 2) AS n_late_lines
      |FROM orders
      |WHERE o_orderkey <= 500
      |ORDER BY o_orderkey""".stripMargin)

  val b36Sql: String =
    """SELECT o_orderkey,
      |  round((SELECT avg(l_extendedprice * (1 - l_discount)) FROM lineitem
      |         WHERE l_orderkey = o_orderkey), 6) AS avg_net,
      |  (SELECT count(*)::BIGINT FROM lineitem
      |   WHERE l_orderkey = o_orderkey AND l_linenumber > 2) AS n_late_lines
      |FROM orders
      |WHERE o_orderkey <= 500
      |ORDER BY o_orderkey""".stripMargin

  /** b37: EXISTS over GROUP BY + HAVING in correlated positions
    * (round-8 D3 closing) — no plain existence-equivalent body exists,
    * so the planner rewrites to the b31 grouped-scalar form
    * ((SELECT 1 ... ORDER BY 1 LIMIT 1) IS NOT NULL) and the grouped
    * theta decorrelator takes it. Exercised in both the plain filter
    * position and the aggregate-bound mask position, with the HAVING
    * predicate correlated to the mid frame. */
  val b37ExistsHaving: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT o_orderkey,
      |  (SELECT count(*) FROM lineitem AS l
      |   WHERE l.l_orderkey = o_orderkey
      |     AND EXISTS (SELECT 1 FROM part AS p
      |                 WHERE p.p_partkey = l.l_partkey
      |                 GROUP BY p.p_brand
      |                 HAVING max(p.p_retailprice) > l.l_extendedprice / 20)) AS n_hv
      |FROM orders
      |WHERE o_orderkey <= 300
      |  AND EXISTS (SELECT 1 FROM lineitem AS l2
      |              WHERE l2.l_orderkey = o_orderkey
      |              GROUP BY l2.l_returnflag
      |              HAVING sum(l2.l_quantity) > 60)
      |ORDER BY o_orderkey""".stripMargin)

  val b37Sql: String =
    """SELECT o_orderkey,
      |  (SELECT count(*)::BIGINT FROM lineitem l
      |   WHERE l.l_orderkey = o_orderkey
      |     AND EXISTS (SELECT 1 FROM part p
      |                 WHERE p.p_partkey = l.l_partkey
      |                 GROUP BY p.p_brand
      |                 HAVING max(p.p_retailprice) > l.l_extendedprice / 20)) AS n_hv
      |FROM orders
      |WHERE o_orderkey <= 300
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = o_orderkey
      |              GROUP BY l2.l_returnflag
      |              HAVING sum(l2.l_quantity) > 60)
      |ORDER BY o_orderkey""".stripMargin

  /** b38: IN over HAVING-filtered group keys in an aggregate-bound mask
    * (round-8 D3 closing): membership composes three-valued from
    * EXISTS-HAVING probes (TRUE on a passing matching group / NULL on
    * NULL comparisons / FALSE otherwise), each probe riding the b37
    * grouped-scalar decorrelation. */
  val b38InHaving: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT o_orderkey,
      |  (SELECT count(*) FROM lineitem AS l
      |   WHERE l.l_orderkey = o_orderkey
      |     AND l.l_suppkey IN (SELECT l2.l_suppkey FROM lineitem AS l2
      |                         WHERE l2.l_orderkey = o_orderkey
      |                         GROUP BY l2.l_suppkey
      |                         HAVING sum(l2.l_quantity) > 25)) AS n_in_hv,
      |  (SELECT count(*) FROM lineitem AS l
      |   WHERE l.l_orderkey = o_orderkey
      |     AND l.l_partkey NOT IN (SELECT l2.l_partkey FROM lineitem AS l2
      |                             WHERE l2.l_orderkey = o_orderkey
      |                             GROUP BY l2.l_partkey
      |                             HAVING avg(l2.l_discount) > 0.05)) AS n_notin_hv
      |FROM orders
      |WHERE o_orderkey <= 300
      |ORDER BY o_orderkey""".stripMargin)

  val b38Sql: String =
    """SELECT o_orderkey,
      |  (SELECT count(*)::BIGINT FROM lineitem l
      |   WHERE l.l_orderkey = o_orderkey
      |     AND l.l_suppkey IN (SELECT l2.l_suppkey FROM lineitem l2
      |                         WHERE l2.l_orderkey = o_orderkey
      |                         GROUP BY l2.l_suppkey
      |                         HAVING sum(l2.l_quantity) > 25)) AS n_in_hv,
      |  (SELECT count(*)::BIGINT FROM lineitem l
      |   WHERE l.l_orderkey = o_orderkey
      |     AND l.l_partkey NOT IN (SELECT l2.l_partkey FROM lineitem l2
      |                             WHERE l2.l_orderkey = o_orderkey
      |                             GROUP BY l2.l_partkey
      |                             HAVING avg(l2.l_discount) > 0.05)) AS n_notin_hv
      |FROM orders
      |WHERE o_orderkey <= 300
      |ORDER BY o_orderkey""".stripMargin

  /** b29: the raw-SQL escape hatch through the driver gate — the same
    * text runs via `bdb.sqlExecute` (temp views over registered tables
    * → spark.sql) and via DuckDB directly. Integer-valued doubles keep
    * the sums exact across engines. */
  val b29SqlExecute: Q = (spark, dir) => bdb(spark, dir).sqlExecute(
    """SELECT l_returnflag, count(*) AS n,
      |       round(sum(l_quantity), 1) AS qty,
      |       round(avg(l_linenumber), 6) AS avg_line
      |FROM lineitem
      |WHERE l_quantity > ?
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin, Seq(10))

  val b29Sql: String =
    """SELECT l_returnflag, count(*)::BIGINT AS n,
      |       round(sum(l_quantity), 1) AS qty,
      |       round(avg(l_linenumber), 6) AS avg_line
      |FROM lineitem
      |WHERE l_quantity > 10
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** b30: THETA-correlated grouped scalar (round-6 D3 closure) — each
    * customer's most frequent priority among its orders pricier than 40×
    * its account balance: a mixed equality + `>` correlation with
    * GROUP BY/ORDER BY/LIMIT, decorrelated via θ-join + window rank.
    * One customer has no qualifying orders (NULL live). */
  val b30ThetaGrouped: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT c_custkey,
      |  (SELECT o_orderpriority FROM orders
      |   WHERE o_custkey = c_custkey AND o_totalprice > c_acctbal * 40
      |   GROUP BY o_orderpriority
      |   ORDER BY count(*) DESC, o_orderpriority LIMIT 1) AS top_prio_above
      |FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey""".stripMargin)

  val b30Sql: String =
    """SELECT c_custkey,
      |  (SELECT o_orderpriority FROM orders
      |   WHERE o_custkey = c_custkey AND o_totalprice > c_acctbal * 40
      |   GROUP BY o_orderpriority
      |   ORDER BY count(*) DESC, o_orderpriority LIMIT 1) AS top_prio_above
      |FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey""".stripMargin

  /** b31: HAVING under theta correlation (round-7 D3 closure) — like b30
    * but the group filter itself carries both an aggregate (`count(*) >=
    * 2`) and a theta-correlated bound (`max(o_totalprice) > c_acctbal *
    * 45`): HAVING refs ride the same key substitution as the WHERE
    * conjuncts and filter groups before the ordered row pick. */
  val b31ThetaHaving: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT c_custkey,
      |  (SELECT o_orderpriority FROM orders
      |   WHERE o_custkey = c_custkey AND o_totalprice > c_acctbal * 40
      |   GROUP BY o_orderpriority
      |   HAVING count(*) >= 2 AND max(o_totalprice) > c_acctbal * 45
      |   ORDER BY count(*) DESC, o_orderpriority LIMIT 1) AS top_prio_hav
      |FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey""".stripMargin)

  val b31Sql: String =
    """SELECT c_custkey,
      |  (SELECT o_orderpriority FROM orders
      |   WHERE o_custkey = c_custkey AND o_totalprice > c_acctbal * 40
      |   GROUP BY o_orderpriority
      |   HAVING count(*) >= 2 AND max(o_totalprice) > c_acctbal * 45
      |   ORDER BY count(*) DESC, o_orderpriority LIMIT 1) AS top_prio_hav
      |FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey""".stripMargin

  /** b32: deep correlation with NO equality pair at the enclosing level
    * (round-7 D3 closure, the last closable shape): the nation key pairs
    * by equality, but the REGION key appears only two frames down inside
    * the supplier average — requalifyDeep has nothing to peel it
    * through, so the theta decorrelator carries n_regionkey in its key
    * tuple and decorrelates the nested average against the joined
    * frame. Counts customers richer than the average supplier balance
    * of their nation's region. */
  val b32DeepNoPair: Q = (spark, dir) => bdb(spark, dir).execute(
    """SELECT n_name,
      |  (SELECT count(*) FROM customer
      |   WHERE c_nationkey = n_nationkey
      |     AND c_acctbal > (SELECT avg(s_acctbal) FROM supplier, nation AS n2
      |                      WHERE s_nationkey = n2.n_nationkey
      |                        AND n2.n_regionkey = nation.n_regionkey)) AS n_rich
      |FROM nation ORDER BY n_name""".stripMargin)

  val b32Sql: String =
    """SELECT n_name,
      |  (SELECT count(*) FROM customer
      |   WHERE c_nationkey = n_nationkey
      |     AND c_acctbal > (SELECT avg(s_acctbal) FROM supplier, nation AS n2
      |                      WHERE s_nationkey = n2.n_nationkey
      |                        AND n2.n_regionkey = nation.n_regionkey)) AS n_rich
      |FROM nation ORDER BY n_name""".stripMargin

  val queries: Map[String, Q] = Map(
    "b31_theta_having" -> b31ThetaHaving,
    "b32_deep_correlated" -> b32DeepNoPair,
    "b23_bql_correlated_subquery" -> b23Correlated,
    "b27_grouped_correlated" -> b27GroupedCorrelated,
    "b28_nested_correlated" -> b28NestedCorrelated,
    "b29_sql_execute" -> b29SqlExecute,
    "b30_theta_grouped" -> b30ThetaGrouped,
    "b25_estimate_correlated" -> b25EstimateCorrelated,
    "b26_theta_correlated" -> b26ThetaCorrelated,
    "b17_bql_exists" -> b17Exists,
    "b18_bql_glob_collate" -> b18GlobCollate,
    "b19_bql_positional" -> b19Positional,
    "b20_bql_expressions" -> b20Expressions,
    "b14_crosscat_dependence" -> b14CrosscatDependence,
    "b15_crosscat_similarity" -> b15CrosscatSimilarity,
    "b16_crosscat_simulate" -> b16CrosscatSimulate,
    "b21_cgpm_composition" -> b21Composition,
    "b22_crosscat_infer" -> b22CrosscatInfer,
    "b24_foreign_infer" -> b24ForeignInfer,
    "b01_bql_select" -> b01Select,
    "b02_bql_join" -> b02Join,
    "b03_bql_subquery" -> b03Subquery,
    "b04_bql_expressions" -> b04Expressions,
    "b05_bql_guess_schema" -> b05GuessSchema,
    "b06_bql_estimate" -> b06Estimate,
    "b07_bql_infer" -> b07Infer,
    "b08_bql_simulate" -> b08Simulate,
    "b09_bql_pairwise_vars" -> b09PairwiseVars,
    "b10_bql_regress" -> b10Regress,
    "b11_bql_similarity_pairwise" -> b11SimilarityPairwise,
    "b12_bql_predictive_relevance" -> b12PredictiveRelevance,
    "b13_bql_variables" -> b13Variables,
    "b33_variables_correlation" -> b33VariablesCorrelation,
    "b34_estimate_correlation" -> b34EstimateCorrelation,
    "b35_grouped_exists_in" -> b35GroupedExistsIn,
    "b36_from_subquery_deep" -> b36FromSubqueryDeep,
    "b37_exists_having" -> b37ExistsHaving,
    "b38_in_having" -> b38InHaving,
    "b39_loom_dependence" -> b39LoomDependence,
    "b40_troll_estimators" -> b40TrollEstimators,
    "b41_loom_simulate_rowid" -> b41LoomSimulateRowid,
    "b42_save_reopen" -> b42SaveReopen,
    "b43_restricted_analyze" -> b43RestrictedAnalyze)

  val oracles: Map[String, String] = Map(
    // nig_normal closed forms (reference src/backends/nig_normal.py:
    // 366-379): dependence probability, mutual information, row
    // similarity, and predictive relevance are all the constant [0]
    // (columns/rows are independent by construction; the diagonal
    // dependence is 1 by BQL definition) — so the full BQL paths
    // (parser → planner → estimator dispatch → backend) emit literal
    // grids DuckDB states directly
    "b09_bql_pairwise_vars" ->
      """SELECT * FROM (VALUES
        |  (1, 'c_acctbal', 'c_acctbal', 1.0),
        |  (1, 'c_acctbal', 'c_nationkey', 0.0),
        |  (1, 'c_nationkey', 'c_acctbal', 0.0),
        |  (1, 'c_nationkey', 'c_nationkey', 1.0))
        |  AS t(population_id, name0, name1, value)
        |ORDER BY name0, name1""".stripMargin,
    "b11_bql_similarity_pairwise" ->
      """SELECT r0.r AS rowid0, r1.r AS rowid1, 0.0 AS value
        |FROM range(1, 21) r0(r), range(1, 21) r1(r)
        |ORDER BY rowid0, rowid1""".stripMargin,
    "b12_bql_predictive_relevance" -> "SELECT 0.0 AS c0",
    // every troll_rng estimator is a stated constant — see b40's doc
    "b40_troll_estimators" ->
      """SELECT * FROM (VALUES
        |  ('density_at_7', 0.0),
        |  ('density_at_9', 1.0),
        |  ('predict_confidence', 1.0),
        |  ('predict_value', 9.0),
        |  ('sim0_acctbal', 9.0), ('sim0_nation', 9.0),
        |  ('sim1_acctbal', 9.0), ('sim1_nation', 9.0),
        |  ('sim2_acctbal', 9.0), ('sim2_nation', 9.0))
        |  AS t(metric, value)
        |ORDER BY metric""".stripMargin,
    // the reopened engine must reproduce b40's closed forms AND the
    // restored customer snapshot's cardinality
    "b42_save_reopen" ->
      """SELECT * FROM (
        |  SELECT metric, value FROM (VALUES
        |    ('density_at_9', 1.0),
        |    ('predict_confidence', 1.0),
        |    ('predict_value', 9.0),
        |    ('sim0_acctbal', 9.0), ('sim0_nation', 9.0),
        |    ('sim1_acctbal', 9.0), ('sim1_nation', 9.0),
        |    ('sim2_acctbal', 9.0), ('sim2_nation', 9.0))
        |    AS t(metric, value)
        |  UNION ALL
        |  SELECT 'n_customer', CAST((SELECT count(*) FROM customer) AS DOUBLE))
        |ORDER BY metric""".stripMargin,
    "b37_exists_having" -> b37Sql,
    "b38_in_having" -> b38Sql,
    "b33_variables_correlation" -> b33Sql,
    "b13_bql_variables" -> b13Sql,
    "b34_estimate_correlation" -> b34Sql,
    "b35_grouped_exists_in" -> b35Sql,
    "b36_from_subquery_deep" -> b36Sql,
    "b31_theta_having" -> b31Sql,
    "b32_deep_correlated" -> b32Sql,
    "b05_bql_guess_schema" -> StatsQueries.b05Sql,
    "b23_bql_correlated_subquery" -> b23Sql,
    "b27_grouped_correlated" -> b27Sql,
    "b28_nested_correlated" -> b28Sql,
    "b29_sql_execute" -> b29Sql,
    "b30_theta_grouped" -> b30Sql,
    "b25_estimate_correlated" -> b25Sql,
    "b26_theta_correlated" -> b26Sql,
    "b01_bql_select" -> b01Sql,
    "b02_bql_join" -> b02Sql,
    "b03_bql_subquery" -> b03Sql,
    "b04_bql_expressions" -> b04Sql,
    "b17_bql_exists" -> b17Sql,
    "b18_bql_glob_collate" -> b18Sql,
    "b19_bql_positional" -> b19Sql,
    "b20_bql_expressions" -> b20Sql)
}
