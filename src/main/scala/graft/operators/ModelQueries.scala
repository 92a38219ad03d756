package graft.operators

import graft.Tables
import graft.backends.{Backends, DetRng}
import graft.catalog.{Population, StatType, Variable}
import graft.engine.{Estimators, FittedGenerator, PopulationModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The BQL model-estimator surface (SURVEY §2.7) as driver-checkable
  * queries over a nig_normal ensemble fitted to the customer table.
  * Model estimators are not ANSI-SQL-expressible → rows-only driver
  * checks; exact semantics are pinned by NigNormalSpec/EstimatorsSpec
  * instead. Everything is deterministic under SessionSeed via DetRng.
  */
object ModelQueries {

  type Q = (SparkSession, String) => DataFrame

  val SessionSeed: Long = 42L
  val NumModels: Int = 8

  /** The modeled variables: numerical columns of customer. */
  private val custVars = Seq(
    Variable("c_acctbal", 0, StatType.Numerical),
    Variable("c_nationkey", 1, StatType.Numerical))
  private val custColumns: Map[Int, String] =
    custVars.map(v => v.colno -> v.name).toMap

  // fitted ensembles cached per scale-factor dir, with session lifetime
  // (fit = one agg over the base table; refitting per query would repeat
  // the scan)
  def customerModel(spark: SparkSession, sfDir: String): PopulationModel =
    graft.Memo.ensembles.getOrElseUpdate(sfDir) {
      val df = Tables.load(spark, sfDir, "customer")
      val backend = Backends.byName("nig_normal")
      val rng = DetRng(SessionSeed, 0xf17L)
      val fitted = backend.createGenerator(df, custColumns)
      val init = backend.initializeModels(fitted, 0 until NumModels, rng)
      val analyzed = backend.analyzeModels(init, None, 1, rng)
      PopulationModel(
        Population(1, "customer_pop", "customer", custVars),
        Seq(FittedGenerator("customer_nig", backend, analyzed)),
        SessionSeed)
    }

  /** m01: ESTIMATE PREDICTIVE PROBABILITY OF c_acctbal GIVEN (c_nationkey)
    * FROM customer_pop — per-row UDF over the broadcast ensemble. */
  val m01PredictiveProbability: Q = (spark, dir) => {
    val pm = customerModel(spark, dir)
    val df = Tables.load(spark, dir, "customer")
    Estimators.predictiveProbability(df, pm, Seq("c_acctbal"), Seq("c_nationkey"))
      .select(col("c_custkey"), round(col("predictive_probability"), 9).as("predprob"))
      .orderBy("c_custkey")
  }

  /** m02: SIMULATE c_acctbal, c_nationkey FROM customer_pop GIVEN
    * c_nationkey = 3 LIMIT 100. */
  val m02Simulate: Q = (spark, dir) => {
    val pm = customerModel(spark, dir)
    Estimators.simulate(spark, pm, Seq("c_acctbal", "c_nationkey"),
      Seq("c_nationkey" -> 3.0), 100)
  }

  /** m03: INFER c_acctbal WITH CONFIDENCE 0.5 — NULLs injected
    * deterministically, then imputed (IFNULL(c, PREDICT ...) semantics). */
  val m03Infer: Q = (spark, dir) => {
    val pm = customerModel(spark, dir)
    val df = Tables.load(spark, dir, "customer")
      .withColumn("rowid", col("c_custkey"))
      .withColumn("c_acctbal",
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal")))
    Estimators.inferWithConfidence(df, pm, "c_acctbal", 0.5)
      .select(col("c_custkey"), round(col("c_acctbal"), 6).as("c_acctbal"))
      .orderBy("c_custkey")
  }

  /** m04: PROBABILITY DENSITY OF c_acctbal = 5000 GIVEN (c_nationkey = 3)
    * BY customer_pop — a per-query constant (ESTIMATE ... BY shape). */
  val m04ProbabilityDensity: Q = (spark, dir) => {
    import spark.implicits._
    val pm = customerModel(spark, dir)
    val d = Estimators.probabilityDensity(pm,
      Seq("c_acctbal" -> 5000.0), Seq("c_nationkey" -> 3.0))
    Seq(d).toDF("density")
  }

  /** m05: ESTIMATE DEPENDENCE PROBABILITY FROM PAIRWISE VARIABLES OF
    * customer_pop (nig_normal: 0 off-diagonal, 1 on the diagonal). */
  val m05DependencePairwise: Q = (spark, dir) => {
    val pm = customerModel(spark, dir)
    Estimators.pairwiseVariables(spark, pm,
      (v0, v1) => Estimators.dependenceProbability(pm, v0, v1), "depprob")
      .orderBy("name0", "name1")
  }

  /** m06: MUTUAL INFORMATION OF c_acctbal WITH c_nationkey USING 100
    * SAMPLES (nig_normal models columns independently → 0). */
  val m06MutualInformation: Q = (spark, dir) => {
    import spark.implicits._
    val pm = customerModel(spark, dir)
    Seq(Estimators.mutualInformation(pm, Seq("c_acctbal"), Seq("c_nationkey"), 100))
      .toDF("mutinf")
  }

  /** m07: PREDICT c_acctbal CONFIDENCE as an explicit struct column
    * (INFER EXPLICIT shape) — flattened for the parquet dump. */
  val m07PredictExplicit: Q = (spark, dir) => {
    val pm = customerModel(spark, dir)
    // deterministic subset (limit on an unordered frame is partitioning-
    // dependent; a key predicate dumps the same rows every run)
    val df = Tables.load(spark, dir, "customer")
      .withColumn("rowid", col("c_custkey"))
      .filter(col("c_custkey") <= 500)
    Estimators.predictExplicit(df, pm, "c_acctbal")
      .select(col("c_custkey"),
        round(col("prediction.value"), 6).as("pred_value"),
        col("prediction.confidence").as("pred_confidence"))
      .orderBy("c_custkey")
  }

  /** m08: PROBABILITY DENSITY under nig_normal via the CLOSED-FORM
    * posterior predictive (Student-t, reference nig_normal.py:133-140) at
    * fixed probe values — the first model-estimator key behind the DuckDB
    * oracle. What it pins exactly: the distributed suff-stats aggregation
    * (createGenerator), the posterior-hyper algebra, and the Student-t
    * evaluation (lgamma from SpecialMath) — i.e. everything in the
    * backend except the RNG draw itself, which no SQL engine can mirror. */
  val m08PosteriorPredictive: Q = (spark, dir) => {
    import spark.implicits._
    val pm = customerModel(spark, dir)
    val st = pm.generators.head.state
      .asInstanceOf[graft.backends.NigNormalBackend.State]
    val probes: Seq[(String, Int, Double)] =
      Seq(-999.99, 0.0, 1234.56, 4500.0, 9999.99).map(("c_acctbal", 0, _)) ++
        Seq(0.0, 5.0, 12.0, 24.0).map(("c_nationkey", 1, _))
    val rows = probes.map { case (name, colno, x) =>
      val lp = graft.backends.NigNormalBackend.posteriorPredictiveLogpdf(
        st.hypers, st.cols(colno), x)
      (name, x,
        BigDecimal(lp).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    rows.toDF("colname", "x", "log_pp").orderBy("colname", "x")
  }

  /** m09: the closed-form posterior hypers behind nig_normal PREDICT —
    * the second model-estimator key under the DuckDB oracle. PREDICT's
    * model draw is μ ~ N(mn, √(σ²·vn)), σ² ~ InvGamma(an, bn) (reference
    * nig_normal.py predict_confidence via _gibbs_step_params /
    * posterior_hypers, src/backends/nig_normal.py:430-476): every
    * deterministic input to that draw is (mn, vn, an, bn) from the
    * distributed suff-stats pass. Emitting them directly pins the
    * prediction pipeline end-to-end short of the RNG itself, the same
    * way m08 pins density. bn is emitted in log domain: it carries the
    * raw Σx² magnitude (~1e10 here), where an absolute float compare is
    * meaningless but the log's 6 decimals are ~1e-6 relative. */
  val m09PosteriorPredict: Q = (spark, dir) => {
    import spark.implicits._
    val pm = customerModel(spark, dir)
    val st = pm.generators.head.state
      .asInstanceOf[graft.backends.NigNormalBackend.State]
    def r(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = Seq(("c_acctbal", 0), ("c_nationkey", 1)).map { case (name, colno) =>
      val stats = st.cols(colno)
      val (mn, vn, an, bn) =
        graft.backends.NigNormalBackend.posteriorHypers(st.hypers, stats)
      (name, stats.count, r(mn, 6), r(vn, 9), r(an, 6), r(math.log(bn), 6))
    }
    rows.toDF("colname", "n_obs", "mn", "vn", "an", "log_bn")
      .orderBy("colname")
  }

  /** m10: INFER at a confidence no nig_normal prediction can meet —
    * numerical predict_confidence is EXACTLY 1.0 (reference
    * nig_normal.py predict_confidence returns (value, 1); latent
    * deviations → (0, 1)), so at threshold 1.5 the INFER macro
    * IFNULL(c, PREDICT c CONFIDENCE 1.5) (reference
    * src/compiler.py:424-458) reduces to the IFNULL identity: injected
    * NULLs stay NULL, observed values pass through — a deterministic
    * key the DuckDB oracle states directly. Pins the whole INFER
    * dispatch (evidence collection, per-row generator draw, threshold
    * compare) except the fill value itself, which m03 exercises. */
  val m10InferIfnull: Q = (spark, dir) => {
    val pm = customerModel(spark, dir)
    val df = Tables.load(spark, dir, "customer")
      .withColumn("rowid", col("c_custkey"))
      .withColumn("c_acctbal",
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal")))
    Estimators.inferWithConfidence(df, pm, "c_acctbal", 1.5)
      .select(col("c_custkey"), round(col("c_acctbal"), 6).as("c_acctbal"))
      .orderBy("c_custkey")
  }

  val queries: Map[String, Q] = Map(
    "m10_infer_ifnull" -> m10InferIfnull,
    "m01_predictive_probability" -> m01PredictiveProbability,
    "m02_simulate" -> m02Simulate,
    "m03_infer" -> m03Infer,
    "m04_probability_density" -> m04ProbabilityDensity,
    "m05_dependence_pairwise" -> m05DependencePairwise,
    "m06_mutual_information" -> m06MutualInformation,
    "m07_predict_explicit" -> m07PredictExplicit,
    "m08_posterior_predictive" -> m08PosteriorPredictive,
    "m09_posterior_predict_hypers" -> m09PosteriorPredict)

  /** Ensemble estimators (m01-m07) have no SQL oracle — RNG draws are not
    * SQL-reproducible → rows-only checks. m08 evaluates the closed-form
    * NIG posterior predictive, which DuckDB computes independently from
    * the same parquet (suff stats in SQL, hypers (0,1,1,1) inlined:
    * vn = 1/(1+n), mn = s/(1+n), an = 1+n/2, bn = 1 + (ss - s²/(1+n))/2;
    * Student-t logpdf via DuckDB's own lgamma). */
  val oracles: Map[String, String] = Map(
    // nig_normal models every column independently BY CONSTRUCTION
    // (reference src/backends/nig_normal.py:60-80: one suff-stats fit
    // per column, no shared structure), so DEPENDENCE PROBABILITY is
    // the closed form 0 off-diagonal / 1 on the diagonal — a literal
    // grid DuckDB states directly
    "m05_dependence_pairwise" ->
      """SELECT * FROM (VALUES
        |  ('customer_pop', 'c_acctbal', 'c_acctbal', 1.0),
        |  ('customer_pop', 'c_acctbal', 'c_nationkey', 0.0),
        |  ('customer_pop', 'c_nationkey', 'c_acctbal', 0.0),
        |  ('customer_pop', 'c_nationkey', 'c_nationkey', 1.0))
        |  AS t(population, name0, name1, depprob)
        |ORDER BY name0, name1""".stripMargin,
    // column_mutual_information is the constant [0] for nig_normal
    // (reference src/backends/nig_normal.py:371-374) — averaged over
    // models it stays exactly 0.0
    "m06_mutual_information" -> "SELECT 0.0 AS mutinf",
    // predict_confidence ≡ 1.0 < 1.5 → INFER is the IFNULL identity
    // over the deterministic null-injection rule
    "m10_infer_ifnull" ->
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 7 = 0 THEN NULL
        |       ELSE round(c_acctbal, 6) END AS c_acctbal
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "m08_posterior_predictive" ->
      """WITH stats AS (
        |  SELECT 'c_acctbal' AS colname,
        |         count(c_acctbal)::DOUBLE AS n,
        |         sum(c_acctbal)::DOUBLE AS s,
        |         sum(c_acctbal*c_acctbal)::DOUBLE AS ss
        |  FROM customer WHERE c_acctbal IS NOT NULL
        |  UNION ALL
        |  SELECT 'c_nationkey',
        |         count(c_nationkey)::DOUBLE,
        |         sum(c_nationkey)::DOUBLE,
        |         sum(c_nationkey*c_nationkey)::DOUBLE
        |  FROM customer WHERE c_nationkey IS NOT NULL),
        |probes(colname, x) AS (VALUES
        |  ('c_acctbal', -999.99), ('c_acctbal', 0.0),
        |  ('c_acctbal', 1234.56), ('c_acctbal', 4500.0),
        |  ('c_acctbal', 9999.99),
        |  ('c_nationkey', 0.0), ('c_nationkey', 5.0),
        |  ('c_nationkey', 12.0), ('c_nationkey', 24.0)),
        |post AS (
        |  SELECT colname,
        |         1.0/(1.0 + n) AS vn,
        |         s/(1.0 + n) AS mn,
        |         1.0 + n/2.0 AS an,
        |         1.0 + 0.5*(ss - s*s/(1.0 + n)) AS bn
        |  FROM stats),
        |t AS (
        |  SELECT p.colname, CAST(p.x AS DOUBLE) AS x,
        |         2.0*an AS df, mn, sqrt(bn*(1.0+vn)/an) AS sc
        |  FROM probes p JOIN post USING (colname))
        |SELECT colname, x,
        |  round(lgamma((df+1.0)/2.0) - lgamma(df/2.0)
        |        - 0.5*ln(df*pi()) - ln(sc)
        |        - ((df+1.0)/2.0)*ln(1.0 + ((x-mn)/sc)*((x-mn)/sc)/df), 6)
        |    AS log_pp
        |FROM t
        |ORDER BY colname, x""".stripMargin,
    "m09_posterior_predict_hypers" ->
      """WITH stats AS (
        |  SELECT 'c_acctbal' AS colname,
        |         count(c_acctbal)::BIGINT AS n_obs,
        |         count(c_acctbal)::DOUBLE AS n,
        |         sum(c_acctbal)::DOUBLE AS s,
        |         sum(c_acctbal*c_acctbal)::DOUBLE AS ss
        |  FROM customer WHERE c_acctbal IS NOT NULL
        |  UNION ALL
        |  SELECT 'c_nationkey',
        |         count(c_nationkey)::BIGINT,
        |         count(c_nationkey)::DOUBLE,
        |         sum(c_nationkey)::DOUBLE,
        |         sum(c_nationkey*c_nationkey)::DOUBLE
        |  FROM customer WHERE c_nationkey IS NOT NULL)
        |SELECT colname, n_obs,
        |  round(s/(1.0 + n), 6) AS mn,
        |  round(1.0/(1.0 + n), 9) AS vn,
        |  round(1.0 + n/2.0, 6) AS an,
        |  round(ln(1.0 + 0.5*(ss - s*s/(1.0 + n))), 6) AS log_bn
        |FROM stats
        |ORDER BY colname""".stripMargin)
}
