package graft.engine

import graft.backends.{Backend, DetRng, GeneratorState}
import graft.catalog.{Names, Population}
import graft.functions.SpecialMath.{arithmeticMean, logAvgExpWeighted, logMeanExp}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One generator fitted to a population: backend + immutable model state.
  * Small (O(cols × models)) and serializable — broadcast with the closure
  * of every per-row estimator UDF. */
final case class FittedGenerator(
    name: String,
    backend: Backend,
    state: GeneratorState) extends Serializable

/** A population with its generator ensemble, the unit all BQL model
  * estimators run against (reference: estimators average over generators,
  * then models — src/bqlfn.py:284-294, 459-486). */
final case class PopulationModel(
    population: Population,
    generators: Seq[FittedGenerator],
    seed: Long,
    modelnos: Option[Seq[Int]] = None,
    generatorIds: Option[Set[Int]] = None) extends Serializable {
  // generators MAY be empty for data-only estimator queries (CORRELATION
  // [PVALUE] need no models, reference tests/test_correlation.py runs
  // them on a generator-less population); the planner gates every
  // model-needing path through BayesDB.populationModel(needModels=true),
  // which still rejects missing generators/models with the named errors.
  def colno(varName: String): Int =
    population.variable(varName).getOrElse(
      throw new NoSuchElementException(s"No such variable: $varName")).colno

  /** Modeled variables visible to this query: manifest variables plus
    * latent variables owned by a generator EXPLICITLY in scope
    * (reference: bayesdb_variable filters on
    * `generator_id IS NULL OR generator_id = ?`, core.py:350-366 — a
    * latent is invisible unless its generator is named, so an unscoped
    * query over a population with several latent-bearing generators
    * never mixes their latents). */
  def visibleVariables: Seq[graft.catalog.Variable] =
    population.modeledVariables.filter(v =>
      v.generatorId.forall(gid => generatorIds.exists(_.contains(gid))))
}

/** The BQL model-estimator operators (SURVEY §2.7), Spark-first:
  * per-row estimators are UDFs closing over the (broadcast) ensemble;
  * per-query constants are computed once on the driver; SIMULATE
  * materializes driver-sampled rows into a DataFrame (the reference's
  * temp-table winders disappear, src/compiler.py:711-722).
  */
object Estimators {

  // ------------------------------------------------- ensemble broadcast

  /** Estimator UDF closures serialize a `Broadcast` handle (a few bytes
    * per task) instead of the full O(cols × models × subsample) ensemble
    * state per task; executors fetch the state once per node over the
    * torrent protocol. Cached per identical ensemble so the many Columns
    * of one query (and repeated queries over an unchanged ensemble)
    * share one broadcast — FittedGenerator's case-class equality
    * eq-shortcuts on the shared GeneratorState instances, so the lookup
    * is cheap. Weak keys let entries go when the ensemble is refit. */
  private val gensBcCache = new java.util.WeakHashMap[
    Seq[FittedGenerator],
    org.apache.spark.broadcast.Broadcast[Seq[FittedGenerator]]]()

  private def gensBc(pm: PopulationModel)
      : org.apache.spark.broadcast.Broadcast[Seq[FittedGenerator]] =
    gensBcCache.synchronized {
      val hit = gensBcCache.get(pm.generators)
      if (hit != null) hit
      else {
        val b = SparkSession.active.sparkContext.broadcast(pm.generators)
        gensBcCache.put(pm.generators, b)
        b
      }
    }

  // -------------------------------------------------- category encoding
  // Nominal variables travel through the Double-valued backend interface
  // as dictionary codes (reference: bayesdb_cgpm_category). The first
  // generator exposing codes for a colno wins (codes are per-generator in
  // the reference; one generator per population is the common case).

  /** colno → ordered labels (code = index), if any generator models the
    * column categorically. */
  def codesFor(pm: PopulationModel, colno: Int): Option[IndexedSeq[String]] =
    pm.generators.iterator.flatMap(_.state.categoryCodes.get(colno)).nextOption()

  /** Column expression producing the UDF-ready Double for a variable:
    * categorical → code lookup (null for unseen), numerical → cast.
    * Latent variables have no observed column — their cell value is NULL
    * (reference: bayesdb_population_cell_value for colno<0,
    * core.py:424-429), so row estimators treat them as missing. */
  def valueCol(pm: PopulationModel, varName: String): Column = {
    val colno = pm.colno(varName)
    if (colno < 0) return lit(null).cast("double")
    codesFor(pm, colno) match {
      case Some(labels) =>
        val m = labels.zipWithIndex.map { case (l, i) => l -> i.toDouble }.toMap
        element_at(typedLit(m), col(varName).cast("string"))
      case None => col(varName).cast("double")
    }
  }

  /** Encode one constant (string label or number) for a variable. */
  def encodeValue(pm: PopulationModel, varName: String, value: Any): Double = {
    val colno = pm.colno(varName)
    (codesFor(pm, colno), value) match {
      case (Some(labels), s: String) =>
        val code = labels.indexOf(s)
        require(code >= 0, s"Unknown category for $varName: $s")
        code.toDouble
      case (_, n: Number) => n.doubleValue
      case (None, s: String) => s.toDouble
      case (_, other) => throw new IllegalArgumentException(
        s"Cannot encode $other for $varName")
    }
  }

  /** Decode a backend Double to the user-facing value. */
  def decodeValue(pm: PopulationModel, varName: String, code: Double): Any =
    codesFor(pm, pm.colno(varName)) match {
      case Some(labels) =>
        val i = code.toInt
        if (i >= 0 && i < labels.length) labels(i) else null
      case None => code
    }

  private def isCategorical(pm: PopulationModel, varName: String): Boolean =
    codesFor(pm, pm.colno(varName)).isDefined

  /** `ESTIMATE PREDICTIVE PROBABILITY OF t [GIVEN (cs)] FROM p`
    * (reference: src/bqlfn.py:459-486). Appends a column: for each row,
    * exp(logmeanexp over generators of logpdf(observed target values |
    * observed constraint values)); NULL when every target is NULL.
    */
  def predictiveProbability(
      df: DataFrame, pm: PopulationModel,
      targets: Seq[String], constraints: Seq[String] = Nil,
      outCol: String = "predictive_probability"): DataFrame = {
    val tCols = targets.map(v => v -> pm.colno(v))
    val cCols = constraints.map(v => v -> pm.colno(v))
    val gensB = gensBc(pm)
    val mnos = pm.modelnos
    val fn = udf { (tVals: Seq[java.lang.Double], cVals: Seq[java.lang.Double]) =>
      val gens = gensB.value
      val t = tCols.map(_._2).zip(tVals).collect { case (c, v) if v != null => (c, v.doubleValue) }
      if (t.isEmpty) null
      else {
        val c = cCols.map(_._2).zip(cVals).collect { case (cn, v) if v != null => (cn, v.doubleValue) }
        val perGen = gens.map(g => g.backend.logpdfJoint(g.state, mnos, t, c)).toArray
        java.lang.Double.valueOf(math.exp(logMeanExp(perGen)))
      }
    }
    df.withColumn(outCol,
      fn(array(targets.map(c => valueCol(pm, c)): _*),
         array(constraints.map(c => valueCol(pm, c)): _*)))
  }

  /** `PROBABILITY DENSITY OF c = v [GIVEN (c'=v', ...)]` for literal
    * values — a per-query constant: likelihood-weighted generator
    * averaging (reference: src/bqlfn.py:378-408). */
  def probabilityDensity(
      pm: PopulationModel,
      targets: Seq[(String, Double)],
      constraints: Seq[(String, Double)] = Nil): Double = {
    val mnos = pm.modelnos
    val t = targets.map { case (v, x) => (pm.colno(v), x) }
    val c = constraints.map { case (v, x) => (pm.colno(v), x) }
    val logliks = pm.generators.map { g =>
      if (c.isEmpty) 0.0 else g.backend.logpdfJoint(g.state, mnos, c, Nil)
    }.toArray
    val logpdfs = pm.generators.map(g => g.backend.logpdfJoint(g.state, mnos, t, c)).toArray
    math.exp(logAvgExpWeighted(logliks, logpdfs))
  }

  /** `SIMULATE cols FROM p [GIVEN ...] LIMIT n` (reference:
    * src/bqlfn.py:525-576): generators chosen multinomially by constraint
    * likelihood, rows sampled on the driver and materialized as a
    * DataFrame. Sampling cost is O(n × cols), independent of table size.
    */
  def simulate(
      spark: SparkSession, pm: PopulationModel,
      targets: Seq[String], constraints: Seq[(String, Double)],
      numPredictions: Int,
      givenRowid: Option[Long] = None,
      rowValues: Seq[(Int, Double)] = Nil,
      accuracy: Option[Int] = None): DataFrame = {
    val tColnos = targets.map(pm.colno)
    val c = constraints.map { case (v, x) => (pm.colno(v), x) }
    val rng = DetRng(pm.seed, 0x51ed1a7eL, numPredictions.toLong)
    val gens = pm.generators
    val mnos = pm.modelnos
    val counts: Seq[Int] =
      if (gens.length == 1) Seq(numPredictions)
      else {
        val logliks = gens.map { g =>
          if (c.isEmpty) 0.0 else g.backend.logpdfJoint(g.state, mnos, c, Nil)
        }
        if (logliks.forall(_ == Double.NegativeInfinity))
          throw new IllegalArgumentException(s"Impossible constraints: $constraints")
        // multinomial via n independent log-categorical draws
        val tallies = Array.fill(gens.length)(0)
        (0 until numPredictions).foreach { _ =>
          tallies(rng.logCategorical(logliks.toIndexedSeq)) += 1
        }
        tallies.toSeq
      }
    val rows = gens.zip(counts).flatMap { case (g, n) =>
      if (n == 0) Nil
      else givenRowid match {
        case Some(r) => g.backend.simulateJointGivenRow(
          g.state, mnos, tColnos, r, rowValues, c, n, rng, accuracy)
        case None => g.backend.simulateJoint(g.state, mnos, tColnos, c, n, rng,
          accuracy)
      }
    }
    // nominal targets decode from category codes to labels
    val schema = StructType(targets.map(t => StructField(t,
      if (isCategorical(pm, t)) StringType else DoubleType, nullable = true)))
    val decoded = rows.map(r => Row.fromSeq(targets.zip(r).map {
      case (t, v) => decodeValue(pm, t, v)
    }))
    // partition the materialized sample so downstream operators don't
    // serialize on one core for large LIMITs (~1k rows per slice)
    val slices = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, decoded.length / 1000))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(decoded, slices), schema)
    // an RDD scan reports unknown partitioning even over one slice; the
    // narrow coalesce lets the planner see one partition and drop the
    // exchanges of a GROUP BY / ORDER BY over a small sample
    if (slices == 1) df.coalesce(1) else df
  }

  /** `INFER c WITH CONFIDENCE conf FROM p` — macro semantics
    * IFNULL(c, PREDICT c CONFIDENCE conf) (reference:
    * src/compiler.py:424-458): fill NULLs with the imputed value when its
    * confidence clears the threshold. Generator choice is a deterministic
    * per-row function of (seed, rowid) — Spark-retry-safe where the
    * reference used a process PRNG. */
  /** The row's other observed cells as imputation evidence: their colnos
    * plus an array Column of their encoded values (reference: bql_predict
    * conditions on the rowid's observed cells). `available` restricts to
    * columns actually present in the queried frame (a projection may
    * carry only a subset). */
  private def evidenceOf(pm: PopulationModel, colno: Int,
      available: Option[Set[String]] = None): (Seq[Int], Column) = {
    val vars = pm.visibleVariables.filterNot(_.isLatent).filterNot(_.colno == colno)
      .filter(v => available.forall(_.contains(Names.casefold(v.name))))
    if (vars.isEmpty) (Nil, array())
    else (vars.map(_.colno), array(vars.map(v => valueCol(pm, v.name)): _*))
  }

  private def zipEvidence(colnos: Seq[Int], vals: Seq[java.lang.Double]): Seq[(Int, Double)] =
    colnos.zip(vals).collect { case (c, v) if v != null => (c, v.doubleValue) }

  def inferWithConfidence(
      df: DataFrame, pm: PopulationModel, targetCol: String,
      minConfidence: Double, numSamples: Int = 2,
      rowidCol: String = "rowid"): DataFrame = {
    val colno = pm.colno(targetCol)
    val gensB = gensBc(pm)
    val mnos = pm.modelnos
    val seed = pm.seed
    val (evColnos, evCol) = evidenceOf(pm, colno,
      Some(df.columns.map(Names.casefold).toSet))
    val labels = codesFor(pm, colno)
    if (labels.isDefined) {
      val lab = labels.get
      val fn = udf { (rowid: Long, ev: Seq[java.lang.Double]) =>
        val gens = gensB.value
        val rng = DetRng(seed, rowid, colno.toLong, 0x1f3e5L)
        val g = gens(rng.nextInt(gens.length))
        val (value, confidence) = g.backend.predictConfidence(
          g.state, mnos, colno, rowid, zipEvidence(evColnos, ev), numSamples, rng)
        if (confidence >= minConfidence && value.toInt >= 0 && value.toInt < lab.length)
          lab(value.toInt)
        else null
      }
      df.withColumn(targetCol,
        coalesce(col(targetCol).cast("string"), fn(col(rowidCol), evCol)))
    } else {
      val fn = udf { (rowid: Long, ev: Seq[java.lang.Double]) =>
        val gens = gensB.value
        val rng = DetRng(seed, rowid, colno.toLong, 0x1f3e5L)
        val g = gens(rng.nextInt(gens.length))
        val (value, confidence) = g.backend.predictConfidence(
          g.state, mnos, colno, rowid, zipEvidence(evColnos, ev), numSamples, rng)
        if (confidence >= minConfidence) java.lang.Double.valueOf(value) else null
      }
      df.withColumn(targetCol,
        coalesce(col(targetCol).cast("double"), fn(col(rowidCol), evCol)))
    }
  }

  /** `PREDICT c CONFIDENCE` as an explicit struct column (the reference
    * smuggles {value, confidence} through JSON text, src/bqlfn.py:519-523;
    * a struct column is the Spark-native shape). */
  def predictExplicit(
      df: DataFrame, pm: PopulationModel, targetCol: String,
      numSamples: Int = 2, rowidCol: String = "rowid",
      outCol: String = "prediction"): DataFrame = {
    val colno = pm.colno(targetCol)
    val gensB = gensBc(pm)
    val mnos = pm.modelnos
    val seed = pm.seed
    val (evColnos, evCol) = evidenceOf(pm, colno,
      Some(df.columns.map(Names.casefold).toSet))
    val fn = udf { (rowid: Long, ev: Seq[java.lang.Double]) =>
      val gens = gensB.value
      val rng = DetRng(seed, rowid, colno.toLong, 0x9c0ffeeL)
      val g = gens(rng.nextInt(gens.length))
      val (value, confidence) = g.backend.predictConfidence(
        g.state, mnos, colno, rowid, zipEvidence(evColnos, ev), numSamples, rng)
      (value, confidence)
    }
    df.withColumn(outCol,
      fn(col(rowidCol), evCol).cast("struct<value:double,confidence:double>"))
  }

  /** `DEPENDENCE PROBABILITY OF c0 WITH c1` — mean over generators of the
    * per-model dependence indicators (reference: src/bqlfn.py:284-294).
    * DEPENDENCE(c, c) = 1 by definition. */
  def dependenceProbability(pm: PopulationModel, var0: String, var1: String): Double = {
    val mnos = pm.modelnos
    val c0 = pm.colno(var0)
    val c1 = pm.colno(var1)
    if (c0 == c1) return 1.0
    val perGen = pm.generators.map { g =>
      val ds = g.backend.columnDependenceProbability(g.state, mnos, c0, c1)
      arithmeticMean(ds)
    }
    arithmeticMean(perGen)
  }

  /** `MUTUAL INFORMATION OF (cs0) WITH (cs1) USING n SAMPLES` — mean of
    * per-generator mean-of-models CMI (reference: src/bqlfn.py:297-326,
    * an acknowledged approximation). */
  def mutualInformation(pm: PopulationModel, vars0: Seq[String], vars1: Seq[String],
      numSamples: Int = 1000,
      constraints: Seq[(String, Option[Double])] = Nil): Double = {
    val mnos = pm.modelnos
    val c0 = vars0.map(pm.colno)
    val c1 = vars1.map(pm.colno)
    val cs = constraints.map { case (v, x) => (pm.colno(v), x) }
    val rng = DetRng(pm.seed, 0x313370L, c0.hashCode.toLong, c1.hashCode.toLong)
    val perGen = pm.generators.map { g =>
      val ms = g.backend.columnMutualInformation(g.state, mnos, c0, c1, cs, numSamples, rng)
      arithmeticMean(ms)
    }
    arithmeticMean(perGen)
  }

  // ------------------------------------------------------ Column variants
  // (used by the BQL planner: estimators appear inside arbitrary select
  // expressions, so they must compose as Columns, not whole-DF rewrites)

  /** PREDICTIVE PROBABILITY as a composable Column (same math as
    * predictiveProbability above). */
  def predictiveProbabilityCol(pm: PopulationModel,
      targets: Seq[String], constraints: Seq[String]): Column = {
    val tColnos = targets.map(pm.colno)
    val cColnos = constraints.map(pm.colno)
    val gensB = gensBc(pm)
    val mnos = pm.modelnos
    val fn = udf { (tVals: Seq[java.lang.Double], cVals: Seq[java.lang.Double]) =>
      val gens = gensB.value
      val t = tColnos.zip(tVals).collect { case (c, v) if v != null => (c, v.doubleValue) }
      if (t.isEmpty) null
      else {
        val c = cColnos.zip(cVals).collect { case (cn, v) if v != null => (cn, v.doubleValue) }
        val perGen = gens.map(g => g.backend.logpdfJoint(g.state, mnos, t, c)).toArray
        java.lang.Double.valueOf(math.exp(logMeanExp(perGen)))
      }
    }
    fn(array(targets.map(c => valueCol(pm, c)): _*),
       array(constraints.map(c => valueCol(pm, c)): _*))
  }

  /** Ensemble row similarity: mean over generators of the per-model mean
    * (reference: src/bqlfn.py:413-426). */
  def similarityValue(pm: PopulationModel, rowid0: Long, rowid1: Long,
      colno: Int): Double = {
    val mnos = pm.modelnos
    val perGen = pm.generators.map { g =>
      val ss = g.backend.rowSimilarity(g.state, mnos, rowid0, rowid1, Seq(colno))
      arithmeticMean(ss)
    }
    arithmeticMean(perGen)
  }

  /** `SIMILARITY TO (<target>) IN THE CONTEXT OF c` as a per-row Column
    * over the rowid column (1-row form). */
  def similarityCol(pm: PopulationModel, targetRowid: Long, colno: Int,
      rowidCol: Column): Column = {
    val gensB = gensBc(pm)
    val mnos = pm.modelnos
    val fn = udf { (rowid: Long) =>
      val perGen = gensB.value.map { g =>
        val ss = g.backend.rowSimilarity(g.state, mnos, rowid, targetRowid, Seq(colno))
        arithmeticMean(ss)
      }
      arithmeticMean(perGen)
    }
    fn(rowidCol)
  }

  /** 2-row `SIMILARITY IN THE CONTEXT OF c` over (rowid0, rowid1) columns
    * (ESTIMATE ... FROM PAIRWISE p). */
  def pairSimilarityCol(pm: PopulationModel, colno: Int,
      rowid0Col: Column, rowid1Col: Column): Column = {
    val gensB = gensBc(pm)
    val mnos = pm.modelnos
    val fn = udf { (r0: Long, r1: Long) =>
      val perGen = gensB.value.map { g =>
        val ss = g.backend.rowSimilarity(g.state, mnos, r0, r1, Seq(colno))
        arithmeticMean(ss)
      }
      arithmeticMean(perGen)
    }
    fn(rowid0Col, rowid1Col)
  }

  /** Ensemble predictive relevance (reference: src/bqlfn.py:430-456 —
    * mean over generators of per-model mean). */
  def predictiveRelevanceValue(pm: PopulationModel, rowidTarget: Long,
      rowidQuery: Seq[Long], hypotheticals: Seq[Seq[(Int, Double)]],
      colno: Int): Double = {
    val mnos = pm.modelnos
    val perGen = pm.generators.map { g =>
      val ss = g.backend.predictiveRelevance(
        g.state, mnos, rowidTarget, rowidQuery, hypotheticals, colno)
      arithmeticMean(ss)
    }
    arithmeticMean(perGen)
  }

  /** PREDICTIVE RELEVANCE as a per-row Column: the current row is the
    * target, the query set + hypotheticals are fixed. */
  def predictiveRelevanceCol(pm: PopulationModel, rowidQuery: Seq[Long],
      hypotheticals: Seq[Seq[(Int, Double)]], colno: Int,
      rowidCol: Column): Column = {
    val gensB = gensBc(pm)
    val mnos = pm.modelnos
    val fn = udf { (rowid: Long) =>
      val perGen = gensB.value.map { g =>
        val ss = g.backend.predictiveRelevance(
          g.state, mnos, rowid, rowidQuery, hypotheticals, colno)
        arithmeticMean(ss)
      }
      arithmeticMean(perGen)
    }
    fn(rowidCol)
  }

  /** `PREDICT c WITH CONFIDENCE conf` — imputed value when confidence
    * clears the threshold, else NULL (reference: src/bqlfn.py:490-503;
    * generator choice is a deterministic function of (seed, rowid, colno)
    * where the reference used the process PRNG). */
  def predictValueCol(pm: PopulationModel, colno: Int, threshold: Double,
      numSamples: Int, rowidCol: Column,
      available: Option[Set[String]] = None): Column = {
    val gensB = gensBc(pm)
    val mnos = pm.modelnos
    val seed = pm.seed
    val (evColnos, evCol) = evidenceOf(pm, colno, available)
    codesFor(pm, colno) match {
      case Some(lab) =>
        val fn = udf { (rowid: Long, ev: Seq[java.lang.Double]) =>
          val gens = gensB.value
          val rng = DetRng(seed, rowid, colno.toLong, 0x1f3e5L)
          val g = gens(rng.nextInt(gens.length))
          val (value, confidence) = g.backend.predictConfidence(
            g.state, mnos, colno, rowid, zipEvidence(evColnos, ev), numSamples, rng)
          if (confidence >= threshold && value.toInt >= 0 && value.toInt < lab.length)
            lab(value.toInt)
          else null
        }
        fn(rowidCol, evCol)
      case None =>
        val fn = udf { (rowid: Long, ev: Seq[java.lang.Double]) =>
          val gens = gensB.value
          val rng = DetRng(seed, rowid, colno.toLong, 0x1f3e5L)
          val g = gens(rng.nextInt(gens.length))
          val (value, confidence) = g.backend.predictConfidence(
            g.state, mnos, colno, rowid, zipEvidence(evColnos, ev), numSamples, rng)
          if (confidence >= threshold) java.lang.Double.valueOf(value) else null
        }
        fn(rowidCol, evCol)
    }
  }

  /** `PREDICT c AS v CONFIDENCE cv` struct column for INFER EXPLICIT. */
  def predictStructCol(pm: PopulationModel, colno: Int, numSamples: Int,
      rowidCol: Column,
      available: Option[Set[String]] = None): Column = {
    val gensB = gensBc(pm)
    val mnos = pm.modelnos
    val seed = pm.seed
    val (evColnos, evCol) = evidenceOf(pm, colno, available)
    codesFor(pm, colno) match {
      case Some(lab) =>
        val fn = udf { (rowid: Long, ev: Seq[java.lang.Double]) =>
          val gens = gensB.value
          val rng = DetRng(seed, rowid, colno.toLong, 0x9c0ffeeL)
          val g = gens(rng.nextInt(gens.length))
          val (value, confidence) = g.backend.predictConfidence(
            g.state, mnos, colno, rowid, zipEvidence(evColnos, ev), numSamples, rng)
          val label = if (value.toInt >= 0 && value.toInt < lab.length) lab(value.toInt) else null
          (label, confidence)
        }
        fn(rowidCol, evCol).cast("struct<value:string,confidence:double>")
      case None =>
        val fn = udf { (rowid: Long, ev: Seq[java.lang.Double]) =>
          val gens = gensB.value
          val rng = DetRng(seed, rowid, colno.toLong, 0x9c0ffeeL)
          val g = gens(rng.nextInt(gens.length))
          val (value, confidence) = g.backend.predictConfidence(
            g.state, mnos, colno, rowid, zipEvidence(evColnos, ev), numSamples, rng)
          (value, confidence)
        }
        fn(rowidCol, evCol).cast("struct<value:double,confidence:double>")
    }
  }

  /** `ESTIMATE ... FROM PAIRWISE VARIABLES OF p` support: the variables
    * cross product with a per-pair estimator value (reference:
    * src/compiler.py:921-1004). The variable list is tiny — computed on
    * the driver, returned as a DataFrame. */
  def pairwiseVariables(
      spark: SparkSession, pm: PopulationModel,
      estimator: (String, String) => Double,
      valueName: String = "value"): DataFrame = {
    import spark.implicits._
    val vars = pm.visibleVariables.map(_.name)
    val rows = for (v0 <- vars; v1 <- vars)
      yield (pm.population.name, v0, v1, estimator(v0, v1))
    // one partition the planner knows of (see `simulate`)
    rows.toDF("population", "name0", "name1", valueName).coalesce(1)
  }
}
