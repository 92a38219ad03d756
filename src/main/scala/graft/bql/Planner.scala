package graft.bql

import graft.catalog.Names
import graft.engine.{Estimators, PopulationModel}
import graft.functions.Correlation
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Ast._

/** BQL query planner: AST → DataFrame (reference: src/compiler.py compiles
  * AST → SQLite SQL text; we build the Catalyst logical plan directly with
  * the DataFrame/Column API and let Catalyst choose the physical plan).
  *
  * Model-estimator compilation contexts mirror the reference's
  * BQLCompiler_None/Const/1Row/1Row_Infer/2Row/1Col/2Col classes
  * (src/compiler.py:1059-1473): each query shape provides the implied
  * row/column expressions its estimators need.
  *
  * Subquery policy (README divergence D3):
  *  - uncorrelated subqueries stay in the plan: a scalar compiles to a
  *    one-row Catalyst scalar subquery, EXISTS and IN to Catalyst's
  *    exists / in-subquery expressions, in any position. Catalyst's own
  *    rules make the joins (a top-level IN a left-semi join, NOT IN the
  *    null-aware left-anti join); planning runs no Spark job;
  *  - correlated subqueries decorrelate: aggregate scalars into grouped
  *    left joins (equality correlation) or theta joins (any other
  *    operator), with scalars sharing FROM, WHERE and key tuple folded into
  *    one join; non-aggregate scalars, EXISTS and IN plan as native
  *    Catalyst subquery expressions. Shapes with no well-defined
  *    decorrelation are rejected with a named D3 error.
  *
  * The decorrelators stay hand-written rather than defer to Catalyst's
  * own, which drops the equality on mixed equality+theta correlation
  * (b26); the measurement is ROADMAP item 8.
  *
  * Expression walkers fold over `Ast.children` / `Ast.mapChildren` and
  * spell out only the nodes they treat specially. `compile` and the
  * whitelists `embedSafe`, `qualify` and `aliasesOf` stay explicit: they
  * reject the shapes they do not list.
  */
object Planner {

  // --------------------------------------------------------- BQL contexts

  sealed trait BqlCtx
  /** Plain SELECT: estimators forbidden (reference BQLCompiler_None). */
  case object NoModelCtx extends BqlCtx
  /** ESTIMATE ... BY p: constants only. */
  final case class ConstCtx(pm: PopulationModel) extends BqlCtx
  /** ESTIMATE ... FROM p: row functions over `rowid`. `available` is the
    * set of (casefolded) columns actually present in the queried frame —
    * PREDICT evidence restricts to it so a projected frame degrades
    * gracefully instead of failing analysis on an unresolved column. */
  final case class RowCtx(pm: PopulationModel,
      available: Option[Set[String]] = None) extends BqlCtx
  /** INFER: row context that additionally admits PREDICT. */
  final case class InferCtx(pm: PopulationModel,
      available: Option[Set[String]] = None) extends BqlCtx
  /** ESTIMATE ... FROM VARIABLES OF p: 1-column functions over `name`. */
  final case class ColCtx(pm: PopulationModel) extends BqlCtx
  /** ESTIMATE ... FROM PAIRWISE VARIABLES OF p: 2-column functions. */
  /** `subset`: the FOR-subcolumns restriction, so pair estimators compute
    * driver values only for the restricted pairs (a 64-variable population
    * with FOR over 2 columns needs 4, not 4096, estimator calls). */
  final case class PairColCtx(pm: PopulationModel,
      subset: Option[Seq[String]] = None) extends BqlCtx
  /** ESTIMATE ... FROM PAIRWISE p: 2-row functions over rowid0/rowid1. */
  final case class PairRowCtx(pm: PopulationModel) extends BqlCtx

  private def pmOf(ctx: BqlCtx): PopulationModel = ctx match {
    case ConstCtx(pm) => pm
    case RowCtx(pm, _) => pm
    case InferCtx(pm, _) => pm
    case ColCtx(pm) => pm
    case PairColCtx(pm, _) => pm
    case PairRowCtx(pm) => pm
    case NoModelCtx => throw new IllegalArgumentException(
      "Model estimators are forbidden in plain SELECT; use ESTIMATE")
  }

  /** Name scope of one query frame: unqualified (casefolded) column names
    * plus alias → columns, used to classify a subquery's column references
    * as inner or outer (correlated). */
  final case class Scope(names: Set[String], tables: Map[String, Set[String]])
  object Scope {
    /** The scope of FROM terms given as (alias, column names). */
    def of(frames: Seq[(String, Seq[String])]): Scope = Scope(
      frames.flatMap(_._2).map(Names.casefold).toSet,
      frames.map { case (a, cs) => Names.casefold(a) -> cs.map(Names.casefold).toSet }.toMap)
  }

  /** `scope` is this query's own FROM-frame; `outerScope` is the enclosing
    * frame when this query is a subquery — references that do not resolve
    * in `scope` but do in `outerScope` compile as outer references
    * (Column.outer()), giving one level of correlation (reference: SQLite
    * resolves arbitrarily nested outer references; we support the
    * immediately-enclosing frame and name deeper nesting as D3). */
  final case class Ctx(bdb: BayesDB, bql: BqlCtx, binds: Seq[Any], agg: Boolean,
      scope: Option[Scope] = None, outerScope: Option[Scope] = None) {
    def withAgg(a: Boolean): Ctx = copy(agg = a)
  }

  private def availableOf(ctx: Ctx): Option[Set[String]] = ctx.bql match {
    case RowCtx(_, a) => a
    case InferCtx(_, a) => a
    case _ => None
  }

  // --------------------------------------------------------------- entry

  def plan(bdb: BayesDB, q: Query, binds: Seq[Any]): DataFrame =
    plan(bdb, q, binds, None)

  private def plan(bdb: BayesDB, q: Query, binds: Seq[Any],
      outer: Option[Scope]): DataFrame = q match {
    case s: Select => planSelect(bdb, s, binds, outer)
    case e: Estimate => planEstimate(bdb, e, binds)
    case e: EstBy => planEstBy(bdb, e, binds)
    case e: EstCols => planEstCols(bdb, e, binds)
    case e: EstPairCols => planEstPairCols(bdb, e, binds)
    case e: EstPairRow => planEstPairRow(bdb, e, binds)
    case i: InferAuto => planInferAuto(bdb, i, binds)
    case i: InferExplicit => planInferExplicit(bdb, i, binds)
    case s: Simulate => planSimulate(bdb, s, binds)
    case s: SimulateModels => planSimulateModels(bdb, s.columns, s.population, s.generator, binds)
    case s: SimulateModelsExp => planSimulateModels(bdb, s.columns, s.population, s.generator, binds)
  }

  /** `SIMULATE <exprs> FROM MODELS OF p`: one row per ensemble member,
    * each expression evaluated against that single model (reference:
    * src/compiler.py:724-835 + the bql_mutinf virtual table
    * src/bqlvtab.py:33-209 + macro expansion src/macro.py:37-111 — here
    * the per-model values are computed directly and materialized as a
    * DataFrame; no vtab or rowid-equijoin needed). */
  private def planSimulateModels(bdb: BayesDB, columns: Seq[SelCol],
      population: String, generator: Option[String], binds: Seq[Any]): DataFrame = {
    val pm = bdb.populationModel(population, generator)
    require(pm.generators.length == 1 || generator.isDefined,
      "SIMULATE FROM MODELS OF with multiple generators: name one with MODELED BY")
    val gen = pm.generators.head
    val modelnos = gen.state.modelNumbers
    var autoIdx = -1
    val items = columns.map {
      case SelColExp(e, nm) =>
        val name = nm.getOrElse(e match {
          case ExpCol(_, c) => c
          case _ => autoIdx += 1; s"c$autoIdx"
        })
        name -> e
      case other => throw new IllegalArgumentException(
        s"SIMULATE FROM MODELS OF needs expressions: $other")
    }
    val rows = modelnos.map { m =>
      org.apache.spark.sql.Row.fromSeq(items.map { case (_, e) =>
        evalModelExp(bdb, pm, m, e, binds) })
    }
    val schema = org.apache.spark.sql.types.StructType(items.map { case (n, _) =>
      org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DoubleType) })
    // one slice, and a narrow coalesce so the planner knows it is one
    // partition (an RDD scan reports unknown partitioning)
    bdb.spark.createDataFrame(
      bdb.spark.sparkContext.parallelize(rows, 1), schema).coalesce(1)
  }

  /** Evaluate an expression against ONE ensemble member: BQL constant
    * functions dispatch with modelnos=[m]; arithmetic composes
    * (the reference's macro expansion over per-model columns). */
  private def evalModelExp(bdb: BayesDB, pm: PopulationModel, m: Int,
      e: Exp, binds: Seq[Any]): Double = {
    def ev(x: Exp): Double = evalModelExp(bdb, pm, m, x, binds)
    val gen = pm.generators.head
    val one = Some(Seq(m))
    e match {
      case ExpLit(LitInt(v)) => v.toDouble
      case ExpLit(LitFloat(v)) => v
      case ExpNumpar(n) => bindValue(binds, n).asInstanceOf[Number].doubleValue
      case ExpNampar(n, _) => bindValue(binds, n).asInstanceOf[Number].doubleValue
      case ExpOp(Op.Add, Seq(a, b)) => ev(a) + ev(b)
      case ExpOp(Op.Sub, Seq(a, b)) => ev(a) - ev(b)
      case ExpOp(Op.Mul, Seq(a, b)) => ev(a) * ev(b)
      case ExpOp(Op.Div, Seq(a, b)) => ev(a) / ev(b)
      case ExpOp(Op.Negate, Seq(a)) => -ev(a)
      case ExpOp(Op.PlusId, Seq(a)) => ev(a)
      // comparisons → indicator values, so PROBABILITY OF (mi > 0.5)
      // averages an event over the ensemble (reference: tests/test_cmi.py
      // test_estimate_cmi_bound)
      case ExpOp(Op.Gt, Seq(a, b)) => if (ev(a) > ev(b)) 1.0 else 0.0
      case ExpOp(Op.Geq, Seq(a, b)) => if (ev(a) >= ev(b)) 1.0 else 0.0
      case ExpOp(Op.Lt, Seq(a, b)) => if (ev(a) < ev(b)) 1.0 else 0.0
      case ExpOp(Op.Leq, Seq(a, b)) => if (ev(a) <= ev(b)) 1.0 else 0.0
      case ExpOp(Op.Eq, Seq(a, b)) => if (ev(a) == ev(b)) 1.0 else 0.0
      case ExpOp(Op.Neq, Seq(a, b)) => if (ev(a) != ev(b)) 1.0 else 0.0
      case ExpBQLMutInf(cols0, cols1, constraints, nsamp) =>
        require(cols0.nonEmpty && cols1.nonEmpty,
          "MUTUAL INFORMATION in MODELS OF needs OF ... WITH ...")
        val n = nsamp.map(x => evalConstInt(bdb, x, binds)).getOrElse(1000)
        val cs = constraints.map {
          case MiEquality(c, v) =>
            pm.colno(c) -> Some(Estimators.encodeValue(pm, c, evalConst(bdb, v, binds)))
          case MiMarginal(c) => pm.colno(c) -> None
        }
        val rng = DetRngFor(pm, m)
        val ms = gen.backend.columnMutualInformation(gen.state, one,
          cols0.map(pm.colno), cols1.map(pm.colno), cs, n, rng)
        ms.sum / ms.length
      case ExpBQLDepProb(Some(c0), Some(c1)) =>
        val ds = gen.backend.columnDependenceProbability(gen.state, one,
          pm.colno(c0), pm.colno(c1))
        ds.sum / ds.length
      case ExpBQLProbDensity(targets, constraints) =>
        val t = targets.map { case (c, v) =>
          pm.colno(c) -> Estimators.encodeValue(pm, c, evalConst(bdb, v, binds)) }
        val cs = constraints.map { case (c, v) =>
          pm.colno(c) -> Estimators.encodeValue(pm, c, evalConst(bdb, v, binds)) }
        math.exp(gen.backend.logpdfJoint(gen.state, one, t, cs))
      case ExpBQLSim(Some(of), Some(to), cl) =>
        val colno = contextColno(pm, cl, Ctx(bdb, ConstCtx(pm), binds, agg = false))
        val ctx = Ctx(bdb, NoModelCtx, binds, agg = false)
        val t = bdb.table(pm.population.table)
        def rid(cond: Exp): Long = {
          val rows = t.filter(compile(cond, ctx)).select(col("rowid")).limit(1).collect()
          require(rows.nonEmpty, s"No row matches: $cond")
          rows.head.getLong(0)
        }
        val ss = gen.backend.rowSimilarity(gen.state, one, rid(of), rid(to), Seq(colno))
        ss.sum / ss.length
      case other => throw new IllegalArgumentException(
        s"Cannot evaluate per-model: $other")
    }
  }

  private def DetRngFor(pm: PopulationModel, m: Int): graft.backends.DetRng =
    graft.backends.DetRng(pm.seed, 0x5100de1L, m.toLong)

  // -------------------------------------------------------------- SELECT

  private def planSelect(bdb: BayesDB, s: Select, binds: Seq[Any],
      outer: Option[Scope] = None): DataFrame = {
    val tabs = fromFrames(bdb, s.tables, binds)
    val base = if (tabs.isEmpty) oneRow(bdb) else crossJoinFrames(tabs)
    val scope = Scope.of(tabs.map { case (a, df) => (a, df.columns.toSeq) })
    val ctx = Ctx(bdb, NoModelCtx, binds, agg = false,
      scope = Some(scope), outerScope = outer)
    assemble(base, Nil, s.columns, s.quantifier, s.condition, s.grouping,
      s.order, s.limit, ctx,
      starColumns = starCols(s.tables, bdb, binds))
  }

  /** The name a FROM term is known by: its alias, else its table name. */
  private def aliasOf(st: SelTab): String = st.name.getOrElse(st.table match {
    case Right(name) => name
    case Left(_) => "__sub__"
  })

  /** Each FROM term planned (a table, or a FROM-subquery) under its alias. */
  private def fromFrames(bdb: BayesDB, tables: Seq[SelTab],
      binds: Seq[Any]): Seq[(String, DataFrame)] =
    tables.map { st =>
      (aliasOf(st), st.table match {
        case Right(name) => bdb.table(name)
        case Left(sub) => plan(bdb, sub, binds)
      })
    }

  /** The cross join of FROM frames, each aliased so qualified refs resolve. */
  private def crossJoinFrames(tabs: Seq[(String, DataFrame)]): DataFrame =
    tabs.map { case (a, df) => df.as(a) }.reduceLeft(_ crossJoin _)

  /** Column names `*` expands to: all FROM-table columns minus the
    * materialized rowid (SQLite's implicit _rowid_ is likewise hidden
    * from SELECT *). */
  private def starCols(tables: Seq[SelTab], bdb: BayesDB, binds: Seq[Any]): Seq[String] =
    tables.flatMap { st =>
      val cols = st.table match {
        case Right(name) => bdb.table(name).columns.toSeq
        case Left(sub) => plan(bdb, sub, binds).columns.toSeq
      }
      cols.filterNot(c => Names.casefold(c) == "rowid")
    }

  // ------------------------------------------------------------ ESTIMATE

  private def planEstimate(bdb: BayesDB, e: Estimate, binds: Seq[Any]): DataFrame = {
    val pm = bdb.populationModel(e.population, e.generator, e.modelnos)
    // aliased by table name so correlated subqueries can reference the
    // frame qualified, as the reference's compiled `FROM base_table` does
    val base = bdb.table(pm.population.table).as(pm.population.table)
    val cols = base.columns.map(Names.casefold).toSet
    val ctx = Ctx(bdb, RowCtx(pm, Some(cols)), binds, agg = false,
      scope = Some(Scope(cols, Map(
        Names.casefold(pm.population.table) -> cols))))
    assemble(base, Nil, e.columns, e.quantifier, e.condition, e.grouping,
      e.order, e.limit, ctx,
      starColumns = base.columns.toSeq.filterNot(c => Names.casefold(c) == "rowid"))
  }

  private def planEstBy(bdb: BayesDB, e: EstBy, binds: Seq[Any]): DataFrame = {
    val pm = bdb.populationModel(e.population, e.generator, e.modelnos)
    val base = oneRow(bdb)
    val ctx = Ctx(bdb, ConstCtx(pm), binds, agg = false)
    assemble(base, Nil, e.columns, e.quantifier, None, None, Nil, None, ctx,
      starColumns = Nil)
  }

  /** The one-row base of a FROM-less SELECT and of ESTIMATE ... BY: a
    * one-slice Range, which plans as `SinglePartition` (`range(1)` would
    * spread its row over `defaultParallelism` slices). */
  private def oneRow(bdb: BayesDB): DataFrame =
    bdb.spark.range(0, 1, 1, 1).toDF("__dummy__")

  /** Variables-of-population frame (reference compiles to a scan of
    * bayesdb_variable, src/compiler.py:844-919). */
  private def variablesDf(bdb: BayesDB, pm: PopulationModel): DataFrame = {
    val spark = bdb.spark
    import spark.implicits._
    // aliased `v` like the reference's compiled `bayesdb_variable AS v`
    // (src/compiler.py:844-919) so `WHERE v.name != ...` resolves
    pm.visibleVariables
      .map(v => (v.name, v.colno, v.stattype.name))
      .toDF("name", "colno", "stattype")
      .coalesce(1)  // one partition the planner knows of: no exchanges
      .as("v")
  }

  /** Whether any expression uses a MODEL-needing estimator form. Data-only
    * estimators (CORRELATION [PVALUE]) run against the raw table — the
    * reference computes them on populations with no generator at all
    * (tests/test_correlation.py), so planners for column contexts relax
    * the generator requirement when nothing else needs models. Subqueries
    * plan against their own population context and are not scanned. */
  private def needsModels(exps: Seq[Exp]): Boolean =
    exps.exists(Ast.exists(_) {
      case _: ExpBQLCorrel | _: ExpBQLCorrelPval => false
      case e => isBql(e)
    })

  private def planEstCols(bdb: BayesDB, e: EstCols, binds: Seq[Any]): DataFrame = {
    val exps = e.columns.collect { case SelColExp(x, _) => x } ++
      e.condition.toSeq ++ e.order.map(_.expression)
    val pm = bdb.populationModel(e.population, e.generator, e.modelnos,
      needModels = needsModels(exps) || e.modelnos.isDefined)
    val base = variablesDf(bdb, pm)
    val ctx = Ctx(bdb, ColCtx(pm), binds, agg = false)
    // `*` means just the variable name column (reference: 'v.name AS name')
    val columns = e.columns.map {
      case SelColAll(_) => SelColExp(ExpCol(None, "name"), Some("name"))
      case c => c
    }
    assemble(base, Nil, columns, SelQuantAll, e.condition, None, e.order,
      e.limit, ctx, starColumns = Seq("name"))
  }

  private def planEstPairCols(bdb: BayesDB, e: EstPairCols, binds: Seq[Any]): DataFrame = {
    val exps = e.columns.collect { case SelColExp(x, _) => x } ++
      e.condition.toSeq ++ e.order.map(_.expression)
    val pm = bdb.populationModel(e.population, e.generator, e.modelnos,
      needModels = needsModels(exps) || e.modelnos.isDefined)
    val vars = variablesDf(bdb, pm)
    val base = vars.select(col("name").as("name0"), col("colno").as("colno0"))
      .crossJoin(vars.select(col("name").as("name1"), col("colno").as("colno1")))
    val subNames = e.subcolumns.map(
      _.flatMap(resolveColList(bdb, pm, _, binds)).map(Names.casefold))
    val filtered = subNames match {
      case None => base
      case Some(names) =>
        base.filter(lower(col("name0")).isin(names: _*) &&
          lower(col("name1")).isin(names: _*))
    }
    val ctx = Ctx(bdb, PairColCtx(pm, subNames), binds, agg = false)
    // output prefix (population_id, name0, name1); single unnamed
    // expression is named `value` (reference: src/compiler.py:941-953)
    val prefix = Seq(
      "population_id" -> lit(pm.population.id),
      "name0" -> col("name0"),
      "name1" -> col("name1"))
    val columns = e.columns match {
      case Seq(SelColExp(exp, None)) => Seq(SelColExp(exp, Some("value")))
      case cs => cs
    }
    assemble(filtered, prefix, columns, SelQuantAll, e.condition, None,
      e.order, e.limit, ctx, starColumns = Nil)
  }

  private def planEstPairRow(bdb: BayesDB, e: EstPairRow, binds: Seq[Any]): DataFrame = {
    val pm = bdb.populationModel(e.population, e.generator, e.modelnos)
    val t = bdb.table(pm.population.table)
    // self cross join on rowid pairs (reference: FROM t AS r0, t AS r1).
    // Scale note: this is inherently O(n²) — reference semantics; callers
    // bound it with WHERE/LIMIT.
    val base = t.as("r0").crossJoin(t.as("r1"))
      .withColumn("rowid0", col("r0.rowid"))
      .withColumn("rowid1", col("r1.rowid"))
    val ctx = Ctx(bdb, PairRowCtx(pm), binds, agg = false)
    val prefix = Seq("rowid0" -> col("rowid0"), "rowid1" -> col("rowid1"))
    val columns = e.columns match {
      case Seq(SelColExp(exp, None)) => Seq(SelColExp(exp, Some("value")))
      case cs => cs
    }
    assemble(base, prefix, columns, SelQuantAll, e.condition, None,
      e.order, e.limit, ctx, starColumns = Nil)
  }

  // --------------------------------------------------------------- INFER

  private def planInferAuto(bdb: BayesDB, i: InferAuto, binds: Seq[Any]): DataFrame = {
    val pm = bdb.populationModel(i.population, i.generator, i.modelnos)
    val base = bdb.table(pm.population.table)
    val conf = i.confidence.getOrElse(ExpLit(LitInt(0)))
    // rewrite to INFER EXPLICIT: modeled columns become
    // IFNULL(col, PREDICT col conf) (reference: src/compiler.py:424-458)
    def mapColumn(colName: String, outName: Option[String]): SelCol = {
      val exp0 = ExpCol(None, colName)
      val exp =
        if (pm.population.variable(colName).isDefined)
          ExpApp(distinct = false, "IFNULL",
            Seq(exp0, ExpBQLPredict(colName, conf, i.nsamples)))
        else exp0
      SelColExp(exp, Some(outName.getOrElse(colName)))
    }
    val columns = i.columns.flatMap {
      case InfColAll =>
        base.columns.toSeq.filterNot(c => Names.casefold(c) == "rowid")
          .map(c => mapColumn(c, None))
      case InfColOne(c, nm) => Seq(mapColumn(c, nm))
    }
    planInferExplicit(bdb,
      InferExplicit(columns, i.population, i.generator, i.modelnos,
        i.condition, i.grouping, i.order, i.limit), binds)
  }

  private def planInferExplicit(bdb: BayesDB, i: InferExplicit, binds: Seq[Any]): DataFrame = {
    val pm = bdb.populationModel(i.population, i.generator, i.modelnos)
    val base = bdb.table(pm.population.table).as(pm.population.table)
    val cols = base.columns.map(Names.casefold).toSet
    val ctx = Ctx(bdb, InferCtx(pm, Some(cols)), binds, agg = false,
      scope = Some(Scope(cols, Map(
        Names.casefold(pm.population.table) -> cols))))
    // PredCol expands to value [+ confidence] columns from the predict
    // struct (the reference smuggles these through JSON, bql_json_get;
    // a struct column is the Spark-native shape). The struct is attached
    // as a hidden column so both fields evaluate the UDF once.
    var base2 = base
    val columns = i.columns.zipWithIndex.flatMap {
      case (PredCol(c, nm, confName, nsamp), idx) =>
        val colno = pm.colno(c)
        val n = nsamp.map(e => evalConstInt(bdb, e, binds)).getOrElse(2)
        val hid = s"__pred_$idx"
        base2 = base2.withColumn(hid, Estimators.predictStructCol(pm, colno, n,
          col("rowid"), Some(base2.columns.map(Names.casefold).toSet)))
        val valueCol = SelColExp(ExpCol(Some(hid), "value"), Some(nm.getOrElse(c)))
        confName match {
          case Some(cn) => Seq(valueCol, SelColExp(ExpCol(Some(hid), "confidence"), Some(cn)))
          case None => Seq(valueCol)
        }
      case (c, _) => Seq(c)
    }
    assemble(base2, Nil, columns, SelQuantAll, i.condition, i.grouping,
      i.order, i.limit, ctx,
      starColumns = base.columns.toSeq.filterNot(c => Names.casefold(c) == "rowid"))
  }

  // ------------------------------------------------------------ SIMULATE

  private def planSimulate(bdb: BayesDB, s: Simulate, binds: Seq[Any]): DataFrame = {
    val pm = bdb.populationModel(s.population, s.generator, s.modelnos)
    val targets = s.columns.map {
      case SelColExp(ExpCol(_, c), _) => c
      case other => throw new IllegalArgumentException(
        s"SIMULATE only accepts population variables: $other")
    }
    // GIVEN rowid = r conditions on an existing row (reference rowid
    // tokens rowid/_rowid_/oid, src/schema.py:34-40; semantics
    // tests/test_simulate.py:79-260)
    val rowidTokens = Set("rowid", "_rowid_", "oid")
    val (ridGivens, varGivens) = s.constraints.partition { case (c, _) =>
      rowidTokens(Names.casefold(c)) }
    require(ridGivens.length <= 1,
      "SIMULATE GIVEN accepts at most one rowid designator")
    val givenRowid = ridGivens.headOption.map { case (_, e) =>
      evalConstInt(bdb, e, binds).toLong }
    val constraints = varGivens.map { case (c, e) =>
      c -> Estimators.encodeValue(pm, c, evalConst(bdb, e, binds))
    }
    val rowValues: Seq[(Int, Double)] = givenRowid match {
      case None => Nil
      case Some(r) =>
        val t = bdb.table(pm.population.table)
        val hit = t.filter(col("rowid") === r).limit(1).collect()
        require(hit.nonEmpty, s"No row with rowid $r")
        val row = hit.head
        val explicit = constraints.map(c => Names.casefold(c._1)).toSet
        pm.visibleVariables.filterNot(_.isLatent)
          .filterNot(v => targets.exists(t0 => Names.casefold(t0) == Names.casefold(v.name)))
          .filterNot(v => explicit(Names.casefold(v.name)))
          .flatMap { v =>
            val i = row.fieldIndex(v.name)
            if (row.isNullAt(i)) None
            else Some(pm.colno(v.name) ->
              Estimators.encodeValue(pm, v.name, row.get(i)))
          }
    }
    val n = s.nsamples.map(e => evalConstInt(bdb, e, binds)).getOrElse(0)
    // ACCURACY reaches the backend (reference: src/backend.py:263-266,
    // compiler.py:718 → simulate_joint(..., accuracy)); exact conjugate
    // samplers ignore it, CrossCat's foreign-composition importance
    // sampler widens its proposal pool by it.
    s.accuracy.foreach(a => require(a > 0, s"ACCURACY must be positive: $a"))
    Estimators.simulate(bdb.spark, pm, targets, constraints, n, givenRowid,
      rowValues, s.accuracy)
  }

  // ----------------------------------------------------------- assembly

  /** Correlated-subquery pre-pass, shared by `assemble` (over every
    * expression clause of a query) and by the theta decorrelator's
    * nested-conjunct path (over conjuncts re-scoped onto its joined
    * frame): aggregate correlated scalars rewrite into decorrelated
    * joins — collected as attach closures to fold over the frame being
    * assembled — the LHS of a correlated IN materializes as a hidden
    * outer column, and depth-≥2 refs peel one level via requalifyDeep.
    * One instance per assembly so distinct mentions of the same subquery
    * join once. */
  private final class SubqueryPrepass(ctx0: Ctx, aggSafe: Boolean = false) {
    private val attaches = scala.collection.mutable.Buffer.empty[DataFrame => DataFrame]
    private val hidden = scala.collection.mutable.Buffer.empty[String]
    private val subCache = scala.collection.mutable.Map[Exp, Exp]()
    // same-correlation theta-scalar merge registry (r19, VERDICT #6):
    // scalar subqueries sharing (FROM, WHERE, key tuple) — b26's
    // count/max pair — fold into ONE theta join + ONE multi-column
    // aggregate + ONE rejoin instead of N copies of the subtree. Keyed
    // by the body minus its select list plus the normalized key-ref
    // tuple; the value appends another aggregate item to the shared
    // attach (built lazily at apply-time, so late members still land).
    private[Planner] val thetaMerge = scala.collection.mutable.Map
      .empty[(Query, Seq[(Option[String], String)]), Exp => Exp]

    /** Hidden IN-LHS columns added to the outer frame (scope additions). */
    def hiddenNames: Seq[String] = hidden.toSeq

    /** Fold the collected decorrelation joins over `df`. */
    def apply(df: DataFrame): DataFrame = attaches.foldLeft(df)((d, f) => f(d))

    def rewrite(e: Exp): Exp = e match {
      case ex @ ExpExists(q: Select)
          if aggSafe && ctx0.scope.isDefined && isCorrelatedDeep(ctx0, q) &&
            existsCountRewritable(ctx0, q) =>
        // EXISTS in an aggregate-bound position (the theta mask column,
        // where Catalyst cannot place a native exists-subquery under the
        // Aggregate): existence rewrites to a decorrelatable count —
        // EXISTS(body) ≡ (SELECT count(*) FROM body) > 0, never NULL —
        // and the scalar machinery (key-tuple carry included) takes it.
        // Grouped bodies without HAVING drop their grouping (groups
        // exist ⟺ rows exist, whatever the select list aggregates);
        // ORDER BY and a constant LIMIT n≠0 drop too (existence is
        // order- and cap-insensitive); LIMIT 0 is provably empty.
        subCache.getOrElseUpdate(ex, {
          val limN = q.limit.map(l => evalConstInt(ctx0.bdb, l.limit, ctx0.binds))
          if (limN.contains(0))
            ExpOp(Op.Eq, Seq(ExpLit(LitInt(0)), ExpLit(LitInt(1))))
          else rewrite(ExpOp(Op.Gt, Seq(
            ExpSub(Select(SelQuantAll,
              Seq(SelColExp(ExpAppStar("count"), None)),
              q.tables, q.condition, None, Nil, None)),
            ExpLit(LitInt(0)))))
        })
      case ex @ ExpExists(q: Select)
          if ctx0.scope.isDefined && isCorrelatedDeep(ctx0, q) &&
            q.grouping.exists(_.condition.isDefined) =>
        // EXISTS over GROUP BY + HAVING: no plain existence-equivalent
        // body exists, but the scalar form (SELECT 1 ... ORDER BY 1
        // LIMIT 1) IS NOT NULL decorrelates through the grouped theta
        // machinery — re-enter rewrite so the ExpSub case picks it up
        subCache.getOrElseUpdate(ex,
          existsHavingScalar(ctx0, q) match {
            case Some(scalarForm) => rewrite(scalarForm)
            case None => ex
          })
      case inq @ ExpInQuery(x, positive, q: Select)
          if aggSafe && ctx0.scope.isDefined && isCorrelatedDeep(ctx0, q) &&
            !hasNestedQuery(x) && inBodyCountRewritable(ctx0, q) =>
        // membership in an aggregate-bound position, three-valued logic
        // preserved: TRUE on a match, NULL when no match but some
        // comparison is NULL (x NULL, or a NULL element), FALSE
        // otherwise — two decorrelatable counts replace the native
        // in-subquery expression. Grouped bodies qualify when the
        // selected item IS one of the group keys (membership in the
        // grouped values ≡ membership in the raw values, NULL group
        // included) and there is no HAVING/LIMIT. The LHS embeds into
        // the count's WHERE, so refs that collide with subquery column
        // names must first qualify by their unique owner alias in the
        // enclosing frame (embedSafe); unqualifiable shapes keep the
        // native form and its named rejection.
        subCache.getOrElseUpdate(inq,
          embedSafe(x, queryScope(ctx0.bdb, q, ctx0.binds)) match {
            case None => inq
            case Some(x2) =>
              val ie = q.columns.head.asInstanceOf[SelColExp].expression
              def cnt(extra: Exp): Exp = ExpSub(Select(SelQuantAll,
                Seq(SelColExp(ExpAppStar("count"), None)),
                q.tables,
                Some(q.condition.fold(extra)(c => ExpOp(Op.BoolAnd, Seq(c, extra)))),
                None, Nil, None))
              val eq = ExpOp(Op.Eq, Seq(ie, x2))
              val threeValued = ExpOp(Op.Eq, Seq(
                ExpCase(None, Seq(
                  (ExpOp(Op.Gt, Seq(cnt(eq), ExpLit(LitInt(0)))), ExpLit(LitInt(1))),
                  (ExpOp(Op.Gt, Seq(cnt(ExpOp(Op.IsNull, Seq(eq))), ExpLit(LitInt(0)))),
                    ExpLit(LitNull))),
                  Some(ExpLit(LitInt(0)))),
                ExpLit(LitInt(1))))
              rewrite(if (positive) threeValued
                else ExpOp(Op.BoolNot, Seq(threeValued)))
          })
      case inq @ ExpInQuery(x, positive, q: Select)
          if ctx0.scope.isDefined && isCorrelatedDeep(ctx0, q) &&
            !hasNestedQuery(x) && q.limit.isEmpty &&
            q.grouping.exists(_.condition.isDefined) &&
            (q.columns match {
              case Seq(SelColExp(ie, _)) =>
                !containsAggregate(ie) &&
                  q.grouping.get.keys.exists(k => sameColExp(ctx0, q, k, ie))
              case _ => false
            }) =>
        // membership in HAVING-filtered group keys: the same
        // three-valued CASE as the count rewrite above, but each branch
        // probes an EXISTS-HAVING body (the comparison rides the HAVING
        // conjunction — ie IS a group key, so it is legal there), which
        // the EXISTS-HAVING case below turns into the b31 grouped
        // scalar. TRUE on a passing group whose key matches; NULL when
        // no match but some comparison is NULL (x NULL with any passing
        // group, or a passing NULL-key group); FALSE otherwise.
        subCache.getOrElseUpdate(inq,
          embedSafe(x, queryScope(ctx0.bdb, q, ctx0.binds)) match {
            case None => inq
            case Some(x2) =>
              val ie = q.columns.head.asInstanceOf[SelColExp].expression
              val g = q.grouping.get
              def hv(extra: Exp): Exp = ExpExists(Select(SelQuantAll,
                Seq(SelColExp(ExpLit(LitInt(1)), None)),
                q.tables, q.condition,
                Some(Grouping(g.keys,
                  Some(g.condition.fold(extra)(p =>
                    ExpOp(Op.BoolAnd, Seq(p, extra)))))),
                Nil, None))
              val eq = ExpOp(Op.Eq, Seq(ie, x2))
              val threeValued = ExpOp(Op.Eq, Seq(
                ExpCase(None, Seq(
                  (hv(eq), ExpLit(LitInt(1))),
                  (hv(ExpOp(Op.IsNull, Seq(eq))), ExpLit(LitNull))),
                  Some(ExpLit(LitInt(0)))),
                ExpLit(LitInt(1))))
              rewrite(if (positive) threeValued
                else ExpOp(Op.BoolNot, Seq(threeValued)))
          })
      case sub @ ExpSub(q0) if ctx0.scope.isDefined && isCorrelatedDeep(ctx0, q0) =>
        subCache.getOrElseUpdate(sub, {
          // correlated FROM-subqueries flatten first, surfacing their
          // outer refs into this body's WHERE for the decorrelators
          val q = flattenCorrelatedFrom(ctx0, q0)
          normalizeAggScalar(requalifyDeep(ctx0, q)) match {
            case Left(()) => ExpLit(LitNull) // provably yields no row
            case Right(q2) =>
              decorrelateAggScalar(ctx0, q2)
                .orElse(decorrelateThetaAggScalar(ctx0, q2, Some(thetaMerge)))
                .orElse(decorrelateGroupedScalar(ctx0, q2))
                .orElse(decorrelateThetaGroupedScalar(ctx0, q2)) match {
                case Some((attach, repl)) => attaches += attach; repl
                // keep the requalifyDeep-peeled body (as the ExpExists
                // branch does): depth-2 non-aggregate scalars then plan
                // as a native one-level Catalyst scalar subquery
                case None => if (q2 eq q0) sub else ExpSub(q2)
              }
          }
        })
      case ex @ ExpExists(q) if ctx0.scope.isDefined && isCorrelated(ctx0, q) =>
        // depth-≥2 refs inside the EXISTS body peel to one level here;
        // the one-level form then plans as a native exists-subquery
        subCache.getOrElseUpdate(ex,
          ExpExists(requalifyDeep(ctx0, flattenCorrelatedFrom(ctx0, q))))
      case inq @ ExpInQuery(x, p, q) if ctx0.scope.isDefined && isCorrelated(ctx0, q) =>
        subCache.getOrElseUpdate(inq, {
          val xn = s"__in_x_${subqueryTag.getAndIncrement()}"
          attaches += ((df: DataFrame) => df.withColumn(xn, compile(x, ctx0)))
          hidden += xn
          ExpInQuery(ExpCol(None, xn), p,
            requalifyDeep(ctx0, flattenCorrelatedFrom(ctx0, q)))
        })
      case other => mapChildren(other)(rewrite)
    }

    /** Qualify an outer-text expression so it can embed INSIDE a
      * subquery's WHERE without capture: unqualified refs that collide
      * with the subquery's own column names qualify by their unique
      * owner alias in the enclosing frame; refs whose alias the
      * subquery shadows, or shapes beyond plain column/operator
      * expressions, return None (caller keeps the native form). */
    private def embedSafe(x: Exp, subScope: Scope): Option[Exp] = x match {
      case c @ ExpCol(None, n) if innerColRefs(c, subScope).nonEmpty =>
        ctx0.scope.get.tables.filter(_._2(normRef(n))).keys.toSeq match {
          case Seq(one) => Some(ExpCol(Some(one), n))
          case _ => None
        }
      case ExpCol(Some(t), _) if subScope.tables.contains(Names.casefold(t)) =>
        None
      case c: ExpCol => Some(c)
      case l: ExpLit => Some(l)
      case p: ExpNumpar => Some(p)
      case p: ExpNampar => Some(p)
      case ExpOp(op, os) =>
        val qs = os.map(embedSafe(_, subScope))
        if (qs.forall(_.isDefined)) Some(ExpOp(op, qs.flatten)) else None
      case ExpApp(d, f, as_) if !SqlFunctions.isAggregate(f, as_.length) =>
        val qs = as_.map(embedSafe(_, subScope))
        if (qs.forall(_.isDefined)) Some(ExpApp(d, f, qs.flatten)) else None
      case ExpCast(e2, t) => embedSafe(e2, subScope).map(ExpCast(_, t))
      case ExpCollate(e2, cl) => embedSafe(e2, subScope).map(ExpCollate(_, cl))
      case _ => None
    }
  }

  /** Whether the expression contains any nested subquery. */
  private def hasNestedQuery(e: Exp): Boolean =
    Ast.exists(e)(subqueryOf(_).isDefined)

  /** `isCorrelated` extended through nested subquery bodies: a subquery
    * whose ONLY reference to the enclosing frame sits at depth ≥ 2 still
    * needs the decorrelation machinery, not the plan-time path. */
  private def isCorrelatedDeep(ctx: Ctx, q: Query): Boolean =
    ctx.scope.exists(o => queryChainRefs(ctx, q, Nil, o).nonEmpty)

  /** Whether an EXISTS body can rewrite to a count: ungrouped bodies
    * must not select aggregates (an ungrouped aggregate always yields
    * one row — EXISTS would be constant-true, left to the native path);
    * grouped bodies qualify without HAVING (groups exist ⟺ rows exist);
    * LIMIT must be constant without OFFSET (n≠0 drops, 0 is empty). */
  private def existsCountRewritable(ctx: Ctx, q: Select): Boolean = {
    val groupOk = q.grouping match {
      case None => q.columns.forall {
        case SelColExp(ie, _) => !containsAggregate(ie)
        case _ => true
      }
      case Some(g) => g.condition.isEmpty
    }
    val limitOk = q.limit match {
      case None => true
      case Some(Lim(l, None)) =>
        scala.util.Try(evalConstInt(ctx.bdb, l, ctx.binds)).isSuccess
      case Some(Lim(_, Some(_))) => false
    }
    groupOk && limitOk
  }

  /** Whether an IN body can rewrite to counts: a single non-aggregate
    * item, and — when grouped — no HAVING and the item syntactically one
    * of the group keys (membership in grouped values ≡ raw values). */
  private def inBodyCountRewritable(ctx: Ctx, q: Select): Boolean =
    q.limit.isEmpty && (q.columns match {
      case Seq(SelColExp(ie, _)) if !containsAggregate(ie) =>
        q.grouping match {
          case None => true
          case Some(g) =>
            g.condition.isEmpty && g.keys.exists(k => sameColExp(ctx, q, k, ie))
        }
      case _ => false
    })

  /** Same column reference modulo qualification: exact AST equality, or
    * two ExpCols naming the same column where any unqualified side is
    * uniquely owned by one FROM alias. */
  private def sameColExp(ctx: Ctx, q: Select, a: Exp, b: Exp): Boolean =
    a == b || ((a, b) match {
      case (ExpCol(t1, n1), ExpCol(t2, n2)) if normRef(n1) == normRef(n2) =>
        val sc = queryScope(ctx.bdb, q, ctx.binds)
        def owner(t: Option[String]): Option[String] = t match {
          case Some(tb) => Some(Names.casefold(tb))
          case None => sc.tables.filter(_._2(normRef(n1))).keys.toSeq match {
            case Seq(one) => Some(one)
            case _ => None
          }
        }
        owner(t1).isDefined && owner(t1) == owner(t2)
      case _ => false
    })

  private def scopeResolves(t: Option[String], n: String, sc: Scope): Boolean = t match {
    case None => sc.names(normRef(n))
    case Some(tb) => sc.tables.get(Names.casefold(tb)).exists(_(normRef(n)))
  }

  /** Shared relational assembly: WHERE → (GROUP BY [+HAVING] | aggregate
    * | project) → DISTINCT → ORDER BY → LIMIT/OFFSET. `prefix` columns
    * (rowid0/…) are prepended to the projection. */
  private def assemble(
      base: DataFrame,
      prefix: Seq[(String, Column)],
      columns: Seq[SelCol],
      quant: SelQuant,
      condition: Option[Exp],
      grouping: Option[Grouping],
      order: Seq[Ord],
      limit: Option[Lim],
      ctx0: Ctx,
      starColumns: Seq[String]): DataFrame = {

    // Pre-pass over every expression clause (SubqueryPrepass):
    // (a) correlated aggregate scalar subqueries decorrelate into
    //     grouped joins on the base frame (each distinct subquery
    //     joins once even when mentioned in several clauses);
    // (b) the LHS of a correlated IN materializes as a uniquely-named
    //     hidden column on the outer frame — Column.outer() resolves
    //     inner-first, so an outer-text expression whose names collide
    //     with the subquery's columns would otherwise silently bind to
    //     the inner frame.
    val pre = new SubqueryPrepass(ctx0)
    val columns1 = columns.map {
      case SelColExp(e, nm) => SelColExp(pre.rewrite(e), nm)
      case other => other
    }
    val condition1 = condition.map(pre.rewrite)
    val grouping1 = grouping.map(g =>
      Grouping(g.keys.map(pre.rewrite), g.condition.map(pre.rewrite)))
    val order1 = order.map(o => Ord(pre.rewrite(o.expression), o.asc))
    val base1 = pre(base)
    // the hidden LHS columns are part of the outer frame's scope so the
    // membership filter can reference them as outer references
    val ctx = pre.hiddenNames match {
      case Nil => ctx0
      case hs => ctx0.copy(scope = ctx0.scope.map(s =>
        s.copy(names = s.names ++ hs.map(Names.casefold))))
    }

    val filtered = condition1.fold(base1)(cond => base1.filter(compile(cond, ctx)))

    // expand select items to (outputName, Exp)
    var autoIdx = -1
    val items: Seq[(String, Exp)] = columns1.flatMap {
      case SelColAll(None) => starColumns.map(c => c -> (ExpCol(None, c): Exp))
      case SelColAll(Some(t)) => starColumns.map(c => c -> (ExpCol(Some(t), c): Exp))
      case SelColSub(_, sub) =>
        // subquery-determined column list: run it, take its first column's
        // values as names (reference: expand_select_columns executes the
        // subquery at compile time, src/compiler.py:551-617)
        val names = planSubquery(ctx, sub).collect().map(_.get(0).toString).toSeq
        names.map(c => c -> (ExpCol(None, c): Exp))
      case SelColExp(e, nm) =>
        val name = nm.getOrElse(e match {
          case ExpCol(_, c) => c
          case _ => autoIdx += 1; s"c$autoIdx"
        })
        Seq(name -> e)
      case p: PredCol => throw new IllegalArgumentException(
        s"PREDICT column is only valid in INFER EXPLICIT: $p")
    }

    // positional group/order keys (SQLite: GROUP BY 1 / ORDER BY 2)
    def positional(e: Exp): Exp = e match {
      case ExpLit(LitInt(k)) if k >= 1 && k <= items.length => items(k.toInt - 1)._2
      case _ => e
    }

    val grouped = grouping1.isDefined
    val hasAgg = items.exists(it => containsAggregate(it._2)) ||
      grouping1.exists(_.condition.exists(containsAggregate))

    val projected: DataFrame =
      if (grouped) {
        val keys = grouping1.get.keys.map(positional).map(compile(_, ctx))
        val aggCtx = ctx.withAgg(true)
        // unique internal aliases: groupBy().agg() auto-prepends the
        // grouping columns, whose names may collide with select items
        val selCols = prefix.zipWithIndex.map { case ((_, c), k) => first(c).as(s"__pre_$k") } ++
          items.zipWithIndex.map { case ((_, e), k) => compile(e, aggCtx).as(s"__sel_$k") }
        val havingCol = grouping1.get.condition.map(c =>
          compile(c, aggCtx).as("__having__"))
        // ORDER BY may reference select aliases (SQL scoping) — resolve
        // alias / positional references to the item's expression
        val ordCols = order1.map(_.expression).map(positional).map {
          case ExpCol(None, c) if items.exists(it => Names.casefold(it._1) == Names.casefold(c)) =>
            items.find(it => Names.casefold(it._1) == Names.casefold(c)).get._2
          case e => e
        }.zipWithIndex.map { case (e, k) => compile(e, aggCtx).as(s"__ord_$k") }
        val allAggs = selCols ++ havingCol.toSeq ++ ordCols
        val g = filtered.groupBy(keys: _*).agg(allAggs.head, allAggs.tail: _*)
        val h = if (havingCol.isDefined) g.filter(col("__having__")) else g
        val o = if (order1.nonEmpty) {
          h.orderBy(order1.zipWithIndex.map { case (ord, k) =>
            if (ord.asc) col(s"__ord_$k").asc else col(s"__ord_$k").desc
          }: _*)
        } else h
        o.select(prefix.zipWithIndex.map { case ((n, _), k) => col(s"__pre_$k").as(n) } ++
          items.zipWithIndex.map { case ((n, _), k) => col(s"__sel_$k").as(n) }: _*)
      } else if (hasAgg) {
        // global aggregate (no GROUP BY): one row
        val aggCtx = ctx.withAgg(true)
        val selCols = items.map { case (n, e) => compile(e, aggCtx).as(n) }
        filtered.groupBy().agg(selCols.head, selCols.tail: _*)
      } else {
        val selCols = prefix.map { case (n, c) => c.as(n) } ++
          items.map { case (n, e) => compile(e, ctx).as(n) }
        val outNames = prefix.map(_._1) ++ items.map(_._1)
        // pre-compute order keys as hidden columns so arbitrary
        // expressions over base columns can sort the projection
        val distinctQ = quant == SelQuantDistinct
        val ordExprs = order1.map(_.expression).map(positional)
        val ordResolved: Seq[Either[String, Exp]] = ordExprs.map {
          case ExpCol(None, c) if outNames.exists(n => Names.casefold(n) == Names.casefold(c)) =>
            Left(outNames.find(n => Names.casefold(n) == Names.casefold(c)).get)
          case e =>
            items.find(_._2 == e) match {
              case Some((n, _)) => Left(n)
              case None => Right(e)
            }
        }
        val hidden = ordResolved.zipWithIndex.collect {
          case (Right(e), k) => s"__ord_$k" -> compile(e, ctx)
        }
        if (distinctQ && hidden.nonEmpty)
          throw new IllegalArgumentException(
            "ORDER BY expression must appear in the select list under DISTINCT")
        val proj0 = filtered.select(selCols ++ hidden.map { case (n, c) => c.as(n) }: _*)
        val proj1 = if (distinctQ) proj0.distinct() else proj0
        val sorted =
          if (order1.isEmpty) proj1
          else proj1.orderBy(ordResolved.zipWithIndex.map { case (r, k) =>
            val c = r match { case Left(n) => col(n); case Right(_) => col(s"__ord_$k") }
            if (order1(k).asc) c.asc else c.desc
          }: _*)
        if (hidden.nonEmpty) sorted.drop(hidden.map(_._1): _*) else sorted
      }

    val distincted =
      if (quant == SelQuantDistinct && (grouped || hasAgg)) projected.distinct()
      else projected

    limit match {
      case None => distincted
      case Some(Lim(l, off)) =>
        val n = evalConstInt(ctx.bdb, l, ctx.binds)
        val withOff = off match {
          case Some(o) => distincted.offset(evalConstInt(ctx.bdb, o, ctx.binds))
          case None => distincted
        }
        withOff.limit(n)
    }
  }

  /** Top-level AND-conjuncts of a condition. */
  private def conjuncts(e: Exp): Seq[Exp] = e match {
    case ExpOp(Op.BoolAnd, Seq(a, b)) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** Plan a subquery, naming the correlated case: a reference to an
    * outer column surfaces as Spark's unresolved-column error — rethrow
    * as the documented divergence (D3; the reference inherits correlated
    * subqueries from SQLite, src/compiler.py:1795-1797). */
  private def planSubquery(ctx: Ctx, q: Query): DataFrame =
    try plan(ctx.bdb, q, ctx.binds)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("UNRESOLVED_COLUMN") ||
            e.getMessage.contains("cannot be resolved") =>
        throw new UnsupportedOperationException(
          "Correlated subqueries are not supported (divergence D3); " +
            "the subquery must reference only its own FROM tables. " +
            s"Spark analysis: ${e.getMessage.linesIterator.next()}")
    }

  /** Unique suffix for internal join-key aliases (plans may nest). */
  private val subqueryTag = new java.util.concurrent.atomic.AtomicInteger(0)

  // ------------------------------------------- correlated subqueries (D3)

  /** rowid aliases resolve to the materialized rowid column. */
  private def normRef(c: String): String = Names.casefold(c) match {
    case "_rowid_" | "oid" => "rowid"
    case cf => cf
  }

  /** The FROM-frame scope of a subquery, for correlation analysis.
    * Subquery-valued FROM tables are planned to learn their columns
    * (driver-side only; they are planned again when the query runs —
    * Catalyst analysis cost, not data cost). */
  private def queryScope(bdb: BayesDB, s: Select, binds: Seq[Any]): Scope = {
    Scope.of(s.tables.map { st =>
      val cols = st.table match {
        case Right(name) => bdb.table(name).columns.toSeq
        case Left(sub) =>
          // a CORRELATED FROM-sub cannot be planned standalone (outer
          // refs don't resolve) — derive its output columns structurally
          // so correlation analysis (and the flattening rewrite) can
          // still see the frame; uncorrelated subs keep the planned
          // columns (exact, including computed names). Only the
          // unresolved-column condition falls back — a missing table or
          // any other genuine error must surface, not be misread as
          // correlation
          try plan(bdb, sub, binds).columns.toSeq
          catch {
            case e: org.apache.spark.sql.AnalysisException
                if Option(e.getCondition)
                  .exists(_.startsWith("UNRESOLVED_COLUMN")) =>
              structuralColumns(bdb, sub, binds)
          }
      }
      (aliasOf(st), cols)
    })
  }

  /** Output column names of a Select derived WITHOUT planning it (for
    * correlated FROM-subqueries, which cannot plan standalone): explicit
    * aliases, bare column names, star expansion via the sub's own frame;
    * unnamed computed items get an unreferenceable placeholder. */
  private def structuralColumns(bdb: BayesDB, q: Query, binds: Seq[Any]): Seq[String] =
    q match {
      case s: Select =>
        lazy val sc = queryScope(bdb, s, binds)
        s.columns.zipWithIndex.flatMap {
          case (SelColExp(_, Some(nm)), _) => Seq(nm)
          case (SelColExp(ExpCol(_, n), None), _) => Seq(n)
          case (SelColExp(_, None), i) => Seq(s"__expr_$i")
          case (SelColAll(None), _) => sc.tables.values.flatten.toSeq
          case (SelColAll(Some(t)), _) =>
            sc.tables.getOrElse(Names.casefold(t), Set.empty).toSeq
          case _ => Nil
        }
      case _ => Nil
    }

  /** Column references in `e` that do not resolve in `inner` but do in
    * `outer` — the correlation witnesses. Nested subqueries analyze
    * themselves (one level of correlation; deeper nesting stays D3). */
  private def freeColRefs(e: Exp, inner: Scope, outer: Scope): Seq[ExpCol] = e match {
    case c @ ExpCol(t, n) => if (isOuterRef(t, n, inner, outer)) Seq(c) else Nil
    case _ => children(e).flatMap(freeColRefs(_, inner, outer))
  }

  /** Whether a column ref escapes `inner` and resolves in `outer`: an
    * unqualified name missing from `inner`, or a qualifier `inner` does
    * not know (inner-first scoping, as SQLite). */
  private def isOuterRef(table: Option[String], name: String, inner: Scope,
      outer: Scope): Boolean = table match {
    case None =>
      val cf = normRef(name)
      !inner.names(cf) && outer.names(cf)
    case Some(t) =>
      val tf = Names.casefold(t)
      !inner.tables.contains(tf) && outer.tables.get(tf).exists(_(normRef(name)))
  }

  /** All expressions of a Select reachable for correlation analysis. */
  private def selectExps(s: Select): Seq[Exp] =
    s.columns.collect { case SelColExp(e, _) => e } ++
      s.condition.toSeq ++
      s.grouping.toSeq.flatMap(g => g.keys ++ g.condition.toSeq) ++
      s.order.map(_.expression)

  /** `s` with `f` applied to each of its [[selectExps]], in that order. */
  private def mapSelectExps(s: Select)(f: Exp => Exp): Select = s.copy(
    columns = s.columns.map {
      case SelColExp(e, nm) => SelColExp(f(e), nm)
      case other => other
    },
    condition = s.condition.map(f),
    grouping = s.grouping.map(g => Grouping(g.keys.map(f), g.condition.map(f))),
    order = s.order.map(o => Ord(f(o.expression), o.asc)))

  /** Whether subquery `q` references the enclosing frame (equality or
    * otherwise). Only Select subqueries participate; anything else keeps
    * the uncorrelated path and its named error. */
  private def isCorrelated(ctx: Ctx, q: Query): Boolean = q match {
    case s: Select if ctx.scope.isDefined =>
      val inner = queryScope(ctx.bdb, s, ctx.binds)
      selectExps(s).exists(e => freeColRefs(e, inner, ctx.scope.get).nonEmpty) ||
        // correlation carried entirely inside a FROM-subquery body
        s.tables.exists(st => st.table match {
          case Left(sub) => queryChainRefs(ctx, sub, Nil, ctx.scope.get).nonEmpty
          case Right(_) => false
        })
    case _ => false
  }

  /** Plan a correlated subquery: outer references (resolved against
    * `ctx.scope`) compile as Column.outer() and Catalyst decorrelates
    * (exists / non-aggregate scalar). */
  private def planWithOuter(ctx: Ctx, q: Query): DataFrame = q match {
    case s: Select => planSelect(ctx.bdb, s, ctx.binds, ctx.scope)
    case other => planSubquery(ctx, other)
  }

  /** Compile an outer-query expression for embedding inside a subquery
    * plan: every column reference is an outer reference by construction
    * (the expression's text sits outside the subquery). */
  private def compileAllOuter(x: Exp, ctx: Ctx): Column =
    compile(x, ctx.copy(scope = Some(Scope(Set.empty, Map.empty)),
      outerScope = ctx.scope))

  /** Outer-reference marking at the column leaf: a name that does not
    * resolve in this query's own frame but does in the enclosing frame
    * compiles as Column.outer() (inner-first scoping, as SQLite). */
  private def markOuter(c: Column, ctx: Ctx, table: Option[String],
      name: String): Column = (ctx.scope, ctx.outerScope) match {
    case (Some(inner), Some(outer)) =>
      if (isOuterRef(table, name, inner, outer)) c.outer() else c
    case _ => c
  }

  /** Correlated scalar subquery: aggregate forms decorrelate into a
    * grouped join at the assemble pre-pass; reaching here means a
    * non-aggregate form — Catalyst's native scalar-subquery expression
    * handles those (first matching row, NULL when none). Aggregate forms
    * that the pre-pass could not decorrelate (non-equality correlation,
    * grouped/limited subqueries) are rejected eagerly with the named
    * divergence — Catalyst cannot resolve outer references below an
    * Aggregate in the DataFrame subquery API, and the failure would
    * otherwise surface later as a bare unresolved-column error. */
  private def correlatedScalar(ctx: Ctx, q: Query): Column = {
    val hasAgg = q match {
      case s: Select =>
        s.columns.exists { case SelColExp(e, _) => containsAggregate(e); case _ => false } ||
          s.grouping.isDefined
      case _ => false
    }
    if (hasAgg) throw new UnsupportedOperationException(
      "Correlated aggregate subquery shape not supported (divergence D3): " +
        "ungrouped single-aggregate forms decorrelate under any " +
        "correlation operators — depth-≥2 refs included, carried through " +
        "the key tuple, EXISTS/IN masks (grouped, literal-LIMIT, and " +
        "HAVING bodies included) rewritten to decorrelatable counts, " +
        "grouped scalars, or three-valued EXISTS-HAVING compositions, " +
        "and correlated FROM-subqueries flattened; still rejected: " +
        "unqualifiable LHS collisions, unflattenable FROM-sub shapes " +
        "(DISTINCT/grouped/aggregate projections), and grouped forms " +
        "(including HAVING, even theta-correlated) without ORDER BY and " +
        "a literal LIMIT — the row a grouped scalar takes is otherwise " +
        "unspecified, in SQLite too")
    planWithOuter(ctx, q).limit(1).scalar()
  }

  /** Existence-equivalent plain body for a CORRELATED EXISTS. A
    * correlated body must stay standalone-analyzable under
    * Column.outer(), which a grouped/limited plan is not (groupBy.agg
    * forces eager analysis before the outer frame can resolve the
    * refs) — but EXISTS only asks whether rows exist, so: GROUP BY
    * without HAVING drops (groups exist ⟺ rows exist), ORDER BY drops,
    * a constant LIMIT n≠0 drops, LIMIT 0 is provably empty, and an
    * UNGROUPED aggregate select list is provably non-empty (a global
    * aggregate yields exactly one row, WHERE notwithstanding — SQLite
    * semantics). When anything strips, the select list becomes the
    * constant 1 (EXISTS never reads it, and a stripped aggregate item
    * would otherwise make the body one-row-always). Left(b) = the
    * constant answer; Right(s) = the body to plan; None = no
    * existence-preserving plain form (HAVING, OFFSET, non-constant
    * LIMIT) — callers reject with the named divergence. */
  private def existenceBody(ctx: Ctx, s: Select): Option[Either[Boolean, Select]] = {
    if (s.grouping.exists(_.condition.isDefined)) return None
    val limitEmpty: Option[Boolean] = s.limit match {
      case None => Some(false)
      case Some(Lim(l, None)) =>
        scala.util.Try(evalConstInt(ctx.bdb, l, ctx.binds))
          .toOption.map(_ == 0)
      case Some(Lim(_, Some(_))) => None
    }
    limitEmpty.map {
      case true => Left(false)
      case false =>
        val aggItem = s.columns.exists {
          case SelColExp(e, _) => containsAggregate(e)
          case _ => false
        }
        if (s.grouping.isEmpty && aggItem) Left(true)
        else if (s.grouping.isEmpty && s.order.isEmpty && s.limit.isEmpty) Right(s)
        else Right(Select(SelQuantAll,
          Seq(SelColExp(ExpLit(LitInt(1)), None)),
          s.tables, s.condition, None, Nil, None))
    }
  }

  /** A correlated EXISTS body whose GROUP BY carries HAVING has no
    * plain existence-equivalent body — but it has a SCALAR one: a group
    * passing HAVING exists iff
    *   (SELECT 1 FROM body GROUP BY g HAVING P ORDER BY 1 LIMIT 1)
    * yields a row (IS NOT NULL — the constant item is never NULL), and
    * grouped ordered-limited correlated scalars decorrelate through the
    * theta-grouped machinery (key tuples → θ-join → group → HAVING
    * column → window rank). The body's own ORDER BY and a constant
    * nonzero LIMIT drop first (existence-irrelevant; LIMIT 0 handled by
    * [[existenceBody]] before this is consulted); a non-constant LIMIT
    * or OFFSET keeps the named rejection. */
  private def existsHavingScalar(ctx: Ctx, s: Select): Option[Exp] = {
    val limitOk = s.limit match {
      case None => true
      case Some(Lim(l, None)) =>
        scala.util.Try(evalConstInt(ctx.bdb, l, ctx.binds))
          .toOption.exists(_ != 0)
      case Some(Lim(_, Some(_))) => false
    }
    if (!s.grouping.exists(_.condition.isDefined) || !limitOk) None
    else Some(ExpOp(Op.NotNull, Seq(ExpSub(Select(SelQuantAll,
      Seq(SelColExp(ExpLit(LitInt(1)), None)),
      s.tables, s.condition, s.grouping,
      Seq(Ord(ExpLit(LitInt(1)), asc = true)),
      Some(Lim(ExpLit(LitInt(1)), None)))))))
  }

  /** Membership-equivalent plain body for a correlated IN: ORDER BY
    * drops (membership is order-blind), GROUP BY without HAVING drops
    * when the selected item IS one of the group keys (membership in the
    * grouped values ≡ membership in the raw values, NULL group
    * included), LIMIT 0 is the empty set (IN → FALSE, NOT IN → TRUE,
    * never NULL). Left(()) = empty set; None = membership not
    * preserved (HAVING, a row-capping LIMIT, grouped on other keys) —
    * callers reject with the named divergence. */
  private def membershipBody(ctx: Ctx, s: Select): Option[Either[Unit, Select]] = {
    if (s.grouping.exists(_.condition.isDefined)) return None
    val limitEmpty: Option[Boolean] = s.limit match {
      case None => Some(false)
      case Some(Lim(l, None)) =>
        scala.util.Try(evalConstInt(ctx.bdb, l, ctx.binds))
          .toOption.filter(_ == 0).map(_ => true)
      case Some(_) => None
    }
    limitEmpty.flatMap {
      case true => Some(Left(()))
      case false => s.grouping match {
        case None => Some(Right(s.copy(order = Nil)))
        case Some(g) => s.columns match {
          case Seq(SelColExp(ie, _))
              if !containsAggregate(ie) &&
                g.keys.exists(k => sameColExp(ctx, s, k, ie)) =>
            Some(Right(s.copy(grouping = None, order = Nil)))
          case _ => None
        }
      }
    }
  }

  /** Column references of an expression that resolve in `inner`
    * (inner-first scoping, mirroring freeColRefs). */
  private def innerColRefs(e: Exp, inner: Scope): Seq[ExpCol] = e match {
    case c @ ExpCol(None, name) => if (inner.names(normRef(name))) Seq(c) else Nil
    case c @ ExpCol(Some(t), _) =>
      if (inner.tables.contains(Names.casefold(t))) Seq(c) else Nil
    case _ => children(e).flatMap(innerColRefs(_, inner))
  }

  /** Decorrelate `(SELECT agg(e) FROM t WHERE k = outer.k AND residual)`
    * into a grouped left join — Catalyst's DataFrame subquery API does not
    * yet resolve outer references below an Aggregate, so the rewrite the
    * optimizer performs for SQL text is done here: group the inner query
    * by its correlation keys, left-join on the outer side's expressions,
    * and read the aggregate off the joined column (COUNT/TOTAL coalesce
    * to 0 for unmatched outer rows — the classic count-bug case; SUM and
    * friends stay NULL, matching SQL over an empty set). At scale this is
    * exactly the shuffle Catalyst would plan for the SQL-text form: one
    * grouped aggregate of the inner table plus one equi-join.
    * Returns None when the shape is not the supported
    * single-aggregate-item equality-correlated form. */
  private def decorrelateAggScalar(ctx: Ctx, q: Query): Option[(DataFrame => DataFrame, Exp)] = q match {
    case s: Select
        if ctx.scope.isDefined && s.tables.nonEmpty && s.grouping.isEmpty &&
          s.order.isEmpty && s.limit.isEmpty && s.quantifier == SelQuantAll &&
          s.columns.sizeIs == 1 =>
      val outer = ctx.scope.get
      val inner = queryScope(ctx.bdb, s, ctx.binds)
      def refsOuter(e: Exp): Boolean = freeColRefs(e, inner, outer).nonEmpty
      def countLike(e: Exp): Boolean = e match {
        case ExpAppStar(fn) => Names.casefold(fn) == "count"
        case ExpApp(_, fn, _) => Set("count", "total")(Names.casefold(fn))
        case _ => false
      }
      // an item that merely contains COUNT/TOTAL (`count(*) + 1`,
      // `count(*) IN (0)`) has a non-NULL value over an empty set that a
      // coalesce after the join cannot give: the theta decorrelator takes it
      val aggItem = s.columns.head match {
        case SelColExp(e, _) if containsAggregate(e) && !refsOuter(e) &&
            (countLike(e) || !Ast.exists(e)(countLike)) => Some(e)
        case _ => None
      }
      aggItem.flatMap { aggExp =>
        // classify WHERE conjuncts: Right = correlation pair
        // (innerSide, outerSide), Left(Some) = inner residual,
        // Left(None) = a shape that blocks decorrelation
        val parts: Seq[Either[Option[Exp], (Exp, Exp)]] =
          s.condition.toSeq.flatMap(conjuncts).map {
            case c if hasNestedQuery(c) &&
                chainFreeRefs(ctx, c, Seq(inner), outer).nonEmpty =>
              // outer refs (direct, or deep inside the nested subquery's
              // body) around a nested subquery: the equality path cannot
              // thread them — block, so the theta decorrelator's
              // key-tuple carry gets the shape instead
              Left(None)
            case eq @ ExpOp(Op.Eq, Seq(a, b)) =>
              (refsOuter(a), refsOuter(b)) match {
                case (false, true) if innerColRefs(b, inner).isEmpty => Right((a, b))
                case (true, false) if innerColRefs(a, inner).isEmpty => Right((b, a))
                case (false, false) => Left(Some(eq))
                case _ => Left(None)
              }
            case c if !refsOuter(c) => Left(Some(c))
            case _ => Left(None)
          }
        val corr = parts.collect { case Right(p) => p }
        val residual = parts.collect { case Left(Some(c)) => c }
        val blocked = parts.contains(Left(None))
        if (blocked || corr.isEmpty) None
        else {
          val tag = subqueryTag.getAndIncrement()
          val vName = s"__v_$tag"
          val keyNames = corr.indices.map(i => s"__ck_${tag}_$i")
          val innerSel = Select(SelQuantAll,
            corr.zipWithIndex.map { case ((in, _), i) =>
              SelColExp(in, Some(keyNames(i))) } :+
              SelColExp(aggExp, Some(vName)),
            s.tables,
            residual.reduceLeftOption((a, b) => ExpOp(Op.BoolAnd, Seq(a, b))),
            Some(Grouping(corr.map(_._1), None)), Nil, None)
          val innerDf = plan(ctx.bdb, innerSel, ctx.binds)
          val attach: DataFrame => DataFrame = { df =>
            df.join(innerDf,
              corr.zipWithIndex.map { case ((_, out), i) =>
                compile(out, ctx) === innerDf(keyNames(i)) }.reduce(_ && _),
              "left_outer").drop(keyNames: _*)
          }
          // COUNT/TOTAL over an empty correlated set is 0, not NULL
          val replacement =
            if (countLike(aggExp)) ExpApp(distinct = false, "ifnull",
              Seq(ExpCol(None, vName), ExpLit(LitInt(0))))
            else ExpCol(None, vName)
          Some((attach, replacement))
        }
      }
    case _ => None
  }

  /** General theta decorrelation for `(SELECT agg(e) FROM ts WHERE ...)`
    * with ARBITRARY correlation operators (`<`, `>`, BETWEEN, OR-mixed
    * conjuncts, expressions over outer columns) — the fallback when the
    * equality-only grouped rewrite above does not apply. The rewrite:
    *
    *   keys    = outer frame's DISTINCT correlated-column tuples
    *   grouped = keys LEFT-THETA-JOIN inner-FROM GROUP BY keys AGG(e)
    *   outer   LEFT-JOIN grouped ON null-safe key equality
    *
    * This is the de-correlation Catalyst itself performs for SQL text;
    * the DataFrame subquery API cannot resolve outer refs below an
    * Aggregate, so it is done once here. Aggregate arguments are
    * null-shielded on the join marker so an outer key with NO matching
    * inner rows aggregates an empty set (COUNT 0, SUM NULL, TOTAL 0.0 —
    * the SQL semantics), not the padding row of the left join.
    *
    * Conjuncts CONTAINING nested subqueries are carried too (round 7 —
    * the last closable D3 shape): outer refs inside a nested body —
    * depth-≥2 refs with no equality pair for requalifyDeep to peel —
    * land in the key tuple like direct refs, the refs rewrite to key
    * columns inside the nested body (shadow-aware, the mirror of
    * chainFreeRefs), and the nested subquery then decorrelates AGAINST
    * THE JOINED FRAME through the same SubqueryPrepass the assembler
    * uses. The conjunct's value becomes a boolean column on the joined
    * frame and masks rows out of the aggregate THROUGH the match
    * condition rather than a filter — a key whose joined rows all fail
    * still aggregates an empty set, keeping COUNT = 0. Nested
    * subqueries that stay correlated after the pre-pass (deep EXISTS/IN
    * bodies, non-decorrelatable scalar shapes) return None and keep the
    * named divergence.
    *
    * Scale shape: |distinct keys| ≤ |outer rows|; one theta join, one
    * grouped aggregate, one equi-join, plus one grouped equi-join per
    * decorrelated nested subquery — never a per-outer-row subquery.
    * With no plain theta conjunct (correlation rides entirely inside
    * nested bodies) the key-inner join is a cross product — the honest
    * relational form of the reference's per-row nested loop, set-based. */
  private def decorrelateThetaAggScalar(ctx: Ctx, q: Query,
      merge: Option[scala.collection.mutable.Map[
        (Query, Seq[(Option[String], String)]), Exp => Exp]] = None)
      : Option[(DataFrame => DataFrame, Exp)] = q match {
    case s: Select
        if ctx.scope.isDefined && s.tables.nonEmpty && s.grouping.isEmpty &&
          s.order.isEmpty && s.limit.isEmpty && s.quantifier == SelQuantAll &&
          s.columns.sizeIs == 1 =>
      val outer = ctx.scope.get
      val inner = queryScope(ctx.bdb, s, ctx.binds)
      // outer refs IN the aggregate argument are allowed (e.g. a
      // flattened `max(sal + dk)`): within a key-tuple group the outer
      // value is the key constant, so the refs thread through the key
      // tuple and substitute like conjunct refs
      val aggItem = s.columns.head match {
        case SelColExp(e, _) if containsAggregate(e) && !hasNestedQuery(e) =>
          Some(e)
        case _ => None
      }
      aggItem.flatMap { aggExp =>
        val cs = s.condition.toSeq.flatMap(conjuncts)
        def outerRefsOf(c: Exp): Seq[ExpCol] =
          chainFreeRefs(ctx, c, Seq(inner), outer)
        val refs = (cs.flatMap(outerRefsOf) ++ outerRefsOf(aggExp))
          .distinctBy(r => (r.table.map(Names.casefold), normRef(r.column)))
        // merge signature: the body minus its select list + the key
        // tuple — two scalars that agree here decorrelate through ONE
        // theta join + ONE grouped aggregate (b26's count/max pair)
        val mergeSig = (s.copy(columns = Nil),
          refs.map(r => (r.table.map(Names.casefold), normRef(r.column))))
        val merged = merge.flatMap(_.get(mergeSig))
          .map(addAgg => ((df: DataFrame) => df, addAgg(aggExp)))
        if (refs.isEmpty) None
        else if (merged.isDefined) merged
        else try {
          // three-way conjunct split: plain theta conditions join; self-
          // contained conjuncts (nested or not) filter the inner frame;
          // nested conjuncts with outer refs ride the joined frame
          val plainCorr = cs.filter(c =>
            !hasNestedQuery(c) && freeColRefs(c, inner, outer).nonEmpty)
          val innerCs = cs.filter(c => outerRefsOf(c).isEmpty)
          val nestedCorr = cs.filter(c =>
            hasNestedQuery(c) && outerRefsOf(c).nonEmpty)
          val tag = subqueryTag.getAndIncrement()
          val vName = s"__tv_$tag"
          val marker = s"__tm_$tag"
          val keyName = refs.indices.map(i => s"__tk_${tag}_$i").toIndexedSeq
          val keyOf: Map[(Option[String], String), String] =
            refs.zipWithIndex.map { case (r, i) =>
              (r.table.map(Names.casefold), normRef(r.column)) -> keyName(i) }.toMap
          // substitute outer refs (direct or deep) with key-column names.
          // A ref rewrites only when NO frame between its position and
          // the outer query resolves it (inner-first, shadow-aware — the
          // mirror of chainFreeRefs' collection rule; `chain` ends with
          // the subquery's own frame).
          def subst(e: Exp, chain: Seq[Scope]): Exp = e match {
            case c @ ExpCol(t, n) =>
              if (chain.exists(scopeResolves(t, n, _))) c
              else keyOf.get((t.map(Names.casefold), normRef(n)))
                .map(k => ExpCol(None, k)).getOrElse(c)
            case ExpSub(qq) => ExpSub(substQ(qq, chain))
            case ExpExists(qq) => ExpExists(substQ(qq, chain))
            case ExpInQuery(x, p, qq) =>
              ExpInQuery(subst(x, chain), p, substQ(qq, chain))
            case other => mapChildren(other)(subst(_, chain))
          }
          def substQ(qq: Query, chain: Seq[Scope]): Query = qq match {
            case ss: Select =>
              val ch = queryScope(ctx.bdb, ss, ctx.binds) +: chain
              mapSelectExps(ss)(subst(_, ch))
            case other => other
          }
          // null-shield aggregate arguments on the match condition (join
          // marker, AND the nested-conjunct mask when present) so neither
          // the left join's padding row nor a masked row contributes
          val markerNotNull = ExpOp(Op.NotNull, Seq(ExpCol(None, marker)))
          def shield(e: Exp, matchExp: Exp): Exp = e match {
            case ExpAppStar(fn) =>
              ExpApp(distinct = false, fn,
                Seq(ExpCase(None, Seq((matchExp, ExpLit(LitInt(1)))), None)))
            case ExpApp(d, fn, args) if SqlFunctions.isAggregate(fn, args.length) =>
              ExpApp(d, fn, args.map(a =>
                ExpCase(None, Seq((matchExp, a)), None)))
            case other => mapChildren(other)(shield(_, matchExp))
          }
          val joinScope = Scope(
            inner.names ++ (marker +: keyName).map(Names.casefold),
            inner.tables)
          val jctx = Ctx(ctx.bdb, NoModelCtx, ctx.binds, agg = false,
            scope = Some(joinScope))
          val innerCtx = Ctx(ctx.bdb, NoModelCtx, ctx.binds, agg = false,
            scope = Some(inner))
          // nested conjuncts with outer refs: substitute, then run the
          // assembler's subquery pre-pass against the joined frame. Any
          // nested query still correlated afterward (deep EXISTS/IN, a
          // non-decorrelatable scalar) keeps the named divergence.
          val deepPre = new SubqueryPrepass(jctx, aggSafe = true)
          val nestedCorr2 = nestedCorr.map(c => deepPre.rewrite(subst(c, Seq(inner))))
          def stillCorrelated(e: Exp): Boolean =
            children(e).exists(stillCorrelated) ||
              subqueryOf(e).exists(isCorrelatedDeep(jctx, _))
          if (nestedCorr2.exists(stillCorrelated)) None
          else {
            // inner FROM frame with aliases preserved (qualified refs keep
            // resolving after the theta join); self-contained conjuncts run
            // through their own pre-pass so nested subqueries correlated to
            // the INNER frame (e.g. requalifyDeep-peeled forms) decorrelate
            val innerPre = new SubqueryPrepass(innerCtx)
            val innerCs2 = innerCs.map(innerPre.rewrite)
            val innerBase0 = innerPre(
              crossJoinFrames(fromFrames(ctx.bdb, s.tables, ctx.binds)))
            val innerFiltered = innerCs2.map(compile(_, innerCtx)) match {
              case Nil => innerBase0
              case conds => innerBase0.filter(conds.reduce(_ && _))
            }
            val innerMarked = innerFiltered.withColumn(marker, lit(1))
            val matchExp = nestedCorr2 match {
              case Nil => markerNotNull
              case _ =>
                ExpOp(Op.BoolAnd, Seq(markerNotNull,
                  ExpCol(None, s"__nc_$tag")))
            }
            // the aggregate-item buffer: later same-signature scalars
            // (the merge registry below) append their item and reuse
            // this member's theta join + grouped aggregate + rejoin —
            // the attach reads the buffer at apply-time, after every
            // member has registered
            val aggItems = scala.collection.mutable.Buffer[
              (String, org.apache.spark.sql.Column)]()
            def addAggItem(e: Exp): Exp = {
              val v = s"__tv_${subqueryTag.getAndIncrement()}"
              aggItems += ((v, compile(shield(subst(e, Seq(inner)), matchExp),
                jctx.withAgg(true)).as(v)))
              ExpCol(None, v)
            }
            val repl = addAggItem(aggExp)
            // register for same-signature merging only in the plain
            // theta shape (no nested-correlated mask column, whose
            // deepPre rewrites are per-member)
            if (nestedCorr.isEmpty)
              merge.foreach(_.getOrElseUpdate(mergeSig, addAggItem _))
            val attach: DataFrame => DataFrame = { df =>
              val keyed = df.select(refs.zipWithIndex.map { case (r, i) =>
                compile(r, ctx).as(keyName(i)) }: _*).distinct()
              val joinCond = plainCorr.map(c => compile(subst(c, Seq(inner)), jctx)) match {
                case Nil => lit(true) // correlation rides the nested mask
                case conds => conds.reduce(_ && _)
              }
              val joined0 = keyed.join(innerMarked, joinCond, "left_outer")
              val joined1 = deepPre(joined0)
              val joinedF = nestedCorr2 match {
                case Nil => joined1
                case conds => joined1.withColumn(s"__nc_$tag",
                  compile(conds.reduceLeft((a, b) =>
                    ExpOp(Op.BoolAnd, Seq(a, b))), jctx))
              }
              val grouped = joinedF
                .groupBy(keyName.map(col): _*)
                .agg(aggItems.head._2, aggItems.tail.map(_._2).toSeq: _*)
              df.join(grouped,
                refs.zipWithIndex.map { case (r, i) =>
                  compile(r, ctx) <=> col(keyName(i)) }.reduce(_ && _),
                "left_outer")
                .drop(keyName: _*)
            }
            Some((attach, repl))
          }
        } catch {
          // an unthreadable shape discovered while building (e.g. a deep
          // ref hidden inside a FROM-subquery that the chain analysis
          // cannot see) falls back to the named divergence — but a GENUINE
          // planning bug would land here too and be silently reclassified,
          // so the swallowed exception is loggable via -Dgraft.debug.planner
          case scala.util.control.NonFatal(e) =>
            if (java.lang.Boolean.getBoolean("graft.debug.planner"))
              System.err.println(
                s"[planner] theta-decorrelation fell back: ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
        }
      }
    case _ => None
  }

  /** Theta-correlated GROUPED ordered scalar — greatest-n-per-group
    * written as a scalar under ARBITRARY correlation operators:
    *
    *   (SELECT item FROM t WHERE sal > outer.x [AND residual]
    *    GROUP BY g ORDER BY o [DESC] LIMIT 1 [OFFSET j])
    *
    * Rewrite (the theta and grouped rewrites composed): DISTINCT outer
    * correlated-column tuples θ-join the inner relation, group by
    * (key tuple × GROUP BY keys), rank the groups per key tuple with a
    * window over the compiled ORDER BY, keep rank j+1, left-join back
    * on null-safe key equality. Zero matching groups ⇒ no row ⇒ NULL
    * (grouped-scalar semantics — no count-bug coalesce). HAVING in
    * this shape stays the named divergence. Scale shape matches the
    * component rewrites: one θ-join against |distinct keys| ≤ |outer
    * rows|, one grouped aggregate, one window, one equi-join. */
  private def decorrelateThetaGroupedScalar(ctx: Ctx, q: Query): Option[(DataFrame => DataFrame, Exp)] = q match {
    case s: Select
        if ctx.scope.isDefined && s.tables.nonEmpty && s.grouping.isDefined &&
          s.order.nonEmpty && s.quantifier == SelQuantAll &&
          s.columns.sizeIs == 1 =>
      val outer = ctx.scope.get
      val inner = queryScope(ctx.bdb, s, ctx.binds)
      def refsOuter(e: Exp): Boolean = freeColRefs(e, inner, outer).nonEmpty
      val rowTarget = pickedRow(s)
      val g = s.grouping.get
      val itemOk = s.columns.head match {
        case SelColExp(e, _) => !refsOuter(e) && !hasNestedQuery(e)
        case _ => false
      }
      val clean = itemOk && rowTarget.isDefined &&
        g.keys.forall(k => !refsOuter(k) && !hasNestedQuery(k)) &&
        // HAVING is allowed — including with theta-correlated outer refs
        // (substituted to the decorrelation key like the WHERE conjuncts)
        // — as long as it nests no subquery
        g.condition.forall(h => !hasNestedQuery(h)) &&
        s.order.forall(o => !refsOuter(o.expression) && !hasNestedQuery(o.expression)) &&
        // a positional ORDER BY other than 1 is out of range for the
        // single select item (SQLite rejects it) — refuse rather than
        // compile the integer as a constant sort key
        s.order.forall(o => o.expression match {
          case ExpLit(LitInt(k)) => k == 1
          case _ => true
        })
      if (!clean) None
      else {
        val itemExp = s.columns.head.asInstanceOf[SelColExp].expression
        val itemAlias = s.columns.head.asInstanceOf[SelColExp].name
        val cs = s.condition.toSeq.flatMap(conjuncts)
        if (cs.exists(hasNestedQuery)) None
        else {
          val (corrCs, innerCs) = cs.partition(refsOuter)
          // outer refs inside HAVING also become decorrelation keys (the
          // grouped frame carries every key column, so a substituted
          // HAVING ref is always resolvable) — but only WHERE conjuncts
          // form the θ-join, so at least one must be correlated
          val refs = (corrCs ++ g.condition.toSeq)
            .flatMap(freeColRefs(_, inner, outer))
            .distinctBy(r => (r.table.map(Names.casefold), normRef(r.column)))
          if (corrCs.isEmpty || refs.isEmpty) None
          else {
            val tag = subqueryTag.getAndIncrement()
            val vName = s"__tgv_$tag"
            val rnName = s"__tgr_$tag"
            val hvName = s"__tgh_$tag"
            val keyName = refs.indices.map(i => s"__tgk_${tag}_$i").toIndexedSeq
            val gNames = g.keys.indices.map(i => s"__tgg_${tag}_$i")
            val obNames = s.order.indices.map(i => s"__tgo_${tag}_$i")
            val keyOf: Map[(Option[String], String), String] =
              refs.zipWithIndex.map { case (r, i) =>
                (r.table.map(Names.casefold), normRef(r.column)) -> keyName(i) }.toMap
            def subst(e: Exp): Exp = e match {
              case c: ExpCol if freeColRefs(c, inner, outer).nonEmpty =>
                keyOf.get((c.table.map(Names.casefold), normRef(c.column)))
                  .map(k => ExpCol(None, k)).getOrElse(c)
              case other => mapChildren(other)(subst)
            }
            val innerCtx = Ctx(ctx.bdb, NoModelCtx, ctx.binds, agg = false,
              scope = Some(inner))
            val innerBase0 = crossJoinFrames(fromFrames(ctx.bdb, s.tables, ctx.binds))
            val innerFiltered = innerCs.map(compile(_, innerCtx)) match {
              case Nil => innerBase0
              case conds => innerBase0.filter(conds.reduce(_ && _))
            }
            val joinScope = Scope(
              inner.names ++ keyName.map(Names.casefold), inner.tables)
            val jctx = Ctx(ctx.bdb, NoModelCtx, ctx.binds, agg = false,
              scope = Some(joinScope))
            val orderExps = s.order.map(_.expression).map {
              case ExpLit(LitInt(1)) => itemExp
              case c @ ExpCol(None, n)
                  if itemAlias.exists(a => Names.casefold(a) == Names.casefold(n)) &&
                    innerColRefs(c, inner).isEmpty => itemExp
              case o => o
            }
            val attach: DataFrame => DataFrame = { df =>
              val keyed = df.select(refs.zipWithIndex.map { case (r, i) =>
                compile(r, ctx).as(keyName(i)) }: _*).distinct()
              val joinCond = corrCs.map(c => compile(subst(c), jctx)).reduce(_ && _)
              val joined = keyed.join(innerFiltered, joinCond, "inner")
              val gkeyCols = g.keys.zip(gNames).map { case (k, nm) =>
                compile(k, jctx).as(nm) }
              val aggCtx = jctx.withAgg(true)
              // HAVING rides through the aggregation as one extra boolean
              // aggregate column (its aggregates and group-key refs are
              // both legal inside .agg), then filters groups BEFORE the
              // ordered row pick — SQLite's evaluation order. Outer refs
              // inside HAVING go through the same key substitution as the
              // correlated WHERE conjuncts.
              val hvCol = g.condition.map(h =>
                compile(subst(h), aggCtx).cast("boolean").as(hvName))
              val grouped0 = joined
                .groupBy((keyName.map(col) ++ gkeyCols): _*)
                .agg(compile(itemExp, aggCtx).as(vName),
                  orderExps.zip(obNames).map { case (o, nm) =>
                    compile(o, aggCtx).as(nm) } ++ hvCol.toSeq: _*)
              val grouped =
                if (hvCol.isDefined) grouped0.filter(col(hvName)).drop(hvName)
                else grouped0
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(keyName.map(col): _*)
                .orderBy(s.order.zip(obNames).map { case (o, nm) =>
                  if (o.asc) col(nm).asc else col(nm).desc }: _*)
              val picked = grouped
                .withColumn(rnName, row_number().over(w))
                .filter(col(rnName) === lit(rowTarget.get))
                .select((keyName.map(col) :+ col(vName)): _*)
              df.join(picked,
                refs.zipWithIndex.map { case (r, i) =>
                  compile(r, ctx) <=> picked(keyName(i)) }.reduce(_ && _),
                "left_outer").drop(keyName: _*)
            }
            Some((attach, ExpCol(None, vName)))
          }
        }
      }
    case _ => None
  }

  /** Free references of `e` against a scope CHAIN (innermost first),
    * including refs inside nested subqueries (each nested frame extends
    * the chain): returns the refs that resolve in NO chain frame but DO
    * resolve in `outer` — the depth-(chain length) correlation
    * witnesses. Non-Select nested queries block analysis (treated as
    * having no deep refs; they error later with the named divergence). */
  private def chainFreeRefs(ctx: Ctx, e: Exp, chain: Seq[Scope], outer: Scope): Seq[ExpCol] =
    e match {
      case c @ ExpCol(t, n) =>
        if (chain.exists(scopeResolves(t, n, _))) Nil
        else if (scopeResolves(t, n, outer)) Seq(c) else Nil
      case _ =>
        children(e).flatMap(chainFreeRefs(ctx, _, chain, outer)) ++
          subqueryOf(e).toSeq.flatMap(queryChainRefs(ctx, _, chain, outer))
    }

  private def queryChainRefs(ctx: Ctx, q: Query, chain: Seq[Scope], outer: Scope): Seq[ExpCol] =
    q match {
      case s: Select =>
        val sc = queryScope(ctx.bdb, s, ctx.binds)
        selectExps(s).flatMap(chainFreeRefs(ctx, _, sc +: chain, outer)) ++
          // FROM-subquery bodies can carry outer refs too (SQLite resolves
          // names by walking up enclosing SELECTs from ANY subquery
          // position); their chain excludes this select's own frame — a
          // FROM-term cannot see its siblings (no LATERAL in SQLite)
          s.tables.flatMap(st => st.table match {
            case Left(sub) => queryChainRefs(ctx, sub, chain, outer)
            case Right(_) => Nil
          })
      case _ => Nil
    }

  /** Rewrite refs to frames MORE than one level up (depth ≥ 2 outer
    * references, which neither the decorrelators nor Catalyst's
    * subquery expressions can resolve) into one-level refs, when the
    * immediately-enclosing subquery `s` carries an equality-correlation
    * conjunct `innerExpr = outerCol` naming the same outer column: the
    * deep ref is then equal, row-by-row within the subquery's frame, to
    * `innerExpr` — substitute the (alias-qualified) inner side. Each
    * application peels one level, so depth-N chains cascade as the
    * nested queries are planned in turn. Substitution is skipped (and
    * the named D3 error stands) when the inner side cannot be uniquely
    * alias-qualified or a nested frame shadows the qualifying alias. */
  private def requalifyDeep(ctx: Ctx, q: Query): Query = q match {
    case s: Select if ctx.scope.isDefined =>
      val outer = ctx.scope.get
      val inner = queryScope(ctx.bdb, s, ctx.binds)
      def refsOuter(e: Exp): Boolean = freeColRefs(e, inner, outer).nonEmpty
      // unique alias of `n` in scope `sc` (None when absent or ambiguous)
      def ownerAlias(sc: Scope, t: Option[String], n: String): Option[String] = t match {
        case Some(tb) =>
          val tf = Names.casefold(tb)
          if (sc.tables.get(tf).exists(_(normRef(n)))) Some(tf) else None
        case None =>
          sc.tables.filter(_._2(normRef(n))).keys.toSeq match {
            case Seq(one) => Some(one)
            case _ => None
          }
      }
      // qualify every unqualified ref of an inner-side expr by its
      // unique owning alias in the subquery's own frame
      def qualify(e: Exp): Option[Exp] = e match {
        case ExpCol(None, n) => ownerAlias(inner, None, n).map(a => ExpCol(Some(a), n))
        case c @ ExpCol(Some(t), _) =>
          if (inner.tables.contains(Names.casefold(t))) Some(c) else None
        case ExpOp(op, os) =>
          val qs = os.map(qualify)
          if (qs.forall(_.isDefined)) Some(ExpOp(op, qs.flatten)) else None
        case ExpCast(x, t) => qualify(x).map(ExpCast(_, t))
        case ExpCollate(x, cl) => qualify(x).map(ExpCollate(_, cl))
        case lit: ExpLit => Some(lit)
        case _ => None
      }
      // equality pairs: inner-side expr keyed by the OUTER column it equals
      val mapping: Map[(String, String), Exp] =
        s.condition.toSeq.flatMap(conjuncts).flatMap {
          case ExpOp(Op.Eq, Seq(a, b)) =>
            def tryPair(in: Exp, out: Exp): Option[((String, String), Exp)] = out match {
              case ExpCol(t, n)
                  if freeColRefs(out, inner, outer) == Seq(out) &&
                    innerColRefs(out, inner).isEmpty &&
                    !refsOuter(in) && innerColRefs(in, inner).nonEmpty =>
                for {
                  alias <- ownerAlias(outer, t, n)
                  qin <- qualify(in)
                } yield ((alias, normRef(n)), qin)
              case _ => None
            }
            tryPair(a, b).orElse(tryPair(b, a))
          case _ => None
        }.toMap
      if (mapping.isEmpty) s
      else {
        // aliases a substitution introduces must not be shadowed by any
        // frame between the ref and this subquery
        def aliasesOf(e: Exp): Set[String] = e match {
          case ExpCol(Some(t), _) => Set(Names.casefold(t))
          case ExpOp(_, os) => os.flatMap(aliasesOf).toSet
          case ExpCast(x, _) => aliasesOf(x)
          case ExpCollate(x, _) => aliasesOf(x)
          case _ => Set.empty
        }
        // walk expressions inside nested queries; `chain` holds the
        // frames from the ref's position up to (excluding) `s`'s frame
        def walkExp(e: Exp, chain: Seq[Scope]): Exp = e match {
          case c @ ExpCol(t, n) if chain.nonEmpty =>
            if (chain.exists(scopeResolves(t, n, _)) || scopeResolves(t, n, inner)) c
            else {
              val key = ownerAlias(outer, t, n).map(a => (a, normRef(n)))
              key.flatMap(mapping.get) match {
                case Some(repl)
                    if aliasesOf(repl).forall(a => !chain.exists(_.tables.contains(a))) =>
                  repl
                case _ => c
              }
            }
          case ExpSub(qq) => ExpSub(walkQuery(qq, chain))
          case ExpExists(qq) => ExpExists(walkQuery(qq, chain))
          case ExpInQuery(x, p, qq) => ExpInQuery(walkExp(x, chain), p, walkQuery(qq, chain))
          case other => mapChildren(other)(walkExp(_, chain))
        }
        def walkQuery(qq: Query, chain: Seq[Scope]): Query = qq match {
          case ss: Select =>
            val chain2 = chain :+ queryScope(ctx.bdb, ss, ctx.binds)
            mapSelectExps(ss)(walkExp(_, chain2))
          case other => other
        }
        // top level: only expressions INSIDE nested queries are touched
        // (chain starts empty; ExpCol with empty chain is left alone)
        mapSelectExps(s)(walkExp(_, Nil))
      }
    case other => other
  }

  /** Flatten CORRELATED FROM-subqueries into their enclosing Select —
    * the classic subquery-flattening rewrite, applied only when the
    * FROM-term's body references an enclosing frame. SQLite resolves
    * outer names from ANY subquery position, FROM-terms included
    * (the reference inherits this, src/compiler.py:1795-1797), but this
    * planner plans FROM-terms scope-less — so the correlated predicate
    * must surface into the enclosing WHERE, where the decorrelators and
    * outer-marking see it. Safe subset only: the sub must be a plain
    * projection (SELECT-ALL quantifier, no grouping/limit/order, no
    * aggregates, no nested queries), with FROM aliases disjoint from the
    * enclosing frame's and every inner ref uniquely alias-qualifiable.
    * Anything else returns the query unchanged → the named divergence. */
  private def flattenCorrelatedFrom(ctx: Ctx, q: Query): Query = q match {
    case s: Select if ctx.scope.isDefined =>
      val outer = ctx.scope.get
      s.tables.foldLeft(s) { (cur, st) =>
        st.table match {
          case Left(sub: Select)
              if queryChainRefs(ctx, sub, Nil, outer).nonEmpty =>
            flattenOneFrom(ctx, cur, st, sub).getOrElse(cur)
          case _ => cur
        }
      }
    case other => other
  }

  private def flattenOneFrom(ctx: Ctx, cur: Select, st: SelTab,
      sub: Select): Option[Select] = {
    object Bail extends scala.util.control.ControlThrowable
    def seqOpt[A](xs: Seq[Option[A]]): Option[Seq[A]] =
      if (xs.forall(_.isDefined)) Some(xs.flatten) else None
    val plain = sub.quantifier == SelQuantAll && sub.grouping.isEmpty &&
      sub.limit.isEmpty && sub.order.isEmpty &&
      sub.condition.forall(c => !hasNestedQuery(c)) &&
      sub.columns.forall {
        case SelColExp(e, _) => !containsAggregate(e) && !hasNestedQuery(e)
        case SelColAll(None) => true
        case _ => false
      }
    if (!plain) return None
    val subAliasCf = Names.casefold(aliasOf(st))
    val others = cur.tables.filterNot(_ eq st)
    val otherAliases = others.map(t => Names.casefold(aliasOf(t))).toSet
    val subTabAliases = sub.tables.map(t => Names.casefold(aliasOf(t)))
    if (subTabAliases.exists(otherAliases) ||
      subTabAliases.distinct.length != subTabAliases.length) return None
    val subScope = queryScope(ctx.bdb, sub, ctx.binds)
    val othersScope = queryScope(ctx.bdb, cur.copy(tables = others), ctx.binds)
    def ownerAlias(n: String): Option[String] =
      subScope.tables.filter(_._2(normRef(n))).keys.toSeq match {
        case Seq(one) => Some(one)
        case _ => None
      }
    // qualify the sub's OWN refs by their unique owner alias (they must
    // keep resolving after the merge); refs that do not resolve in the
    // sub's frame are the outer refs being surfaced — pass through
    def qualifyInner(e: Exp): Option[Exp] = e match {
      case ExpCol(None, n) =>
        if (subScope.names(normRef(n))) ownerAlias(n).map(a => ExpCol(Some(a), n))
        else Some(e)
      case _: ExpCol | _: ExpLit | _: ExpNumpar | _: ExpNampar => Some(e)
      case _: ExpOp | _: ExpApp | _: ExpCase | _: ExpCast | _: ExpCollate | _: ExpInExp =>
        seqOpt(children(e).map(qualifyInner)).map { qs =>
          val next = qs.iterator
          mapChildren(e)(_ => next.next())
        }
      case _ => None
    }
    // output name (casefold) → replacement expression on the merged frame
    val mapping = scala.collection.mutable.LinkedHashMap.empty[String, Exp]
    try sub.columns.foreach {
      case SelColExp(e, nmOpt) =>
        val nm = nmOpt.orElse(e match { case ExpCol(_, n) => Some(n); case _ => None })
        nm.foreach { n =>
          val key = Names.casefold(n)
          if (!mapping.contains(key))
            mapping(key) = qualifyInner(e).getOrElse(throw Bail)
        }
      case SelColAll(None) =>
        subScope.tables.foreach { case (a, cols) =>
          cols.foreach { c => if (!mapping.contains(c)) mapping(c) = ExpCol(Some(a), c) } }
      case _ => throw Bail
    } catch { case Bail => return None }
    // does a nested query mention the flattened alias (qualified)?
    def queryMentions(qq: Query): Boolean = qq match {
      case ss: Select =>
        (selectExps(ss) ++ ss.tables.flatMap(_.table.left.toSeq.flatMap {
          case s2: Select => selectExps(s2); case _ => Nil
        })).exists(mentions)
      case _ => false
    }
    def mentions(e: Exp): Boolean = Ast.exists(e) {
      case ExpCol(Some(t), _) => Names.casefold(t) == subAliasCf
      case x => subqueryOf(x).exists(queryMentions)
    }
    // rewrite the enclosing query's refs to the sub's outputs
    def rw(e: Exp): Exp = e match {
      case c @ ExpCol(t, n) => t match {
        case Some(tb) if Names.casefold(tb) == subAliasCf =>
          mapping.getOrElse(Names.casefold(n), throw Bail)
        case Some(_) => c
        case None =>
          val cf = Names.casefold(n)
          if (mapping.contains(cf) && !othersScope.names(normRef(n)))
            mapping(cf)
          else c
      }
      case nested @ (ExpSub(_) | ExpExists(_) | ExpInQuery(_, _, _)) =>
        // nested bodies are not rewritten; bail if one names the alias
        if (mentions(nested)) throw Bail else nested
      case other => mapChildren(other)(rw)
    }
    try {
      val cols2 = cur.columns.map {
        case SelColExp(e, nm) => SelColExp(rw(e), nm)
        case SelColAll(Some(t)) if Names.casefold(t) == subAliasCf => throw Bail
        case SelColAll(None) => throw Bail
        case other => other
      }
      val cond2 = cur.condition.map(rw)
      val subCond = sub.condition.map(c => qualifyInner(c).getOrElse(throw Bail))
      val combined = (cond2, subCond) match {
        case (Some(a), Some(b)) => Some(ExpOp(Op.BoolAnd, Seq(a, b)))
        case (a, b) => a.orElse(b)
      }
      Some(cur.copy(
        tables = cur.tables.flatMap(t => if (t eq st) sub.tables else Seq(t)),
        columns = cols2,
        condition = combined,
        grouping = cur.grouping.map(g =>
          Grouping(g.keys.map(rw), g.condition.map(rw))),
        order = cur.order.map(o => Ord(rw(o.expression), o.asc))))
    } catch { case Bail => None }
  }

  /** Normalize a correlated scalar subquery before decorrelation:
    * an UNGROUPED aggregate subquery emits exactly one row, so its
    * ORDER BY is a no-op and a literal LIMIT ≥ 1 keeps the row — strip
    * both so the aggregate decorrelators apply; a literal LIMIT ≤ 0
    * (any shape) or a positive literal OFFSET past the single row
    * provably yields NO row, i.e. scalar NULL. */
  private def normalizeAggScalar(q: Query): Either[Unit, Query] = q match {
    case s: Select =>
      val limLit = s.limit.flatMap(l => litOf(l.limit))
      val offLit = s.limit.flatMap(_.offset) match {
        case None => Some(0L)
        case Some(e) => litOf(e)
      }
      val singleAgg = s.grouping.isEmpty && s.columns.sizeIs == 1 &&
        (s.columns.head match {
          case SelColExp(e, _) => containsAggregate(e)
          case _ => false
        })
      if (limLit.exists(_ <= 0)) Left(())
      else if (singleAgg && offLit.exists(_ >= 1)) Left(())
      else if (singleAgg && (s.order.nonEmpty || s.limit.isDefined) &&
        s.limit.forall(l => litOf(l.limit).exists(_ >= 1)) &&
        offLit.contains(0L))
        Right(s.copy(order = Nil, limit = None))
      else Right(s)
    case other => Right(other)
  }

  private def litOf(e: Exp): Option[Long] =
    e match { case ExpLit(LitInt(v)) => Some(v); case _ => None }

  /** The 1-based rank of the row a grouped scalar takes: LIMIT must keep
    * at least that row and OFFSET shifts it; None unless both are
    * literals that allow a row. */
  private def pickedRow(s: Select): Option[Long] = s.limit match {
    case None => Some(1L)
    case Some(Lim(l, off)) =>
      (litOf(l), off.fold(Option(0L))(litOf)) match {
        case (Some(n), Some(j)) if n >= 1 && j >= 0 => Some(j + 1)
        case _ => None
      }
  }

  /** Decorrelate a GROUPED, ordered, limited correlated scalar subquery —
    * the greatest-n-per-group shape written as a scalar:
    *
    *   (SELECT item FROM t WHERE k = outer.k [AND residual]
    *    GROUP BY g [HAVING h] ORDER BY o [DESC] LIMIT 1 [OFFSET j])
    *
    * The scalar is row j+1 of the subquery's ordered group rows (SQLite
    * takes the first row a scalar subquery yields; LIMIT/OFFSET shift
    * which row that is). Rewrite: group the inner relation by
    * (correlation keys × GROUP BY keys) with the correlation conjuncts
    * as equi-keys, rank groups per key with a window over the compiled
    * ORDER BY, keep rank j+1, left-join back on the outer expressions.
    * An outer row with no groups joins nothing → NULL (SQL semantics:
    * zero groups, no row — the COUNT coalesce of the ungrouped form
    * does NOT apply). Scale shape: one grouped aggregate over the inner
    * table, one window partitioned by the correlation keys (both
    * shuffle on bounded-cardinality keys), one equi-join — never a
    * per-outer-row subquery. Ordering ties pick one row arbitrarily,
    * as SQLite does. Unordered grouped scalars stay rejected (their
    * result is unspecified even in SQLite). */
  private def decorrelateGroupedScalar(ctx: Ctx, q: Query): Option[(DataFrame => DataFrame, Exp)] = q match {
    case s: Select
        if ctx.scope.isDefined && s.tables.nonEmpty && s.grouping.isDefined &&
          s.order.nonEmpty && s.quantifier == SelQuantAll &&
          s.columns.sizeIs == 1 =>
      val outer = ctx.scope.get
      val inner = queryScope(ctx.bdb, s, ctx.binds)
      def refsOuter(e: Exp): Boolean = freeColRefs(e, inner, outer).nonEmpty
      val rowTarget = pickedRow(s)
      val itemOk = s.columns.head match {
        case SelColExp(e, _) => !refsOuter(e)
        case _ => false
      }
      val g = s.grouping.get
      val clean = itemOk && rowTarget.isDefined &&
        g.keys.forall(k => !refsOuter(k)) &&
        g.condition.forall(h => !refsOuter(h)) &&
        s.order.forall(o => !refsOuter(o.expression)) &&
        // positional ORDER BY other than 1 is out of range for the single
        // select item — refuse rather than sort by a constant
        s.order.forall(o => o.expression match {
          case ExpLit(LitInt(k)) => k == 1
          case _ => true
        })
      if (!clean) None
      else {
        val itemExp = s.columns.head.asInstanceOf[SelColExp].expression
        val itemAlias = s.columns.head.asInstanceOf[SelColExp].name
        // classify WHERE conjuncts exactly as the equality decorrelator
        val parts: Seq[Either[Option[Exp], (Exp, Exp)]] =
          s.condition.toSeq.flatMap(conjuncts).map {
            case eq @ ExpOp(Op.Eq, Seq(a, b)) =>
              (refsOuter(a), refsOuter(b)) match {
                case (false, true) if innerColRefs(b, inner).isEmpty => Right((a, b))
                case (true, false) if innerColRefs(a, inner).isEmpty => Right((b, a))
                case (false, false) => Left(Some(eq))
                case _ => Left(None)
              }
            case c if !refsOuter(c) => Left(Some(c))
            case _ => Left(None)
          }
        val corr = parts.collect { case Right(p) => p }
        val residual = parts.collect { case Left(Some(c)) => c }
        if (parts.contains(Left(None)) || corr.isEmpty) None
        else {
          val tag = subqueryTag.getAndIncrement()
          val vName = s"__gv_$tag"
          val rnName = s"__gr_$tag"
          val keyNames = corr.indices.map(i => s"__gk_${tag}_$i")
          val obNames = s.order.indices.map(i => s"__go_${tag}_$i")
          // ORDER BY may name the item positionally (1) or by alias
          val orderExps = s.order.map(_.expression).map {
            case ExpLit(LitInt(1)) => itemExp
            case c @ ExpCol(None, n)
                if itemAlias.exists(a => Names.casefold(a) == Names.casefold(n)) &&
                  innerColRefs(c, inner).isEmpty => itemExp
            case o => o
          }
          val innerSel = Select(SelQuantAll,
            corr.zipWithIndex.map { case ((in, _), i) =>
              SelColExp(in, Some(keyNames(i))) } ++
              (SelColExp(itemExp, Some(vName)) +:
                orderExps.zipWithIndex.map { case (o, i) =>
                  SelColExp(o, Some(obNames(i))) }),
            s.tables,
            residual.reduceLeftOption((a, b) => ExpOp(Op.BoolAnd, Seq(a, b))),
            Some(Grouping(corr.map(_._1) ++ g.keys, g.condition)), Nil, None)
          val innerDf = plan(ctx.bdb, innerSel, ctx.binds)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keyNames.map(col): _*)
            .orderBy(s.order.zip(obNames).map { case (o, n) =>
              if (o.asc) col(n).asc else col(n).desc }: _*)
          val picked = innerDf
            .withColumn(rnName, row_number().over(w))
            .filter(col(rnName) === lit(rowTarget.get))
            .select((keyNames.map(col) :+ col(vName)): _*)
          val attach: DataFrame => DataFrame = { df =>
            df.join(picked,
              corr.zipWithIndex.map { case ((_, out), i) =>
                compile(out, ctx) === picked(keyNames(i)) }.reduce(_ && _),
              "left_outer").drop(keyNames: _*)
          }
          Some((attach, ExpCol(None, vName)))
        }
      }
    case _ => None
  }

  // -------------------------------------------------- expression compile

  def compile(e: Exp, ctx: Ctx): Column = e match {
    case ExpLit(LitNull) => lit(null)
    case ExpLit(LitInt(v)) => lit(v)
    case ExpLit(LitFloat(v)) => lit(v)
    case ExpLit(LitString(v)) => lit(v)
    case ExpNumpar(n) => lit(bindValue(ctx.binds, n))
    case ExpNampar(n, _) => lit(bindValue(ctx.binds, n))
    case ExpCol(None, c) if Set("_rowid_", "oid")(Names.casefold(c)) =>
      // SQLite rowid aliases (reference: bayesdb_rowid_tokens,
      // src/schema.py:34-40) resolve to the materialized rowid column
      markOuter(col("rowid"), ctx, None, "rowid")
    case ExpCol(None, c) => markOuter(col(c), ctx, None, c)
    case ExpCol(Some(t), c) if Set("_rowid_", "oid")(Names.casefold(c)) =>
      markOuter(col(s"$t.rowid"), ctx, Some(t), "rowid")
    case ExpCol(Some(t), c) => markOuter(col(s"$t.$c"), ctx, Some(t), c)
    case ExpCollate(x, _) => compile(x, ctx)  // collation handled at comparison sites
    case ExpCast(x, t) => compile(x, ctx).cast(castType(t))
    case ExpCase(key, whens, otherwise) =>
      val branches = key match {
        case Some(k) =>
          val kc = compile(k, ctx)
          whens.map { case (w, t) => (kc === compile(w, ctx), compile(t, ctx)) }
        case None =>
          whens.map { case (w, t) => (compile(w, ctx), compile(t, ctx)) }
      }
      val start = when(branches.head._1, branches.head._2)
      val chained = branches.tail.foldLeft(start) { case (acc, (c, v)) => acc.when(c, v) }
      otherwise match {
        case Some(o) => chained.otherwise(compile(o, ctx))
        case None => chained
      }
    case ExpApp(distinct, fn, args) =>
      if (SqlFunctions.isAggregate(fn, args.length)) {
        if (!ctx.agg) throw new IllegalArgumentException(
          s"Aggregate ${fn.toUpperCase} outside aggregate context")
        SqlFunctions.aggregate(fn, distinct, args.map(compile(_, ctx.withAgg(false))))
      } else SqlFunctions.scalar(fn, args.map(compile(_, ctx)))
    case ExpAppStar(fn) =>
      if (Names.casefold(fn) != "count") throw new IllegalArgumentException(
        s"Only COUNT(*) is supported, not ${fn.toUpperCase}(*)")
      if (!ctx.agg) throw new IllegalArgumentException(
        "Aggregate COUNT(*) outside aggregate context")
      count(lit(1))
    case ExpSub(q) =>
      if (isCorrelated(ctx, q)) correlatedScalar(ctx, q)
      // LIMIT 1: a multi-row scalar yields its first row, as in SQLite
      else planSubquery(ctx, q).limit(1).scalar()
    case ExpExists(q) =>
      if (isCorrelated(ctx, q)) q match {
        case s: Select => existenceBody(ctx, s) match {
          case Some(Left(b)) => lit(b)
          case Some(Right(s2)) => planWithOuter(ctx, s2).exists()
          case None => existsHavingScalar(ctx, s) match {
            case Some(scalarForm) => compile(scalarForm, ctx)
            case None => throw new UnsupportedOperationException(
              "Correlated EXISTS body with OFFSET or a non-constant " +
                "LIMIT has no existence-equivalent form (divergence D3)")
          }
        }
        case other => planWithOuter(ctx, other).exists()
      }
      else planSubquery(ctx, q).exists()
    case ExpInQuery(x, positive, q0) =>
      // normalize a correlated body to its membership-equivalent plain
      // form first; an empty-set body short-circuits to the constant
      val norm: Either[Column, Query] = (q0, isCorrelated(ctx, q0)) match {
        case (s: Select, true) => membershipBody(ctx, s) match {
          case Some(Left(())) => Left(lit(!positive))
          case Some(Right(s2)) => Right(s2)
          case None => throw new UnsupportedOperationException(
            "Correlated IN body with HAVING, a row-capping LIMIT, or " +
              "grouping on non-selected keys does not preserve " +
              "membership (divergence D3)")
        }
        case _ => Right(q0)
      }
      if (norm.isLeft) norm.left.toOption.get
      else { val q = norm.toOption.get
      if (isCorrelated(ctx, q)) {
        // correlated IN: rewrite to EXISTS with a membership filter; the
        // NOT IN form uses the null-aware `v = x OR isnull(v = x)` shape
        // so a NULL key or NULL element yields the SQL three-valued result.
        // The subquery's output column is force-aliased from the AST —
        // asking the correlated plan for its schema would trigger eager
        // analysis before the outer frame can resolve the outer refs.
        val (sub, vName) = q match {
          case s: Select => s.columns match {
            case Seq(SelColExp(e, _)) =>
              val vn = s"__in_v_${subqueryTag.getAndIncrement()}"
              (planWithOuter(ctx, s.copy(columns = Seq(SelColExp(e, Some(vn))))), vn)
            case _ =>
              (planWithOuter(ctx, s), starCols(s.tables, ctx.bdb, ctx.binds).head)
          }
          case other => throw new UnsupportedOperationException(
            s"Correlated IN-subquery must be a SELECT (divergence D3): $other")
        }
        // outer-reference resolution is inner-first: an LHS name that also
        // exists in the subquery frame would silently bind inner — the
        // assemble pre-pass rewrites the LHS to a unique hidden column;
        // any other route with a colliding name is rejected, not wrong
        q match {
          case s: Select =>
            val innerSc = queryScope(ctx.bdb, s, ctx.binds)
            require(innerColRefs(x, innerSc).isEmpty,
              "Correlated IN whose left side collides with subquery column " +
                s"names is not supported here (divergence D3): $x")
          case _ => ()
        }
        val v = col(vName)
        val xo = compileAllOuter(x, ctx)
        if (positive) sub.filter(v === xo).exists()
        else !sub.filter((v === xo) || (v === xo).isNull).exists()
      } else {
        val in = compile(x, ctx).isin(planSubquery(ctx, q))
        if (positive) in else !in
      } }
    case ExpInExp(x, positive, es) =>
      // constant elements compile to literals, which OptimizeIn sees
      val in =
        if (es.isEmpty) lit(false)
        else compile(x, ctx).isin(es.map(compile(_, ctx)): _*)
      if (positive) in else !in
    case ExpOp(op, operands) => compileOp(op, operands, ctx)
    case bqlExp if isBql(bqlExp) => compileBql(bqlExp, ctx)
    case other => throw new IllegalArgumentException(s"Cannot compile: $other")
  }

  /** NOCASE collation wrapping at comparison sites (reference: SQLite
    * COLLATE; src/compiler.py:1816-1820). */
  private def collated(e: Exp, ctx: Ctx): Column = e match {
    case ExpCollate(x, coll) => Names.casefold(coll) match {
      case "nocase" => lower(compile(x, ctx))
      case "binary" => compile(x, ctx)
      case "rtrim" => rtrim(compile(x, ctx))
      case other => throw new IllegalArgumentException(s"Unknown collation: $other")
    }
    case _ => compile(e, ctx)
  }

  private def comparisonSides(l: Exp, r: Exp, ctx: Ctx): (Column, Column) = {
    val nocase = Seq(l, r).exists {
      case ExpCollate(_, c) => Names.casefold(c) == "nocase"
      case _ => false
    }
    if (nocase) (lower(compile(stripCollate(l), ctx)), lower(compile(stripCollate(r), ctx)))
    else (collated(l, ctx), collated(r, ctx))
  }

  private def stripCollate(e: Exp): Exp = e match {
    case ExpCollate(x, _) => x
    case _ => e
  }

  private def compileOp(op: Op, os: Seq[Exp], ctx: Ctx): Column = {
    def c(i: Int) = compile(os(i), ctx)
    op match {
      case Op.BoolOr => c(0) || c(1)
      case Op.BoolAnd => c(0) && c(1)
      case Op.BoolNot => !c(0)
      case Op.Is =>  // SQLite IS: null-safe equality
        val (l, r) = comparisonSides(os(0), os(1), ctx); l <=> r
      case Op.IsNot =>
        val (l, r) = comparisonSides(os(0), os(1), ctx); !(l <=> r)
      case Op.Eq => val (l, r) = comparisonSides(os(0), os(1), ctx); l === r
      case Op.Neq => val (l, r) = comparisonSides(os(0), os(1), ctx); l =!= r
      case Op.Lt => val (l, r) = comparisonSides(os(0), os(1), ctx); l < r
      case Op.Leq => val (l, r) = comparisonSides(os(0), os(1), ctx); l <= r
      case Op.Geq => val (l, r) = comparisonSides(os(0), os(1), ctx); l >= r
      case Op.Gt => val (l, r) = comparisonSides(os(0), os(1), ctx); l > r
      case Op.Between => c(0).between(c(1), c(2))
      case Op.NotBetween => !c(0).between(c(1), c(2))
      case Op.IsNull => c(0).isNull
      case Op.NotNull => c(0).isNotNull
      case Op.Like => likeCol(c(0), os(1), ctx, negate = false, None)
      case Op.NotLike => likeCol(c(0), os(1), ctx, negate = true, None)
      case Op.LikeEsc => likeCol(c(0), os(1), ctx, negate = false, Some(os(2)))
      case Op.NotLikeEsc => likeCol(c(0), os(1), ctx, negate = true, Some(os(2)))
      case Op.Glob => globCol(c(0), os(1), ctx, negate = false, None)
      case Op.NotGlob => globCol(c(0), os(1), ctx, negate = true, None)
      case Op.GlobEsc => globCol(c(0), os(1), ctx, negate = false, Some(os(2)))
      case Op.NotGlobEsc => globCol(c(0), os(1), ctx, negate = true, Some(os(2)))
      case Op.Regexp => c(0).rlike(stringLiteral(os(1), ctx))
      case Op.NotRegexp => !c(0).rlike(stringLiteral(os(1), ctx))
      case Op.RegexpEsc => c(0).rlike(regexpEscaped(os(1), os(2), ctx))
      case Op.NotRegexpEsc => !c(0).rlike(regexpEscaped(os(1), os(2), ctx))
      case Op.Match | Op.NotMatch | Op.MatchEsc | Op.NotMatchEsc =>
        // README divergence D1: SQLite MATCH needs an FTS virtual table —
        // no analogue here (SQLite itself errors without one)
        throw new UnsupportedOperationException(
          s"$op is not supported (SQLite MATCH requires an FTS table; divergence D1)")
      case Op.BitAnd => c(0).bitwiseAND(c(1))
      case Op.BitIor => c(0).bitwiseOR(c(1))
      case Op.LShift => shiftleft(c(0), intLiteral(os(1), ctx))
      case Op.RShift => shiftright(c(0), intLiteral(os(1), ctx))
      case Op.Add => c(0) + c(1)
      case Op.Sub => c(0) - c(1)
      // `/` follows Spark/DuckDB float division (SQLite truncates ints —
      // documented divergence; the driver oracle is DuckDB)
      case Op.Mul => c(0) * c(1)
      case Op.Div => c(0) / c(1)
      case Op.Rem => c(0) % c(1)
      case Op.Concat => concat(c(0).cast("string"), c(1).cast("string"))
      case Op.BitNot => bitwise_not(c(0))
      case Op.Negate => -c(0)
      case Op.PlusId => c(0)
    }
  }

  /** SQLite LIKE is ASCII-case-insensitive and supports ESCAPE; compile
    * the pattern to an anchored case-insensitive regex. */
  private def likeCol(l: Column, pat: Exp, ctx: Ctx, negate: Boolean,
      esc: Option[Exp]): Column = {
    val p = stringLiteral(pat, ctx)
    val escChar = esc.map(e => stringLiteral(e, ctx).head)
    val sb = new StringBuilder("(?i)(?s)^")
    var i = 0
    while (i < p.length) {
      val ch = p.charAt(i)
      if (escChar.contains(ch) && i + 1 < p.length) {
        sb.append(java.util.regex.Pattern.quote(p.charAt(i + 1).toString))
        i += 1
      } else ch match {
        case '%' => sb.append(".*")
        case '_' => sb.append('.')
        case c => sb.append(java.util.regex.Pattern.quote(c.toString))
      }
      i += 1
    }
    sb.append('$')
    val base = l.rlike(sb.toString)
    if (negate) !base else base
  }

  private def globCol(l: Column, pat: Exp, ctx: Ctx, negate: Boolean,
      esc: Option[Exp]): Column = {
    val p = stringLiteral(pat, ctx)
    val escChar = esc.map(e => stringLiteral(e, ctx).head)
    // glob → anchored regex: * → .*, ? → ., [...] passes through;
    // an ESCAPE char makes the following character literal
    val sb = new StringBuilder("^")
    var i = 0
    while (i < p.length) {
      val ch = p.charAt(i)
      if (escChar.contains(ch) && i + 1 < p.length) {
        sb.append(java.util.regex.Pattern.quote(p.charAt(i + 1).toString))
        i += 1
      } else ch match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '[' =>
          val close = p.indexOf(']', i + 1)
          if (close < 0) sb.append("\\[")
          else { sb.append(p.substring(i, close + 1)); i = close }
        case c if "\\.^$+{}()|".indexOf(c) >= 0 => sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('$')
    val re = l.rlike(sb.toString)
    if (negate) !re else re
  }

  /** REGEXP ... ESCAPE e: the escape character makes the next character
    * a literal; everything else passes through as regex syntax. */
  private def regexpEscaped(pat: Exp, esc: Exp, ctx: Ctx): String = {
    val p = stringLiteral(pat, ctx)
    val escChar = stringLiteral(esc, ctx).head
    val sb = new StringBuilder
    var i = 0
    while (i < p.length) {
      val ch = p.charAt(i)
      if (ch == escChar && i + 1 < p.length) {
        sb.append(java.util.regex.Pattern.quote(p.charAt(i + 1).toString))
        i += 1
      } else sb.append(ch)
      i += 1
    }
    sb.toString
  }

  private def stringLiteral(e: Exp, ctx: Ctx): String = e match {
    case ExpLit(LitString(s)) => s
    case ExpNumpar(n) => String.valueOf(bindValue(ctx.binds, n))
    case ExpNampar(n, _) => String.valueOf(bindValue(ctx.binds, n))
    case other => throw new IllegalArgumentException(
      s"Pattern must be a literal string: $other")
  }

  private def intLiteral(e: Exp, ctx: Ctx): Int = e match {
    case ExpLit(LitInt(v)) => v.toInt
    case ExpNumpar(n) => bindValue(ctx.binds, n).asInstanceOf[Number].intValue
    case other => throw new IllegalArgumentException(s"Shift amount must be literal: $other")
  }

  private def castType(t: TypeSpec): String =
    Names.casefold(t.names.mkString(" ")) match {
      case "int" | "integer" | "bigint" | "smallint" | "tinyint" | "mediumint" => "long"
      case "real" | "float" | "double" | "double precision" => "double"
      case "text" | "char" | "varchar" | "clob" | "string" | "character" => "string"
      // SQLite NUMERIC prefers numeric representation; Spark needs one
      // static type — double (documented divergence)
      case "numeric" | "decimal" | "num" => "double"
      case "blob" | "binary" => "binary"
      case "boolean" | "bool" => "boolean"
      case other => other  // let Spark resolve (date, timestamp, …)
    }

  // ------------------------------------------------ plan-time constants

  def bindValue(binds: Seq[Any], n: Int): Any = {
    require(n >= 1 && n <= binds.length, s"Missing parameter ?$n")
    binds(n - 1)
  }

  /** Plan-time constant evaluation (limits, simulate constraints,
    * nsamples — the reference likewise evaluates these at compile time,
    * src/compiler.py:641-722). */
  def evalConst(bdb: BayesDB, e: Exp, binds: Seq[Any]): Any = e match {
    case ExpLit(LitNull) => null
    case ExpLit(LitInt(v)) => v
    case ExpLit(LitFloat(v)) => v
    case ExpLit(LitString(v)) => v
    case ExpNumpar(n) => bindValue(binds, n)
    case ExpNampar(n, _) => bindValue(binds, n)
    case ExpOp(Op.Negate, Seq(x)) => evalConst(bdb, x, binds) match {
      case l: Long => -l
      case d: Double => -d
      case i: Int => -i
      case other => throw new IllegalArgumentException(s"Cannot negate $other")
    }
    case ExpOp(Op.PlusId, Seq(x)) => evalConst(bdb, x, binds)
    case ExpOp(op @ (Op.Add | Op.Sub | Op.Mul | Op.Div), Seq(a, b)) =>
      val x = numeric(evalConst(bdb, a, binds))
      val y = numeric(evalConst(bdb, b, binds))
      op match {
        case Op.Add => x + y; case Op.Sub => x - y
        case Op.Mul => x * y; case _ => x / y
      }
    case ExpSub(q) =>
      val rows = plan(bdb, q, binds).limit(1).collect()
      if (rows.isEmpty) null else rows.head.get(0)
    case other => throw new IllegalArgumentException(
      s"Expected a constant expression: $other")
  }

  private def numeric(a: Any): Double = a match {
    case l: Long => l.toDouble
    case d: Double => d
    case i: Int => i.toDouble
    case f: Float => f.toDouble
    case s: Short => s.toDouble
    case other => throw new IllegalArgumentException(s"Not a number: $other")
  }

  def evalConstInt(bdb: BayesDB, e: Exp, binds: Seq[Any]): Int =
    numeric(evalConst(bdb, e, binds)).toInt

  def evalConstDouble(bdb: BayesDB, e: Exp, binds: Seq[Any]): Double =
    numeric(evalConst(bdb, e, binds))

  private def containsAggregate(e: Exp): Boolean = Ast.exists(e) {
    case ExpApp(_, fn, args) => SqlFunctions.isAggregate(fn, args.length)
    case ExpAppStar(fn) => Names.casefold(fn) == "count"
    case _ => false
  }

  // ------------------------------------------------- BQL fn compilation

  /** Resolve a column list to variable names (subquery lists execute at
    * plan time, reference: compile_column_lists src/compiler.py:1668-1720). */
  def resolveColList(bdb: BayesDB, pm: PopulationModel, cl: ColList,
      binds: Seq[Any]): Seq[String] = cl match {
    // `(*)` expands to manifest variables only: latent variables have no
    // observed column to read in a row context (reference: colno<0 cells
    // are NULL, core.py:424-429)
    case ColListAll => pm.population.modeledVariables.filterNot(_.isLatent).map(_.name)
    case ColListLit(cols) => cols
    case ColListSub(q) =>
      plan(bdb, q, binds).collect().map(_.get(0).toString).toSeq
  }

  /** Encode a plan-time constant for a variable: nominal labels map to
    * category codes via the fitted generator's dictionary. */
  private def encodeConst(ctx: Ctx, pm: PopulationModel, varName: String, e: Exp): Double =
    Estimators.encodeValue(pm, varName, evalConst(ctx.bdb, e, ctx.binds))

  /** Resolve the single context column of SIMILARITY / PREDICTIVE
    * RELEVANCE. */
  private def contextColno(pm: PopulationModel, cl: ColList, ctx: Ctx): Int = {
    val names = resolveColList(ctx.bdb, pm, cl, ctx.binds)
    require(names.length == 1,
      s"IN THE CONTEXT OF requires exactly one column, got: $names")
    pm.colno(names.head)
  }

  /** Resolve a row-designating condition to its rowid: plan-time
    * `SELECT rowid FROM t WHERE cond LIMIT 1` (the reference embeds the
    * same scalar subquery in SQL, src/compiler.py:1565-1587). */
  private def resolveRowid(pm: PopulationModel, cond: Exp, ctx: Ctx): Long = {
    val t = ctx.bdb.table(pm.population.table)
    val rows = t.filter(compile(cond, ctx.copy(bql = NoModelCtx)))
      .select(col("rowid")).limit(1).collect()
    require(rows.nonEmpty, s"No row matches: $cond")
    rows.head.getLong(0)
  }

  private def compileBql(e: Exp, ctx: Ctx): Column = {
    val pm = pmOf(ctx.bql)
    def isRowCtx = ctx.bql.isInstanceOf[RowCtx] || ctx.bql.isInstanceOf[InferCtx]

    e match {
      // ---------------- row functions (1-row context)
      case ExpBQLPredProb(targets, constraints) =>
        require(isRowCtx, "PREDICTIVE PROBABILITY requires a row context (ESTIMATE FROM)")
        val tNames = targets.flatMap(resolveColList(ctx.bdb, pm, _, ctx.binds)).distinct
        val cNames0 = constraints.flatMap {
          case ColListAll =>
            pm.population.modeledVariables.map(_.name)
              .filterNot(v => tNames.exists(t => Names.casefold(t) == Names.casefold(v)))
          case cl => resolveColList(ctx.bdb, pm, cl, ctx.binds)
        }.distinct
        Estimators.predictiveProbabilityCol(pm, tNames, cNames0)

      case ExpBQLSim(ofCond, toCond, contextCl) =>
        val colno = contextColno(pm, contextCl, ctx)
        (ofCond, toCond, ctx.bql) match {
          case (Some(of), Some(to), _) =>  // const form
            val r0 = resolveRowid(pm, of, ctx)
            val r1 = resolveRowid(pm, to, ctx)
            lit(Estimators.similarityValue(pm, r0, r1, colno))
          case (None, Some(to), _) if isRowCtx =>
            val r1 = resolveRowid(pm, to, ctx)
            Estimators.similarityCol(pm, r1, colno, col("rowid"))
          case (None, None, PairRowCtx(_)) =>
            Estimators.pairSimilarityCol(pm, colno, col("rowid0"), col("rowid1"))
          case _ => throw new IllegalArgumentException(
            "SIMILARITY form does not match its context")
        }

      case ExpBQLPredRel(ofCond, toCond, hypotheticals, contextCl) =>
        // form constraints (reference: src/bql_math? — tests/test_bql.py:
        // 219-240): BY requires OF (<row>); FROM forbids it
        ctx.bql match {
          case ConstCtx(_) => require(ofCond.isDefined,
            "PREDICTIVE RELEVANCE ... BY requires OF (<row>)")
          case _ if isRowCtx => require(ofCond.isEmpty,
            "PREDICTIVE RELEVANCE ... FROM forbids OF (<row>); " +
              "each table row is the target")
          case _ => ()
        }
        val colno = contextColno(pm, contextCl, ctx)
        // The TO EXISTING ROWS condition set is broadcast into every
        // relevance evaluation, so it must be driver-small by contract.
        // Bound the collect structurally (limit cap+1, then fail) — at
        // 100 TB an unbounded condition ("WHERE 1=1") would otherwise
        // OOM the driver; the knob raises the cap for wide-but-bounded
        // condition sets.
        val queryRowids = toCond match {
          case Some(cond) =>
            val cap = ctx.bdb.spark.conf
              .getOption("graft.bql.relevance.maxConditionRows")
              .map(_.toInt).getOrElse(10000)
            val t = ctx.bdb.table(pm.population.table)
            val ids = t.filter(compile(cond, ctx.copy(bql = NoModelCtx)))
              .select(col("rowid")).limit(cap + 1)
              .collect().map(_.getLong(0)).toSeq
            if (ids.length > cap) throw new IllegalArgumentException(
              s"PREDICTIVE RELEVANCE: the TO EXISTING ROWS condition matched " +
                s"more than $cap rows; narrow the condition or raise " +
                "graft.bql.relevance.maxConditionRows")
            ids
          case None => Nil
        }
        // empty existing/hypothetical sets are legal (reference compiles
        // '[]'); the backend yields NaN → NULL for the degenerate case
        val hyp = hypotheticals.map(_.map { case (c, v) =>
          pm.colno(c) -> encodeConst(ctx, pm, c, v)
        })
        // backends that cannot incorporate unseen rows reject hypotheticals
        // here, at plan time (reference: loom_backend.py:688-692)
        if (hyp.nonEmpty) pm.generators.foreach { g =>
          if (!g.backend.supportsHypotheticalRelevance)
            throw new IllegalArgumentException(
              s"${g.backend.name} cannot handle hypothetical rows because" +
                " it is unable to insert rows into CrossCat")
        }
        ofCond match {
          case Some(of) =>  // const form
            val r0 = resolveRowid(pm, of, ctx)
            lit(Estimators.predictiveRelevanceValue(pm, r0, queryRowids, hyp, colno))
          case None =>
            require(isRowCtx, "PREDICTIVE RELEVANCE requires a row context or OF (<row>)")
            Estimators.predictiveRelevanceCol(pm, queryRowids, hyp, colno, col("rowid"))
        }

      case ExpBQLPredict(c, conf, nsamp) =>
        require(isRowCtx, "PREDICT requires a row context (INFER)")
        val threshold = evalConstDouble(ctx.bdb, conf, ctx.binds)
        val n = nsamp.map(e => evalConstInt(ctx.bdb, e, ctx.binds)).getOrElse(2)
        Estimators.predictValueCol(pm, pm.colno(c), threshold, n, col("rowid"),
          availableOf(ctx))

      case ExpBQLPredictConf(c, nsamp) =>
        require(isRowCtx, "PREDICT CONFIDENCE requires a row context")
        val n = nsamp.map(e => evalConstInt(ctx.bdb, e, ctx.binds)).getOrElse(2)
        Estimators.predictStructCol(pm, pm.colno(c), n, col("rowid"),
          availableOf(ctx))

      // ---------------- column functions (const / 1-col / 2-col)
      case ExpBQLDepProb(c0, c1) =>
        colFn2("DEPENDENCE PROBABILITY", c0, c1, ctx, pm)(
          (a, b) => Estimators.dependenceProbability(pm, a, b))

      // degenerate inputs (constant column, single category, too few
      // observations, empty table) compute NaN internally; the reference
      // returns NULL for them (src/stats.py guards return None,
      // tests/test_correlation.py pins it) — surface NULL
      case ExpBQLCorrel(c0, c1) =>
        nanvl(colFn2("CORRELATION", c0, c1, ctx, pm)(correlationValue(ctx, pm)),
          lit(null).cast("double"))

      case ExpBQLCorrelPval(c0, c1) =>
        nanvl(colFn2("CORRELATION PVALUE", c0, c1, ctx, pm)(correlationPValue(ctx, pm)),
          lit(null).cast("double"))

      case ExpBQLMutInf(cols0, cols1, constraints, nsamp) =>
        val n = nsamp.map(e => evalConstInt(ctx.bdb, e, ctx.binds)).getOrElse(1000)
        val cs = constraints.map {
          case MiEquality(c, v) => c -> Some(encodeConst(ctx, pm, c, v))
          case MiMarginal(c) => c -> None
        }
        (cols0, cols1, ctx.bql) match {
          case (c0, c1, _) if c0.nonEmpty && c1.nonEmpty =>  // const
            lit(Estimators.mutualInformation(pm, c0, c1, n, cs))
          case (Seq(), c1, ColCtx(_)) if c1.nonEmpty =>  // 1-col
            varValueCol(pm, v => Estimators.mutualInformation(pm, Seq(v), c1, n, cs))
          case (Seq(), Seq(), PairColCtx(_, subset)) =>  // 2-col
            pairValueCol(pm, subset, (a, b) => Estimators.mutualInformation(pm, Seq(a), Seq(b), n, cs))
          case _ => throw new IllegalArgumentException(
            "MUTUAL INFORMATION form does not match its context")
        }

      case ExpBQLProbDensity(targets, constraints) =>
        val t = targets.map { case (c, v) => c -> encodeConst(ctx, pm, c, v) }
        val cs = constraints.map { case (c, v) => c -> encodeConst(ctx, pm, c, v) }
        lit(Estimators.probabilityDensity(pm, t, cs))

      case ExpBQLProbDensityFn(value, constraints) =>
        ctx.bql match {
          case ColCtx(_) =>
            val v = evalConstDouble(ctx.bdb, value, ctx.binds)
            val cs = constraints.map { case (c, x) =>
              pm.colno(c) -> evalConstDouble(ctx.bdb, x, ctx.binds) }
            varValueCol(pm, name => {
              val colno = pm.colno(name)
              val logs = pm.generators.map(g =>
                g.backend.logpdfJoint(g.state, None, Seq(colno -> v), cs)).toArray
              math.exp(graft.functions.SpecialMath.logMeanExp(logs))
            })
          case _ => throw new IllegalArgumentException(
            "PROBABILITY DENSITY OF VALUE requires a column context (ESTIMATE FROM VARIABLES OF)")
        }

      case ExpBQLProbEst(inner) =>
        // macro: AVG over SIMULATE (expr) FROM MODELS OF p (reference:
        // src/macro.py:26-34) — evaluated directly over the ensemble. In
        // a VARIABLES OF context, 1-column estimator forms inside the
        // event (`mutual information with x`, `dependence probability
        // with x`) bind the row's variable as their implicit first
        // column, so `ORDER BY probability of (mi with x > t)` ranks the
        // variables (reference tests/test_approxest.py).
        val gen = pm.generators.head
        val ms = gen.state.modelNumbers
        require(ms.nonEmpty, "PROBABILITY OF needs initialized models")
        def avgFor(ast: Exp): Double = {
          val vals = ms.map(m => evalModelExp(ctx.bdb, pm, m, ast, ctx.binds))
          vals.sum / vals.length
        }
        // the estimator may sit under any expression shape the event
        // grammar nests (operators, CASE, CAST, COLLATE, function calls,
        // IN-lists), so `probability of (abs(mutual information with x)
        // > t)` binds
        def hasImplicit(e: Exp): Boolean = Ast.exists(e) {
          case ExpBQLMutInf(Seq(), _, _, _) => true
          case ExpBQLDepProb(None, Some(_)) => true
          case _ => false
        }
        def bindVar(e: Exp, v: String): Exp = e match {
          case ExpBQLMutInf(Seq(), c1, cs, n) => ExpBQLMutInf(Seq(v), c1, cs, n)
          case ExpBQLDepProb(None, c1 @ Some(_)) => ExpBQLDepProb(Some(v), c1)
          case other => mapChildren(other)(bindVar(_, v))
        }
        ctx.bql match {
          case ColCtx(_) if hasImplicit(inner) =>
            varValueCol(pm, v => avgFor(bindVar(inner, v)))
          case _ => lit(avgFor(inner))
        }

      case other => throw new IllegalArgumentException(s"Unexpected BQL expression: $other")
    }
  }

  /** Dispatch a 2-column estimator family over its three forms:
    * OF a WITH b (const), WITH b (1-col), bare (2-col). */
  private def colFn2(what: String, c0: Option[String], c1: Option[String],
      ctx: Ctx, pm: PopulationModel)(f: (String, String) => Double): Column =
    (c0, c1, ctx.bql) match {
      case (Some(a), Some(b), _) => lit(f(a, b))
      case (None, Some(b), ColCtx(_)) => varValueCol(pm, v => f(v, b))
      case (None, None, PairColCtx(_, subset)) => pairValueCol(pm, subset, f)
      case _ => throw new IllegalArgumentException(
        s"$what form does not match its context" +
          " (const needs OF..WITH, 1-col needs VARIABLES OF, 2-col needs PAIRWISE VARIABLES OF)")
    }

  /** 1-col estimator: per-variable driver values delivered as a broadcast
    * map lookup (a closure-serialized Map, constant-time per row) rather
    * than a nested when-chain — a 64-variable population would otherwise
    * build a 64-deep Catalyst expression; the variable list itself is
    * metadata-sized. */
  private def varValueCol(pm: PopulationModel, f: String => Double): Column = {
    val entries: Map[String, Double] =
      pm.visibleVariables.map(v => Names.casefold(v.name) -> f(v.name)).toMap
    val look = udf((n: String) => entries.get(Names.casefold(n)))
    look(col("name"))
  }

  /** 2-col estimator: per-pair driver values → broadcast map lookup keyed
    * by (name0, name1). A when-chain here is O(vars²)-deep — 4,096
    * branches for a 64-column population, past Catalyst's comfortable
    * analysis depth. Only the FOR-restricted subset (when present) is
    * computed. */
  private def pairValueCol(pm: PopulationModel, subset: Option[Seq[String]],
      f: (String, String) => Double): Column = {
    val all = pm.visibleVariables.map(_.name)
    val vars = subset match {
      case None => all
      case Some(names) =>
        val want = names.map(Names.casefold).toSet
        all.filter(n => want(Names.casefold(n)))
    }
    val entries: Map[(String, String), Double] =
      (for (a <- vars; b <- vars)
        yield (Names.casefold(a), Names.casefold(b)) -> f(a, b)).toMap
    val look = udf((a: String, b: String) =>
      entries.get((Names.casefold(a), Names.casefold(b))))
    look(col("name0"), col("name1"))
  }

  private def correlationValue(ctx: Ctx, pm: PopulationModel)(a: String, b: String): Double = {
    val df = ctx.bdb.table(pm.population.table)
    val va = pm.population.variable(a).getOrElse(
      throw new NoSuchElementException(s"No such variable: $a"))
    val vb = pm.population.variable(b).getOrElse(
      throw new NoSuchElementException(s"No such variable: $b"))
    if (Names.casefold(a) == Names.casefold(b)) 1.0
    else Correlation.correlation(df, va.name, va.stattype, vb.name, vb.stattype)
  }

  private def correlationPValue(ctx: Ctx, pm: PopulationModel)(a: String, b: String): Double = {
    val df = ctx.bdb.table(pm.population.table)
    val va = pm.population.variable(a).getOrElse(
      throw new NoSuchElementException(s"No such variable: $a"))
    val vb = pm.population.variable(b).getOrElse(
      throw new NoSuchElementException(s"No such variable: $b"))
    if (Names.casefold(a) == Names.casefold(b)) 0.0
    else Correlation.correlationPValue(df, va.name, va.stattype, vb.name, vb.stattype)
  }
}
