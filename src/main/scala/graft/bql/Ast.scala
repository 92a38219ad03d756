package graft.bql

/** BQL abstract syntax (reference: src/ast.py — namedtuples there, sealed
  * case classes here). One case class per reference node, same field
  * meanings; `Option` replaces None-able fields, `Seq` replaces lists.
  */
object Ast {

  /** A parsed phrase plus its parameter accounting (reference:
    * src/ast.py:19-23). */
  final case class Parametrized(
      phrase: Phrase,
      nNumpar: Int,
      namparMap: Map[String, Int])

  sealed trait Phrase
  sealed trait Command extends Phrase
  sealed trait Query extends Phrase

  // ----------------------------------------------------------- transactions
  case object Begin extends Command
  case object Rollback extends Command
  case object Commit extends Command

  // ------------------------------------------------------------- SQL DDL
  final case class CreateTabAs(temp: Boolean, ifNotExists: Boolean,
      name: String, query: Query) extends Command
  final case class CreateTabCsv(temp: Boolean, ifNotExists: Boolean,
      name: String, csv: String) extends Command
  final case class DropTab(ifExists: Boolean, name: String) extends Command
  final case class AlterTab(table: String, commands: Seq[AlterTabCmd]) extends Command
  sealed trait AlterTabCmd
  final case class AlterTabRenameTab(name: String) extends AlterTabCmd
  final case class AlterTabRenameCol(old: String, nw: String) extends AlterTabCmd

  // ------------------------------------------------------------- BQL MDL
  final case class GuessSchema(table: String) extends Command
  final case class CreatePop(ifNotExists: Boolean, name: String,
      table: String, schema: Seq[PopClause]) extends Command
  final case class DropPop(ifExists: Boolean, name: String) extends Command
  sealed trait PopClause
  final case class PopModelVars(names: Seq[String], stattype: String) extends PopClause
  final case class PopGuessVars(names: Seq[String]) extends PopClause  // names empty = (*)
  final case class PopIgnoreVars(names: Seq[String]) extends PopClause
  final case class AlterPop(population: String, commands: Seq[AlterPopCmd]) extends Command
  sealed trait AlterPopCmd
  final case class AlterPopRenamePop(name: String) extends AlterPopCmd
  final case class AlterPopAddVar(name: String, stattype: Option[String]) extends AlterPopCmd
  final case class AlterPopStatType(names: Seq[String], stattype: String) extends AlterPopCmd

  final case class CreateGen(name: Option[String], ifNotExists: Boolean,
      population: String, backend: Option[String],
      schema: Seq[Seq[String]]) extends Command
  final case class DropGen(ifExists: Boolean, name: String) extends Command
  final case class AlterGen(generator: String, modelnos: Option[Seq[Int]],
      commands: Seq[AlterGenCmd]) extends Command
  sealed trait AlterGenCmd
  final case class AlterGenRenameGen(name: String) extends AlterGenCmd
  final case class AlterGenGeneric(command: Seq[String]) extends AlterGenCmd

  // ------------------------------------------------------------- BQL MAL
  final case class InitModels(ifNotExists: Boolean, generator: String,
      nmodels: Int) extends Command
  final case class AnalyzeModels(generator: String, modelnos: Option[Seq[Int]],
      iterations: Option[Int], seconds: Option[Int],
      ckptIterations: Option[Int], ckptSeconds: Option[Int],
      program: Seq[String]) extends Command
  final case class DropModels(generator: String,
      modelnos: Option[Seq[Int]]) extends Command

  final case class Regress(target: String, givens: Seq[SelCol],
      nsamples: Option[Exp], population: String, generator: Option[String],
      modelnos: Option[Seq[Int]]) extends Command

  // ------------------------------------------------------------- queries
  sealed trait SelQuant
  case object SelQuantDistinct extends SelQuant
  case object SelQuantAll extends SelQuant

  sealed trait SelCol
  final case class SelColAll(table: Option[String]) extends SelCol
  final case class SelColSub(table: String, query: Query) extends SelCol
  final case class SelColExp(expression: Exp, name: Option[String]) extends SelCol
  /** `PREDICT col [AS name] [CONFIDENCE confname] [USING n SAMPLES]`
    * inside INFER EXPLICIT (reference: src/ast.py:254-259). */
  final case class PredCol(column: String, name: Option[String],
      confName: Option[String], nsamples: Option[Exp]) extends SelCol

  final case class SelTab(table: Either[Query, String], name: Option[String])

  final case class Grouping(keys: Seq[Exp], condition: Option[Exp])
  final case class Ord(expression: Exp, asc: Boolean)
  final case class Lim(limit: Exp, offset: Option[Exp])

  final case class Select(quantifier: SelQuant, columns: Seq[SelCol],
      tables: Seq[SelTab], condition: Option[Exp], grouping: Option[Grouping],
      order: Seq[Ord], limit: Option[Lim]) extends Query

  final case class Estimate(quantifier: SelQuant, columns: Seq[SelCol],
      population: String, generator: Option[String], modelnos: Option[Seq[Int]],
      condition: Option[Exp], grouping: Option[Grouping],
      order: Seq[Ord], limit: Option[Lim]) extends Query

  final case class EstBy(quantifier: SelQuant, columns: Seq[SelCol],
      population: String, generator: Option[String],
      modelnos: Option[Seq[Int]]) extends Query

  final case class EstCols(columns: Seq[SelCol], population: String,
      generator: Option[String], modelnos: Option[Seq[Int]],
      condition: Option[Exp], order: Seq[Ord], limit: Option[Lim]) extends Query

  final case class EstPairCols(columns: Seq[SelCol], population: String,
      subcolumns: Option[Seq[ColList]], generator: Option[String],
      modelnos: Option[Seq[Int]], condition: Option[Exp],
      order: Seq[Ord], limit: Option[Lim]) extends Query

  final case class EstPairRow(columns: Seq[SelCol], population: String,
      generator: Option[String], modelnos: Option[Seq[Int]],
      condition: Option[Exp], order: Seq[Ord], limit: Option[Lim]) extends Query

  sealed trait InfCol
  case object InfColAll extends InfCol
  final case class InfColOne(column: String, name: Option[String]) extends InfCol

  final case class InferAuto(columns: Seq[InfCol], confidence: Option[Exp],
      nsamples: Option[Exp], population: String, generator: Option[String],
      modelnos: Option[Seq[Int]], condition: Option[Exp],
      grouping: Option[Grouping], order: Seq[Ord], limit: Option[Lim]) extends Query

  final case class InferExplicit(columns: Seq[SelCol], population: String,
      generator: Option[String], modelnos: Option[Seq[Int]],
      condition: Option[Exp], grouping: Option[Grouping],
      order: Seq[Ord], limit: Option[Lim]) extends Query

  final case class Simulate(columns: Seq[SelCol], population: String,
      generator: Option[String], modelnos: Option[Seq[Int]],
      constraints: Seq[(String, Exp)], nsamples: Option[Exp],
      accuracy: Option[Int]) extends Query

  final case class SimulateModels(columns: Seq[SelCol], population: String,
      generator: Option[String]) extends Query

  /** SIMULATE FROM MODELS OF with compound (non-BQL-fn) expressions —
    * produced by macro expansion (reference: src/ast.py:178-182). */
  final case class SimulateModelsExp(columns: Seq[SelCol], population: String,
      generator: Option[String]) extends Query

  // -------------------------------------------------------------- columns
  sealed trait ColList
  case object ColListAll extends ColList
  final case class ColListLit(columns: Seq[String]) extends ColList
  final case class ColListSub(query: Query) extends ColList

  // ---------------------------------------------------------- expressions
  sealed trait Exp

  sealed trait Lit
  case object LitNull extends Lit
  final case class LitInt(value: Long) extends Lit
  final case class LitFloat(value: Double) extends Lit
  final case class LitString(value: String) extends Lit

  final case class ExpLit(value: Lit) extends Exp
  final case class ExpNumpar(number: Int) extends Exp
  final case class ExpNampar(number: Int, name: String) extends Exp
  final case class ExpCol(table: Option[String], column: String) extends Exp
  final case class ExpSub(query: Query) extends Exp
  final case class ExpCollate(expression: Exp, collation: String) extends Exp
  final case class ExpInQuery(expression: Exp, positive: Boolean, query: Query) extends Exp
  final case class ExpInExp(expression: Exp, positive: Boolean, expressions: Seq[Exp]) extends Exp
  final case class ExpCast(expression: Exp, tpe: TypeSpec) extends Exp
  final case class ExpExists(query: Query) extends Exp
  final case class ExpApp(distinct: Boolean, operator: String, operands: Seq[Exp]) extends Exp
  final case class ExpAppStar(operator: String) extends Exp
  final case class ExpCase(key: Option[Exp], whens: Seq[(Exp, Exp)],
      otherwise: Option[Exp]) extends Exp
  final case class ExpOp(operator: Op, operands: Seq[Exp]) extends Exp

  final case class TypeSpec(names: Seq[String], args: Seq[Long])

  sealed trait Op
  object Op {
    case object BoolOr extends Op;  case object BoolAnd extends Op
    case object BoolNot extends Op
    case object Is extends Op;      case object IsNot extends Op
    case object Like extends Op;    case object NotLike extends Op
    case object LikeEsc extends Op; case object NotLikeEsc extends Op
    case object Glob extends Op;    case object NotGlob extends Op
    case object GlobEsc extends Op; case object NotGlobEsc extends Op
    case object Regexp extends Op;  case object NotRegexp extends Op
    case object RegexpEsc extends Op; case object NotRegexpEsc extends Op
    case object Match extends Op;   case object NotMatch extends Op
    case object MatchEsc extends Op; case object NotMatchEsc extends Op
    case object Between extends Op; case object NotBetween extends Op
    case object IsNull extends Op;  case object NotNull extends Op
    case object Neq extends Op;     case object Eq extends Op
    case object Lt extends Op;      case object Leq extends Op
    case object Geq extends Op;     case object Gt extends Op
    case object BitAnd extends Op;  case object BitIor extends Op
    case object LShift extends Op;  case object RShift extends Op
    case object Add extends Op;     case object Sub extends Op
    case object Mul extends Op;     case object Div extends Op
    case object Rem extends Op;     case object Concat extends Op
    case object BitNot extends Op;  case object Negate extends Op
    case object PlusId extends Op
  }

  // BQL model-estimator expressions (reference: src/ast.py:405-426)
  final case class ExpBQLPredProb(targets: Seq[ColList],
      constraints: Seq[ColList]) extends Exp
  final case class ExpBQLProbDensity(targets: Seq[(String, Exp)],
      constraints: Seq[(String, Exp)]) extends Exp
  final case class ExpBQLProbDensityFn(value: Exp,
      constraints: Seq[(String, Exp)]) extends Exp
  final case class ExpBQLSim(ofCondition: Option[Exp],
      toCondition: Option[Exp], column: ColList) extends Exp
  final case class ExpBQLPredRel(ofCondition: Option[Exp],
      toCondition: Option[Exp], hypotheticals: Seq[Seq[(String, Exp)]],
      column: ColList) extends Exp
  final case class ExpBQLDepProb(column0: Option[String],
      column1: Option[String]) extends Exp
  sealed trait MiConstraint
  final case class MiEquality(column: String, value: Exp) extends MiConstraint
  final case class MiMarginal(column: String) extends MiConstraint
  final case class ExpBQLMutInf(columns0: Seq[String], columns1: Seq[String],
      constraints: Seq[MiConstraint], nsamples: Option[Exp]) extends Exp
  final case class ExpBQLCorrel(column0: Option[String],
      column1: Option[String]) extends Exp
  final case class ExpBQLCorrelPval(column0: Option[String],
      column1: Option[String]) extends Exp
  final case class ExpBQLPredict(column: String, confidence: Exp,
      nsamples: Option[Exp]) extends Exp
  final case class ExpBQLPredictConf(column: String,
      nsamples: Option[Exp]) extends Exp
  final case class ExpBQLProbEst(expression: Exp) extends Exp

  def isBql(e: Exp): Boolean = e match {
    case _: ExpBQLPredProb | _: ExpBQLProbDensity | _: ExpBQLProbDensityFn |
         _: ExpBQLSim | _: ExpBQLPredRel | _: ExpBQLDepProb |
         _: ExpBQLMutInf | _: ExpBQLCorrel | _: ExpBQLCorrelPval |
         _: ExpBQLPredict | _: ExpBQLPredictConf | _: ExpBQLProbEst => true
    case _ => false
  }

  /** Does this expression (recursively) contain a BQL estimator? */
  def containsBql(e: Exp): Boolean = exists(e)(isBql)

  // ------------------------------------------------------ tree structure

  /** The direct sub-expressions of `e`, in field order (CASE: key, each
    * WHEN/THEN pair, ELSE; IN: the left side, then the list). Subquery
    * bodies are not children (an IN-subquery contributes only its left
    * side), and BQL estimator nodes are leaves: the estimator compiler
    * evaluates their operands, not the row-expression compiler. */
  def children(e: Exp): Seq[Exp] = e match {
    case ExpOp(_, os) => os
    case ExpApp(_, _, os) => os
    case ExpCase(k, ws, o) => k.toSeq ++ ws.flatMap(w => Seq(w._1, w._2)) ++ o.toSeq
    case ExpCast(x, _) => Seq(x)
    case ExpCollate(x, _) => Seq(x)
    case ExpInExp(x, _, es) => x +: es
    case ExpInQuery(x, _, _) => Seq(x)
    case _ => Nil
  }

  /** `e` with `f` applied to each of its [[children]], in the same order;
    * a leaf comes back as it is. */
  def mapChildren(e: Exp)(f: Exp => Exp): Exp = e match {
    case ExpOp(op, os) => ExpOp(op, os.map(f))
    case ExpApp(d, fn, os) => ExpApp(d, fn, os.map(f))
    case ExpCase(k, ws, o) =>
      ExpCase(k.map(f), ws.map { case (a, b) => (f(a), f(b)) }, o.map(f))
    case ExpCast(x, t) => ExpCast(f(x), t)
    case ExpCollate(x, c) => ExpCollate(f(x), c)
    case ExpInExp(x, p, es) => ExpInExp(f(x), p, es.map(f))
    case ExpInQuery(x, p, q) => ExpInQuery(f(x), p, q)
    case leaf => leaf
  }

  /** Whether `p` holds at `e` or at any node below it through
    * [[children]] (so not inside subquery bodies). */
  def exists(e: Exp)(p: Exp => Boolean): Boolean =
    p(e) || children(e).exists(exists(_)(p))

  /** The body of a nested subquery node (scalar, EXISTS or IN). */
  def subqueryOf(e: Exp): Option[Query] = e match {
    case ExpSub(q) => Some(q)
    case ExpExists(q) => Some(q)
    case ExpInQuery(_, _, q) => Some(q)
    case _ => None
  }
}
