package graft

import graft.bql.Ast._
import org.scalacheck.rng.Seed
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the expression walker every planner fold is built on
  * (`Ast.children` / `Ast.mapChildren`), over generated expression trees
  * that use every structural node plus subquery and estimator leaves. */
class AstWalkSpec extends AnyFunSuite {

  private val body = Select(SelQuantAll, Nil, Nil, None, None, Nil, None)

  private val leaf: Gen[Exp] = Gen.oneOf(
    Gen.choose(-3L, 3L).map(v => ExpLit(LitInt(v))),
    Gen.const(ExpLit(LitNull)),
    Gen.oneOf("a", "b").map(ExpCol(None, _)),
    Gen.const(ExpNumpar(1)),
    Gen.const(ExpAppStar("count")),
    Gen.const(ExpSub(body)),
    Gen.const(ExpExists(body)),
    Gen.const(ExpBQLProbEst(ExpCol(None, "a"))))

  private def exp(depth: Int): Gen[Exp] =
    if (depth <= 0) leaf
    else {
      val sub = Gen.lzy(exp(depth - 1))
      val subs = Gen.choose(0, 3).flatMap(Gen.listOfN(_, sub))
      Gen.frequency(
        3 -> leaf,
        1 -> Gen.zip(Gen.oneOf(Op.Add, Op.Eq, Op.BoolNot), subs)
          .map { case (op, os) => ExpOp(op, os) },
        1 -> Gen.zip(Gen.oneOf("abs", "sum"), subs)
          .map { case (f, os) => ExpApp(distinct = false, f, os) },
        1 -> Gen.zip(Gen.option(sub),
            Gen.choose(1, 2).flatMap(Gen.listOfN(_, Gen.zip(sub, sub))),
            Gen.option(sub))
          .map { case (k, ws, o) => ExpCase(k, ws, o) },
        1 -> sub.map(ExpCast(_, TypeSpec(Seq("int"), Nil))),
        1 -> sub.map(ExpCollate(_, "nocase")),
        1 -> Gen.zip(sub, subs).map { case (x, es) => ExpInExp(x, positive = true, es) },
        1 -> sub.map(ExpInQuery(_, positive = false, body)))
    }

  private val exps = exp(4)

  private def check(prop: Prop): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(300)
      .withInitialSeed(Seed(20261020L))
    val result = Test.check(params, prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  /** Every node of a tree, reached through `children`. */
  private def nodes(e: Exp): Seq[Exp] = e +: children(e).flatMap(nodes)

  /** The `Exp` values held in a field, through options, sequences and
    * pairs (a subquery body is a `Query`, so it holds none). */
  private def fieldExps(x: Any): Seq[Exp] = x match {
    case e: Exp => Seq(e)
    case o: Option[_] => o.toSeq.flatMap(fieldExps)
    case s: Seq[_] => s.flatMap(fieldExps)
    case (a, b) => fieldExps(a) ++ fieldExps(b)
    case _ => Nil
  }

  test("mapChildren with identity rebuilds the same tree") {
    check(Prop.forAll(exps)(e => mapChildren(e)(identity) == e))
  }

  test("children of mapChildren(e)(f) are f of the children, visited in order") {
    val f = (x: Exp) => ExpOp(Op.Negate, Seq(x))
    check(Prop.forAll(exps) { e =>
      val visited = scala.collection.mutable.Buffer.empty[Exp]
      mapChildren(e) { x => visited += x; x }
      children(mapChildren(e)(f)) == children(e).map(f) && visited == children(e)
    })
  }

  test("every Exp field of a structural node is one of its children") {
    check(Prop.forAll(exps)(e => nodes(e).forall { n =>
      if (isBql(n)) children(n).isEmpty
      else children(n) == n.asInstanceOf[Product].productIterator.toSeq.flatMap(fieldExps)
    }))
  }
}
