package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.datalog.{Edn, Planner}

/** The compiled-plan cache key of a Datalog call's arguments must be
  * injective: two calls whose argument vectors differ may never share a
  * key, or one is served the other's compiled plan. */
class PlanCacheKeySpec extends AnyFunSuite {

  // strings built from separator-like pieces, so near-collisions of any
  // join-based encoding are common
  private val str: Gen[String] = Gen.choose(0, 4).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("a", "b", "|", ",", ":", "s:", "[", "]", "1:", "0"))
      .map(_.mkString))

  private val atom: Gen[Any] = Gen.oneOf(
    str,
    Gen.choose(-2L, 2L).map(java.lang.Long.valueOf),
    Gen.choose(-2, 2).map(java.lang.Integer.valueOf),
    Gen.oneOf(true, false).map(java.lang.Boolean.valueOf),
    Gen.const(null),
    str.map(Edn.Kw(_)), str.map(Edn.Sym(_)), str.map(Edn.Str(_)))

  private def value(depth: Int): Gen[Any] =
    if (depth == 0) atom
    else Gen.frequency(3 -> atom, 1 -> Gen.choose(0, 3).flatMap(n =>
      Gen.listOfN(n, value(depth - 1))))

  private val argVector: Gen[List[Any]] =
    Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, value(2)))

  test("distinct argument vectors give distinct cache keys (property)") {
    val prop = Prop.forAll(Gen.listOfN(60, argVector)) { vectors =>
      vectors.groupBy(v => Planner.argsKey(v)).forall { case (k, vs) =>
        k.isDefined && vs.distinct.size == 1
      }
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(300).withInitialSeed(17L), prop)
    assert(res.passed, res.status.toString)
  }

  test("separator characters cannot forge a key (regression)") {
    assert(Planner.argsKey(Seq("a|s:b", "c")) != Planner.argsKey(Seq("a", "b|s:c")))
    assert(Planner.argsKey(Seq(Seq("a,s:b"), "c")) != Planner.argsKey(Seq(Seq("a", "s:b"), "c")))
    assert(Planner.argsKey(Seq(Edn.Kw("a"))) != Planner.argsKey(Seq(Edn.Sym(":a"))))
    assert(Planner.argsKey(Seq(new Object)).isEmpty) // no stable key: uncached
  }
}
