package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.datalog.{Planner, QuadSource}

/** Ports of the reference's rules corpus
  * (crux-test/test/crux/query_test.clj:2287-2449 — test-rules,
  * test-rules-with-recursion-1/2, test-mutually-recursive-rules,
  * datascript-test-rules-false-arguments). Numeric entity ids, as in the
  * reference (refs unify with eids; `even?` applies to them).
  * Not ported: function-valued rule args (?pred/?fn closures) — no Spark
  * analogue for shipping opaque Clojure fns.
  */
class RulesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  import org.apache.spark.sql.types._
  import scala.jdk.CollectionConverters._

  private def quadSource(facts: Seq[(Long, String, Any)], types: Map[String, String]): QuadSource = {
    val rows = facts.map {
      case (e, a, v: Long) => Row(e, a, null, v, null)
      case (e, a, v: String) => Row(e, a, v, null, null)
      case (e, a, v: Boolean) => Row(e, a, null, null, v)
      case x => throw new IllegalStateException(x.toString)
    }
    val schema = StructType(Seq(
      StructField("e", LongType), StructField("a", StringType),
      StructField("v_str", StringType), StructField("v_num", LongType),
      StructField("v_bool", BooleanType)))
    new QuadSource(spark.createDataFrame(rows.asJava, schema), types)
  }

  private lazy val followSource = quadSource(
    Seq((5L, "follow", 3L), (1L, "follow", 2L), (2L, "follow", 3L),
      (2L, "follow", 4L), (3L, "follow", 4L), (4L, "follow", 6L)),
    Map("follow" -> "v_num"))

  private def run(src: QuadSource, q: String, args: Any*): Set[Seq[Any]] =
    Planner.q(spark, src, q, args: _*).collect().toSet[Row].map(_.toSeq)

  test("basic rule expansion (query_test.clj:2293)") {
    assert(run(followSource,
      """[:find ?e1 ?e2 :where [(follow ?e1 ?e2)]
         :rules [[(follow ?x ?y) [?x :follow ?y]]]]""") ==
      Set(Seq(1L, 2L), Seq(2L, 3L), Seq(3L, 4L), Seq(2L, 4L), Seq(5L, 3L), Seq(4L, 6L)))
  }

  test("joining regular clauses with rule (query_test.clj:2303)") {
    assert(run(followSource,
      """[:find ?y ?x :where [[_ :follow ?x] (rule ?x ?y) [(even? ?x)]]
         :rules [[(rule ?a ?b) [?a :follow ?b]]]]""") ==
      Set(Seq(3L, 2L), Seq(6L, 4L), Seq(4L, 2L)))
  }

  test("rule with branches, swapped head args (query_test.clj:2322)") {
    assert(run(followSource,
      """[:find ?e2 :in [?e1] :where [(follow ?e1 ?e2)]
         :rules [[(follow ?e2 ?e1) [?e2 :follow ?e1]]
                 [(follow ?e2 ?e1) [?e2 :follow ?t] [?t :follow ?e1]]]]""", 1L) ==
      Set(Seq(2L), Seq(3L), Seq(4L)))
  }

  test("recursive rule from a bound start (query_test.clj:2334)") {
    assert(run(followSource,
      """[:find ?e2 :in [?e1] :where [(follow ?e1 ?e2)]
         :rules [[(follow ?e1 ?e2) [?e1 :follow ?e2]]
                 [(follow ?e1 ?e2) [?e1 :follow ?t] (follow ?t ?e2)]]]""", 1L) ==
      Set(Seq(2L), Seq(3L), Seq(4L), Seq(6L)))
  }

  test("built-ins inside rule body (query_test.clj:2358)") {
    assert(run(followSource,
      """[:find ?x ?y :where [(match ?x ?y)]
         :rules [[(match ?e ?e2) [?e :follow ?e2] [(even? ?e)] [(even? ?e2)]]]]""") ==
      Set(Seq(4L, 6L), Seq(2L, 4L)))
  }

  test("recursion over a cycle with a swap branch (query_test.clj:2368)") {
    val src = quadSource(
      Seq((1L, "follow", 2L), (2L, "follow", 3L), (3L, "follow", 1L)),
      Map("follow" -> "v_num"))
    assert(run(src,
      """[:find ?e1 ?e2 :where [(follow ?e1 ?e2)]
         :rules [[(follow ?e1 ?e2) [?e1 :follow ?e2]]
                 [(follow ?e1 ?e2) (follow ?e2 ?e1)]]]""") ==
      Set(Seq(1L, 2L), Seq(2L, 3L), Seq(3L, 1L), Seq(2L, 1L), Seq(3L, 2L), Seq(1L, 3L)))
  }

  test("swap branch on a chain adds only reversals (query_test.clj:2380)") {
    val src = quadSource(Seq((1L, "follow", 2L), (2L, "follow", 3L)),
      Map("follow" -> "v_num"))
    assert(run(src,
      """[:find ?e1 ?e2 :where [(follow ?e1 ?e2)]
         :rules [[(follow ?e1 ?e2) [?e1 :follow ?e2]]
                 [(follow ?e1 ?e2) (follow ?e2 ?e1)]]]""") ==
      Set(Seq(1L, 2L), Seq(2L, 3L), Seq(2L, 1L), Seq(3L, 2L)))
  }

  test("mutually recursive f1/f2 rules (query_test.clj:2405)") {
    val src = quadSource(
      Seq((0L, "f1", 1L), (1L, "f2", 2L), (2L, "f1", 3L),
        (3L, "f2", 4L), (4L, "f1", 5L), (5L, "f2", 6L)),
      Map("f1" -> "v_num", "f2" -> "v_num"))
    assert(run(src,
      """[:find ?e1 ?e2 :where [(f1 ?e1 ?e2)]
         :rules [[(f1 ?e1 ?e2) [?e1 :f1 ?e2]]
                 [(f1 ?e1 ?e2) [?t :f1 ?e2] (f2 ?e1 ?t)]
                 [(f2 ?e1 ?e2) [?e1 :f2 ?e2]]
                 [(f2 ?e1 ?e2) [?t :f2 ?e2] (f1 ?e1 ?t)]]]""") ==
      Set(Seq(0L, 1L), Seq(0L, 3L), Seq(0L, 5L), Seq(1L, 3L), Seq(1L, 5L),
        Seq(2L, 3L), Seq(2L, 5L), Seq(3L, 5L), Seq(4L, 5L)))
  }

  test("stratified datalog paper strata (query_test.clj:3258)") {
    // d(a,b), d(b,c), d(e,e); keyword ids in canonical string form
    val rows = Seq((":a", ":b"), (":b", ":c"), (":e", ":e")).map {
      case (e, v) => Row(e, "d", v, null, null)
    }
    val schema = StructType(Seq(
      StructField("e", StringType), StructField("a", StringType),
      StructField("v_str", StringType), StructField("v_num", LongType),
      StructField("v_bool", BooleanType)))
    val kwSrc = new QuadSource(spark.createDataFrame(rows.asJava, schema), Map("d" -> "v_str"))
    val rules =
      """:rules [[(p x y) (not (q x y)) (s x y)]
                 [(q x y) (q x z) (q z y)]
                 [(q x y) [x :d y] (not (r x y))]
                 [(r x y) [y :d x]]
                 [(s x y) (q x z) (q y t) [(!= x y)]]]"""
    // stratum 1: r = inverse of d
    assert(run(kwSrc, s"[:find x y :where [(r x y)] $rules]") ==
      Set(Seq(":b", ":a"), Seq(":c", ":b"), Seq(":e", ":e")))
    // stratum 2: q ∪ s
    assert(run(kwSrc, s"[:find x y :where [(or (q x y) (s x y))] $rules]") ==
      Set(Seq(":a", ":b"), Seq(":b", ":c"), Seq(":a", ":c"), Seq(":b", ":a")))
    // stratum 3: p = s ∖ q
    assert(run(kwSrc, s"[:find x y :where [(p x y)] $rules]") ==
      Set(Seq(":b", ":a")))
  }

  test("datalog paper same-generation-cousins (query_test.clj:3220)") {
    import org.apache.spark.sql.types._
    val people = Seq("ann", "bertrand", "charles", "dorothy", "evelyn", "fred", "george", "hilary")
    val parents = Seq("ann" -> "dorothy", "ann" -> "hilary", "bertrand" -> "dorothy",
      "charles" -> "evelyn", "dorothy" -> "george", "evelyn" -> "george")
    val rows = people.map(p => Row(p, "id", p, null, null)) ++
      parents.map { case (c, p) => Row(c, "parent", p, null, null) }
    val schema = StructType(Seq(
      StructField("e", StringType), StructField("a", StringType),
      StructField("v_str", StringType), StructField("v_num", LongType),
      StructField("v_bool", BooleanType)))
    val src = new QuadSource(spark.createDataFrame(rows.asJava, schema),
      Map("id" -> "v_str", "parent" -> "v_str"))
    val res = run(src,
      """[:find x y :where [(sgc x y)]
         :rules [[(sgc x y) [x :id y]]
                 [(sgc x y) [x :parent x1] (sgc x1 y1) [y :parent y1]]]]""")
    val expected = people.map(p => Seq[Any](p, p)).toSet ++ Set(
      Seq[Any]("dorothy", "evelyn"), Seq[Any]("evelyn", "dorothy"),
      Seq[Any]("charles", "ann"), Seq[Any]("ann", "charles"),
      Seq[Any]("ann", "bertrand"), Seq[Any]("bertrand", "ann"),
      Seq[Any]("charles", "bertrand"), Seq[Any]("bertrand", "charles"))
    assert(res == expected)
  }

  test("racket datalog bidipath over a cycle (query_test.clj:3082)") {
    val src = quadSource(
      Seq((1L, "edge", 2L), (2L, "edge", 3L), (3L, "edge", 4L), (4L, "edge", 1L)),
      Map("edge" -> "v_num"))
    val res = run(src,
      """[:find x y :where [(path x y)]
         :rules [[(path x y) [x :edge y]]
                 [(path x y) (path x z) [z :edge y]]]]""")
    // full closure of a 4-cycle: every ordered pair incl. self
    assert(res == (for (a <- 1L to 4L; b <- 1L to 4L) yield Seq[Any](a, b)).toSet)
  }

  test("racket datalog sym: permutations via != in a rule (query_test.clj:3121)") {
    val src = quadSource(
      Seq((1L, "id", 1L), (2L, "id", 2L), (3L, "id", 3L)),
      Map("id" -> "v_num"))
    val res = run(src,
      """[:find x y :where [(perm x y)]
         :rules [[(perm x y) [x :id] [y :id] [(!= x y)]]]]""")
    assert(res == (for (a <- 1L to 3L; b <- 1L to 3L if a != b) yield Seq[Any](a, b)).toSet)
  }

  test("cross-family shared var (bool vs num) yields empty, not an analysis error") {
    val src = quadSource(
      Seq((1L, "flag", true), (2L, "follow", 3L)),
      Map("flag" -> "v_bool", "follow" -> "v_num"))
    assert(run(src, "[:find ?e :where [[?e :flag ?v] [?e2 :follow ?v]]]") ==
      Set.empty[Seq[Any]])
  }

  test("rules called with boolean false arguments (datascript #218)") {
    val src = quadSource(Seq((1L, "attr", true), (2L, "attr", false)),
      Map("attr" -> "v_bool"))
    val rules = """:rules [[(is ?id ?val) [?id :attr ?val]]]"""
    assert(run(src, s"[:find ?id :where [(is ?id true)] $rules]") == Set(Seq(1L)))
    assert(run(src, s"[:find ?id :where [(is ?id false)] $rules]") == Set(Seq(2L)))
  }

  // ------------------------- recursive rules under not/or (r5, VERDICT #4)

  private lazy val notSrc = quadSource(
    Seq((1L, "follow", 2L), (2L, "follow", 3L), (4L, "follow", 5L),
      (1L, "node", 1L), (2L, "node", 1L), (3L, "node", 1L),
      (4L, "node", 1L), (5L, "node", 1L), (6L, "node", 1L)),
    Map("follow" -> "v_num", "node" -> "v_num"))

  private val reachRules =
    """:rules [[(reach ?x ?y) [?x :follow ?y]]
              [(reach ?x ?y) [?x :follow ?t] (reach ?t ?y)]]"""

  test("top-level not over a recursive rule: nodes unreached from 1") {
    assert(run(notSrc,
      s"[:find ?e :where [?e :node 1] (not (reach 1 ?e)) $reachRules]") ==
      Set(Seq(1L), Seq(4L), Seq(5L), Seq(6L)))
  }

  test("top-level or of recursive rule calls") {
    assert(run(notSrc,
      s"[:find ?e :where [?e :node 1] (or (reach 1 ?e) (reach 4 ?e)) $reachRules]") ==
      Set(Seq(2L), Seq(3L), Seq(5L)))
  }

  test("stratified: rule body negates a lower-component recursive rule") {
    assert(run(notSrc,
      """[:find ?e :where [(unreached ?e)]
         :rules [[(reach ?x ?y) [?x :follow ?y]]
                 [(reach ?x ?y) [?x :follow ?t] (reach ?t ?y)]
                 [(unreached ?e) [?e :node 1] (not (reach 1 ?e))]]]""") ==
      Set(Seq(1L), Seq(4L), Seq(5L), Seq(6L)))
  }

  test("non-stratified negation (rule negating its own component) rejected") {
    val e = intercept[IllegalArgumentException] {
      run(notSrc,
        """[:find ?e :where [(p ?e)]
           :rules [[(p ?e) [?e :node 1] (not (p ?e))]]]""")
    }
    assert(e.getMessage.contains("non-stratified"))
  }

  test("in-component recursive call under or distributes into branches") {
    // r4 rejected this shape; the or now distributes into separate rule
    // branches before the semi-naive fixpoint
    assert(run(notSrc,
      """[:find ?y :where [(reach 1 ?y)]
         :rules [[(reach ?x ?y) [?x :follow ?y]]
                 [(reach ?x ?y) [?x :follow ?t] (or (reach ?t ?y))]]]""") ==
      Set(Seq(2L), Seq(3L)))
    // two-branch or: closure ∪ one-hop-back edges
    assert(run(notSrc,
      """[:find ?y :where [(r2 1 ?y)]
         :rules [[(r2 ?x ?y) [?x :follow ?y]]
                 [(r2 ?x ?y) [?x :follow ?t] (or (r2 ?t ?y) [?y :follow ?t])]]]""") ==
      Set(Seq(1L), Seq(2L), Seq(3L)))
  }

  // ------------- driver-state vs DataFrame fixpoint equivalence (r9)

  /** Re-run `q` with route `rules` pinned to `limit`
    * (0 = force the cluster-resident DataFrame fixpoint; a tiny
    * positive value forces mid-fixpoint overflow and the rerun-from-
    * scratch fallback), restoring the session default afterwards. */
  private def runAt(limit: Int, src: QuadSource, q: String, args: Any*): Set[Seq[Any]] = {
    spark.conf.set("spark.graft.route.rules.maxRows", limit.toString)
    try run(src, q, args: _*)
    finally spark.conf.unset("spark.graft.route.rules.maxRows")
  }

  test("driver-state and DataFrame fixpoints agree (single recursive rule)") {
    val q = """[:find x y :where [(path x y)]
         :rules [[(path x y) [x :edge y]]
                 [(path x y) (path x z) [z :edge y]]]]"""
    val src = quadSource(
      Seq((1L, "edge", 2L), (2L, "edge", 3L), (3L, "edge", 4L), (4L, "edge", 1L)),
      Map("edge" -> "v_num"))
    val expected = (for (a <- 1L to 4L; b <- 1L to 4L) yield Seq[Any](a, b)).toSet
    assert(run(src, q) == expected)          // default: driver path (tiny)
    assert(runAt(0, src, q) == expected)     // forced DataFrame path
  }

  test("driver-state and DataFrame fixpoints agree (mutual recursion)") {
    val src = quadSource(
      Seq((0L, "f1", 1L), (1L, "f2", 2L), (2L, "f1", 3L),
        (3L, "f2", 4L), (4L, "f1", 5L), (5L, "f2", 6L)),
      Map("f1" -> "v_num", "f2" -> "v_num"))
    val q = """[:find ?e1 ?e2 :where [(f1 ?e1 ?e2)]
         :rules [[(f1 ?e1 ?e2) [?e1 :f1 ?e2]]
                 [(f1 ?e1 ?e2) [?t :f1 ?e2] (f2 ?e1 ?t)]
                 [(f2 ?e1 ?e2) [?e1 :f2 ?e2]]
                 [(f2 ?e1 ?e2) [?t :f2 ?e2] (f1 ?e1 ?t)]]]"""
    assert(run(src, q) == runAt(0, src, q))
  }

  test("mid-fixpoint overflow falls back to the DataFrame path, same rows") {
    // 4-cycle closure has 16 rows; limit 3 overflows during the rounds
    // (after partial driver-side progress), so the result must come from
    // the from-scratch DataFrame rerun
    val src = quadSource(
      Seq((1L, "edge", 2L), (2L, "edge", 3L), (3L, "edge", 4L), (4L, "edge", 1L)),
      Map("edge" -> "v_num"))
    val q = """[:find x y :where [(path x y)]
         :rules [[(path x y) [x :edge y]]
                 [(path x y) (path x z) [z :edge y]]]]"""
    assert(runAt(3, src, q) ==
      (for (a <- 1L to 4L; b <- 1L to 4L) yield Seq[Any](a, b)).toSet)
  }

  test("randomized differential: closure rule on random graphs, both paths vs driver oracle") {
    // Random directed graphs; the transitive-closure rule query must
    // equal an independent driver-side closure (Floyd–Warshall-ish
    // saturation over the edge set) on BOTH fixpoint paths. Seeded
    // trials, sizes small enough that each query is one spec-second.
    val q = """[:find x y :where [(path x y)]
         :rules [[(path x y) [x :edge y]]
                 [(path x y) (path x z) [z :edge y]]]]"""
    (0 until 3).foreach { trial =>
      val rnd = new scala.util.Random(4100 + trial)
      val n = 5 + rnd.nextInt(5)
      val edges = (for {
        a <- 1L to n; b <- 1L to n
        if a != b && rnd.nextDouble() < 0.25
      } yield (a, b)).toSet
      // driver oracle: saturate pairs until no new (a, c) appears
      var closure = edges
      var grew = true
      while (grew) {
        val next = closure ++ (for ((a, b) <- closure; (b2, c) <- edges if b == b2) yield (a, c))
        grew = next.size > closure.size; closure = next
      }
      val expected = closure.map { case (a, b) => Seq[Any](a, b) }
      val src = quadSource(
        edges.toSeq.sortBy(identity).map { case (a, b) => (a, "edge", b) },
        Map("edge" -> "v_num"))
      assert(run(src, q) == expected, s"driver path, trial $trial (n=$n, ${edges.size} edges)")
      assert(runAt(0, src, q) == expected, s"DataFrame path, trial $trial (n=$n, ${edges.size} edges)")
    }
  }

  test("or-join branch-local vars are renamed before distribution (no capture)") {
    // The or-join branch uses ?x — NOT a join var, so branch-LOCAL by
    // or-join scoping — while ?x is also the rule's head arg. α-renaming
    // before splicing keeps it local ("some entity has :special 1", true
    // via 99); capture would constrain the CALLER to be special (false)
    // and wrongly cut the closure to the direct edges
    val capSrc = quadSource(
      Seq((1L, "follow", 2L), (2L, "follow", 3L), (99L, "special", 1L)),
      Map("follow" -> "v_num", "special" -> "v_num"))
    assert(run(capSrc,
      """[:find ?y :where [(r3 1 ?y)]
         :rules [[(r3 ?x ?y) [?x :follow ?y]]
                 [(r3 ?x ?y) [?x :follow ?t]
                  (or-join [?t ?y] (and [?x :special 1] (r3 ?t ?y)))]]]""") ==
      Set(Seq(2L), Seq(3L)))
  }
}
