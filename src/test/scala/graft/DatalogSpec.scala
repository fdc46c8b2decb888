package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import graft.datalog.{Planner, QuadSource}

/** Ports of the reference's Datalog e2e corpus
  * (crux-test/test/crux/query_test.clj — basic patterns, joins, preds,
  * not/or, in-bindings, aggregates, rules with recursion) against a
  * schemaless quad source.
  */
class DatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Quad fixture: people docs (query_test.clj:20-24 style) + follows graph. */
  private lazy val source: QuadSource = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val facts: Seq[(String, String, Any)] = Seq(
      ("ivan", "name", "Ivan"), ("ivan", "last-name", "Ivanov"),
      ("ivan", "age", 30L), ("ivan", "sex", ":male"),
      ("petr", "name", "Petr"), ("petr", "last-name", "Petrov"),
      ("petr", "age", 35L), ("petr", "sex", ":male"),
      ("smith", "name", "Smith"), ("smith", "last-name", "Smith"),
      ("smith", "age", 30L), ("smith", "sex", ":male"),
      ("anna", "name", "Anna"), ("anna", "age", 25L), ("anna", "sex", ":female"),
      // follows graph for rules (query_test.clj:2368)
      ("i1", "follows", "i2"), ("i2", "follows", "i3"), ("i3", "follows", "i4"),
      // multi-valued attribute (set semantics, FIXTURES §2)
      ("bond1", "vehicles", "aston"), ("bond1", "vehicles", "lotus"),
      ("bond2", "vehicles", "aston"),
      // self-referencing triple (self-join rewrite, query.clj:443-448)
      ("narc", "likes", "narc"), ("fan", "likes", "star"))
    val rows = facts.map { case (e, a, v) =>
      v match {
        case s: String => Row(e, a, s, null)
        case l: Long => Row(e, a, null, l)
      }
    }
    val schema = StructType(Seq(
      StructField("e", StringType), StructField("a", StringType),
      StructField("v_str", StringType), StructField("v_num", LongType)))
    val df = spark.createDataFrame(rows.asJava, schema)
    new QuadSource(df, Map(
      "name" -> "v_str", "last-name" -> "v_str", "sex" -> "v_str",
      "age" -> "v_num", "follows" -> "v_str", "vehicles" -> "v_str",
      "likes" -> "v_str"))
  }

  private def run(q: String, args: Any*): Set[Seq[Any]] =
    Planner.q(spark, source, q, args: _*).collect().toSet[Row].map(_.toSeq)

  private def runList(q: String, args: Any*): Seq[Seq[Any]] =
    Planner.q(spark, source, q, args: _*).collect().toSeq.map(_.toSeq)

  test("basic entity lookup by attribute value") {
    assert(run("[:find ?e :where [[?e :name \"Ivan\"]]]") == Set(Seq("ivan")))
  }

  test("project multiple attributes of one entity (single scan group)") {
    assert(run("[:find ?n ?l :where [[?e :name ?n] [?e :last-name ?l]]]") ==
      Set(Seq("Ivan", "Ivanov"), Seq("Petr", "Petrov"), Seq("Smith", "Smith")))
  }

  test("join across entities on shared value var") {
    // people sharing last-name == name (smith/smith)
    assert(run("[:find ?e :where [[?e :name ?n] [?e :last-name ?n]]]") == Set(Seq("smith")))
  }

  test("graph join through refs") {
    assert(run("[:find ?x ?y :where [[?x :follows ?z] [?z :follows ?y]]]") ==
      Set(Seq("i1", "i3"), Seq("i2", "i4")))
  }

  test("range predicates (query.clj:870-920)") {
    assert(run("[:find ?e :where [[?e :age ?a] [(> ?a 30)]]]") == Set(Seq("petr")))
    assert(run("[:find ?e :where [[?e :age ?a] [(>= ?a 30)]]]") ==
      Set(Seq("ivan"), Seq("petr"), Seq("smith")))
    assert(run("[:find ?e :where [[?e :age ?a] [(< ?a 30)]]]") == Set(Seq("anna")))
  }

  test("var-var range predicate (theta join)") {
    assert(run("[:find ?e1 ?e2 :where [[?e1 :age ?a1] [?e2 :age ?a2] [(< ?a1 ?a2)] [(= ?a1 25)]]]") ==
      Set(Seq("anna", "ivan"), Seq("anna", "petr"), Seq("anna", "smith")))
  }

  test("predicate with return binding (query.clj:933-952)") {
    assert(run("[:find ?e ?b :where [[?e :age ?a] [(+ ?a 10) ?b] [(> ?b 42)]]]") ==
      Set(Seq("petr", 45L)))
  }

  test("unification == and !=") {
    assert(run("[:find ?e :where [[?e :name ?n] [?e :last-name ?l] [(== ?n ?l)]]]") ==
      Set(Seq("smith")))
    assert(run("[:find ?e :where [[?e :name ?n] [?e :last-name ?l] [(!= ?n ?l)]]]") ==
      Set(Seq("ivan"), Seq("petr")))
  }

  test("not constraint (anti join, query.clj:1146-1167)") {
    assert(run("[:find ?e :where [[?e :name ?n] (not [?e :age 30])]]") ==
      Set(Seq("petr"), Seq("anna")))
  }

  test("not-join with explicit vars") {
    assert(run("[:find ?e :where [[?e :age ?a] (not-join [?e] [?e :last-name \"Ivanov\"])]]") ==
      Set(Seq("petr"), Seq("smith"), Seq("anna")))
  }

  test("or of literals (union, query.clj:1087-1144)") {
    assert(run("[:find ?e :where [(or [?e :name \"Ivan\"] [?e :name \"Petr\"])]]") ==
      Set(Seq("ivan"), Seq("petr")))
  }

  test("or with and-branch") {
    assert(run(
      "[:find ?e :where [(or [?e :name \"Anna\"] (and [?e :age 30] [?e :last-name \"Smith\"]))]]") ==
      Set(Seq("anna"), Seq("smith")))
  }

  test("or-join binds a new var from either branch") {
    assert(run(
      "[:find ?e ?v :where [[?e :name \"Ivan\"] (or-join [?e ?v] [?e :last-name ?v] [?e :name ?v])]]") ==
      Set(Seq("ivan", "Ivanov"), Seq("ivan", "Ivan")))
  }

  test("or-join with bound-vars destructuring form") {
    assert(run(
      "[:find ?e ?v :where [[?e :name \"Ivan\"] (or-join [[?e] ?v] [?e :last-name ?v] [?e :name ?v])]]") ==
      Set(Seq("ivan", "Ivanov"), Seq("ivan", "Ivan")))
  }

  test("in-binding: scalar") {
    assert(run("[:find ?e :in [?n] :where [[?e :name ?n]]]", "Ivan") == Set(Seq("ivan")))
  }

  test("in-binding: collection") {
    assert(run("[:find ?e :in [[?n ...]] :where [[?e :name ?n]]]", Seq("Ivan", "Petr")) ==
      Set(Seq("ivan"), Seq("petr")))
  }

  test("in-binding: tuple") {
    assert(run("[:find ?e :in [[?n ?a]] :where [[?e :name ?n] [?e :age ?a]]]",
      Seq("Ivan", 30L)) == Set(Seq("ivan")))
  }

  test("in-binding: relation") {
    assert(run("[:find ?e :in [[[?n ?a]]] :where [[?e :name ?n] [?e :age ?a]]]",
      Seq(Seq("Ivan", 30L), Seq("Petr", 35L))) == Set(Seq("ivan"), Seq("petr")))
  }

  test("aggregates (datascript corpus, query_test.clj:2735)") {
    val r = runList("[:find (sum ?a) (min ?a) (max ?a) (count ?a) (count-distinct ?a) (avg ?a) :where [[?e :age ?a]]]")
    assert(r.size == 1)
    assert(r.head(0) == 120L && r.head(1) == 25L && r.head(2) == 35L &&
      r.head(3) == 4L && r.head(4) == 3L && r.head(5) == 30.0)
  }

  test("implicit grouping: every non-aggregate find element is a key") {
    assert(run("[:find ?s (count ?e) :where [[?e :sex ?s] [?e :age ?a]]]") ==
      Set(Seq(":male", 3L), Seq(":female", 1L)))
  }

  test("median / variance / stddev (query.clj:311-343)") {
    val r = runList("[:find (median ?a) (variance ?a) (stddev ?a) :where [[?e :age ?a]]]")
    assert(r.head(0) == 30.0)
    assert(math.abs(r.head(1).asInstanceOf[Double] - 12.5) < 1e-9)
  }

  test("distinct and min-N/max-N aggregates") {
    val r = runList("[:find (distinct ?a) (min 2 ?a) (max 2 ?a) :where [[?e :age ?a]]]")
    def seq(x: Any): List[Long] = x.asInstanceOf[scala.collection.Seq[Long]].toList
    assert(seq(r.head(0)) == List(25L, 30L, 35L))
    assert(seq(r.head(1)) == List(25L, 30L))
    assert(seq(r.head(2)) == List(35L, 30L))
  }

  test("order-by + limit + offset (query.clj:1710-1726)") {
    assert(runList("[:find ?n ?a :where [[?e :name ?n] [?e :age ?a]] :order-by [[?a :desc] [?n :asc]] :limit 2]") ==
      Seq(Seq("Petr", 35L), Seq("Ivan", 30L)))
    assert(runList("[:find ?n ?a :where [[?e :name ?n] [?e :age ?a]] :order-by [[?a :desc] [?n :asc]] :offset 2 :limit 2]") ==
      Seq(Seq("Smith", 30L), Seq("Anna", 25L)))
  }

  test("set semantics: unordered results dedupe (query.clj:1783)") {
    // two bond1 vehicles + one bond2 => values dedupe to two rows
    assert(run("[:find ?v :where [[?e :vehicles ?v]]]") == Set(Seq("aston"), Seq("lotus")))
  }

  test("multi-valued attribute join") {
    assert(run("[:find ?e :where [[?e :vehicles \"aston\"]]]") ==
      Set(Seq("bond1"), Seq("bond2")))
  }

  test("get-attr with default (query.clj:954-971)") {
    assert(run("[:find ?e ?l :where [[?e :name ?n] [(= ?n \"Anna\")] [(get-attr ?e :last-name \"n/a\") ?l]]]") ==
      Set(Seq("anna", "n/a")))
  }

  test("rules: non-recursive") {
    assert(run(
      """[:find ?y :where [(follow "i1" ?y)]
         :rules [[(follow ?x ?y) [?x :follows ?y]]]]""") == Set(Seq("i2")))
  }

  test("rules with recursion (query_test.clj:2368)") {
    assert(run(
      """[:find ?x ?y :where [(follow ?x ?y)]
         :rules [[(follow ?x ?y) [?x :follows ?y]]
                 [(follow ?x ?y) [?x :follows ?z] (follow ?z ?y)]]]""") ==
      Set(Seq("i1", "i2"), Seq("i1", "i3"), Seq("i1", "i4"),
        Seq("i2", "i3"), Seq("i2", "i4"), Seq("i3", "i4")))
  }

  test("mutually recursive rules evaluate as one fixpoint (query.clj:1209-1270)") {
    // hop-odd = odd-length follow paths, hop-even = even-length; on the
    // chain i1->i2->i3->i4 the even-length pairs are (i1,i3),(i2,i4).
    assert(run(
      """[:find ?x ?y :where [(hop-even ?x ?y)]
         :rules [[(hop-odd ?x ?y) [?x :follows ?y]]
                 [(hop-odd ?x ?y) [?x :follows ?z] (hop-even ?z ?y)]
                 [(hop-even ?x ?y) [?x :follows ?z] (hop-odd ?z ?y)]]]""") ==
      Set(Seq("i1", "i3"), Seq("i2", "i4")))
  }

  test("wildcard-text-search across all string attrs (lucene.clj:184-189)") {
    assert(run("[:find ?e ?v ?a :where [[(wildcard-text-search \"Iva*\") [[?e ?v ?a]]]]]") ==
      Set(Seq("ivan", "Ivan", ":name"), Seq("ivan", "Ivanov", ":last-name")))
  }

  test("uncorrelated scalar subquery (query.clj:973-986)") {
    assert(run(
      """[:find ?e :where [[?e :age ?a]
           [(q {:find [(max ?x)] :where [[?e2 :age ?x]]}) [[?ma]]]
           [(= ?a ?ma)]]]""") == Set(Seq("petr")))
  }

  test("correlated aggregate subquery decorrelates to join+groupBy") {
    // oldest person per sex (TPC-H Q2 min-per-group pattern, tpch.clj:155-168)
    assert(run(
      """[:find ?e :where [[?e :sex ?s] [?e :age ?a]
           [(q {:find [(max ?x)] :in [?s2] :where [[?e2 :sex ?s2] [?e2 :age ?x]]} ?s) [[?ma]]]
           [(= ?a ?ma)]]]""") == Set(Seq("petr"), Seq("anna")))
  }

  test("relation-binding subquery joins its result tuples") {
    assert(run(
      """[:find ?n ?a :where [[(q {:find [?e ?x] :where [[?e :age ?x] [(> ?x 29)]]}) [[?e2 ?a]]]
           [?e2 :name ?n]]]""") ==
      Set(Seq("Ivan", 30L), Seq("Petr", 35L), Seq("Smith", 30L)))
  }

  test("or over pure predicate branches is a disjunctive filter (calcite.clj:266-272)") {
    assert(run(
      "[:find ?e :where [[?e :age ?a] (or [(= ?a 25)] [(= ?a 35)])]]") ==
      Set(Seq("anna"), Seq("petr")))
    // and-branch of preds inside the or
    assert(run(
      "[:find ?e :where [[?e :age ?a] (or (and [(> ?a 24)] [(< ?a 26)]) [(= ?a 35)])]]") ==
      Set(Seq("anna"), Seq("petr")))
  }

  test("self-referencing triple pattern [e :a e] (query.clj:443-448)") {
    assert(run("[:find ?e :where [[?e :likes ?e]]]") == Set(Seq("narc")))
  }

  test("rule with constant argument at the call site") {
    assert(run(
      """[:find ?e :where [(aged ?e 30)]
         :rules [[(aged ?e ?a) [?e :age ?a]]]]""") ==
      Set(Seq("ivan"), Seq("smith")))
  }

  test("rule with bound-args signature (query_test.clj bound rule args)") {
    assert(run(
      """[:find ?e :where [(older-than ?e 29)]
         :rules [[(older-than [?e] ?lim) [?e :age ?a] [(> ?a ?lim)]]]]""") ==
      Set(Seq("ivan"), Seq("petr"), Seq("smith")))
  }

  test("non-recursive rule calling another rule") {
    assert(run(
      """[:find ?y :where [(two-hop "i1" ?y)]
         :rules [[(hop ?x ?y) [?x :follows ?y]]
                 [(two-hop ?x ?y) (hop ?x ?z) (hop ?z ?y)]]]""") == Set(Seq("i3")))
  }

  test("not containing or (nested negation, query_test.clj not/or corpus)") {
    assert(run(
      "[:find ?e :where [[?e :age ?a] (not (or [?e :name \"Ivan\"] [?e :name \"Petr\"]))]]") ==
      Set(Seq("smith"), Seq("anna")))
  }

  test("recursive closure terminates on cycles and deep chains") {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    // 3-cycle a->b->c->a plus a 10-node chain n0->...->n9
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "a"))
    val chain = (0 until 9).map(i => (s"n$i", s"n${i + 1}"))
    val rows = (cyc ++ chain).map { case (x, y) => Row(x, "next", y, null: java.lang.Long) }
    val schema = StructType(Seq(
      StructField("e", StringType), StructField("a", StringType),
      StructField("v_str", StringType), StructField("v_num", LongType)))
    val src = new QuadSource(spark.createDataFrame(rows.asJava, schema), Map("next" -> "v_str"))
    val res = Planner.q(spark, src,
      """[:find ?x ?y :where [(reach ?x ?y)]
         :rules [[(reach ?x ?y) [?x :next ?y]]
                 [(reach ?x ?y) [?x :next ?z] (reach ?z ?y)]]]""")
      .collect().toSet[Row].map(_.toSeq)
    // cycle: every node reaches every node (incl itself) = 9 pairs;
    // chain: n_i reaches n_j for i<j = 45 pairs
    assert(res.count(p => Set("a", "b", "c").contains(p.head.toString)) == 9)
    assert(res.size == 9 + 45)
    // repeated var in a recursive call unifies: only cycle members reach themselves
    val selfReach = Planner.q(spark, src,
      """[:find ?x :where [(reach ?x ?x)]
         :rules [[(reach ?x ?y) [?x :next ?y]]
                 [(reach ?x ?y) [?x :next ?z] (reach ?z ?y)]]]""")
      .collect().toSet[Row].map(_.getString(0))
    assert(selfReach == Set("a", "b", "c"))
  }

  test("rule arg grounded by a constant in a predicate-binding position") {
    // ?b is only produced by a pred binding; the call grounds it to 31
    assert(run(
      """[:find ?e :where [(aged2 ?e 31)]
         :rules [[(aged2 ?e ?b) [?e :age ?a] [(+ ?a 1) ?b]]]]""") ==
      Set(Seq("ivan"), Seq("smith")))
  }

  test("regex predicates inside a filter-or branch") {
    assert(run(
      "[:find ?e :where [[?e :name ?n] (or [(re-find \"mit\" ?n)] [(= ?n \"Anna\")])]]") ==
      Set(Seq("smith"), Seq("anna")))
  }

  test("sub-query corpus (query_test.clj:1303; supported forms)") {
    // lone subquery, relation binding
    assert(run("""[:find ?x :where [[(q {:find [?y] :where [[(identity 2) ?x] [(+ ?x 2) ?y]]}) [[?x]]]]]""") ==
      Set(Seq(4L)))
    // empty result via a failing filter
    assert(run("""[:find ?x :where [[(q {:find [?y] :where [[(identity 2) ?x] [(+ ?x 2) ?y] [(odd? ?y)]]}) [[?x]]]]]""") ==
      Set.empty[Seq[Any]])
    // constant argument, multi-var find incl. the in-var
    assert(run("""[:find ?x ?y ?z :where [[(q {:find [?x ?y ?z] :in [$ ?x]
                    :where [[(identity 2) ?y] [(+ ?x ?y) ?z]]} 1) [[?x ?y ?z]]]]]""") ==
      Set(Seq(1L, 2L, 3L)))
    // correlated argument feeding a later computation
    assert(run("""[:find ?x ?y ?z :where [[(identity 1) ?x]
                    [(q {:find [?z] :in [$ ?x] :where [[(+ ?x 2) ?z]]} ?x) [[?y]]]
                    [(+ ?x ?y) ?z]]]""") ==
      Set(Seq(1L, 3L, 4L)))
    // vector and string sub-query forms
    assert(run("""[:find ?x :where [[(q [:find ?y :where [(identity 2) ?y]]) [[?x]]]]]""") ==
      Set(Seq(2L)))
    assert(run("""[:find ?x :where [[(q "[:find ?y :where [(identity 2) ?y]]") [[?x]]]]]""") ==
      Set(Seq(2L)))
    // inherits rules from the parent query
    assert(run("""[:find ?x :where [[(q {:find [?y] :where [[(identity 2) ?x] [(+ ?x 2) ?y] (is-odd? ?y)]}) [[?x]]]]
                   :rules [[(is-odd? ?x) [(odd? ?x)]]]]""") ==
      Set.empty[Seq[Any]])
    // subquery as a pure existence predicate
    assert(run("""[:find ?x :where [[(identity 2) ?x]
                    [(q {:find [?x] :in [$ ?x] :where [[(even? ?x)]]} ?x)]]]""") ==
      Set(Seq(2L)))
    assert(run("""[:find ?x :where [[(identity 2) ?x]
                    [(q {:find [?y] :in [$ ?y] :where [[(odd? ?y)]]} ?x)]]]""") ==
      Set.empty[Seq[Any]])
  }

  test("pure-predicate rules act as filters over caller bindings") {
    assert(run("""[:find ?e :where [[?e :age ?a] (adult ?a)]
                   :rules [[(adult ?x) [(>= ?x 30)]]]]""") ==
      Set(Seq("ivan"), Seq("petr"), Seq("smith")))
  }

  test("set literals match any member (query_test.clj:1153)") {
    assert(run("[:find ?e :where [[?e :name #{}]]]") == Set.empty[Seq[Any]])
    assert(run("[:find ?e :where [[?e :name #{\"Oleg\"}]]]") == Set.empty[Seq[Any]])
    assert(run("[:find ?e :where [[?e :name #{\"Ivan\" \"Oleg\"}]]]") == Set(Seq("ivan")))
    assert(run("[:find ?e :where [[?e :name #{\"Ivan\" \"Petr\"}]]]") ==
      Set(Seq("ivan"), Seq("petr")))
    // multi-valued attribute position
    assert(run("[:find ?e :where [[?e :vehicles #{\"lotus\" \"amc\"}]]]") == Set(Seq("bond1")))
    // entity position
    assert(run("[:find ?n :where [[#{} :name ?n]]]") == Set.empty[Seq[Any]])
    assert(run("[:find ?n :where [[#{\"ivan\" \"nosuch\"} :name ?n]]]") == Set(Seq("Ivan")))
    assert(run("[:find ?n :where [[#{\"ivan\" \"petr\"} :name ?n]]]") ==
      Set(Seq("Ivan"), Seq("Petr")))
  }

  test("collection returns (query_test.clj:1200)") {
    assert(run("[:find ?x :where [[(vector 1 2) [?x ...]]]]") == Set(Seq(1L), Seq(2L)))
    assert(run("[:find ?x :where [[(vector) [?x ...]]]]") == Set.empty[Seq[Any]])
    assert(run("[:find ?x :where [[(sorted-set 2 1 2) [?x ...]]]]") == Set(Seq(1L), Seq(2L)))
  }

  test("tuple returns with blanks and nil padding (query_test.clj:1238)") {
    assert(run("[:find ?x ?y :where [[(identity [1 2]) [?x ?y]]]]") == Set(Seq(1L, 2L)))
    assert(run("[:find ?x :where [[(identity [1 2]) [_ ?x]]]]") == Set(Seq(2L)))
    assert(run("[:find ?x :where [[(identity [1 2]) [?x]]]]") == Set(Seq(1L)))
    assert(run("[:find ?x ?y :where [[(identity []) [?x ?y]]]]") == Set(Seq(null, null)))
  }

  test("relation returns: sets, dedup, sub-tuples (query_test.clj:1255)") {
    assert(run("[:find ?x ?y :where [[(identity #{[1 2] [3 4]}) [[?x ?y]]]]]") ==
      Set(Seq(1L, 2L), Seq(3L, 4L)))
    assert(run("[:find ?x ?y :where [[(identity #{}) [[?x ?y]]]]]") == Set.empty[Seq[Any]])
    assert(run("[:find ?x ?y :where [[(identity [[1 2] [1 2]]) [[?x ?y]]]]]") ==
      Set(Seq(1L, 2L)))
    assert(run("[:find ?x :where [[(identity #{[1 2] [3 4]}) [[?x]]]]]") ==
      Set(Seq(1L), Seq(3L)))
    assert(run("[:find ?x :where [[(identity #{[1 2] [3 4]}) [[_ ?x]]]]]") ==
      Set(Seq(2L), Seq(4L)))
    assert(run("""[:find ?x :where [[(identity #{[1 2] [3 4]}) [[_ ?x]]]
                                    [(identity #{[4 2]}) [[?x _]]]]]""") == Set(Seq(4L)))
    intercept[IllegalArgumentException] {
      run("[:find ?x :where [[(identity #{[1 2] [3 4]}) [[?x ?x]]]]]")
    }
  }

  test("query-fns corpus: chained comparisons, unifying rebinds (query_test.clj:2454)") {
    // (< ?a1 30 ?a2) is pairwise: a1 < 30 AND 30 < a2
    assert(run("[:find ?e1 ?e2 :where [[?e1 :age ?a1] [?e2 :age ?a2] [(< ?a1 30 ?a2)]]]") ==
      Set(Seq("anna", "petr")))
    // conflicting scalar bindings unify to empty
    assert(run("[:find ?n :where [[(identity 1) ?n] [(identity 2) ?n]]]") ==
      Set.empty[Seq[Any]])
    // agreeing rebind survives
    assert(run("[:find ?n :where [[(identity 1) ?n] [(identity 1) ?n]]]") == Set(Seq(1L)))
    // function composition feeding equality across entities
    assert(run("""[:find ?e1 ?e2 :where [[?e1 :age ?a1] [?e2 :age ?a2]
                   [(+ ?a1 5) ?s] [(= ?s ?a2)]]]""") ==
      Set(Seq("ivan", "petr"), Seq("smith", "petr"), Seq("anna", "ivan"), Seq("anna", "smith")))
  }

  test("circular pred dependencies unify (query_test.clj:400)") {
    assert(run("[:find ?bah :in [?bah] :where [[(+ 1 ?bah) ?bah]]]", 1L) ==
      Set.empty[Seq[Any]])
    assert(run("[:find ?bah :in [?bah] :where [[(identity ?bah) ?bah]]]", 1L) ==
      Set(Seq(1L)))
    assert(run("[:find ?bar :in [[[?bar ?foo]]] :where [[(identity ?foo) ?bar] [(identity ?bar) ?foo]]]",
      Seq(Seq(1L, 1L), Seq(1L, 2L))) == Set(Seq(1L)))
    assert(run("[:find ?bar ?foo :in [[[?bar ?foo]]] :where [[(+ 1 ?bar) ?foo] [(- ?foo 1) ?bar]]]",
      Seq(Seq(0L, 1L), Seq(1L, 2L), Seq(1L, 3L))) ==
      Set(Seq(0L, 1L), Seq(1L, 2L)))
    assert(run("[:find ?bar ?foo :in [[[?bar ?foo]]] :where [[(+ 1 ?foo) ?bar] [(- ?bar 1) ?foo]]]",
      Seq(Seq(1L, 0L), Seq(2L, 1L), Seq(3L, 1L))) ==
      Set(Seq(1L, 0L), Seq(2L, 1L)))
  }

  test("keys rename output columns") {
    val df = Planner.q(spark, source,
      "[:find ?n ?a :keys [name age] :where [[?e :name ?n] [?e :age ?a]]]")
    assert(df.columns.toSeq == Seq("name", "age"))
  }

  test("flat vector-form where with a lone predicate clause (rule/pred ambiguity)") {
    assert(run("[:find ?e :where [?e :age ?a] [(> ?a 30)]]") == Set(Seq("petr")))
    assert(run("[:find ?e :in [?lim] :where [[?e :age ?a] [(> ?a ?lim)]]]", 30L) ==
      Set(Seq("petr")))
  }

  test("#inst literals incl. RFC3339 offset forms parse") {
    import graft.datalog.Edn
    assert(Edn.parse("#inst \"2024-01-01T05:00:00-05:00\"") ==
      Edn.Inst(java.time.LocalDateTime.parse("2024-01-01T10:00:00")))
    assert(Edn.parse("#inst \"2024-01-01T10:00:00Z\"") ==
      Edn.Inst(java.time.LocalDateTime.parse("2024-01-01T10:00:00")))
    assert(Edn.parse("#inst \"2024-01-01\"") ==
      Edn.Inst(java.time.LocalDateTime.parse("2024-01-01T00:00:00")))
  }

  test("nil equality is null-safe per row, never static (Clojure = semantics)") {
    // ?l is null for anna (no last-name); (= ?l nil) keeps exactly her
    assert(run(
      "[:find ?e :where [[?e :name ?n] [(get-attr ?e :last-name nil) ?l] [(= ?l nil)]]]") ==
      Set(Seq("anna")))
    assert(run(
      "[:find ?e :where [[?e :name ?n] [(get-attr ?e :last-name nil) ?l] [(!= ?l nil)]]]") ==
      Set(Seq("ivan"), Seq("petr"), Seq("smith")))
  }

  test("rebinding an existing var via a literal relation unifies") {
    assert(run(
      "[:find ?e ?a :where [[?e :age ?a] [(identity [[30] [25]]) [[?a]]]]]") ==
      Set(Seq("ivan", 30L), Seq("smith", 30L), Seq("anna", 25L)))
  }

  test("string predicates") {
    assert(run("[:find ?e :where [[?e :name ?n] [(starts-with? ?n \"Iv\")]]]") == Set(Seq("ivan")))
    assert(run("[:find ?e :where [[?e :name ?n] [(re-find \"mit\" ?n)]]]") == Set(Seq("smith")))
    assert(run("[:find ?u :where [[?e :name ?n] [(= ?n \"Ivan\")] [(upper-case ?n) ?u]]]") ==
      Set(Seq("IVAN")))
  }

  // --- broadened predicate-fn registry (allowlist port, VERDICT item 3) ---

  test("clojure.string fns: split / join / replace / blank? / capitalize") {
    assert(run("""[:find ?x :where [[?e :name "Ivan"] [(clojure.string/split ?n "v") ?parts]
                   [(nth ?parts 1) ?x] [?e :name ?n]]]""") == Set(Seq("an")))
    assert(run("""[:find ?j :where [[?e :name "Ivan"] [?e :name ?n]
                   [(clojure.string/split ?n "v") ?parts]
                   [(clojure.string/join "-" ?parts) ?j]]]""") == Set(Seq("I-an")))
    assert(run("""[:find ?r :where [[?e :name "Ivan"] [?e :name ?n]
                   [(clojure.string/replace ?n "an" "AN") ?r]]]""") == Set(Seq("IvAN")))
    assert(run("""[:find ?e :where [[?e :name ?n] [(clojure.string/blank? ?n)]]]""") == Set())
    assert(run("""[:find ?c :where [[?e :name "Ivan"] [?e :name ?n]
                   [(capitalize ?n) ?c]]]""") == Set(Seq("Ivan")))
  }

  test("format builds strings like Java format (allowlist `format`)") {
    assert(run("""[:find ?s :where [[?e :name "Ivan"] [?e :name ?n] [?e :age ?a]
                   [(format "%s is %d" ?n ?a) ?s]]]""") == Set(Seq("Ivan is 30")))
  }

  test("seq fns on strings and arrays: first/last/nth/count/reverse") {
    assert(run("""[:find ?f ?l :where [[?e :name "Ivan"] [?e :name ?n]
                   [(first ?n) ?f] [(last ?n) ?l]]]""") == Set(Seq("I", "n")))
    assert(run("""[:find ?r :where [[?e :name "Ivan"] [?e :name ?n]
                   [(reverse ?n) ?r]]]""") == Set(Seq("navI")))
    assert(run("""[:find ?c ?f :where [[?e :name "Ivan"] [?e :name ?n]
                   [(clojure.string/split ?n "") ?chars]
                   [(count ?chars) ?c] [(first ?chars) ?f]]]""") == Set(Seq(4L, "I")))
  }

  test("bitwise fns, numeric casts, compare (allowlist round 2)") {
    assert(run("""[:find ?a ?o ?x :where [[?e :age 30] [?e :age ?v]
                   [(bit-and ?v 12) ?a] [(bit-or ?v 1) ?o] [(bit-xor ?v 6) ?x]]]""") ==
      Set(Seq(12L, 31L, 24L)))
    assert(run("""[:find ?l ?r ?u :where [[?e :age 30] [?e :age ?v]
                   [(bit-shift-left ?v 2) ?l] [(bit-shift-right ?v 3) ?r]
                   [(unsigned-bit-shift-right ?v 1) ?u]]]""") ==
      Set(Seq(120L, 3L, 15L)))
    assert(run("""[:find ?d ?c1 ?c2 ?c3 :where [[?e :age 30] [?e :age ?v]
                   [(double ?v) ?d] [(compare ?v 30) ?c1]
                   [(compare ?v 99) ?c2] [(compare ?v 7) ?c3]]]""") ==
      Set(Seq(30.0, 0L, -1L, 1L)))
    // bit-test in filter position: age 30 = 0b11110 — bit 0 clear, bit 1 set
    assert(run("""[:find ?e :where [[?e :age 30] [?e :age ?v] [(bit-test ?v 0)]]]""") ==
      Set.empty[Seq[Any]])
    assert(run("""[:find ?e :where [[?e :name "Smith"] [?e :age ?v] [(bit-test ?v 1)]]]""") ==
      Set(Seq("smith")))
  }

  test("vector tail fns: subvec/take-last/drop-last/peek/pop/not-empty") {
    val chars = """[?e :name "Ivan"] [?e :name ?n] [(clojure.string/split ?n "") ?cs]"""
    assert(run(s"""[:find ?s :where [$chars [(subvec ?cs 1 3) ?sv] [(clojure.string/join "" ?sv) ?s]]]""") ==
      Set(Seq("va")))
    assert(run(s"""[:find ?s :where [$chars [(take-last 2 ?cs) ?tl] [(clojure.string/join "" ?tl) ?s]]]""") ==
      Set(Seq("an")))
    assert(run(s"""[:find ?s :where [$chars [(drop-last ?cs) ?dl] [(clojure.string/join "" ?dl) ?s]]]""") ==
      Set(Seq("Iva")))
    assert(run(s"""[:find ?p ?q :where [$chars [(peek ?cs) ?p] [(pop ?cs) ?r] [(count ?r) ?q]]]""") ==
      Set(Seq("n", 3L)))
    assert(run(s"""[:find ?c :where [$chars [(bounded-count 2 ?cs) ?c]]]""") ==
      Set(Seq(2L)))
  }

  test("distinct? / pos-int? / index-of predicates and fns") {
    assert(run("""[:find ?e :where [[?e :name "Ivan"] [?e :age ?a] [?e :name ?n]
                   [(distinct? ?a ?n)]]]""") == Set(Seq("ivan")))
    assert(run("""[:find ?e :where [[?e :name "Smith"] [?e :last-name ?l] [?e :name ?n]
                   [(distinct? ?l ?n)]]]""") == Set.empty[Seq[Any]])
    assert(run("""[:find ?e :where [[?e :name "Ivan"] [?e :age ?a] [(pos-int? ?a)]]]""") ==
      Set(Seq("ivan")))
    assert(run("""[:find ?i :where [[?e :name "Ivan"] [?e :name ?n]
                   [(clojure.string/index-of ?n "va") ?i]]]""") == Set(Seq(1L)))
  }

  test("range is empty when end <= start (Clojure semantics, not sequence())") {
    assert(run("""[:find ?c :where [[?e :name "Ivan"] [(range 5 3) ?r] [(count ?r) ?c]]]""") ==
      Set(Seq(0L)))
    assert(run("""[:find ?x :where [[?e :name "Ivan"] [(range 3 6) ?r] [(nth ?r 2) ?x]]]""") ==
      Set(Seq(5L)))
    assert(run("""[:find ?c :where [[?e :name "Ivan"] [(range 3) ?r] [(count ?r) ?c]]]""") ==
      Set(Seq(3L)))
  }

  test("type-test predicates dispatch on static column type") {
    assert(run("""[:find ?e :where [[?e :age ?a] [(int? ?a)] [(= ?e "ivan")]]]""") ==
      Set(Seq("ivan")))
    assert(run("""[:find ?e :where [[?e :age ?a] [(string? ?a)]]]""") == Set())
    assert(run("""[:find ?e :where [[?e :sex ?s] [(keyword? ?s)] [(= ?e "anna")]]]""") ==
      Set(Seq("anna")))
    assert(run("""[:find ?e :where [[?e :name ?n] [(string? ?n)] [(= ?e "anna")]]]""") ==
      Set(Seq("anna")))
    assert(run("""[:find ?e :where [[?e :name ?n] [(keyword? ?n)]]]""") == Set())
  }

  test("not / and / or as predicate fns over Clojure truthiness") {
    assert(run("""[:find ?e :where [[?e :name "Ivan"] [(identity false) ?f] [(not ?f)]]]""") ==
      Set(Seq("ivan")))
    assert(run("""[:find ?e :where [[?e :name "Ivan"] [(not "truthy-string")]]]""") == Set())
    assert(run("""[:find ?e :where [[?e :age ?a] [(and ?a ?e)] [(= ?e "anna")]]]""") ==
      Set(Seq("anna")))
    assert(run("""[:find ?e :where [[?e :name "Ivan"] [(identity false) ?f]
                   [(or ?f ?e)]]]""") == Set(Seq("ivan")))
  }

  test("dynamic regex via re-pattern value (allowlist re-pattern)") {
    assert(run("""[:find ?e :where [[?e :name ?n] [(re-pattern "Iv.n") ?p]
                   [(re-find ?p ?n)]]]""") == Set(Seq("ivan")))
    // scalar bindings KEEP nil results (bind-binding :scalar returns true
    // unconditionally, query.clj:933-952) — non-matching names bind ?m=nil
    assert(run("""[:find ?m :where [[?e :name ?n] [(re-find "Iv.n" ?n) ?m]]]""") ==
      Set(Seq("Ivan"), Seq(null)))
    assert(run("""[:find ?m :where [[?e :name ?n] [(re-matches "Iv.n" ?n) ?m]]]""") ==
      Set(Seq("Ivan"), Seq(null)))
  }

  test("relation-returning predicate binding (query.clj:933-952)") {
    // general (non-literal) relation: array-of-arrays exploded to tuples
    assert(run("""[:find ?x ?y :where [[?e :name "Ivan"] [?e :age ?a]
                   [(vector ?a 99) ?t1] [(vector ?a 42) ?t2]
                   [(vector ?t1 ?t2) [[?x ?y]]]]]""") ==
      Set(Seq(30L, 99L), Seq(30L, 42L)))
    // blanks drop positions; bound vars unify
    assert(run("""[:find ?x :where [[?e :name "Ivan"] [?e :age ?a]
                   [(vector ?a 99) ?t1] [(vector ?a 42) ?t2]
                   [(vector ?t1 ?t2) [[?x _]]]]]""") == Set(Seq(30L)))
  }

  test("collection binding unifies with an already-bound var") {
    assert(run("""[:find ?a :where [[?e :age ?a] [(vector 30 99) [?a ...]]]]""") ==
      Set(Seq(30L)))
  }

  test("user-registered custom aggregate (crux.query/aggregate extension point)") {
    import org.apache.spark.sql.functions._
    // geometric mean as a third party would add it: exp(avg(ln x))
    Planner.registerAggregate("geomean")((c, _) => exp(avg(log(c))))
    val r = run("""[:find ?s (geomean ?a) :where [[?e :sex ?s] [?e :age ?a]]]""")
    val males = r.collect { case Seq(":male", g: Double) => g }
    assert(males.size == 1 && math.abs(males.head - math.pow(30.0 * 35 * 30, 1.0 / 3)) < 1e-9)
  }

  test("user-registered pred-constraint seeds an index-aware relation (query.clj:1019-1034)") {
    import org.apache.spark.sql.functions.{col, upper}
    import graft.datalog.Ast
    // a third-party "index": prefix search over one attribute, returning
    // (entity, UPPER(value)) — the crux-lucene plug-in shape
    Planner.registerPredConstraint("prefix-search") { (src, args, out) =>
      val (attr, prefix) = args match {
        case List(Ast.C(graft.datalog.Edn.Kw(a)), Ast.C(graft.datalog.Edn.Str(p))) => (a, p)
        case o => fail(s"bad args $o")
      }
      src.attr(attr).filter(col("value").startsWith(prefix))
        .select(col("eid").as(out(0)), upper(col("value")).as(out(1)))
    }
    assert(run("""[:find ?e ?u :where [[(prefix-search :name "Iv") [[?e ?u]]]
                   [?e :age 30]]]""") == Set(Seq("ivan", "IVAN")))
  }

  test("ordered + limited subquery (top-N per correlation key)") {
    // for each person: the smallest age strictly greater than theirs
    assert(run("""[:find ?e ?m :where [[?e :age ?a]
                   [(q {:find [?a2] :in [?lo] :order-by [[?a2 :asc]] :limit 1
                        :where [[?e2 :age ?a2] [(> ?a2 ?lo)]]} ?a) [[?m]]]]]""") ==
      Set(Seq("anna", 30L), Seq("ivan", 35L), Seq("smith", 35L)))
    // offset skips within the ordered nested result
    assert(run("""[:find ?m :where [[?e :name "Ivan"]
                   [(q {:find [?a2] :order-by [[?a2 :desc]] :limit 1 :offset 1
                        :where [[?e2 :age ?a2]]}) [[?m]]]]]""") == Set(Seq(30L)))
  }

  test("rel-as-value subquery bindings (query_test.clj:1303 test-sub-queries)") {
    // "can bind resulting relation as scalar": the WHOLE result is one
    // value — #{[[[4]]]} in the reference; array-of-rows here
    assert(run("""[:find ?x :where [[(q {:find [?y] :where [[(identity 2) ?x]
                   [(+ ?x 2) ?y]]}) ?x]]]""") == Set(Seq(Seq(Seq(4L)))))
    // "can bind empty resulting relation as scalar" → nil
    assert(run("""[:find ?e ?x :where [[?e :name "Ivan"]
                   [(q {:find [?y] :where [[?e2 :age ?y] [(> ?y 100)]]}) ?x]]]""") ==
      Set(Seq("ivan", null)))
    // "can bind resulting relation as tuple": positions are result ROWS
    assert(run("""[:find ?x :where [[(q {:find [?y] :where [[(identity 2) ?x]
                   [(+ ?x 2) ?y]]}) [?x]]]]""") == Set(Seq(Seq(4L))))
    // multi-row: first and second rows, sorted set order
    assert(run("""[:find ?r1 ?r2 :where [[?e :name "Ivan"]
                   [(q {:find [?y] :where [[?e2 :age ?y]]}) [?r1 ?r2]]]]""") ==
      Set(Seq(Seq(25L), Seq(30L))))
    // excess tuple positions bind nil
    assert(run("""[:find ?r2 :where [[?e :name "Ivan"]
                   [(q {:find [?y] :where [[?e2 :name "Petr"] [?e2 :age ?y]]})
                    [?r1 ?r2]]]]""") == Set(Seq(null)))
    // correlated rel-as-scalar: per-sex age rows as one value
    assert(run("""[:find ?e ?c :where [[?e :name "Anna"] [?e :sex ?s]
                   [(q {:find [?y] :in [?s2] :where [[?e2 :sex ?s2] [?e2 :age ?y]]} ?s) ?rel]
                   [(count ?rel) ?c]]]""") == Set(Seq("anna", 1L)))
  }

  test("re-seq group vectors + nth: the matcher-stepping rewrite") {
    // Clojure: (re-seq #"([a-z])(\d)" "a1 b2 c3") =>
    //   (["a1" "a" "1"] ["b2" "b" "2"] ["c3" "c" "3"])
    // and stepping a re-matcher with successive (re-find m) is rewritten
    // as (nth (re-seq pat s) k) — here the SECOND find's group 2 is "2"
    assert(run("""[:find ?full ?g1 ?g2 ?cnt :where [[?e :name "Ivan"]
                   [(identity "a1 b2 c3") ?s]
                   [(re-seq "([a-z])([0-9])" ?s) ?ms]
                   [(nth ?ms 1) ?m1]
                   [(nth ?m1 0) ?full] [(nth ?m1 1) ?g1] [(nth ?m1 2) ?g2]
                   [(count ?ms) ?cnt]]]""") ==
      Set(Seq("b2", "b", "2", 3L)))
    // group-less pattern keeps the flat all-matches shape
    assert(run("""[:find ?m0 :where [[?e :name "Ivan"]
                   [(identity "a1 b2") ?s]
                   [(re-seq "[a-z][0-9]" ?s) ?ms] [(first ?ms) ?m0]]]""") ==
      Set(Seq("a1")))
    // no match still binds nil (Clojure returns nil, not ())
    assert(run("""[:find ?e :where [[?e :name "Ivan"] [?e :name ?n]
                   [(re-seq "([0-9])([0-9])" ?n) ?ms] [(nil? ?ms)]]]""") ==
      Set(Seq("ivan")))
  }

  test("allowlist tranche 3: re-seq / char fns / interpose / split-at") {
    assert(run("""[:find ?m :where [[?e :name "Ivan"]
                   [(re-seq "[aeiou]" ?n) ?vs] [?e :name ?n]
                   [(count ?vs) ?m]]]""") == Set(Seq(1L))) // only the 'a'
    // re-seq with no match binds nil — the row survives (bind-binding
    // :scalar returns true unconditionally, query.clj:933-936), and the
    // nil is observable downstream via nil?
    assert(run("""[:find ?e :where [[?e :name "Ivan"]
                   [?e :name ?n] [(re-seq "[0-9]+" ?n) ?xs] [(nil? ?xs)]]]""") ==
      Set(Seq("ivan")))
    assert(run("""[:find ?c :where [[?e :name "Ivan"] [(char 97) ?c]]]""") ==
      Set(Seq("a")))
    assert(run("""[:find ?i :where [[?e :name "Ivan"] [?e :name ?n]
                   [(first ?n) ?f] [(int ?f) ?i]]]""") == Set(Seq(73L))) // 'I'
    assert(run("""[:find ?j :where [[?e :name "Ivan"] [(vector "a" "b" "c") ?v]
                   [(interpose "-" ?v) ?iv] [(join ?iv) ?j]]]""") ==
      Set(Seq("a-b-c")))
    assert(run("""[:find ?t ?d :where [[?e :name "Ivan"] [(range 5) ?r]
                   [(split-at 2 ?r) [?tk ?dp]]
                   [(count ?tk) ?t] [(count ?dp) ?d]]]""") == Set(Seq(2L, 3L)))
  }

  test("allowlist tranche 3: higher-order fns over literal fn symbols") {
    assert(run("""[:find ?s :where [[?e :name "Ivan"] [(range 1 5) ?r]
                   [(map inc ?r) ?ri] [(apply + ?ri) ?s]]]""") ==
      Set(Seq(14L))) // (2 3 4 5)
    assert(run("""[:find ?c :where [[?e :name "Ivan"] [(range 10) ?r]
                   [(filter odd? ?r) ?o] [(count ?o) ?c]]]""") == Set(Seq(5L)))
    assert(run("""[:find ?c :where [[?e :name "Ivan"] [(range 10) ?r]
                   [(remove odd? ?r) ?o] [(count ?o) ?c]]]""") == Set(Seq(5L)))
    // take-while stops at the first failure; drop-while keeps the rest
    assert(run("""[:find ?c :where [[?e :name "Ivan"] [(vector 1 2 9 1) ?v]
                   [(take-while pos? ?v) ?t] [(count ?t) ?c]]]""") == Set(Seq(4L)))
    assert(run("""[:find ?x :where [[?e :name "Ivan"] [(vector 2 4 5 6) ?v]
                   [(drop-while even? ?v) ?d] [(first ?d) ?x]]]""") == Set(Seq(5L)))
    assert(run("""[:find ?e :where [[?e :name "Ivan"] [(vector 2 4 6) ?v]
                   [(every? even? ?v)]]]""") == Set(Seq("ivan")))
    assert(run("""[:find ?e :where [[?e :name "Ivan"] [(vector 1 3 5) ?v]
                   [(some even? ?v)]]]""") == Set()) // nil is falsy
    assert(run("""[:find ?e :where [[?e :name "Ivan"] [(vector 1 3 5) ?v]
                   [(not-any? even? ?v)]]]""") == Set(Seq("ivan")))
    // max-key/min-key return the LAST arg on ties (Clojure semantics)
    assert(run("""[:find ?m :where [[?e :name "Ivan"] [?e :name ?n]
                   [?e :last-name ?l] [(max-key count ?n ?l) ?m]]]""") ==
      Set(Seq("Ivanov")))
    assert(run("""[:find ?m :where [[?e :name "Smith"] [?e :name ?n]
                   [?e :last-name ?l] [(min-key count ?n ?l) ?m]]]""") ==
      Set(Seq("Smith"))) // equal keys → last wins
    assert(run("""[:find ?it ?f :where [[?e :name "Ivan"] [(vector 1 2 2 3 2) ?v]
                   [(frequencies ?v) ?fr] [(nth ?fr 1) [?it ?f]]]]""") ==
      Set(Seq(2L, 3L))) // item 2 occurs 3×
  }

  test("allowlist tranche 4: map values via Spark MapType") {
    assert(run("""[:find ?v :where [[?e :name "Ivan"]
                   [(hash-map "a" 1 "b" 2) ?m] [(get ?m "b") ?v]]]""") ==
      Set(Seq(2L)))
    // assoc replaces, merge right-most wins, dissoc drops
    assert(run("""[:find ?v :where [[?e :name "Ivan"]
                   [(hash-map "a" 1) ?m] [(assoc ?m "a" 9) ?m2]
                   [(get ?m2 "a") ?v]]]""") == Set(Seq(9L)))
    assert(run("""[:find ?v ?n :where [[?e :name "Ivan"]
                   [(hash-map "a" 1 "b" 2) ?m] [(hash-map "b" 7) ?m2]
                   [(merge ?m ?m2) ?m3] [(get ?m3 "b") ?v] [(count ?m3) ?n]]]""") ==
      Set(Seq(7L, 2L)))
    assert(run("""[:find ?n :where [[?e :name "Ivan"]
                   [(hash-map "a" 1 "b" 2) ?m] [(dissoc ?m "a") ?m2]
                   [(count ?m2) ?n]]]""") == Set(Seq(1L)))
    // keys/vals/contains?/find/update/get-in/zipmap/select-keys
    assert(run("""[:find ?ks ?vs :where [[?e :name "Ivan"]
                   [(zipmap ["x" "y"] [10 20]) ?m]
                   [(keys ?m) ?ks] [(vals ?m) ?vs]]]""") ==
      Set(Seq(Seq("x", "y"), Seq(10L, 20L))))
    assert(run("""[:find ?e :where [[?e :name "Ivan"]
                   [(hash-map "a" 1) ?m] [(contains? ?m "a")]]]""") ==
      Set(Seq("ivan")))
    assert(run("""[:find ?v :where [[?e :name "Ivan"]
                   [(hash-map "a" 5) ?m] [(update ?m "a" inc) ?m2]
                   [(get ?m2 "a") ?v]]]""") == Set(Seq(6L)))
    assert(run("""[:find ?v :where [[?e :name "Ivan"]
                   [(hash-map "a" 1 "b" 2) ?m] [(select-keys ?m ["b"]) ?m2]
                   [(vals ?m2) ?vsx] [(first ?vsx) ?v]]]""") == Set(Seq(2L)))
    // (keys {}) is nil, not ()
    assert(run("""[:find ?e :where [[?e :name "Ivan"]
                   [(hash-map "a" 1) ?m] [(dissoc ?m "a") ?m2]
                   [(keys ?m2) ?ks] [(nil? ?ks)]]]""") == Set(Seq("ivan")))
    // nested literal-path rebuilds
    assert(run("""[:find ?v :where [[?e :name "Ivan"]
                   [(hash-map "inner" 1) ?i] [(hash-map "a" ?i) ?m]
                   [(assoc-in ?m ["a" "inner"] 9) ?m2]
                   [(get-in ?m2 ["a" "inner"]) ?v]]]""") == Set(Seq(9L)))
    assert(run("""[:find ?v :where [[?e :name "Ivan"]
                   [(hash-map "inner" 1) ?i] [(hash-map "a" ?i) ?m]
                   [(update-in ?m ["a" "inner"] inc) ?m2]
                   [(get-in ?m2 ["a" "inner"]) ?v]]]""") == Set(Seq(2L)))
    assert(run("""[:find ?s :where [[?e :name "Ivan"] [(sorted-set 1 2 3) ?ss]
                   [(disj ?ss 2) ?s]]]""") == Set(Seq(Seq(1L, 3L))))
    assert(run("""[:find ?e :where [[?e :name "Ivan"] [(range 20) ?r]
                   [(random-sample 0.5 ?r) ?s] [(count ?s) ?n]
                   [(<= ?n 20)]]]""") == Set(Seq("ivan")))
  }

  test("allowlist tranche 4: seq tails, partition, dedupe, subseq, bit fns") {
    assert(run("""[:find ?n :where [[?e :name "Ivan"] [(vector 1) ?v]
                   [(next ?v) ?nx] [(nil? ?nx)] [(count ?v) ?n]]]""") ==
      Set(Seq(1L))) // (next [1]) is nil
    assert(run("""[:find ?x :where [[?e :name "Ivan"] [(range 10) ?r]
                   [(take-nth 3 ?r) ?t] [(nth ?t 2) ?x]]]""") == Set(Seq(6L)))
    // partition drops the ragged tail, partition-all keeps it
    assert(run("""[:find ?np ?na :where [[?e :name "Ivan"] [(range 5) ?r]
                   [(partition 2 ?r) ?p] [(count ?p) ?np]
                   [(partition-all 2 ?r) ?pa] [(count ?pa) ?na]]]""") ==
      Set(Seq(2L, 3L)))
    assert(run("""[:find ?d :where [[?e :name "Ivan"] [(vector 1 1 2 2 1) ?v]
                   [(dedupe ?v) ?d]]]""") == Set(Seq(Seq(1L, 2L, 1L))))
    assert(run("""[:find ?s :where [[?e :name "Ivan"] [(sorted-set 5 1 3) ?ss]
                   [(subseq ?ss >= 3) ?s]]]""") == Set(Seq(Seq(3L, 5L))))
    assert(run("""[:find ?s :where [[?e :name "Ivan"] [(sorted-set 5 1 3) ?ss]
                   [(rsubseq ?ss < 5) ?s]]]""") == Set(Seq(Seq(3L, 1L))))
    assert(run("""[:find ?a ?b ?c :where [[?e :name "Ivan"]
                   [(bit-set 8 0) ?a] [(bit-clear 9 0) ?b] [(bit-flip 8 1) ?c]]]""") ==
      Set(Seq(9L, 8L, 10L)))
    assert(run("""[:find ?x :where [[?e :name "Ivan"] [(vector [1 2] [3]) ?v]
                   [(ffirst ?v) ?x]]]""") == Set(Seq(1L)))
  }

  test("allowlist tranche 4: identity-adjacent type predicates") {
    assert(run("""[:find ?e :where [[?e :name "Ivan"]
                   [(qualified-keyword? :a/b)] [(simple-keyword? :a)]
                   [(identical? "x" "x")] [(rational? 3)]]]""") ==
      Set(Seq("ivan")))
    assert(run("""[:find ?e :where [[?e :name "Ivan"] [(rational? 2.5)]]]""") ==
      Set())
    assert(run("""[:find ?e :where [[?e :name "Ivan"]
                   [(uuid? "123e4567-e89b-12d3-a456-426614174000")]
                   [(uri? "https://example.com/x")]]]""") == Set(Seq("ivan")))
    assert(run("""[:find ?e :where [[?e :name "Ivan"] [?e :name ?n] [(uuid? ?n)]]]""") ==
      Set())
    // nondeterministic fns: assert bounds, not values
    assert(run("""[:find ?e :where [[?e :name "Ivan"] [(rand-int 10) ?r]
                   [(>= ?r 0)] [(< ?r 10)]]]""") == Set(Seq("ivan")))
    assert(run("""[:find ?n :where [[?e :name "Ivan"] [(range 6) ?r]
                   [(shuffle ?r) ?s] [(count ?s) ?n]]]""") == Set(Seq(6L)))
  }

  test("driver-bound domains enforce the cap BEFORE the pull (r12)") {
    import graft.sources.Route
    val df = spark.range(0, 50).toDF("x")
    // over-cap: no rows come back, and the pull itself is LIMIT-bounded —
    // a 2^62-row domain answers after cap+1 rows, not after a full scan
    assert(Route.collect(df, 10).isEmpty)
    assert(Route.collect(spark.range(0, 1L << 62).toDF("x"), 10).isEmpty)
    // under-cap: the full domain comes back
    assert(Route.collect(df, 50).map(_.length).contains(50))
  }

  test("compiled-query cache keys cannot be forged by separator characters") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    // two argument vectors whose parts joined with bare '|' once shared a
    // cache key, so the second call was served the first call's plan
    val rows = Seq(Row("e1", "k", "a|s:b"), Row("e1", "j", "c"),
      Row("e2", "k", "a"), Row("e2", "j", "b|s:c"))
    val schema = StructType(Seq(StructField("e", StringType),
      StructField("a", StringType), StructField("v_str", StringType)))
    val src = new QuadSource(spark.createDataFrame(rows.asJava, schema),
      Map("k" -> "v_str", "j" -> "v_str"), key = Some("separator-fixture"))
    val q = "[:find ?e :in [?x ?y] :where [[?e :k ?x] [?e :j ?y]]]"
    def find(x: String, y: String) =
      Planner.q(spark, src, q, x, y).collect().map(_.getString(0)).toSet
    assert(find("a|s:b", "c") == Set("e1"))
    assert(find("a", "b|s:c") == Set("e2"))
  }

  test("compiled-query cache: same plan object on repeat, conf-disable + invalidation (r16)") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val q = """
      {:find [?rf (count ?l)] :keys [rf n]
       :where [[?l :l_returnflag ?rf]]}"""
    def run() = Planner.q(spark, graft.datalog.TableSource.tpch(spark, dir), q)
    val a = run(); val b = run()
    // a dir-keyed source + literal query compiles ONCE per session: the
    // repeat call returns the SAME DataFrame (plan reuse — the reference's
    // conformed-query cache behavior); results stay oracle-checked by the
    // dl gates themselves
    assert(a eq b, "repeat call must hit the compiled-query cache")
    assert(a.collect().toSet == b.collect().toSet)
    // conf 0 disables: fresh compile each call
    val c = graft.sources.SessionConf.withConf(spark,
      "spark.graft.queryCacheSize" -> "0")(run())
    assert(!(c eq a))
    assert(c.collect().toSet == a.collect().toSet)
    // a rewritten-dir invalidation drops the entry (stale-plan hazard)
    graft.sources.Tables.invalidate(spark, dir)
    val d = run()
    assert(!(d eq a), "invalidate must drop compiled plans over the dir")
    assert(d.collect().toSet == a.collect().toSet)
    // ad-hoc sources (no cacheKey) never cache
    val quads = spark.createDataFrame(
      java.util.List.of(Row("e1", "k", "v")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("e", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v_str", org.apache.spark.sql.types.StringType))))
    val src = new QuadSource(quads, Map("k" -> "v_str"))
    val q2 = """{:find [?e] :where [[?e :k "v"]]}"""
    assert(!(Planner.q(spark, src, q2) eq Planner.q(spark, src, q2)))
  }
}
