package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import graft.datalog.{Edn, TableSource}
import graft.http.GraftNode

/** Pull over a live node's document store, driven by the reference's
  * james-bond corpus — ports crux-core/test/crux/pull_test.clj
  * (test-pull/test-limit) through [[GraftNode.db]]: the EDN docs are
  * ingested via submit-tx, ref attributes (keyword-valued) and
  * cardinality-many attributes are auto-detected, and `(pull ?e [...])`
  * patterns run against the doc-store snapshot.
  *
  * Adaptations: collections come back as pk-SORTED arrays (`{:into #{}}`
  * compares as sets; limits slice the sorted order, not the reference's
  * doc order); wildcard over the schemaless pivot returns every corpus
  * attribute with nulls for the absent ones (asserted on the non-null
  * fields).
  */
class PullBondSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ednToJson(v: Edn.Val): JValue = v match {
    case Edn.Str(s) => JString(s)
    case Edn.Kw(n) => JString(":" + n)
    case Edn.Lng(l) => JLong(l)
    case Edn.Dbl(d) => JDouble(d)
    case Edn.Bool(b) => JBool(b)
    case Edn.SetV(items) => JArray(items.map(ednToJson))
    case Edn.Vec(items) => JArray(items.map(ednToJson))
    case Edn.NilV => JNull
    case other => throw new IllegalStateException(s"unexpected edn $other")
  }

  private val bondPath = s"${ReferenceCorpus.root}/crux-test/resources/data/james-bond.edn"

  private lazy val node: GraftNode = {
    ReferenceCorpus.assumeFiles(bondPath)
    val node = new GraftNode(spark, TableSource.tpch(spark, "/root/testdata/sf0.001"))
    val edn = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(bondPath)),
      "UTF-8")
    val docs = Edn.parse(edn) match {
      case Edn.Vec(items) => items.map {
        case Edn.MapV(es) => JObject(es.map { case (Edn.Kw(k), v) => k -> ednToJson(v)
                                              case (k, _) => fail(s"bad key $k") })
        case o => fail(s"bad doc $o")
      }
      case o => fail(s"bad corpus $o")
    }
    node.submitTx(docs.map(d => JArray(List(JString("put"), d))))
    node
  }

  /** struct Row → Map of non-null leaf values (nested rows recurse;
    * arrays of rows map elementwise). */
  private def structMap(r: Row): Map[String, Any] =
    r.schema.fieldNames.zipWithIndex.flatMap { case (f, i) =>
      (r.get(i) match {
        case null => None
        case nested: Row if nested.schema != null &&
            nested.schema.fieldNames.sameElements(Array("t", "b", "n", "d", "s")) =>
          // tagged mixed-family value → its decoded member
          (nested.getAs[Integer]("t"): Any) match {
            case null => None
            case 4 => Option(nested.get(1))
            case 5 => Option(nested.get(2)).map { case d: Double if d.isWhole => d.toLong; case x => x }
            case 7 => Option(nested.get(3))
            case 8 => Option(nested.get(4))
          }
        case nested: Row => Some(structMap(nested))
        case seq: scala.collection.Seq[_] =>
          Some(seq.map { case rr: Row => structMap(rr); case x => x })
        case x => Some(x)
      }).map(f -> _)
    }.toMap

  private def pullOne(edn: String): Map[String, Any] = {
    val rows = node.queryAt(edn).collect()
    assert(rows.length == 1, s"expected 1 row, got ${rows.length}")
    structMap(rows.head.getStruct(0))
  }

  private def pullAll(edn: String): Set[Map[String, Any]] =
    node.queryAt(edn).collect().toSet[Row].map(r => structMap(r.getStruct(0)))

  test("simple props (pull_test.clj:31)") {
    assert(pullAll(
      """{:find [(pull ?v [:vehicle/brand :vehicle/model])]
         :where [[?v :vehicle/brand "Aston Martin"]]}""") ==
      Set("DB5", "DB10", "DBS", "DBS V12", "V8 Vantage Volante", "V12 Vanquish")
        .map(m => Map[String, Any]("vehicle/brand" -> "Aston Martin", "vehicle/model" -> m)))
  }

  test("renames via (:attr {:as ...}) (pull_test.clj:52)") {
    assert(pullAll(
      """{:find [(pull ?v [(:vehicle/brand {:as :brand}) (:vehicle/model {:as :model})])]
         :where [[?v :vehicle/brand "Aston Martin"]]}""")
      .map(_("model")) ==
      Set("DB5", "DB10", "DBS", "DBS V12", "V8 Vantage Volante", "V12 Vanquish"))
  }

  test("forward joins incl. cardinality-many vehicles (pull_test.clj:64)") {
    val m = pullOne(
      """{:find [(pull ?f [{:film/bond [:person/name]}
                           {:film/director [:person/name]}
                           {:film/vehicles [:vehicle/brand :vehicle/model]}
                           :film/name :film/year])]
         :where [[?f :film/name "Die Another Day"]]}""")
    assert(m("film/name") == "Die Another Day" && m("film/year") == "2002")
    assert(m("film/bond") == Map("person/name" -> "Pierce Brosnan"))
    assert(m("film/director") == Map("person/name" -> "Lee Tamahori"))
    assert(m("film/vehicles").asInstanceOf[scala.collection.Seq[Any]].toSet == Set(
      Map("vehicle/brand" -> "Jaguar", "vehicle/model" -> "XKR"),
      Map("vehicle/brand" -> "Aston Martin", "vehicle/model" -> "V12 Vanquish"),
      Map("vehicle/brand" -> "Ford", "vehicle/model" -> "Thunderbird"),
      Map("vehicle/brand" -> "Ford", "vehicle/model" -> "Fairlane")))
  }

  test("wildcard combined with a join on the same attribute: join wins (r9)") {
    // the canonical [* {:fk [...]}] shape — the wildcard must not also
    // emit the raw fk column (coalesce(string, struct) is a type error)
    val m = pullOne(
      """{:find [(pull ?f [* {:film/bond [:person/name]}])]
         :where [[?f :film/name "Die Another Day"]]}""")
    assert(m("film/name") == "Die Another Day")
    assert(m("film/bond") == Map("person/name" -> "Pierce Brosnan"))
  }

  test("reverse join over a cardinality-many ref (r9)") {
    // vehicles is array-valued: :film/_vehicles reverses by MEMBERSHIP
    val m = pullOne(
      """{:find [(pull ?v [:vehicle/model {:film/_vehicles [:film/name]}])]
         :where [[?v :vehicle/model "XKR"]]}""")
    assert(m("vehicle/model") == "XKR")
    assert(m("film/_vehicles").asInstanceOf[scala.collection.Seq[Any]].toSet ==
      Set(Map("film/name" -> "Die Another Day")))
  }

  test("pull var bound in VALUE position of a ref triple (r9)") {
    val m = pullOne(
      """{:find [(pull ?p [:person/name])]
         :where [[?f :film/name "Die Another Day"] [?f :film/bond ?p]]}""")
    assert(m == Map("person/name" -> "Pierce Brosnan"))
  }

  test("multi-entry join maps parse as sibling joins (r9)") {
    val m = pullOne(
      """{:find [(pull ?f [:film/name {:film/bond [:person/name]
                                       :film/director [:person/name]}])]
         :where [[?f :film/name "Die Another Day"]]}""")
    assert(m("film/bond") == Map("person/name" -> "Pierce Brosnan"))
    assert(m("film/director") == Map("person/name" -> "Lee Tamahori"))
  }

  test(":default applies to a corpus-absent attribute (r9)") {
    val m = pullOne(
      """{:find [(pull ?f [:film/name (:film/budget {:default "unknown"})])]
         :where [[?f :film/name "Die Another Day"]]}""")
    assert(m("film/budget") == "unknown")
  }

  test("reverse joins (pull_test.clj:82)") {
    val m = pullOne(
      """{:find [(pull ?dc [:person/name {:film/_bond [:film/name :film/year]}])]
         :where [[?dc :person/name "Daniel Craig"]]}""")
    assert(m("person/name") == "Daniel Craig")
    assert(m("film/_bond").asInstanceOf[scala.collection.Seq[Any]].toSet == Set(
      Map("film/name" -> "Skyfall", "film/year" -> "2012"),
      Map("film/name" -> "Spectre", "film/year" -> "2015"),
      Map("film/name" -> "Casino Royale", "film/year" -> "2006"),
      Map("film/name" -> "Quantum of Solace", "film/year" -> "2008")))
  }

  test("reverse join rename (pull_test.clj:95)") {
    val m = pullOne(
      """{:find [(pull ?dc [:person/name {(:film/_bond {:as :films}) [:film/name :film/year]}])]
         :where [[?dc :person/name "Daniel Craig"]]}""")
    assert(m("films").asInstanceOf[scala.collection.Seq[Any]].size == 4)
  }

  test("pull * (pull_test.clj:105)") {
    val m = pullOne(
      """{:find [(pull ?dc [*])] :where [[?dc :person/name "Daniel Craig"]]}""")
    assert(m("crux.db/id") == ":daniel-craig")
    assert(m("person/name") == "Daniel Craig")
    assert(m("type") == ":person")
  }

  test("recursive pull over a parent tree (pull_test.clj:188)") {
    val n = new GraftNode(spark, TableSource.tpch(spark, "/root/testdata/sf0.001"))
    val tree = Seq(":root" -> None, ":a" -> Some(":root"), ":b" -> Some(":root"),
      ":aa" -> Some(":a"), ":ab" -> Some(":a"), ":aba" -> Some(":ab"), ":abb" -> Some(":ab"))
    n.submitTx(tree.toList.map { case (id, parent) =>
      JArray(List(JString("put"), JObject(
        ("crux.db/id" -> JString(id)) :: parent.toList.map("parent" -> JString(_)))))
    })
    def one(edn: String): Map[String, Any] = {
      val rows = n.queryAt(edn).collect()
      assert(rows.length == 1); structMap(rows.head.getStruct(0))
    }
    // forward recursion ("..." = bounded at depth 8, ample for this tree)
    val fwd = one("""{:find [(pull ?aba [:crux.db/id {:parent ...}])]
                     :where [[?aba :crux.db/id :aba]]}""")
    assert(fwd == Map("crux.db/id" -> ":aba", "parent" -> Map(
      "crux.db/id" -> ":ab", "parent" -> Map(
        "crux.db/id" -> ":a", "parent" -> Map("crux.db/id" -> ":root")))))
    // forward bounded recursion
    val fwd2 = one("""{:find [(pull ?aba [:crux.db/id {:parent 2}])]
                      :where [[?aba :crux.db/id :aba]]}""")
    assert(fwd2 == Map("crux.db/id" -> ":aba", "parent" -> Map(
      "crux.db/id" -> ":ab", "parent" -> Map("crux.db/id" -> ":a"))))
    // reverse bounded recursion
    val rev = one("""{:find [(pull ?root [:crux.db/id {:_parent 2}])]
                     :where [[?root :crux.db/id :root]]}""")
    def kids(m: Map[String, Any]): scala.collection.Seq[Map[String, Any]] =
      m.getOrElse("_parent", scala.collection.Seq.empty[Map[String, Any]])
        .asInstanceOf[scala.collection.Seq[Map[String, Any]]]
    assert(rev("crux.db/id") == ":root")
    assert(kids(rev).map(_("crux.db/id")).toSet == Set(":a", ":b"))
    val a = kids(rev).find(_("crux.db/id") == ":a").get
    assert(kids(a).map(_("crux.db/id")).toSet == Set(":aa", ":ab"))
    // a :limit on the recursive key applies at EVERY level (it was
    // silently dropped before r9): one child per node, pk order
    val lim = one("""{:find [(pull ?root [:crux.db/id {(:_parent {:limit 1}) 2}])]
                     :where [[?root :crux.db/id :root]]}""")
    assert(kids(lim).map(_("crux.db/id")) == scala.collection.Seq(":a"))
    assert(kids(kids(lim).head).map(_("crux.db/id")) == scala.collection.Seq(":aa"))
  }

  test("union pattern dispatches fields on the :type value (pull_test.clj:170)") {
    val n = new GraftNode(spark, TableSource.tpch(spark, "/root/testdata/sf0.001"))
    n.submitTx(List(
      JArray(List(JString("put"), JObject(List("crux.db/id" -> JString(":foo"),
        "type" -> JString(":a"), "x" -> JInt(2), "y" -> JString("this"),
        "z" -> JString(":not-this"))))),
      JArray(List(JString("put"), JObject(List("crux.db/id" -> JString(":bar"),
        "type" -> JString(":b"), "y" -> JString("not this"), "z" -> JInt(5)))))))
    val res = n.queryAt(
      """{:find [(pull ?it [{:type {:a [:x :y], :b [:z]}} :crux.db/id])]
         :where [[?it :crux.db/id]]}""").collect()
      .toSet[Row].map(r => structMap(r.getStruct(0)))
    assert(res == Set(
      Map("crux.db/id" -> ":foo", "x" -> 2L, "y" -> "this"),
      Map("crux.db/id" -> ":bar", "z" -> 5L)))
  }

  test("union pattern over a cardinality-many dispatch attribute (r4 advice)") {
    // the reference vectorizes the dispatch value and matches ANY element
    // (pull.clj union-child-fns) — :type here is a SET of keywords
    val n = new GraftNode(spark, TableSource.tpch(spark, "/root/testdata/sf0.001"))
    n.submitTx(List(
      JArray(List(JString("put"), JObject(List("crux.db/id" -> JString(":foo"),
        "type" -> JArray(List(JString(":a"), JString(":other"))),
        "x" -> JInt(2), "z" -> JString(":not-this"))))),
      JArray(List(JString("put"), JObject(List("crux.db/id" -> JString(":bar"),
        "type" -> JArray(List(JString(":b"))), "z" -> JInt(5)))))))
    val res = n.queryAt(
      """{:find [(pull ?it [{:type {:a [:x], :b [:z]}} :crux.db/id])]
         :where [[?it :crux.db/id]]}""").collect()
      .toSet[Row].map(r => structMap(r.getStruct(0)))
    assert(res == Set(
      Map("crux.db/id" -> ":foo", "x" -> 2L),
      Map("crux.db/id" -> ":bar", "z" -> 5L)))
  }

  test("forward join to a missing target (pull_test.clj:257)") {
    // the reference keeps an empty map for the missing :baz; here missing
    // targets are omitted from the joined array (documented deviation)
    val n = new GraftNode(spark, TableSource.tpch(spark, "/root/testdata/sf0.001"))
    n.submitTx(List(
      JArray(List(JString("put"), JObject(List("crux.db/id" -> JString(":foo"),
        "ref" -> JArray(List(JString(":bar"), JString(":baz"))))))),
      JArray(List(JString("put"), JObject(List("crux.db/id" -> JString(":bar")))))))
    val rows = n.queryAt(
      """{:find [(pull ?it [{:ref [:crux.db/id]}])] :where [[?it :crux.db/id :foo]]}""").collect()
    assert(rows.length == 1)
    assert(structMap(rows.head.getStruct(0)) ==
      Map("ref" -> scala.collection.Seq(Map("crux.db/id" -> ":bar"))))
  }

  test("pull over a speculative doc store (pull_test.clj:250)") {
    val n = new GraftNode(spark, TableSource.tpch(spark, "/root/testdata/sf0.001"))
    val fork = n.withTx(List(JArray(List(JString("put"),
      JObject(List("crux.db/id" -> JString(":foo"), "v" -> JInt(1))))))).get
    val rows = fork.queryAt("""{:find [(pull ?e [*])] :where [[?e :crux.db/id :foo]]}""").collect()
    assert(rows.length == 1)
    assert(structMap(rows.head.getStruct(0)) == Map("crux.db/id" -> ":foo", "v" -> 1L))
  }

  test("limits on props, forward and reverse joins (pull_test.clj:135)") {
    // sorted-array order: fairlane < thunderbird < v12-vanquish < xkr
    val props = pullOne(
      """{:find [(pull ?f [:film/name (:film/vehicles {:limit 2})])]
         :where [[?f :film/name "Die Another Day"]]}""")
    assert(props("film/vehicles").asInstanceOf[scala.collection.Seq[Any]].toSet ==
      Set(":fairlane", ":thunderbird"))

    val fwd = pullOne(
      """{:find [(pull ?f [{(:film/vehicles {:limit 2}) [:vehicle/brand :vehicle/model]}
                           :film/name])]
         :where [[?f :film/name "Die Another Day"]]}""")
    assert(fwd("film/vehicles").asInstanceOf[scala.collection.Seq[Any]].toSet == Set(
      Map("vehicle/brand" -> "Ford", "vehicle/model" -> "Fairlane"),
      Map("vehicle/brand" -> "Ford", "vehicle/model" -> "Thunderbird")))

    val rev = pullOne(
      """{:find [(pull ?dc [:person/name {(:film/_bond {:limit 2}) [:film/name]}])]
         :where [[?dc :person/name "Daniel Craig"]]}""")
    assert(rev("film/_bond").asInstanceOf[scala.collection.Seq[Any]].toSet == Set(
      Map("film/name" -> "Casino Royale"), Map("film/name" -> "Quantum of Solace")))
  }
}
