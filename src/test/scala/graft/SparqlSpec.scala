package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.datalog.QuadSource
import graft.queries.SparqlQueries
import graft.sparql.Sparql
import graft.sources.Rdf

/** Ports of the reference's SPARQL suite —
  * crux-test/test/crux/sparql_test.clj (the Apache Jena ARQ tutorial
  * queries over vc-db-1.nt), run through [[Sparql.query]] over the
  * N-Triples loader + QuadSource.
  *
  * Entity ids / IRI values are local names (Rdf.loadNTriples mapping)
  * where the reference keywordizes full IRIs — same rows, shorter ids.
  * Unmatched OPTIONAL vars bind `:crux.sparql/optional` exactly like
  * sparql.clj:119-145; heterogeneous (long | keyword) optionals surface
  * in the tagged mixed-family representation and are unwrapped here.
  */
class SparqlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val source: QuadSource = {
    ReferenceCorpus.assumeFiles(SparqlQueries.path)
    val quads = Rdf.loadNTriples(spark, SparqlQueries.path)
    val attrs = quads.select("a").distinct().collect().map(_.getString(0))
    val types = attrs.map { a =>
      a -> (if (a == "age") "v_num" else "v_str")
    }.toMap
    new QuadSource(quads, types)
  }

  /** Unwrap tagged mixed-family structs to their plain value. */
  private def unwrap(x: Any): Any = x match {
    case r: Row if r.length == 5 =>
      Seq(r.get(1), r.get(2), r.get(3), r.get(4)).find(_ != null).orNull match {
        case d: Double if d.isWhole => d.toLong // numeric family is double-backed
        case v => v
      }
    case v => v
  }

  private def run(q: String): Set[Seq[Any]] =
    Sparql.query(spark, source, q).collect().toSet[Row].map(_.toSeq.map(unwrap))

  test("plain and variable object patterns (sparql_test.clj:16-33)") {
    assert(run("""
      SELECT ?x
      WHERE { ?x  <http://www.w3.org/2001/vcard-rdf/3.0#FN>  "John Smith" }""") ==
      Set(Seq("JohnSmith")))
    assert(run("""
      SELECT ?x ?fname
      WHERE {?x  <http://www.w3.org/2001/vcard-rdf/3.0#FN>  ?fname}""") ==
      Set(Seq("RebeccaSmith", "Becky Smith"), Seq("SarahJones", "Sarah Jones"),
        Seq("JohnSmith", "John Smith"), Seq("MattJones", "Matt Jones")))
  }

  test("join through a blank node (sparql_test.clj:35-43)") {
    assert(run("""
      SELECT ?givenName
      WHERE
        { ?y  <http://www.w3.org/2001/vcard-rdf/3.0#Family>  "Smith" .
          ?y  <http://www.w3.org/2001/vcard-rdf/3.0#Given>  ?givenName .
        }""") == Set(Seq("John"), Seq("Rebecca")))
  }

  test("FILTER regex with flags (sparql_test.clj:45-55)") {
    assert(run("""
      PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
      SELECT ?g
      WHERE
      { ?y vcard:Given ?g .
        FILTER regex(?g, "r", "i") }""") == Set(Seq("Rebecca"), Seq("Sarah")))
  }

  test("FILTER numeric comparison (sparql_test.clj:57-67)") {
    assert(run("""
      PREFIX info: <http://somewhere/peopleInfo#>
      SELECT ?resource
      WHERE
        {
          ?resource info:age ?age .
          FILTER (?age >= 24)
        }""") == Set(Seq("JohnSmith")))
  }

  test("OPTIONAL binds the marker for unmatched rows (sparql_test.clj:69-84)") {
    assert(run("""
      PREFIX info:    <http://somewhere/peopleInfo#>
      PREFIX vcard:   <http://www.w3.org/2001/vcard-rdf/3.0#>
      SELECT ?name ?age
      WHERE
      {
          ?person vcard:FN  ?name .
          OPTIONAL { ?person info:age ?age }
      }""") == Set(
      Seq("Becky Smith", 23L), Seq("Sarah Jones", Sparql.OptionalMarker),
      Seq("John Smith", 25L), Seq("Matt Jones", Sparql.OptionalMarker)))
  }

  test("required join drops rows without the attribute (sparql_test.clj:86-100)") {
    assert(run("""
      PREFIX info:   <http://somewhere/peopleInfo#>
      PREFIX vcard:  <http://www.w3.org/2001/vcard-rdf/3.0#>
      SELECT ?name ?age
      WHERE
      {
          ?person vcard:FN  ?name .
          ?person info:age  ?age .
      }""") == Set(Seq("Becky Smith", 23L), Seq("John Smith", 25L)))
  }

  test("OPTIONAL with local FILTER (sparql_test.clj:102-116)") {
    assert(run("""
      PREFIX info:        <http://somewhere/peopleInfo#>
      PREFIX vcard:      <http://www.w3.org/2001/vcard-rdf/3.0#>
      SELECT ?name ?age
      WHERE
      {
          ?person vcard:FN  ?name .
          OPTIONAL { ?person info:age ?age . FILTER ( ?age > 24 ) }
      }""") == Set(
      Seq("Sarah Jones", Sparql.OptionalMarker), Seq("John Smith", 25L),
      Seq("Matt Jones", Sparql.OptionalMarker),
      Seq("Becky Smith", Sparql.OptionalMarker)))
  }

  test("trailing dot glued to a variable still terminates the triple (r9)") {
    // `?givenName.` with no space — standard SPARQL formatting; gluing
    // the dot onto the token minted a DIFFERENT var and cross-joined
    assert(run("""
      SELECT ?givenName
      WHERE
        { ?y  <http://www.w3.org/2001/vcard-rdf/3.0#Family>  "Smith".
          ?y  <http://www.w3.org/2001/vcard-rdf/3.0#Given>  ?givenName.
        }""") == Set(Seq("John"), Seq("Rebecca")))
  }

  test("a var bound by an earlier OPTIONAL is a join key for the next (r9)") {
    assert(run("""
      PREFIX info:    <http://somewhere/peopleInfo#>
      PREFIX vcard:   <http://www.w3.org/2001/vcard-rdf/3.0#>
      SELECT ?name ?age
      WHERE
      {
          ?person vcard:FN  ?name .
          OPTIONAL { ?person info:age ?age }
          OPTIONAL { ?person info:age ?age }
      }""") == Set(
      Seq("Becky Smith", 23L), Seq("Sarah Jones", Sparql.OptionalMarker),
      Seq("John Smith", 25L), Seq("Matt Jones", Sparql.OptionalMarker)))
  }

  test("top-level FILTER over an OPTIONAL-bound var applies post-join (r9)") {
    // SPARQL semantics: rows where ?age is unbound error out of the
    // filter and are removed; bound rows compare normally
    assert(run("""
      PREFIX info:    <http://somewhere/peopleInfo#>
      PREFIX vcard:   <http://www.w3.org/2001/vcard-rdf/3.0#>
      SELECT ?name ?age
      WHERE
      {
          ?person vcard:FN  ?name .
          OPTIONAL { ?person info:age ?age }
          FILTER ( ?age > 24 )
      }""") == Set(Seq("John Smith", 25L)))
  }

  test("ORDER BY a non-projected var (r9)") {
    val rows = Sparql.query(spark, source, """
      PREFIX info:    <http://somewhere/peopleInfo#>
      PREFIX vcard:   <http://www.w3.org/2001/vcard-rdf/3.0#>
      SELECT ?name
      WHERE { ?person vcard:FN ?name . ?person info:age ?age }
      ORDER BY DESC(?age)""").collect().map(_.getString(0)).toSeq
    assert(rows == Seq("John Smith", "Becky Smith"))
  }

  test("typed literals in object position and filter lexical-value traps (r9)") {
    // "25"^^xsd:integer in OBJECT position strips to the number
    assert(run("""
      PREFIX info: <http://somewhere/peopleInfo#>
      SELECT ?p
      WHERE { ?p info:age "25"^^<http://www.w3.org/2001/XMLSchema#integer> }""")
      .map(_.head) == Set("JohnSmith"))
    // a STRING-typed literal whose lexical value contains "int" stays a
    // string (the datatype decides, not the whole token)
    assert(run("""
      PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
      SELECT ?x
      WHERE { ?x vcard:FN ?n . FILTER (?n = "John Smith"^^<http://www.w3.org/2001/XMLSchema#string>) }""")
      == Set(Seq("JohnSmith")))
  }

  test("regex with empty flags and language-tagged literals (r9)") {
    assert(run("""
      PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
      SELECT ?g
      WHERE { ?y vcard:Given ?g . FILTER regex(?g, "^Joh", "") }""")
      == Set(Seq("John")))
    // @lang is consumed and ignored (the loader stores the bare lexeme)
    assert(run("""
      SELECT ?x
      WHERE { ?x <http://www.w3.org/2001/vcard-rdf/3.0#FN> "John Smith"@en }""")
      == Set(Seq("JohnSmith")))
  }

  test("ORDER BY / LIMIT / OFFSET") {
    val df = Sparql.query(spark, source, """
      PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
      SELECT ?fname WHERE { ?x vcard:FN ?fname } ORDER BY ?fname LIMIT 2 OFFSET 1""")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("John Smith", "Matt Jones"))
  }

  test("SELECT * projects all pattern vars in order") {
    val df = Sparql.query(spark, source, """
      PREFIX vcard: <http://www.w3.org/2001/vcard-rdf/3.0#>
      SELECT * WHERE { ?y vcard:Family "Jones" . ?y vcard:Given ?g }""")
    assert(df.columns.toSeq == Seq("y", "g"))
    assert(df.collect().map(_.getString(1)).toSet == Set("Matthew", "Sarah"))
  }

  test("arbitrary-length property path <p>+ (sparql.clj:282-307 rule pair)") {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val quads = spark.createDataFrame(Seq(
      Row("a", "follows", "b"), Row("b", "follows", "c"), Row("c", "follows", "d")).asJava,
      StructType(Seq(StructField("e", StringType), StructField("a", StringType),
        StructField("v_str", StringType))))
    val src = new QuadSource(quads, Map("follows" -> "v_str"))
    assert(run2(src, """
      SELECT ?y WHERE { ?x <http://g/follows>+ ?y . ?x <http://g/follows> "b" }
      """) == Set(Seq("b"), Seq("c"), Seq("d")))
    // the ?x above is pinned to "a" by the second pattern; transitive
    // closure reaches b, c and d
    assertThrows[IllegalArgumentException](
      Sparql.query(spark, src, """SELECT ?y WHERE { ?x <http://g/follows>* ?y }"""))
  }

  private def run2(src: QuadSource, q: String): Set[Seq[Any]] =
    Sparql.query(spark, src, q).collect().toSet[Row].map(_.toSeq.map(unwrap))

  test("unsupported syntax fails loudly") {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    // Sparql.parse rejects each query before any source is read
    val quads = spark.createDataFrame(Seq(Row("x", "b", "y")).asJava,
      StructType(Seq(StructField("e", StringType), StructField("a", StringType),
        StructField("v_str", StringType))))
    val src = new QuadSource(quads, Map("b" -> "v_str"))
    for (bad <- Seq(
      "SELECT ?x WHERE { ?x ?p ?o }", // variable predicate (sparql.clj throws too)
      "ASK { ?x <http://a#b> ?y }",
      "SELECT ?x WHERE { ?x <http://a#b> ?y . FILTER bound(?y) }"))
      assertThrows[IllegalArgumentException](
        Sparql.query(spark, src, bad).collect())
  }
}
