package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Rdf

/** N-Triples round-trip incl. string-literal escaping (labs/crux-rdf). */
class RdfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("serialize/load round-trips quotes, backslashes and control chars") {
    import spark.implicits._
    val df = Seq(
      (1L, "say \"hi\" twice", 10L),
      (2L, "back\\slash and\ttab", 20L),
      (3L, "line one\nline two", 30L),
      // escaped backslash followed by a letter that LOOKS like an escape:
      // sequential per-escape unescaping turned "C:\nodes" into a newline
      (4L, "C:\\nodes and D:\\tmp and E:\\\\double", 40L)).toDF("id", "note", "n")
    val lines = Rdf.toNTriples(df, "http://g", "id")
    // every triple is exactly one physical line
    assert(lines.count() == 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_rdf_spec").toString + "/nt"
    lines.coalesce(1).write.text(dir)
    val back = Rdf.loadNTriples(spark, dir)
    val notes = back.filter($"a" === "note").select($"e", $"v_str").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(notes("1") == "say \"hi\" twice")
    assert(notes("2") == "back\\slash and\ttab")
    assert(notes("3") == "line one\nline two")
    assert(notes("4") == "C:\\nodes and D:\\tmp and E:\\\\double")
    val nums = back.filter($"a" === "n").select($"e", $"v_num").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(nums == Map("1" -> 10L, "2" -> 20L, "3" -> 30L, "4" -> 40L))
  }

  test("artists graph: entity count, ref navigation, blank-node doc (rdf_test.clj:9-28)") {
    import org.apache.spark.sql.functions.col
    val artists =
      s"${ReferenceCorpus.root}/labs/crux-rdf/test-resources/crux/example-data-artists.nt"
    ReferenceCorpus.assumeFiles(artists)
    val quads = Rdf.loadNTriples(spark, artists)
    // 7 entities: 2 artists, 4 paintings, Picasso's blank-node address
    assert(quads.select("e").distinct().count() == 7)
    def one(e: String, a: String): String =
      quads.filter(col("e") === e && col("a") === a)
        .select(org.apache.spark.sql.functions.coalesce(col("v_str"), col("e")))
        .collect().map(_.getString(0)).head
    // artist --creatorOf--> painting --technique--> literal
    val painting = quads.filter(col("e") === "Picasso" && col("a") === "creatorOf")
      .select("v_str").head().getString(0)
    assert(painting == "guernica")
    assert(one("guernica", "technique") == "oil on canvas")
    // the home address is a blank-node entity with its own attributes
    val addr = quads.filter(col("e") === "Picasso" && col("a") === "homeAddress")
      .select("v_str").head().getString(0)
    assert(addr.startsWith("_:"))
    assert(Seq("street", "city", "country").map(one(addr, _)) ==
      Seq("31 Art Gallery", "Madrid", "Spain"))
    // multi-valued refs stay distinct facts (VanGogh's three paintings)
    assert(quads.filter(col("e") === "VanGogh" && col("a") === "creatorOf")
      .count() == 3)
  }

  test("dbpedia entities load and query (dbpedia_test.clj:13-30)") {
    import org.apache.spark.sql.functions.col
    val picasso = s"${ReferenceCorpus.root}/crux-test/test/crux/Pablo_Picasso.ntriples"
    val guernica = s"${ReferenceCorpus.root}/crux-test/test/crux/Guernica_(Picasso).ntriples"
    ReferenceCorpus.assumeFiles(picasso, guernica)
    val quads = Rdf.loadNTriples(spark, picasso)
      .unionByName(Rdf.loadNTriples(spark, guernica))
    val strAttrs = quads.filter(col("v_str").isNotNull)
      .select("a").distinct().collect().map(_.getString(0))
    val src = new graft.datalog.QuadSource(quads, strAttrs.map(_ -> "v_str").toMap)
    def q(query: String): Set[Seq[Any]] =
      graft.datalog.Planner.q(spark, src, query).collect()
        .toSet[org.apache.spark.sql.Row].map(_.toSeq)
    // the reference keywordizes full IRIs; the loader's local names carry
    // the same identity (dbpedia resource names are unique local names)
    assert(q("""[:find ?e :where [[?e :givenName "Pablo"]]]""") ==
      Set(Seq("Pablo_Picasso")))
    assert(q("""[:find ?g :where [[?p :givenName "Pablo"] [?g :author ?p]]]""") ==
      Set(Seq("Guernica_(Picasso)")))
  }
}
