package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types._
import org.json4s._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.datalog.{FactSource, Planner, QuadSource, TableSource, TableSpec}
import graft.http.GraftNode

/** A scalar `:in` binding is applied as a value filter (or a literal
  * column) instead of a join against a one-row literal relation. It must
  * answer exactly as the same query with the value bound as a
  * one-element collection `[?v ...]`, which still joins. */
class ScalarInSpec extends AnyFunSuite {
  import scala.jdk.CollectionConverters._
  private lazy val spark = SparkTestSession.spark

  private def check(prop: Prop, runs: Int, seed: Long): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(runs).withInitialSeed(seed), prop)
    assert(res.passed, res.status.toString)
  }
  // a row multiset and the column types (Scala's == takes 1L for 1.0, so
  // the types are compared apart, up to nullability: a literal is never
  // null where the literal relation's column is declared nullable)
  private def answer(df: DataFrame): (DataType, Map[Seq[Any], Int]) =
    (df.schema, df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size })
  private def same(a: (DataType, Map[Seq[Any], Int]), b: (DataType, Map[Seq[Any], Int])): Boolean =
    DataTypeUtils.sameType(a._1, b._1) && a._2 == b._2

  private val value: Gen[Any] = Gen.oneOf(
    Gen.oneOf("x", "y", ":a", "e1"), Gen.alphaStr.map(_.take(6)),
    Gen.choose(-2L, 3L), Gen.oneOf(1.0, 2.5, -0.5), Gen.oneOf(true, false),
    Gen.const(null))

  // one attribute per family plus a mixed-family one, over a resident
  // node snapshot: the mixed attribute binds tagged values
  private lazy val quads: FactSource = {
    val node = new GraftNode(spark, new QuadSource(spark.emptyDataFrame, Map.empty))
    val vals: Seq[JValue] = Seq(JString("x"), JString(":a"), JLong(1), JLong(3), JDouble(2.5),
      JDouble(1.0), JBool(true), JBool(false), JNull, JString("y"))
    node.submitTx(vals.zipWithIndex.map { case (v, i) =>
      JArray(List(JString("put"), JObject(
        "crux.db/id" -> JString(s"e$i"), "mixed" -> v, "name" -> JString(if (i % 2 == 0) "x" else "y"),
        "n" -> JLong(i.toLong % 3), "d" -> JDouble((i % 3).toDouble), "b" -> JBool(i % 2 == 0))))
    }.toList)
    node.db()
  }

  private lazy val table: FactSource = {
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType),
      StructField("n", LongType), StructField("d", DoubleType), StructField("b", BooleanType)))
    val rows = (0 until 12).map(i => Row(i.toLong,
      if (i % 5 == 4) null else Seq("x", "y", ":a", "e1")(i % 4),
      if (i % 6 == 5) null else (i % 4 - 1).toLong,
      if (i % 7 == 6) null else Seq(1.0, 2.5, -0.5)(i % 3),
      if (i % 5 == 3) null else i % 2 == 0))
    val df = spark.createDataFrame(rows.asJava, schema)
    new TableSource(spark, _ => df, Map("t" -> TableSpec(Seq("id"), Set("s", "n", "d", "b"))))
  }

  // each query once with `?v` bound by the scalar form and once by the
  // one-element collection form
  private def shapes(attrs: Seq[String], name: String): Seq[String => String] = attrs.flatMap(a => Seq(
    (in: String) => s"{:find [?e] :in [$in] :where [[?e :$a ?v]]}",
    (in: String) => s"{:find [?e ?v] :in [$in] :where [[?e :$a ?v]]}",
    (in: String) => s"{:find [?e ?v ?m] :in [$in] :where [[?e :$a ?v] [?e :$name ?m]]}")) :+
    ((in: String) => s"{:find [?e ?v] :in [$in] :where [[?e :$name _]]}")

  private def sameAsCollection(src: FactSource, attrs: Seq[String], name: String,
      runs: Int, seed: Long): Unit = {
    val qs = shapes(attrs, name)
    check(Prop.forAllNoShrink(value, Gen.choose(0, qs.size - 1)) { (v, i) =>
      val scalar = answer(Planner.q(spark, src, qs(i)("?v"), v))
      val coll = answer(Planner.q(spark, src, qs(i)("[?v ...]"), Seq(v)))
      if (!same(scalar, coll)) info(s"${qs(i)("?v")} with $v: scalar $scalar, collection $coll")
      same(scalar, coll)
    }, runs, seed)
  }

  test("scalar :in ≡ one-element collection :in over a mixed-family quad source (property)") {
    sameAsCollection(quads, Seq("mixed", "n", "d", "b", "name"), "name", runs = 80, seed = 7L)
  }

  test("scalar :in ≡ one-element collection :in over a TableSource (property)") {
    sameAsCollection(table, Seq("s", "n", "d", "b"), "s", runs = 60, seed = 11L)
  }
}
