package graft.http

import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON codec between Spark row values and json4s ASTs, for the HTTP
  * surface (crux-http-server encodes EDN/JSON/transit via muuntaja,
  * crux-http-server/src/crux/http_server/json.clj — here only JSON:
  * it is the one format with a Spark-side and oracle-side analogue).
  *
  * Timestamps render as ISO-8601 local date-times (the versions schema is
  * TIMESTAMP_NTZ end-to-end, SURVEY §1.1); decimals render as numbers.
  */
object Json {
  def toJValue(v: Any): JValue = v match {
    case null => JNull
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case i: Int => JLong(i.toLong)
    case l: Long => JLong(l)
    case s: Short => JLong(s.toLong)
    case b: Byte => JLong(b.toLong)
    case d: Double => JDouble(d)
    case f: Float => JDouble(f.toDouble)
    case d: java.math.BigDecimal => JDecimal(BigDecimal(d))
    case d: BigDecimal => JDecimal(d)
    case t: java.time.LocalDateTime => JString(t.toString)
    case t: java.sql.Timestamp => JString(t.toLocalDateTime.toString)
    case d: java.sql.Date => JString(d.toString)
    case d: java.time.LocalDate => JString(d.toString)
    case bytes: Array[Byte] => JString(java.util.Base64.getEncoder.encodeToString(bytes))
    case seq: scala.collection.Seq[_] => JArray(seq.map(toJValue).toList)
    case arr: Array[_] => JArray(arr.map(toJValue).toList)
    case m: scala.collection.Map[_, _] =>
      JObject(m.map { case (k, mv) => k.toString -> toJValue(mv) }.toList)
    case r: org.apache.spark.sql.Row =>
      JObject(r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> toJValue(r.get(i)) }.toList)
    case other => JString(other.toString)
  }

  /** JSON → the plain JVM value a Spark Row/createDataFrame accepts. */
  def fromJValue(j: JValue): Any = j match {
    case JNull | JNothing => null
    case JString(s) => s
    case JBool(b) => b
    case JLong(l) => l
    case JInt(i) if i.isValidLong => i.toLong
    case JInt(i) => throw new IllegalArgumentException(
      s"integer $i is outside the 64-bit range a value holds")
    case JDouble(d) => d
    case JDecimal(d) => d.bigDecimal
    case JArray(xs) => xs.map(fromJValue)
    case JObject(fields) => fields.map { case (k, v) => k -> fromJValue(v) }.toMap
    case JSet(xs) => xs.map(fromJValue)
  }

  def render(j: JValue): String = JsonMethods.compact(JsonMethods.render(j))
  def parse(s: String): JValue = JsonMethods.parse(s)
}
