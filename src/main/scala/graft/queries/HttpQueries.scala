package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.datalog.TableSource
import graft.http.{GraftNode, HttpServer, Json}
import org.json4s._

/** Correctness gates for the HTTP surface (SURVEY §2.1 "HTTP result sink"):
  * each starts a [[graft.http.HttpServer]] on an ephemeral loopback port
  * over a [[graft.http.GraftNode]], issues the query over real HTTP, and
  * parses the wire format (JSON / CSV) back into a typed DataFrame that
  * must hash-match the same DuckDB oracle the in-process Datalog gate uses
  * — so the whole request → plan → stream → encode path is oracle-checked,
  * not just the planner underneath it
  * (crux-http-server/src/crux/http_server.clj:330-424).
  */
object HttpQueries {

  private val edn =
    """{:find [?rname (count ?c)]
       :keys [r_name numcust]
       :where [[?c :c_nationkey ?nk] [?n :n_nationkey ?nk]
               [?n :n_regionkey ?rk] [?r :r_regionkey ?rk]
               [?r :r_name ?rname]]}"""

  private val schema = StructType(Seq(
    StructField("r_name", StringType), StructField("numcust", LongType)))

  private def withServer[A](s: SparkSession, dir: String)(f: (java.net.http.HttpClient, Int) => A): A = {
    val node = new GraftNode(s, TableSource.tpch(s, dir), sqlDir = Some(dir))
    val server = new HttpServer(node).start()
    try f(java.net.http.HttpClient.newHttpClient(), server.boundPort)
    finally server.stop()
  }

  private def get(client: java.net.http.HttpClient, port: Int, pathAndQuery: String): String = {
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"http://127.0.0.1:$port$pathAndQuery")).GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200, s"HTTP ${resp.statusCode()}: ${resp.body()}")
    resp.body()
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)

  /** GET /_crux/query (JSON): parse {"find": [...], "results": [[...]]}. */
  def httpQueryJson(s: SparkSession, dir: String): DataFrame = withServer(s, dir) { (client, port) =>
    val body = Json.parse(get(client, port, s"/_crux/query?query-edn=${enc(edn)}"))
    val cols = (body \ "find").asInstanceOf[JArray].arr.collect { case JString(c) => c }
    require(cols == List("r_name", "numcust"), s"unexpected find cols $cols")
    val rows = (body \ "results").asInstanceOf[JArray].arr.map {
      case JArray(List(name, n)) =>
        Row(Json.fromJValue(name), Json.fromJValue(n))
      case other => throw new IllegalStateException(s"bad result row $other")
    }
    s.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** GET /_crux/query.csv: parse the RFC-4180 stream back to rows. */
  def httpQueryCsv(s: SparkSession, dir: String): DataFrame = withServer(s, dir) { (client, port) =>
    val body = get(client, port, s"/_crux/query.csv?query-edn=${enc(edn)}")
    val lines = body.split("\n").filter(_.nonEmpty)
    require(lines.head == "r_name,numcust", s"unexpected header ${lines.head}")
    val rows = lines.tail.toSeq.map { line =>
      val cells = parseCsvLine(line)
      Row(cells(0), cells(1).toLong)
    }
    s.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** Minimal RFC-4180 line parser (no embedded newlines in this corpus —
    * region names; the quoting spec itself is covered by HttpSpec). */
  private[graft] def parseCsvLine(line: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0; var inQ = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') inQ = false
        else cur += c
      } else c match {
        case '"' => inQ = true
        case ',' => out += cur.result(); cur.clear()
        case ch => cur += ch
      }
      i += 1
    }
    out += cur.result()
    out.toSeq
  }

  /** GET /_crux/sql (JSON): the SQL-over-wire surface — same result shape
    * as /query, produced by `spark.sql` behind the endpoint. */
  def httpSql(s: SparkSession, dir: String): DataFrame = withServer(s, dir) { (client, port) =>
    val sqlText =
      "SELECT r_name, COUNT(*) AS numcust FROM customer " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
    val body = Json.parse(get(client, port, s"/_crux/sql?q=${enc(sqlText)}"))
    val cols = (body \ "find").asInstanceOf[JArray].arr.collect { case JString(c) => c }
    require(cols == List("r_name", "numcust"), s"unexpected find cols $cols")
    val rows = (body \ "results").asInstanceOf[JArray].arr.map {
      case JArray(List(name, n)) =>
        Row(Json.fromJValue(name), Json.fromJValue(n))
      case other => throw new IllegalStateException(s"bad result row $other")
    }
    s.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** `api/db` over the node's OWN ingested documents ([[GraftNode.db]],
    * r3): put the first customers as JSON docs through submit-tx, then
    * run a Datalog query against the doc-store snapshot — the full
    * ingest → bitemporal resolve → doc→quad explode → plan path,
    * oracle-checked against the same rows straight off the parquet.
    * These few dozen docs sit far under the `tx` route's bound, so the tx and
    * the snapshot take their driver forms and run no Spark job; the
    * distributed forms are pinned equal to them by NodeSnapshotSpec. */
  def nodeDbQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val node = new GraftNode(s, TableSource.tpch(s, dir))
    val rows = graft.sources.Tables.load(s, dir, "customer")
      .filter(col("c_custkey") < 40)
      .select("c_custkey", "c_name", "c_acctbal").collect()
    val ops = rows.map { r =>
      JArray(List(JString("put"), JObject(List(
        "crux.db/id" -> JString("c" + r.getLong(0)),
        "custkey" -> JLong(r.getLong(0)),
        "name" -> JString(r.getString(1)),
        "acctbal" -> JDouble(r.getDouble(2))))))
    }.toList
    node.submitTx(ops)
    node.queryAt(
      """{:find [?ck ?n ?ab]
         :keys [c_custkey c_name c_acctbal]
         :where [[?e :custkey ?ck] [?e :name ?n] [?e :acctbal ?ab]]}""")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "http_query" -> (httpQueryJson _),
    "http_query_csv" -> (httpQueryCsv _),
    "http_sql" -> (httpSql _),
    "node_db_query" -> (nodeDbQuery _))
}

object HttpSql {
  private val sql = """
      SELECT r_name, COUNT(*) AS numcust
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name"""
  val all: Map[String, String] = Map(
    "http_query" -> sql,
    "http_query_csv" -> sql,
    "http_sql" -> sql,
    "node_db_query" -> """
      SELECT DISTINCT c_custkey, c_name, c_acctbal
      FROM customer
      WHERE c_custkey < 40""")
}
