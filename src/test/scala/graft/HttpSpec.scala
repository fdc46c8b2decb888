package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.JsonDSL._
import graft.datalog.{QuadSource, TableSource}
import graft.http.{GraftNode, HttpServer, Json}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** End-to-end spec for the HTTP surface: a live [[HttpServer]] on an
  * ephemeral loopback port over a [[GraftNode]], driven with a real HTTP
  * client through the reference's route contract —
  * submit-tx → await-tx → query (JSON + CSV) → entity (+history, +docs) →
  * entity-tx → tx-log?with-ops=true → monitoring endpoints
  * (crux-http-server/src/crux/http_server.clj:330-424; API semantics
  * crux-core/src/crux/api.clj:24-110). Fixtures mirror BitempSpec's
  * put/delete/cas/match corpus (tx_test.clj).
  */
class HttpSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val client = HttpClient.newHttpClient()

  private def withNode[A](f: (GraftNode, Int) => A): A = {
    val node = new GraftNode(spark, TableSource.tpch(spark, dir))
    val server = new HttpServer(node).start()
    try f(node, server.boundPort) finally server.stop()
  }

  private def get(port: Int, pathAndQuery: String): (Int, String) = {
    val req = HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"http://127.0.0.1:$port$pathAndQuery")).GET().build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def enc(s: String): String = java.net.URLEncoder.encode(s, UTF_8)

  /** jackson re-parses rendered JLongs as JInt — normalize both. */
  private def num(j: JValue): Long = j match {
    case JLong(l) => l
    case JInt(i) => i.toLong
    case other => throw new IllegalStateException(s"not a number: $other")
  }

  private def submit(port: Int, ops: String): (Long, String) = {
    val (code, body) = post(port, "/_crux/submit-tx", s"""{"tx-ops": $ops}""")
    assert(code == 202, body)
    val j = Json.parse(body)
    (num(j \ "crux.tx/tx-id"),
      (j \ "crux.tx/tx-time").asInstanceOf[JString].s)
  }

  test("pull projection renders as a nested JSON doc over the wire (json_test.clj:87)") {
    withNode { (_, port) =>
      submit(port, """[["put", {"crux.db/id": ":sal", "firstName": "Sally", "lastName": "Example"}]]""")
      val edn = """{:find [(pull ?e [:firstName :lastName])]
                    :where [[?e :firstName "Sally"]]}"""
      val (code, body) = get(port, s"/_crux/query?db=docs&query-edn=${enc(edn)}")
      assert(code == 200, body)
      val results = (Json.parse(body) \ "results").asInstanceOf[JArray].arr
      assert(results.size == 1)
      val doc = results.head.asInstanceOf[JArray].arr.head
      assert((doc \ "firstName") == JString("Sally"), body)
      assert((doc \ "lastName") == JString("Example"), body)
    }
  }

  test("entity-history honors the tx basis over the wire (r9)") {
    withNode { (_, port) =>
      val (tx1, _) = submit(port, """[["put", {"crux.db/id": ":h", "v": 1}, "2020-01-01T00:00:00"]]""")
      submit(port, """[["put", {"crux.db/id": ":h", "v": 2}, "2020-02-01T00:00:00"]]""")
      val (c, body) = get(port, s"/_crux/entity?eid=${enc(":h")}&history=true&tx-id=$tx1")
      assert(c == 200, body)
      val hist = (Json.parse(body) \ "entity-history").asInstanceOf[JArray].arr
      // the tx-2 version must be invisible at the tx-1 basis
      assert(hist.size == 1, body)
      val (cAll, bodyAll) = get(port, s"/_crux/entity?eid=${enc(":h")}&history=true")
      assert(cAll == 200)
      assert((Json.parse(bodyAll) \ "entity-history").asInstanceOf[JArray].arr.size == 2)
    }
  }

  test("malformed temporal params are 400s; :timeout surfaces as 408 (r9)") {
    withNode { (_, port) =>
      assert(get(port, s"/_crux/entity?eid=${enc(":x")}&valid-time=garbage")._1 == 400)
      // :timeout 0 can never satisfy a real Spark job — the wire path
      // must collect under the cancellable group and map to 408
      val edn = enc("""{:find [?c ?n] :timeout 0
                       :where [[?c :c_nationkey ?nk] [?n :n_nationkey ?nk]]}""")
      assert(get(port, s"/_crux/query?query-edn=$edn")._1 == 408)
    }
  }

  test("evict over HTTP erases the entity at every basis (http_server_test.clj:189)") {
    withNode { (_, port) =>
      submit(port, """[["put", {"crux.db/id": ":gone", "name": "Eva"}, "2020-01-01T00:00:00"]]""")
      val (c1, b1) = get(port, s"/_crux/entity?eid=${enc(":gone")}")
      assert(c1 == 200, b1)
      submit(port, """[["evict", ":gone"]]""")
      assert(get(port, s"/_crux/entity?eid=${enc(":gone")}")._1 == 404)
      assert(get(port,
        s"/_crux/entity?eid=${enc(":gone")}&valid-time=${enc("2020-06-01T00:00:00")}")._1 == 404)
    }
  }

  test("read-only node rejects submit-tx, still serves queries (http_server_test.clj:11)") {
    val node = new GraftNode(spark, TableSource.tpch(spark, dir))
    val server = new HttpServer(node, readOnly = true).start()
    try {
      val port = server.boundPort
      val (code, body) = post(port, "/_crux/submit-tx",
        """{"tx-ops": [["put", {"crux.db/id": ":foo"}]]}""")
      assert(code == 403 && body.contains("read-only"), body)
      // reads are unaffected
      assert(get(port, "/_crux/status")._1 == 200)
      val (qc, _) = get(port,
        s"/_crux/query?query-edn=${enc("""{:find [n] :where [[e :n_name n] [e :n_nationkey 1]]}""")}")
      assert(qc == 200)
    } finally server.stop()
  }

  test("submit-tx → await-tx → entity/entity-tx/history/tx-log round-trip") {
    withNode { (_, port) =>
      // tx1: ivan v1 at 2020, petr; tx2: ivan v2 at 2021
      val (tx1, _) = submit(port,
        """[["put", {"crux.db/id": "ivan", "name": "Ivan", "age": 30}, "2020-01-01T00:00"],
            ["put", {"crux.db/id": "petr", "name": "Petr"}, "2020-01-01T00:00"]]""")
      val (tx2, _) = submit(port,
        """[["put", {"crux.db/id": "ivan", "name": "Ivan 2", "age": 31}, "2021-01-01T00:00"]]""")
      assert(tx2 == tx1 + 1)

      // await-tx/sync immediately satisfied (synchronous node)
      val (ac, abody) = get(port, "/_crux/await-tx?tx-id=" + tx2)
      assert(ac == 200)
      assert(num(Json.parse(abody) \ "crux.tx/tx-id") == tx2)

      // entity at latest valid time → v2 doc
      val (ec, ebody) = get(port, "/_crux/entity?eid=ivan")
      assert(ec == 200)
      assert((Json.parse(ebody) \ "name") == JString("Ivan 2"))

      // entity as-of an older valid time → v1 doc
      val (oc, obody) = get(port, "/_crux/entity?eid=ivan&valid-time=2020-06-01T00:00")
      assert(oc == 200)
      assert((Json.parse(obody) \ "name") == JString("Ivan"))

      // entity-tx carries the bitemporal coordinates
      val (tc, tbody) = get(port, "/_crux/entity-tx?eid=ivan")
      assert(tc == 200)
      val etx = Json.parse(tbody)
      assert((etx \ "eid") == JString("ivan"))
      assert(num(etx \ "tx_id") == tx2)

      // history ascending with docs: v1 then v2, docs joined
      val (hc, hbody) = get(port,
        "/_crux/entity?eid=ivan&history=true&sort-order=asc&with-docs=true")
      assert(hc == 200)
      val hist = (Json.parse(hbody) \ "entity-history").asInstanceOf[JArray].arr
      assert(hist.size == 2)
      val names = hist.map(h => (Json.parse((h \ "doc").asInstanceOf[JString].s) \ "name"))
      assert(names == List(JString("Ivan"), JString("Ivan 2")))

      // descending flips the order
      val (hdc, hdbody) = get(port, "/_crux/entity?eid=ivan&history=true&sort-order=desc")
      assert(hdc == 200)
      val histDesc = (Json.parse(hdbody) \ "entity-history").asInstanceOf[JArray].arr
      assert(histDesc.map(h => num(h \ "tx_id")) == List(tx2, tx1))

      // tx-log with ops returns both txs with their original op arrays
      val (lc, lbody) = get(port, "/_crux/tx-log?with-ops=true")
      assert(lc == 200)
      val entries = (Json.parse(lbody) \ "results").asInstanceOf[JArray].arr
      assert(entries.size == 2)
      assert(entries.forall(e => (e \ "committed") == JBool(true)))
      val ops0 = (entries.head \ "crux.api/tx-ops").asInstanceOf[JArray].arr
      assert(ops0.size == 2)
      // after-tx-id pagination
      val (pc, pbody) = get(port, s"/_crux/tx-log?after-tx-id=$tx1")
      assert(pc == 200)
      assert((Json.parse(pbody) \ "results").asInstanceOf[JArray].arr.size == 1)

      // tx-committed / latest-completed-tx
      val (cc, cbody) = get(port, s"/_crux/tx-committed?tx-id=$tx1")
      assert(cc == 200 && (Json.parse(cbody) \ "tx-committed?") == JBool(true))
      val (lcc, lcbody) = get(port, "/_crux/latest-completed-tx")
      assert(lcc == 200)
      assert(num(Json.parse(lcbody) \ "crux.tx/tx-id") == tx2)
    }
  }

  test("delete and cas/match semantics over HTTP") {
    withNode { (_, port) =>
      submit(port, """[["put", {"crux.db/id": "ann", "v": 1}, "2020-01-01T00:00"]]""")
      // cas with wrong expected doc aborts the tx
      val (txBad, _) = submit(port,
        """[["cas", "ann", {"crux.db/id": "ann", "v": 99}, {"crux.db/id": "ann", "v": 2}, "2021-01-01T00:00"]]""")
      val (_, cbody) = get(port, s"/_crux/tx-committed?tx-id=$txBad")
      assert((Json.parse(cbody) \ "tx-committed?") == JBool(false))
      val (_, e1) = get(port, "/_crux/entity?eid=ann")
      assert(num(Json.parse(e1) \ "v") == 1L)

      // cas with the right expected doc commits
      submit(port,
        """[["cas", "ann", {"crux.db/id": "ann", "v": 1}, {"crux.db/id": "ann", "v": 2}, "2021-01-01T00:00"]]""")
      val (_, e2) = get(port, "/_crux/entity?eid=ann")
      assert(num(Json.parse(e2) \ "v") == 2L)

      // delete: entity 404s at a valid time past the delete
      submit(port, """[["delete", "ann", "2022-01-01T00:00"]]""")
      val (dc, _) = get(port, "/_crux/entity?eid=ann&valid-time=2023-01-01T00:00")
      assert(dc == 404)
      // ... but still resolves before it
      val (bc, _) = get(port, "/_crux/entity?eid=ann&valid-time=2021-06-01T00:00")
      assert(bc == 200)
    }
  }

  test("GET /query streams JSON matching the in-process planner result") {
    withNode { (node, port) =>
      val edn = """{:find [?rname (count ?c)]
                    :keys [r_name numcust]
                    :where [[?c :c_nationkey ?nk] [?n :n_nationkey ?nk]
                            [?n :n_regionkey ?rk] [?r :r_regionkey ?rk]
                            [?r :r_name ?rname]]}"""
      val (code, body) = get(port, s"/_crux/query?query-edn=${enc(edn)}")
      assert(code == 200, body)
      val j = Json.parse(body)
      assert((j \ "find") == JArray(List(JString("r_name"), JString("numcust"))))
      val got = (j \ "results").asInstanceOf[JArray].arr.map {
        case JArray(List(JString(n), c)) => (n, num(c))
        case other => fail(s"bad row $other")
      }.toSet
      val want = node.query(edn, Nil).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == want && got.nonEmpty)

      // monitoring: the query shows up in recent; the slowest ring is
      // threshold-gated (100 ms), so membership needs a DELIBERATELY
      // slow query — a warm cached query finishes under the threshold
      // and asserting on it flaked with JVM warmth
      val (rc, rbody) = get(port, "/_crux/recent-queries")
      assert(rc == 200)
      val recent = Json.parse(rbody).asInstanceOf[JArray].arr
      assert(recent.exists(q => (q \ "status") == JString("completed")))
      graft.datalog.Planner.registerFunction("slow-ident-http") { args =>
        val f = org.apache.spark.sql.functions.udf { (x: String) =>
          Thread.sleep(150); x
        }
        f(args.head)
      }
      val slowEdn = """{:find [?sn] :where [[?r :r_name ?n] [(slow-ident-http ?n) ?sn]]}"""
      assert(get(port, s"/_crux/query?query-edn=${enc(slowEdn)}")._1 == 200)
      val (sc, sbody) = get(port, "/_crux/slowest-queries")
      assert(sc == 200 && Json.parse(sbody).asInstanceOf[JArray].arr.nonEmpty)
    }
  }

  test("POST /query with in-args") {
    withNode { (_, port) =>
      val edn = """{:find [?seg (count ?c)]
                    :keys [c_mktsegment n]
                    :in [[?seg ...]]
                    :where [[?c :c_mktsegment ?seg]]}"""
      val (code, body) = post(port, "/_crux/query", Json.render(
        ("query" -> edn) ~ ("in-args" -> JArray(List(JArray(List(
          JString("BUILDING"), JString("AUTOMOBILE"))))))))
      assert(code == 200, body)
      val rows = (Json.parse(body) \ "results").asInstanceOf[JArray].arr
      assert(rows.size == 2)
      assert(rows.collect { case JArray(List(JString(s), _)) => s }.toSet ==
        Set("BUILDING", "AUTOMOBILE"))
    }
  }

  test("GET /sql runs SQL-over-wire; unconfigured nodes reject it") {
    // node WITHOUT a SQL catalog: 400, like the reference without crux-sql
    withNode { (_, port) =>
      val (code, body) = get(port, s"/_crux/sql?q=${enc("SELECT 1 AS one")}")
      assert(code == 400, body)
      assert(body.contains("SQL module not configured"))
    }
    // node WITH the catalog: rows match spark.sql directly, and the
    // temporal prefix routes through SqlSurface
    val node = new GraftNode(spark, TableSource.tpch(spark, dir), sqlDir = Some(dir))
    val server = new HttpServer(node).start()
    try {
      val port = server.boundPort
      val sql = "SELECT n_name FROM nation WHERE n_regionkey = 0 ORDER BY n_name"
      val (code, body) = get(port, s"/_crux/sql?q=${enc(sql)}")
      assert(code == 200, body)
      val j = Json.parse(body)
      assert((j \ "find") == JArray(List(JString("n_name"))))
      val got = (j \ "results").asInstanceOf[JArray].arr.collect {
        case JArray(List(JString(n))) => n
      }
      val want = node.sql(sql).collect().map(_.getString(0)).toSeq
      assert(got == want && got.nonEmpty)

      // POST body form + csv stream
      val (pc, pbody) = post(port, "/_crux/sql", Json.render("query" ->
        "SELECT COUNT(*) AS n FROM region"))
      assert(pc == 200, pbody)
      assert((Json.parse(pbody) \ "results") == JArray(List(JArray(List(JInt(5))))) ||
        (Json.parse(pbody) \ "results") == JArray(List(JArray(List(JLong(5L))))))
      val (cc, cbody) = get(port, s"/_crux/sql.csv?q=${enc("SELECT r_regionkey FROM region ORDER BY r_regionkey")}")
      assert(cc == 200 && cbody.startsWith("r_regionkey\n0\n1\n2"), cbody)

      // VALIDTIME temporal prefix parses over the wire (events_current view)
      val (tc, tbody) = get(port, s"/_crux/sql?q=${enc(
        "VALIDTIME ('2024-01-15T00:00:00') SELECT COUNT(*) AS n FROM events_current")}")
      assert(tc == 200, tbody)
      assert((Json.parse(tbody) \ "results").asInstanceOf[JArray].arr.nonEmpty)
    } finally server.stop()
  }

  test("query.csv quotes per RFC 4180") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // a QuadSource with hostile values: embedded comma, quote, newline
    val quads = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(Seq(
        Row("e1", "name", "plain"),
        Row("e2", "name", "has,comma"),
        Row("e3", "name", "has\"quote"),
        Row("e4", "name", "has\nnewline"))).asJava,
      StructType(Seq(StructField("e", StringType), StructField("a", StringType),
        StructField("v_str", StringType))))
    val node = new GraftNode(spark, new QuadSource(quads, Map("name" -> "v_str")))
    val server = new HttpServer(node).start()
    try {
      val edn = """{:find [?e ?v] :keys [e v] :where [[?e :name ?v]] :order-by [[?e :asc]]}"""
      val (code, body) = get(server.boundPort, s"/_crux/query.csv?query-edn=${enc(edn)}")
      assert(code == 200, body)
      assert(body.startsWith("e,v\n"))
      assert(body.contains("e2,\"has,comma\""))
      assert(body.contains("e3,\"has\"\"quote\""))
      assert(body.contains("e4,\"has\nnewline\""))
      // the gate-side parser reads its own quoting back
      assert(graft.queries.HttpQueries.parseCsvLine("e2,\"has,comma\"") == Seq("e2", "has,comma"))
      assert(graft.queries.HttpQueries.parseCsvLine("e3,\"has\"\"quote\"") == Seq("e3", "has\"quote"))
      // tsv delimits on tab and leaves commas bare
      val (tc, tsv) = get(server.boundPort, s"/_crux/query.tsv?query-edn=${enc(edn)}")
      assert(tc == 200 && tsv.startsWith("e\tv\n") && tsv.contains("e2\thas,comma"))
    } finally server.stop()
  }

  test("status, db, attribute-stats") {
    withNode { (_, port) =>
      val (sc, sbody) = get(port, "/_crux/status")
      assert(sc == 200)
      assert((Json.parse(sbody) \ "crux.version/version") == JString("graft-spark"))
      val (dc, dbody) = get(port, "/_crux/db?valid-time=2020-01-01T00:00")
      assert(dc == 200 && (Json.parse(dbody) \ "crux.db/valid-time") == JString("2020-01-01T00:00"))
      val (ac, abody) = get(port, "/_crux/attribute-stats?attrs=r_name,n_name")
      assert(ac == 200)
      val stats = Json.parse(abody)
      assert(num(stats \ ":r_name") == 5L)
      assert(num(stats \ ":n_name") == 25L)
    }
  }

  test("EDN wire format on /query (r4: ?as=edn / Accept: application/edn)") {
    withNode { (_, port) =>
      submit(port, """[["put", {"crux.db/id": ":e1", "name": "Ivan", "age": 30}]]""")
      val q = enc("""{:find [?e ?n ?a] :where [[?e :crux.db/id :e1]
                     [?e :name ?n] [?e :age ?a]]}""")
      val (code, body) = get(port, s"/_crux/query?query-edn=$q&as=edn&db=docs")
      assert(code == 200, body)
      // parse the EDN back with the engine's own reader
      val parsed = graft.datalog.Edn.parse(body)
      import graft.datalog.Edn._
      parsed match {
        case MapV(entries) =>
          val m = entries.toMap
          // planner columns strip the ? sigil
          assert(m(Kw("find")) == Vec(List(Kw("e"), Kw("n"), Kw("a"))))
          assert(m(Kw("results")) == Vec(List(Vec(List(
            Kw("e1"), Str("Ivan"), Lng(30))))))
        case o => fail(s"not an EDN map: $o")
      }
    }
  }

  test("/_crux/metrics counters move after submit-tx and queries (r4)") {
    withNode { (_, port) =>
      def metrics(): JValue = { val (c, b) = get(port, "/_crux/metrics"); assert(c == 200, b); Json.parse(b) }
      val m0 = metrics()
      assert(num(m0 \ "crux.metrics.query/completed") == 0L)
      assert(num(m0 \ "crux.metrics.indexer/submitted-tx-count") == 0L)
      submit(port, """[["put", {"crux.db/id": "m1", "v": 1}]]""")
      val (qc, _) = get(port, "/_crux/query?query-edn=" +
        enc("""{:find [?e] :where [[?e :crux.db/id "m1"]]}"""))
      assert(qc == 200)
      // a failing query increments the failed counter
      get(port, "/_crux/query?query-edn=" + enc("""{:find [?e] :where [[?e"""))
      val m1 = metrics()
      assert(num(m1 \ "crux.metrics.indexer/submitted-tx-count") == 1L)
      assert(num(m1 \ "crux.metrics.query/completed") >= 1L)
      assert(num(m1 \ "crux.metrics.query/failed") >= 1L)
      assert(num(m1 \ "crux.metrics.indexer/latest-completed-tx-id") >= 0L)
      (m1 \ "crux.metrics.query/total-ms") match {
        case JDouble(d) => assert(d > 0.0)
        case o => fail(s"total-ms not a double: $o")
      }
    }
  }

  test("error contract: 400 on bad input, 404 on unknown route/entity") {
    withNode { (_, port) =>
      assert(get(port, "/_crux/entity")._1 == 400)              // eid required
      assert(get(port, "/_crux/entity?eid=nobody")._1 == 404)   // not found
      assert(get(port, "/_crux/nope")._1 == 404)                // unknown route
      assert(get(port, "/_crux/query")._1 == 400)               // query-edn required
      // unknown attribute is schemaless-EMPTY (the reference's index has
      // no rows for it), not an error
      val (qc0, qbody0) = get(port, s"/_crux/query?query-edn=${enc("{:find [?x] :where [[?x :no_such_attr ?y]]}")}")
      assert(qc0 == 200 && qbody0.contains("\"results\":[]"), qbody0)
      val (qc, qbody) = get(port, s"/_crux/query?query-edn=${enc("{:find [?x ?missing] :where [[?x :no_such_attr ?y]]}")}")
      assert(qc == 400, qbody)                                  // planner rejects pre-stream
      assert(post(port, "/_crux/submit-tx", """{"tx-ops": [["frobnicate", 1]]}""")._1 == 400)
      assert(get(port, "/_crux/tx-committed?tx-id=999")._1 == 400)
      // an integer past the 64-bit range is refused, not wrapped to 0
      val tooBig = "18446744073709551616"
      val (tc, tbody) = post(port, "/_crux/submit-tx",
        s"""{"tx-ops": [["put", {"crux.db/id": ":big", "n": $tooBig}]]}""")
      assert(tc == 400, tbody)
      val (ic, ibody) = post(port, "/_crux/query",
        s"""{"query": "{:find [?n] :in [?n] :where [[(identity ?n)]]}", "in-args": [$tooBig]}""")
      assert(ic == 400, ibody)
    }
  }
}
