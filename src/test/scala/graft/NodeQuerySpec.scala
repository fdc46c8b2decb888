package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.JsonDSL._
import graft.datalog.TableSource
import graft.http.GraftNode

/** `api/db` + `api/q` over a live node — Datalog queries against the
  * node's OWN ingested documents at bitemporal snapshots, via
  * [[GraftNode.db]]/[[GraftNode.queryAt]]. Ports the reference deftests
  * that need tx state under the query (query_test.clj): the Racket
  * Datalog tutorial incl. delete + querying the previous database
  * (:2903), query-at-valid-time (:321), doc resurrection #1127 (:3625),
  * match-guarded puts with interim state (:1869), and entity reads
  * against an earlier db (:3312).
  */
class NodeQuerySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def newNode() = new GraftNode(spark, TableSource.tpch(spark, "/root/testdata/sf0.001"))

  private def put(doc: JObject, times: String*): JValue =
    JArray(JString("put") :: doc :: times.toList.map(JString(_)))
  private def delete(eid: String): JValue =
    JArray(List(JString("delete"), JString(eid)))
  private def matchOp(eid: String, doc: JValue): JValue =
    JArray(List(JString("match"), JString(eid), doc))

  private def q(node: GraftNode, edn: String, txId: Option[Long] = None): Set[Seq[Any]] =
    node.queryAt(edn, txId = txId).collect().toSet[Row].map(_.toSeq)

  test("racket datalog tutorial over a live node (query_test.clj:2903)") {
    val node = newNode()
    node.submitTx(List(put(("crux.db/id" -> ":john") ~ ("parent" -> ":douglas"))))
    // parent(john, douglas)?
    assert(q(node, """{:find [found] :where [[:john :parent :douglas] [(identity true) found]]}""") ==
      Set(Seq(true)))
    // parent(john, ebbon)?
    assert(q(node, """{:find [found] :where [[:john :parent :ebbon] [(identity true) found]]}""").isEmpty)

    node.submitTx(List(
      put(("crux.db/id" -> ":bob") ~ ("parent" -> ":john")),
      put(("crux.db/id" -> ":ebbon") ~ ("parent" -> ":bob"))))
    assert(q(node, """{:find [a b] :where [[a :parent b]]}""") ==
      Set(Seq(":john", ":douglas"), Seq(":bob", ":john"), Seq(":ebbon", ":bob")))
    assert(q(node, """{:find [b] :where [[:john :parent b]]}""") == Set(Seq(":douglas")))
    assert(q(node, """{:find [a] :where [[a :parent a]]}""").isEmpty)

    val ancestorRules =
      """:rules [[(ancestor a b) [a :parent b]]
                 [(ancestor a b) [a :parent c] (ancestor c b)]]"""
    assert(q(node, s"""{:find [a b] :where [(ancestor a b)] $ancestorRules}""") ==
      Set(Seq(":ebbon", ":bob"), Seq(":bob", ":john"), Seq(":john", ":douglas"),
        Seq(":bob", ":douglas"), Seq(":ebbon", ":john"), Seq(":ebbon", ":douglas")))
    assert(q(node, s"""{:find [x] :where [(ancestor x :john)] $ancestorRules}""") ==
      Set(Seq(":bob"), Seq(":ebbon")))

    // parent(bob, john)- : delete, then query current AND previous state
    val before = node.latestCompletedTx.get
    node.submitTx(List(delete(":bob")))
    assert(q(node, """{:find [a b] :where [[a :parent b]]}""") ==
      Set(Seq(":john", ":douglas"), Seq(":ebbon", ":bob")))
    assert(q(node, s"""{:find [a b] :where [(ancestor a b)] $ancestorRules}""") ==
      Set(Seq(":ebbon", ":bob"), Seq(":john", ":douglas")))
    // can query previous state (db-before snapshot by tx id)
    assert(q(node, s"""{:find [a b] :where [(ancestor a b)] $ancestorRules}""",
      txId = Some(before.txId)) ==
      Set(Seq(":ebbon", ":bob"), Seq(":bob", ":john"), Seq(":john", ":douglas"),
        Seq(":bob", ":douglas"), Seq(":ebbon", ":john"), Seq(":ebbon", ":douglas")))
  }

  test("query at valid time (query_test.clj:321)") {
    val node = newNode()
    node.submitTx(List(put(
      ("crux.db/id" -> ":malcolm") ~ ("name" -> "Malcolm") ~ ("last-name" -> "Sparks"),
      "1986-10-22T00:00:00")))
    node.submitTx(List(put(
      ("crux.db/id" -> ":malcolm") ~ ("name" -> "Malcolma") ~ ("last-name" -> "Sparks"),
      "1986-10-24T00:00:00")))
    val query = """{:find [e] :where [[e :name "Malcolma"] [e :last-name "Sparks"]]}"""
    assert(node.queryAt(query,
      validTime = Some(java.time.LocalDateTime.parse("1986-10-23T00:00:00")))
      .collect().isEmpty)
    assert(node.queryAt(query).collect().toSet[Row].map(_.toSeq) == Set(Seq(":malcolm")))
  }

  test("resurrecting doc, bug #1127 (query_test.clj:3625)") {
    val node = newNode()
    val query = """{:find [n] :where [[n :name "hello"] [n :age 17]]}"""
    node.submitTx(List(put(("crux.db/id" -> ":my-id") ~ ("name" -> "hello") ~ ("age" -> 17))))
    assert(q(node, query) == Set(Seq(":my-id")))
    node.submitTx(List(delete(":my-id")))
    assert(q(node, query).isEmpty)
  }

  test("query and match (query_test.clj:1869)") {
    val node = newNode()
    val nameQ = """{:find [n] :where [[:ivan :name n]]}"""

    // can create new user (match on absence)
    val tx1 = node.submitTx(List(
      matchOp(":ivan", JNull),
      put(("crux.db/id" -> ":ivan") ~ ("name" -> "Ivan 1st"))))
    assert(tx1.committed)
    assert(q(node, nameQ, txId = Some(tx1.txId)) == Set(Seq("Ivan 1st")))
    assert(node.entityTx(":ivan", None, None, Some(tx1.txId))
      .exists(_.getAs[Long]("tx_id") == tx1.txId))

    // cannot create existing user
    val tx2 = node.submitTx(List(
      matchOp(":ivan", JNull),
      put(("crux.db/id" -> ":ivan") ~ ("name" -> "Ivan 2nd"))))
    assert(!tx2.committed)
    assert(q(node, nameQ, txId = Some(tx2.txId)) == Set(Seq("Ivan 1st")))

    // can update existing user when the match doc agrees
    val tx3 = node.submitTx(List(
      matchOp(":ivan", ("crux.db/id" -> ":ivan") ~ ("name" -> "Ivan 1st")),
      put(("crux.db/id" -> ":ivan") ~ ("name" -> "Ivan 2nd"))))
    assert(tx3.committed)
    assert(q(node, nameQ, txId = Some(tx3.txId)) == Set(Seq("Ivan 2nd")))

    // match sees interim state through the transaction
    val tx4 = node.submitTx(List(
      matchOp(":ivan", ("crux.db/id" -> ":ivan") ~ ("name" -> "Ivan 2nd")),
      put(("crux.db/id" -> ":ivan") ~ ("name" -> "Ivan 3rd")),
      matchOp(":ivan", ("crux.db/id" -> ":ivan") ~ ("name" -> "Ivan 3rd")),
      put(("crux.db/id" -> ":ivan") ~ ("name" -> "Ivan 4th"))))
    assert(tx4.committed)
    assert(q(node, nameQ, txId = Some(tx4.txId)) == Set(Seq("Ivan 4th")))

    // normal put works after match; earlier txs stay checkable
    val tx5 = node.submitTx(List(put(("crux.db/id" -> ":ivan") ~ ("name" -> "Ivan 5th"))))
    assert(tx5.committed)
    assert(q(node, nameQ, txId = Some(tx5.txId)) == Set(Seq("Ivan 5th")))
    assert(node.txCommitted(tx3.txId).contains(true))
    assert(node.txCommitted(tx2.txId).contains(false))
  }

  test("adding back an evicted document (api_test.clj:205)") {
    val node = newNode()
    node.submitTx(List(put(("crux.db/id" -> ":foo") ~ ("v" -> 1))))
    assert(node.entityDoc(":foo", None, None, None).nonEmpty)
    node.submitTx(List(JArray(List(JString("evict"), JString(":foo")))))
    assert(node.entityDoc(":foo", None, None, None).isEmpty)
    node.submitTx(List(put(("crux.db/id" -> ":foo") ~ ("v" -> 1))))
    assert(node.entityDoc(":foo", None, None, None).nonEmpty)
  }

  test("db handles are snapshots (api_test.clj:364)") {
    val node = newNode()
    node.submitTx(List(put(("crux.db/id" -> ":foo") ~ ("count" -> 0))))
    val db = node.db() // capture the snapshot BEFORE the second put
    node.submitTx(List(put(("crux.db/id" -> ":foo") ~ ("count" -> 1))))
    assert(graft.datalog.Planner.q(spark, db,
      """{:find [?c] :where [[:foo :count ?c]]}""").collect().toSeq.map(_.getLong(0)) == Seq(0L))
    assert(q(node, """{:find [?c] :where [[:foo :count ?c]]}""") == Set(Seq(1L)))
  }

  test("entity history with corrections at vt/tt bases (api_test.clj:292)") {
    val node = newNode()
    def putIvan(version: Int, corrected: Boolean, vt: String) = {
      val doc0: JObject = ("crux.db/id" -> ":ivan") ~ ("name" -> "Ivan") ~ ("version" -> version)
      val doc = if (corrected) doc0 ~ ("corrected?" -> true) else doc0
      node.submitTx(List(put(doc, vt)))
    }
    putIvan(1, corrected = false, "2019-02-01T00:00:00")
    val v2 = putIvan(2, corrected = false, "2019-02-02T00:00:00")
    putIvan(3, corrected = false, "2019-02-03T00:00:00")
    putIvan(2, corrected = true, "2019-02-02T00:00:00")

    def versionsOf(hist: org.apache.spark.sql.DataFrame): Seq[Long] =
      hist.collect().toSeq.map { r =>
        graft.http.Json.parse(r.getAs[String]("doc")) \ "version" match {
          case JInt(n) => n.toLong
          case JLong(n) => n
          case o => fail(s"bad version $o")
        }
      }
    def hist(asc: Boolean, endVt: Option[String] = None, txId: Option[Long] = None) =
      versionsOf(node.entityHistory(":ivan", sortAsc = asc, withCorrections = false,
        withDocs = true, None, endVt.map(java.time.LocalDateTime.parse), txId = txId))

    // visible history (latest correction wins per vt)
    assert(hist(asc = true) == Seq(1L, 2L, 3L))
    assert(hist(asc = false) == Seq(3L, 2L, 1L))
    // valid-time bounded
    assert(hist(asc = true, endVt = Some("2019-02-02T00:00:01")) == Seq(1L, 2L))
    // before any history
    assert(hist(asc = true, endVt = Some("2019-01-31T00:00:00")).isEmpty)
    // tx basis: as of v2's tx, the correction and v3 don't exist yet
    assert(hist(asc = true, txId = Some(v2.txId)) == Seq(1L, 2L))
    // corrected doc carries the marker at the corrected version
    val corrected = node.entityHistory(":ivan", sortAsc = true, withCorrections = false,
      withDocs = true, None, None).collect()
      .map(r => graft.http.Json.parse(r.getAs[String]("doc")) \ "corrected?")
    assert(corrected.count(_ == JBool(true)) == 1)
  }

  test("node state round-trips through parquet — replayable log (replay_test.clj/compaction_test.clj analogue)") {
    val node = newNode()
    node.submitTx(List(put(("crux.db/id" -> ":foo") ~ ("v" -> 1))))
    val tx2 = node.submitTx(List(put(("crux.db/id" -> ":foo") ~ ("v" -> 2))))

    val dir = java.nio.file.Files.createTempDirectory("graft-replay").toString
    node.currentVersions.write.parquet(s"$dir/versions")
    node.currentDocs.write.parquet(s"$dir/docs")

    val node2 = newNode()
    node2.loadState(spark.read.parquet(s"$dir/versions"), spark.read.parquet(s"$dir/docs"))
    assert(node2.latestCompletedTx.exists(_.txId == tx2.txId))
    assert(node2.entityHistory(":foo", sortAsc = true, withCorrections = true,
      withDocs = false, None, None).count() == 2)
    assert((graft.http.Json.parse(node2.entityDoc(":foo", None, None, None)
      .map(graft.http.Json.render).get) \ "v") == JInt(2))
    // and the restored node keeps accepting writes
    assert(node2.submitTx(List(put(("crux.db/id" -> ":bar") ~ ("v" -> 1)))).txId == tx2.txId + 1)
  }

  test("entity against an earlier empty db (query_test.clj:3312)") {
    val node = newNode()
    val before = node.latestCompletedTx // None — nothing ingested yet
    assert(node.entityDoc(":a", None, None, None).isEmpty)
    node.submitTx(List(put(
      ("crux.db/id" -> ":a") ~ ("arbitrary-key" -> List("an untyped value", "123")) ~
        ("nested-map" -> (("and values" -> ":can-be-arbitrarily-nested"): JObject)))))
    // the pre-ingest snapshot still sees nothing (tx-id 0 = empty log)
    assert(node.entityDoc(":a", None, None, Some(before.map(_.txId).getOrElse(0L))).isEmpty)
    assert(node.entityDoc(":a", None, None, None).nonEmpty)
    // nested values come back verbatim through the quad view as opaque JSON
    assert(q(node, """{:find [v] :where [[:a :arbitrary-key v]]}""") ==
      Set(Seq("an untyped value"), Seq("123")))
  }

  test("integers outside the Long range are refused, not wrapped; Long.MaxValue round-trips") {
    val node = newNode()
    val tooBig = BigInt("18446744073709551616") // 2^64: wraps to 0 as a Long
    // a top-level value and an array element are both refused at submit,
    // and a refused op list takes no tx id
    intercept[IllegalArgumentException](node.submitTx(List(
      put(("crux.db/id" -> ":big") ~ ("n" -> JInt(tooBig))))))
    intercept[IllegalArgumentException](node.submitTx(List(
      put(("crux.db/id" -> ":big") ~ ("ns" -> JArray(List(JInt(1), JInt(-tooBig))))))))
    assert(node.latestSubmittedTx.isEmpty)
    // the extremes of the range are kept exactly
    val tx = node.submitTx(List(
      put(("crux.db/id" -> ":max") ~ ("n" -> JInt(BigInt(Long.MaxValue)))),
      put(("crux.db/id" -> ":min") ~ ("n" -> JInt(BigInt(Long.MinValue))))))
    assert(tx.txId == 1L)
    assert(q(node, """{:find [?e ?n] :where [[?e :n ?n]]}""") ==
      Set(Seq(":max", Long.MaxValue), Seq(":min", Long.MinValue)))
    // the HTTP in-arg decoder refuses the same way
    intercept[IllegalArgumentException](graft.http.Json.fromJValue(JInt(tooBig)))
    assert(graft.http.Json.fromJValue(JInt(BigInt(Long.MaxValue))) == Long.MaxValue)
  }

  test("gcDocs drops content no live version references after evict") {
    val node = newNode()
    node.submitTx(List(
      put(("crux.db/id" -> ":keep") ~ ("v" -> "a")),
      put(("crux.db/id" -> ":gone") ~ ("v" -> "b"))))
    assert(node.currentDocs.count() == 2)
    node.submitTx(List(JArray(List(JString("evict"), JString(":gone")))))
    val dropped = node.gcDocs()
    assert(dropped == 1L, s"dropped $dropped")
    assert(q(node, """{:find [?e ?v] :where [[?e :v ?v]]}""") ==
      Set(Seq(":keep", "a")))
    // superseding :keep adds new content but must NOT free the old one:
    // the superseded version row still references it (entity history)
    node.submitTx(List(put(("crux.db/id" -> ":keep") ~ ("v" -> "c"))))
    assert(node.currentDocs.count() == 2)
    assert(node.gcDocs() == 0L)
    node.close()
  }

  test("db with a future tx basis throws (api_test.clj:359, issue 546)") {
    val node = newNode()
    node.submitTx(List(put(("crux.db/id" -> ":foo"): JObject)))
    val latest = node.latestCompletedTx.get
    val futureT = latest.txTime.plusSeconds(10)
    val e1 = intercept[IllegalArgumentException] {
      node.db(txTime = Some(futureT))
    }
    assert(e1.getMessage.contains("node out of sync"))
    val e2 = intercept[IllegalArgumentException] {
      node.db(txId = Some(latest.txId + 1))
    }
    assert(e2.getMessage.contains("node out of sync"))
    // the latest completed basis itself is fine
    node.db(txTime = Some(latest.txTime), txId = Some(latest.txId))
    ()
  }

  // a per-row sleeping scalar fn (through the r4 user registry) stands in
  // for the reference's with-redefs'd slowed index iterator
  private def registerSlowIdent(sleepMs: Long): Unit =
    graft.datalog.Planner.registerFunction("slow-ident") { args =>
      val f = org.apache.spark.sql.functions.udf { (x: String) =>
        Thread.sleep(sleepMs); x
      }
      f(args.head)
    }

  private val slowEdn =
    """{:find [f sf] :where [[e :l_returnflag f] [(slow-ident f) sf]]"""

  test("int and long ids are one key, floating ids keep the point (tx_test.clj:1202, #1043)") {
    val node = newNode()
    node.submitTx(List(put(("crux.db/id" -> 10) ~ ("name" -> "foo"))))
    node.submitTx(List(put(("crux.db/id" -> 10L) ~ ("name" -> "foo2"))))
    node.submitTx(List(put(("crux.db/id" -> 1.1) ~ ("name" -> "quux"))))
    // the second put CORRECTED entity 10 (same key), it didn't fork a twin
    assert(q(node, """{:find [e n] :where [[e :name n]]}""") ==
      Set(Seq("10", "foo2"), Seq("1.1", "quux")))
  }

  test("empty tx commits and advances the log (tx_test.clj:1327, #1519)") {
    val node = newNode()
    val info = node.submitTx(Nil)
    assert(info.committed)
    assert(node.latestSubmittedTx.exists(_.txId == info.txId))
    // and the next real tx lands on top of it
    node.submitTx(List(put(("crux.db/id" -> ":after-empty") ~ ("ok" -> true))))
    assert(q(node, """{:find [e] :where [[e :ok true]]}""") == Set(Seq(":after-empty")))
  }

  test("query :timeout cancels the plan's Spark jobs (query_test.clj:3384)") {
    val node = newNode()
    // generous timeout: completes normally
    registerSlowIdent(0)
    assert(node.q(slowEdn + " :timeout 60000}").nonEmpty)
    // ~6k lineitem rows × 20 ms / 32 threads ≈ 3.8 s ≫ 250 ms
    registerSlowIdent(20)
    val t0 = System.nanoTime()
    intercept[java.util.concurrent.TimeoutException] {
      node.q(slowEdn + " :timeout 250}")
    }
    assert((System.nanoTime() - t0) / 1e9 < 3.0, "timeout did not cut the run short")
  }

  test("closing a node interrupts in-flight queries (query_test.clj:3671)") {
    val node = newNode()
    registerSlowIdent(20)
    val thrown = new java.util.concurrent.CompletableFuture[Throwable]()
    val t = new Thread(() => {
      try { node.q(slowEdn + "}"); thrown.complete(null) }
      catch { case e: Throwable => thrown.complete(e) }
    })
    t.start()
    Thread.sleep(500) // let the query reach its Spark jobs
    node.close()
    val e = thrown.get(30, java.util.concurrent.TimeUnit.SECONDS)
    assert(e.isInstanceOf[InterruptedException], s"expected interrupt, got $e")
    // a closed node rejects new queries outright
    intercept[IllegalStateException] {
      node.q("""{:find [n] :where [[e :r_name n]]}""")
    }
  }

  test("Main.parseArgs reads --flag value pairs (cli.clj analogue)") {
    assert(graft.Main.parseArgs(Array(
      "--data-dir", "/x", "--port", "0", "--fn-allowlist", "a,b")) ==
      Map("data-dir" -> "/x", "port" -> "0", "fn-allowlist" -> "a,b"))
    assert(graft.Main.parseArgs(Array.empty) == Map.empty)
    // bare boolean flags — trailing or followed by another option — are
    // "true", never silently dropped (a dangling --read-only that doesn't
    // take effect is a security-shaped failure)
    assert(graft.Main.parseArgs(Array("--data-dir", "/x", "--read-only")) ==
      Map("data-dir" -> "/x", "read-only" -> "true"))
    assert(graft.Main.parseArgs(Array("--read-only", "--port", "8080")) ==
      Map("read-only" -> "true", "port" -> "8080"))
    // a stray non-option token fails loudly
    intercept[IllegalArgumentException](
      graft.Main.parseArgs(Array("stray", "--port", "1")))
  }
}
