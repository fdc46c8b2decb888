package perfbench

import java.time.LocalDateTime
import org.scalatest.funsuite.AnyFunSuite
import perfbench.Gen._

class GenSpec extends AnyFunSuite {
  private val events: IndexedSeq[Event] = (0 until 5000).map { i =>
    Event(i.toLong, LocalDateTime.parse("2024-01-01T00:00").plusSeconds(26L * i),
      (i * 7919L) % 300, Catalog.EventTypes(i % Catalog.EventTypes.size))
  }

  private def node(seed: Long, n: Int): Vector[NodeStep] = {
    val m = new NodeModel
    m.apply(1L, nodePreload(seed))
    nodeSteps(seed, m).take(n).toVector
  }

  test("the same seed gives the same op sequence, another seed another one") {
    assert(dlHot(7).take(500).toVector == dlHot(7).take(500).toVector)
    assert(dlHot(7).take(500).toVector != dlHot(8).take(500).toVector)
    assert(dlCold(7).take(500).toVector == dlCold(7).take(500).toVector)
    assert(dlCold(7).take(500).toVector != dlCold(8).take(500).toVector)
    assert(nodePreload(7) == nodePreload(7) && nodePreload(7) != nodePreload(8))
    assert(node(7, 40) == node(7, 40))
    assert(node(7, 40) != node(8, 40))
    assert(streamBatches(events, 7, 100).take(20).toVector == streamBatches(events, 7, 100).take(20).toVector)
    assert(streamBatches(events, 7, 100).take(20).toVector != streamBatches(events, 8, 100).take(20).toVector)
  }

  test("dl_hot's distinct (template, args) pairs stay under the plan cache cap") {
    (1L to 5L).foreach { seed =>
      val distinct = dlHot(seed).take(20000).toSet.size
      assert(distinct <= hotSet(seed).size)
      assert(distinct < PlanCacheCap / 2, s"seed $seed: $distinct distinct pairs")
    }
  }

  test("dl_cold's distinct (template, args) pairs outnumber the cache cap tenfold") {
    (1L to 5L).foreach { seed =>
      val distinct = dlCold(seed).take(20 * PlanCacheCap).toSet.size
      assert(distinct >= 10 * PlanCacheCap, s"seed $seed: $distinct distinct pairs")
    }
  }

  test("both Datalog workloads rotate through every template in a fixed order") {
    Seq(dlHot(3), dlCold(3)).foreach { it =>
      assert(it.take(3 * templates.size).map(_.template).toVector ==
        Vector.fill(3)(templates.indices).flatten)
    }
  }

  test("Zipf ranks: rank 0 is drawn most, every rank is drawn") {
    val z = new Zipf(4, 1.0)
    val r = new java.util.SplittableRandom(1)
    val counts = Vector.fill(20000)(z.sample(r)).groupBy(identity).map { case (k, v) => k -> v.size }
    assert(counts.keySet == Set(0, 1, 2, 3))
    assert(counts(0) > counts(1) && counts(1) > counts(3))
  }

  test("node_mixed: each tx touches distinct entities and every fourth one is built to abort") {
    val steps = node(5, 40)
    steps.zipWithIndex.foreach { case (s, i) =>
      assert(s.ops.map(_.id).distinct.size == s.ops.size)
      assert(s.expectAbort == (i % 4 == 3))
      assert(s.txId == i + 2L)
      assert(s.pastTxId >= 1 && s.pastTxId <= s.txId)
    }
    val aborting = steps.filter(_.expectAbort).map(_.ops.head)
    assert(aborting.exists(_.isInstanceOf[Match]) && aborting.exists(_.isInstanceOf[Cas]))
  }

  test("node model: an aborted tx adds nothing, a committed one is visible at its basis") {
    val m = new NodeModel
    val d = Doc("u0001", "n", "gold", 5)
    assert(m.apply(1, Vector(Put(d, None))))
    assert(!m.apply(2, Vector(Match("u0001", Some(d.copy(score = 6))), Put(Doc("u0002", "x", "gold", 1), None))))
    assert(m.abortCount == 1 && m.versionCount == 1)
    assert(m.apply(3, Vector(Cas("u0001", Some(d), d.copy(score = 7)),
      Put(d.copy(id = "u0003"), Some(LocalDateTime.parse("2020-01-01T00:00"))))))
    assert(m.tierScores("gold", 1) == Set("u0001" -> 5L))
    assert(m.tierScores("gold", 3) == Set("u0001" -> 7L, "u0003" -> 5L))
    assert(m.historyTxIds("u0001", 3) == Vector(1L, 3L))
    assert(m.apply(4, Vector(Delete("u0001"))))
    assert(m.current("u0001", 4).isEmpty && m.current("u0001", 3).nonEmpty)
  }

  test("stream batches: one op per entity, error events become deletes") {
    streamBatches(events, 3, 200).take(10).foreach { b =>
      assert(b.ops.map(_.eid).distinct.size == b.ops.size)
      assert(b.ops.forall(o => (o.op == "delete") == (o.contentHash == null)))
      assert(b.lookupEids.nonEmpty && b.lookupEids.forall(e => b.ops.exists(_.eid == e)))
    }
  }

  test("stream model: latest valid time wins, then the later tx; deletes hide") {
    val m = new StreamModel
    val t0 = LocalDateTime.parse("2024-01-02T00:00")
    m.apply(0, Vector(StreamOp("put", "1", "view", t0, 0), StreamOp("put", "2", "click", t0, 1)))
    m.apply(1, Vector(StreamOp("put", "1", "click", t0.minusDays(1), 0),
      StreamOp("delete", "2", null, t0.plusDays(1), 1)))
    assert(m.asOf("1", t0, 1).contains("view"))
    assert(m.asOf("1", t0.minusHours(1), 1).contains("click"))
    assert(m.asOf("2", t0, 1).contains("click") && m.asOf("2", LatestVt, 1).isEmpty)
    assert(m.typeCounts(0) == Map("view" -> 1L, "click" -> 1L))
    assert(m.typeCounts(1) == Map("view" -> 1L))
    assert(m.latest == Map("1" -> "view"))
  }
}
