package perfbench

import org.scalatest.funsuite.AnyFunSuite
import perfbench.Stats._

class StatsSpec extends AnyFunSuite {
  test("median of odd and even sample counts") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail: the highest percentile with at least ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(tail(hundred) == Tail(90, 90.0, 10, 100))
    val thousand = (1 to 1000).map(_.toDouble)
    assert(tail(thousand) == Tail(99, 990.0, 10, 1000))
    val t = tail((1 to 21).map(_.toDouble))
    assert(t.pct == 52 && t.beyond == 10 && t.value == 11.0)
    assert(tail(Seq(5.0, 1.0, 3.0, 2.0, 4.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0)).beyond == 6)
  }

  test("tail falls back to the median, and says so, when samples are too few") {
    val t = tail(Seq(1.0, 2.0, 3.0, 4.0, 5.0))
    assert(t.pct == 50 && t.value == 3.0 && t.beyond == 2 && t.n == 5)
  }

  test("covered merges overlapping intervals and clips them to the window") {
    assert(covered(Seq((10L, 30L), (20L, 50L), (90L, 120L)), 0L, 100L) == 50L)
    assert(covered(Seq((0L, 10L), (10L, 20L)), 0L, 100L) == 20L)
    assert(covered(Nil, 0L, 100L) == 0L)
  }

  test("self time is the span minus what its direct children cover") {
    val root = Span(1, 0, 1, "op", 0, 100)
    val spans = Seq(root,
      Span(2, 1, 1, "a", 10, 30), Span(3, 1, 1, "b", 20, 50), Span(4, 1, 1, "c", 90, 120),
      Span(5, 2, 1, "grandchild", 12, 14))
    assert(selfTime(root, spans) == 50L)
    assert(selfTime(spans(1), spans) == 18L)
    assert(selfTime(spans(4), spans) == 2L)
  }

  test("jobs go to ops by tx label first, then job group, then start time") {
    val ops = Seq(
      OpWindow(1, "g1", None, 0, 100),
      OpWindow(2, "g2", Some("graft-tx-7"), 100, 200),
      OpWindow(3, "g3", None, 200, 300))
    val jobs = Seq(
      Job(10, "g1", null, 10, 20),
      // a pooled thread kept op 1's group; the tx label names op 2
      Job(11, "g1", "graft-tx-7 delta fold+write", 120, 150),
      Job(12, null, "graft-tx-70 view maintenance", 130, 140),
      Job(13, null, null, 250, 260),
      Job(14, "elsewhere", null, 400, 410))
    val by = attribute(jobs, ops)
    assert(by(1).map(_.id) == Seq(10))
    assert(by(2).map(_.id) == Seq(11, 12))
    assert(by(3).map(_.id) == Seq(13))
    assert(!by.values.flatten.exists(_.id == 14))
  }
}
