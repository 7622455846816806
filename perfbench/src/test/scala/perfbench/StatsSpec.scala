package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark's own arithmetic and output checks. Run with
  * `sbt test` from perfbench/.
  */
class StatsSpec extends AnyFunSuite {
  import Stats._

  private def bits(ids: Long*): java.util.BitSet = {
    val b = new java.util.BitSet()
    ids.foreach(i => b.set(i.toInt))
    b
  }

  test("nearest-rank quantiles") {
    val xs = sortedOf((1 to 100).map(_.toDouble))
    assert(quantile(xs, 0.5) == 50.0)
    assert(quantile(xs, 0.99) == 99.0)
    assert(quantile(xs, 1.0) == 100.0)
    assert(quantile(Array(7.0), 0.99) == 7.0)
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("the tail percentile is the highest one with at least ten samples above it") {
    assert(samplesAbove(1000, 0.99) == 10)
    assert(tailQuantile(1000).contains(0.99))
    assert(tailQuantile(999).contains(0.9)) // p99 would leave only 9 above
    assert(tailQuantile(100000).contains(0.9999))
    assert(tailQuantile(100).contains(0.9))
    assert(tailQuantile(19).isEmpty) // even the median leaves 9
  }

  test("latency counts from the due time, so a late generator shows") {
    val due = Array(0L, 10L, 20L)
    val sent = Array(0L, 50L, 60L) // the generator ran 40 ms behind
    val commitEnd = Array(100L, 100L, 100L)
    assert(latenciesFromDue(due, commitEnd).toSeq == Seq(100.0, 90.0, 80.0))
    // timing from the send instead would hide the generator's lateness
    assert(latenciesFromDue(sent, commitEnd).toSeq == Seq(100.0, 50.0, 40.0))
  }

  test("sliced quantiles take the median over equal due-time slices") {
    val due = Array.tabulate(4000)(_.toLong)
    // one stalled slice (the third) with latencies 10x the others
    val lat = due.map(d => if (d >= 2000 && d < 3000) 1000.0 else 100.0 + d % 10)
    assert(quantile(sortedOf(lat), 0.99) == 1000.0) // the whole-run p99 is the stall
    assert(slicedQuantile(due, lat, 0.99) == 109.0)
    // too few samples for four slices with a valid p99: fewer, larger slices
    assert(slicedQuantile(due.take(1500), lat.take(1500), 0.5) == quantile(sortedOf(lat.take(1500)), 0.5))
  }

  test("a clean phase passes every check") {
    val a = account(5, bits(0, 1, 2, 3, 4), Nil, Seq(2L), bits(2))
    assert(a.correct && a.failed == 0 && a.failedFrac == 0.0 && a.okFrac == 1.0)
  }

  test("a dropped task trips the check") {
    val a = account(5, bits(0, 1, 3, 4), Nil, Nil, bits())
    assert(!a.correct && a.failed == 1 && a.failedFrac == 0.2)
    assert(a.mismatches.exists(_.contains("never committed (first 2)")))
  }

  test("a reordered key trips the check") {
    val order = new OrderCheck
    assert(order.observe("k1", 0) && order.observe("k2", 1) && order.observe("k1", 3))
    assert(!order.observe("k1", 2)) // generated before 3, processed after it
    assert(order.observe("k2", 2))
    val reordered = Seq(order.violations.peek().longValue)
    val a = account(4, bits(0, 1, 2, 3), reordered, Nil, bits())
    assert(!a.correct && a.failed == 1 && a.mismatches.exists(_.contains("out of key order")))
  }

  test("a retried task that never comes back trips the check") {
    val a = account(3, bits(0, 1, 2), Nil, Seq(1L), bits())
    assert(!a.correct && a.failed == 1 && a.mismatches.exists(_.contains("never redelivered")))
  }

  test("failed_frac counts each task once and adds phases by counts") {
    // id 2 is both lost and reordered; id 4 was never generated
    val a = account(4, bits(0, 1, 3, 4), Seq(2L), Nil, bits())
    assert(a.failed == 2 && a.failedFrac == 0.5)
    val sum = a + Accounting(6, 0, Nil)
    assert(sum.attempted == 10 && sum.failed == 2 && sum.failedFrac == 0.2 && !sum.correct)
    assert(Accounting(0, 0, Nil).failedFrac == 1.0) // nothing attempted is no success
  }

  test("span self time subtracts the union of child intervals, clipped to the parent") {
    val spans = Seq(
      Span("b1", "trigger", "", 0, 100),
      Span("b1", "trigger.addBatch", "trigger", 10, 30),
      Span("b1", "trigger.walCommit", "trigger", 20, 50), // overlaps its sibling
      Span("b1", "trigger.commitOffsets", "trigger", 90, 120), // overruns the parent
      Span("b1", "sink.batch", "trigger.addBatch", 12, 28),
      Span("b2", "trigger", "", 0, 10)) // another trace: its own root
    assert(coveredNs(Seq((10L, 30L), (20L, 50L), (90L, 120L)), 0, 100) == 50)
    val self = selfTimeByLayer(spans)
    // trigger: 100 - 50 + (20 - 16) + 30 + 30 + 10
    assert(self("trigger") == 50 + 4 + 30 + 30 + 10)
    assert(self("sink") == 16)
  }
}
