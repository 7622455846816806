package perfbench

import scala.collection.mutable

/** The benchmark's own arithmetic: percentiles, latency from due time,
  * failure accounting and span self time. Pure functions, covered by
  * `StatsSpec`.
  */
object Stats {

  /** Nearest-rank quantile of an ascending-sorted sample: the smallest value
    * with at least `q` of the sample at or below it.
    */
  def quantile(sorted: Array[Double], q: Double): Double = {
    require(sorted.nonEmpty, "quantile of an empty sample")
    require(q > 0.0 && q <= 1.0, s"quantile must be in (0, 1], got $q")
    val rank = math.ceil(q * sorted.length - 1e-9).toInt
    sorted(math.max(0, math.min(sorted.length - 1, rank - 1)))
  }

  /** Samples strictly above the nearest-rank `q` position. */
  def samplesAbove(n: Int, q: Double): Int =
    n - math.ceil(q * n - 1e-9).toInt

  val Ladder: Seq[Double] = Seq(0.9999, 0.999, 0.99, 0.9, 0.5)

  /** The highest percentile of [[Ladder]] that leaves at least `minAbove`
    * samples beyond it, or None when even the median does not.
    */
  def tailQuantile(n: Int, minAbove: Int = 10): Option[Double] =
    Ladder.find(q => samplesAbove(n, q) >= minAbove)

  def median(xs: Seq[Double]): Double = quantile(xs.sorted.toArray, 0.5)

  def sortedOf(xs: Iterable[Double]): Array[Double] = {
    val a = xs.toArray
    java.util.Arrays.sort(a)
    a
  }

  /** Delivery latency of each task: the end of the commit that completed it
    * minus the time it was DUE, never the time it was actually sent — a
    * generator that falls behind its schedule delays every later task, and
    * that wait belongs in the latency (the open-loop rule).
    */
  def latenciesFromDue(dueMs: Array[Long], commitEndMs: Array[Long]): Array[Double] = {
    require(dueMs.length == commitEndMs.length, "one commit time per due time")
    Array.tabulate(dueMs.length)(i => (commitEndMs(i) - dueMs(i)).toDouble)
  }

  /** Quantile `q` of the latencies in each of up to `maxWindows` equal
    * slices of the phase (by due time), and the median over the slices: one
    * stalled trigger moves one slice, not the run's figure. A slice holds at
    * least `minPerWindow` samples, so its p99 keeps ten samples above it.
    */
  def slicedQuantile(dueMs: Array[Long], lat: Array[Double], q: Double,
      maxWindows: Int = 4, minPerWindow: Int = 1000): Double = {
    require(dueMs.length == lat.length && lat.nonEmpty, "one latency per due time")
    val windows = math.max(1, math.min(maxWindows, lat.length / minPerWindow))
    val lo = dueMs.min
    val span = math.max(1L, dueMs.max - lo + 1)
    val slices = lat.indices.groupBy(i => ((dueMs(i) - lo) * windows / span).toInt)
    median(slices.values.map(ix => quantile(sortedOf(ix.map(lat(_))), q)).toSeq)
  }

  /** Per-run correctness ledger: tasks attempted, tasks that failed a check
    * (each counted once however many checks it trips) and what tripped.
    */
  final case class Accounting(attempted: Long, failed: Long, mismatches: Seq[String]) {
    def failedFrac: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted
    def okFrac: Double = 1.0 - failedFrac
    def correct: Boolean = failed == 0 && mismatches.isEmpty && attempted > 0
    def +(o: Accounting): Accounting =
      Accounting(attempted + o.attempted, failed + o.failed, mismatches ++ o.mismatches)
  }

  /** Check one streaming phase.
    *
    * @param generated    ids the source generated, 0 until n
    * @param committed    ids seen in a committed micro-batch (any delivery)
    * @param reordered    ids whose first delivery ran before an earlier id of
    *                     the same key
    * @param retried      ids the processor sent to retry
    * @param redelivered  ids delivered again with retry_count = 1
    */
  def account(
      generated: Long,
      committed: java.util.BitSet,
      reordered: Iterable[Long],
      retried: Iterable[Long],
      redelivered: java.util.BitSet): Accounting = {
    val lost = mutable.ArrayBuffer.empty[Long]
    var i = committed.nextClearBit(0).toLong
    while (i < generated) { lost += i; i = committed.nextClearBit(i.toInt + 1).toLong }
    val unretried = retried.filterNot(id => redelivered.get(id.toInt))
    val extra = committed.nextSetBit(generated.toInt)
    val mismatches =
      (if (lost.nonEmpty) Seq(s"${lost.size} generated ids never committed (first ${lost.head})") else Nil) ++
      (if (reordered.nonEmpty) Seq(s"${reordered.size} ids processed out of key order (first ${reordered.head})") else Nil) ++
      (if (unretried.nonEmpty) Seq(s"${unretried.size} retried ids never redelivered (first ${unretried.head})") else Nil) ++
      (if (extra >= 0) Seq(s"committed id $extra was never generated") else Nil)
    val failed = (lost ++ reordered ++ unretried).toSet.size + (if (extra >= 0) 1 else 0)
    Accounting(generated, failed.toLong, mismatches)
  }

  /** Per-key order tracker: a task's first delivery must come after every
    * earlier-generated task of the same key. Thread-safe; `observe` returns
    * false on a violation.
    */
  final class OrderCheck {
    private val last = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    def observe(key: String, id: Long): Boolean = {
      var ok = true
      last.compute(key, (_, prev) =>
        if (prev == null || prev.longValue < id) java.lang.Long.valueOf(id)
        else { ok = false; prev })
      if (!ok) violations.add(id)
      ok
    }
    def clear(): Unit = { last.clear(); violations.clear() }
  }

  /** One traced interval. Spans of one task or one trigger share `trace`;
    * `parent` names the enclosing span in the same trace ("" for a root).
    */
  final case class Span(trace: String, name: String, parent: String, startNs: Long, endNs: Long) {
    def layer: String = name.takeWhile(_ != '.')
    def durNs: Long = endNs - startNs
  }

  /** Length of the union of intervals, clipped to [lo, hi). */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover, summed by layer (the span name's first segment).
    */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Long] = {
    val children = spans.groupBy(s => (s.trace, s.parent))
    spans.groupMapReduce(_.layer) { s =>
      val kids = children.getOrElse((s.trace, s.name), Nil).map(k => (k.startNs, k.endNs))
      s.durNs - coveredNs(kids, s.startNs, s.endNs)
    }(_ + _)
  }
}
