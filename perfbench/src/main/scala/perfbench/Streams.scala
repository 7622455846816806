package perfbench

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.core.{ConsumedRecord, MetaCodec, Task, TaskExtractor, TaskMetadata}

/** Pieces shared by the two streaming workloads: task identity (seeded keys,
  * retry choice), the traced extractor, micro-batch progress analysis and
  * the query run loop.
  */
object Streams {

  // ---- seeded task identity ------------------------------------------------

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of (seed, id). */
  def mix(seed: Long, id: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform key out of `keys` for task `id`. */
  def keyOf(seed: Long, keys: Int, id: Long): String =
    "k" + java.lang.Long.remainderUnsigned(mix(seed, id), keys.toLong)

  /** Whether the processor returns Retry for the first delivery of `id`. */
  def retries(seed: Long, pct: Int, id: Long): Boolean =
    java.lang.Long.remainderUnsigned(mix(~seed, id), 100L) < pct

  def longBytes(v: Long): Array[Byte] = ByteBuffer.allocate(8).putLong(v).array()
  def bytesLong(b: Array[Byte]): Long = ByteBuffer.wrap(b).getLong

  def metaHeader(dueMs: Long): Map[String, Array[Byte]] =
    Map(TaskMetadata.HeaderKey -> MetaCodec.encode(
      TaskMetadata(timestampMillis = dueMs, sourceApplicationId = "perfbench",
        sourceInstanceId = "gen-0")))

  /** The benchmark's TaskExtractor: `dt_meta` decode plus the 8-byte task id
    * payload. Traced: the whole call (`api.extract`) and the decode inside
    * it (`core.meta_decode`).
    */
  final class IdExtractor(phase: String) extends TaskExtractor[Long] {
    def extract(r: ConsumedRecord): Task[Long] =
      if (!Trace.on) Task(MetaCodec.decode(r.headers(TaskMetadata.HeaderKey)), r.key, bytesLong(r.value))
      else {
        val t0 = Trace.nowNs()
        val meta = MetaCodec.decode(r.headers(TaskMetadata.HeaderKey))
        val t1 = Trace.nowNs()
        val id = bytesLong(r.value)
        val t2 = Trace.nowNs()
        val trace = s"$phase-t$id-r${meta.retryCount}"
        Trace.span(trace, "api.extract", "", t0, t2)
        Trace.span(trace, "core.meta_decode", "api.extract", t0, t1)
        Trace.sample("api.extract_us", (t2 - t0) / 1e3)
        Trace.sample("core.meta_decode_ns", (t1 - t0).toDouble)
        Task(meta, r.key, id)
      }
  }

  // ---- micro-batch progress ------------------------------------------------

  /** One committed trigger, from Spark's own progress report. */
  final case class Trigger(batchId: Long, startMs: Long, rows: Long, durations: Map[String, Long]) {
    def totalMs: Long = durations.getOrElse("triggerExecution", 0L)
    def commitEndMs: Long = startMs + totalMs
    def addBatchMs: Long = durations.getOrElse("addBatch", 0L)
    def phaseSumMs: Long = durations.iterator.filter(_._1 != "triggerExecution").map(_._2).sum
  }

  def trigger(p: StreamingQueryProgress): Trigger =
    Trigger(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)

  /** Phase order inside one micro-batch (MicroBatchExecution): offsets are
    * resolved and logged, the batch is planned and run, then committed.
    */
  val PhaseOrder: Seq[String] =
    Seq("latestOffset", "getOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Trigger spans: the trigger and its progress phases, laid end to end in
    * execution order from the trigger start (progress reports durations,
    * not instants).
    */
  def triggerSpans(phase: String, t: Trigger): Seq[Stats.Span] = {
    val trace = s"$phase-b${t.batchId}"
    val s0 = t.startMs * 1000000L
    val root = Stats.Span(trace, "trigger", "", s0, s0 + t.totalMs * 1000000L)
    var at = s0
    root +: PhaseOrder.flatMap(k => t.durations.get(k).map { ms =>
      val s = Stats.Span(trace, s"trigger.$k", "trigger", at, at + ms * 1000000L)
      at = s.endNs
      s
    })
  }

  /** Per-layer trigger metrics over the committed triggers of a phase. */
  def triggerMetrics(ts: Seq[Trigger]): Map[String, Double] = {
    def p(f: Trigger => Long, q: Double): Double =
      if (ts.isEmpty) 0.0 else Stats.quantile(Stats.sortedOf(ts.map(f(_).toDouble)), q)
    def phase(k: String)(t: Trigger) = t.durations.getOrElse(k, 0L)
    Map(
      "trigger.count" -> ts.size.toDouble,
      "trigger.rows_p50" -> p(_.rows, 0.5),
      "trigger.latest_offset_ms_p50" -> p(phase("latestOffset"), 0.5),
      "trigger.planning_ms_p50" -> p(phase("queryPlanning"), 0.5),
      "trigger.fixed_ms_p50" -> p(t => t.totalMs - t.addBatchMs, 0.5),
      "trigger.add_batch_ms_p50" -> p(_.addBatchMs, 0.5),
      "trigger.add_batch_ms_p99" -> p(_.addBatchMs, 0.99),
      "trigger.wal_commit_ms_p50" -> p(phase("walCommit"), 0.5),
      "trigger.commit_offsets_ms_p50" -> p(phase("commitOffsets"), 0.5),
      // share of trigger wall time the reported phases do NOT cover
      "trigger.phase_gap_frac" ->
        (if (ts.isEmpty) 0.0
         else 1.0 - ts.map(_.phaseSumMs).sum.toDouble / math.max(1L, ts.map(_.totalMs).sum)))
  }

  // ---- query control -------------------------------------------------------

  /** Poll a running query until `done` holds or `timeoutS` passes, then stop
    * it; rethrows a query failure. Returns the committed triggers.
    */
  def runUntil(q: StreamingQuery, timeoutS: Double)(done: => Boolean): Seq[Trigger] = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    try {
      while (!done && System.nanoTime() < deadline && q.isActive) Thread.sleep(5)
      q.exception.foreach(e => throw e)
      require(done, s"query ${q.name} did not finish within $timeoutS s")
    } finally q.stop()
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map(trigger)
  }

  def lastBatch(q: StreamingQuery): Long = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)

  def session(cores: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
