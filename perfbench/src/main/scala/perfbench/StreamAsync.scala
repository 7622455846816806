package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{ExecutionContext, Future}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, unix_millis}
import org.apache.spark.sql.streaming.Trigger

import graft.api.TaskPipeline
import graft.core.{ConsumedRecord, Task}
import graft.streaming.AsyncProcessing

/** `stream_async`: the reference's own workload (keyed tasks, 5 sequential
  * 4 ms simulated I/O hops each) run in-process on real micro-batches:
  * rate source → ConsumedRecord with a `dt_meta` header → per micro-batch
  * `TaskPipeline.consuming` → `orderedPerKey` → `AsyncProcessing
  * .flatMapAsyncKeyed` → collect in `foreachBatch` → commit. The broker is
  * not on the path.
  */
object StreamAsync {

  // driver-side ledger, written by foreachBatch; the executor-side process
  // function reads `batchStartNs` (local mode: one JVM)
  @volatile private var batchStartNs = 0L
  private val inFlight = new AtomicInteger()
  private val order = new Stats.OrderCheck
  private val ledger = new ConcurrentHashMap[Long, Array[(Long, Long)]]()

  final case class Cfg(seed: Long, keys: Int, partitions: Int, maxInFlight: Int,
      hops: Int, hopMs: Long, openRowsPerS: Int, drainRowsPerBatch: Int, drainBatches: Int,
      drainGroups: Int, warmups: Int, warmupBatches: Int)

  /** Task id → (id, due millis) after the simulated I/O. */
  private def process(phase: String, hops: Int, hopMs: Long): Task[Long] => Future[(Long, Long)] = { t =>
    implicit val ec: ExecutionContext = ExecutionContext.parasitic
    order.observe(new String(t.key, UTF_8), t.value)
    val call = Trace.nowNs()
    if (Trace.on) {
      Trace.sample("async.dispatch_wait_ms", (call - batchStartNs) / 1e6)
      Trace.sample("async.inflight", inFlight.incrementAndGet().toDouble)
    }
    (1 to hops).foldLeft(Future.unit)((acc, _) => acc.flatMap(_ => AsyncProcessing.delayed(hopMs)(())))
      .map { _ =>
        if (Trace.on) {
          val done = Trace.nowNs()
          inFlight.decrementAndGet()
          Trace.sample("async.io_ms", (done - call) / 1e6)
          Trace.span(s"$phase-t${t.value}-r0", "async.process", "", call, done)
        }
        (t.value, t.metadata.timestampMillis)
      }
  }

  /** Rate rows → the ConsumedRecord shape: a seeded key out of `keys`, the
    * id as payload and a `dt_meta` header stamped with the row's due time.
    */
  def records(spark: SparkSession, source: DataFrame, cfg: Cfg): Dataset[ConsumedRecord] = {
    import spark.implicits._
    val (seed, keys) = (cfg.seed, cfg.keys)
    source.select(col("value"), unix_millis(col("timestamp")))
      .as[(Long, Long)]
      .map { case (id, due) =>
        ConsumedRecord("rate", 0, id, due, Streams.keyOf(seed, keys, id).getBytes(UTF_8),
          Streams.longBytes(id), Streams.metaHeader(due))
      }
  }

  /** The per-micro-batch pipeline (`orderedPerKey` is a batch operator, so
    * it runs inside foreachBatch on each committed micro-batch).
    */
  def pipeline(batch: Dataset[ConsumedRecord], cfg: Cfg, phase: String): Dataset[(Long, Long)] = {
    import batch.sparkSession.implicits._
    val tasks = TaskPipeline.consuming(batch, new Streams.IdExtractor(phase))
      .orderedPerKey(cfg.partitions).tasks
    AsyncProcessing.flatMapAsyncKeyed(tasks, cfg.maxInFlight)(
      (t: Task[Long]) => new String(t.key, UTF_8), process(phase, cfg.hops, cfg.hopMs))
  }

  /** One query over `source`; returns its committed triggers. */
  private def run(spark: SparkSession, source: DataFrame, cfg: Cfg, phase: String,
      ckpt: String, timeoutS: Double)(done: org.apache.spark.sql.streaming.StreamingQuery => Boolean) = {
    order.clear()
    ledger.clear()
    val q = records(spark, source, cfg).writeStream
      .queryName(phase)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (ds: Dataset[ConsumedRecord], batchId: Long) =>
        val t0 = Trace.nowNs()
        batchStartNs = t0
        ledger.put(batchId, pipeline(ds, cfg, phase).collect())
        val t1 = Trace.nowNs()
        Trace.span(s"$phase-b$batchId", "sink.batch", "trigger.addBatch", t0, t1)
        Trace.sample("sink.batch_ms", (t1 - t0) / 1e6)
      }.start()
    Streams.runUntil(q, timeoutS)(done(q))
  }

  private def microBatchSource(spark: SparkSession, rowsPerBatch: Int): DataFrame =
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch.toLong)
      .option("numPartitions", 1L)
      .load()

  /** Checks of one phase: ids 0 until (rows the source generated) each
    * committed, per-key order held. Returns the accounting and, per committed
    * task, (due millis, commit-end millis).
    */
  private def settle(triggers: Seq[Streams.Trigger]): (Stats.Accounting, Array[Long], Array[Long], Int) = {
    val generated = triggers.map(_.rows).sum
    val committed = new java.util.BitSet()
    val due = Array.newBuilder[Long]
    val end = Array.newBuilder[Long]
    triggers.foreach { t =>
      Option(ledger.get(t.batchId)).getOrElse(Array.empty).foreach { case (id, d) =>
        committed.set(id.toInt)
        due += d
        end += t.commitEndMs
      }
    }
    val acct = Stats.account(generated, committed,
      order.violations.asScala.map(_.longValue).toSeq, Nil, new java.util.BitSet())
    (acct, due.result(), end.result(), order.violations.size)
  }

  def run(spark: SparkSession, cfg: Cfg, seconds: Int, scratch: String, setup0: Double): Outcome = {
    var ckpts = 0
    def ckpt(): String = { ckpts += 1; s"$scratch/ckpt-async-$ckpts" }

    // ---- set-up: the async pool and timer start once, then warm-up cycles
    val pool0 = System.nanoTime()
    locally {
      import spark.implicits._
      implicit val ec: ExecutionContext = ExecutionContext.parasitic
      AsyncProcessing.flatMapAsyncKeyed(spark.range(1).as[Long], 1)(identity,
        (i: Long) => AsyncProcessing.delayed(1L)(i)).collect()
    }
    val poolS = (System.nanoTime() - pool0) / 1e9
    val cycles = (1 to cfg.warmups).map { i =>
      val c0 = System.nanoTime()
      val ts = run(spark, microBatchSource(spark, cfg.drainRowsPerBatch), cfg, s"warm$i", ckpt(), 120)(
        q => Streams.lastBatch(q) >= cfg.warmupBatches - 1)
      val (acct, _, _, _) = settle(ts)
      require(acct.correct, s"warm-up cycle $i failed its checks: ${acct.mismatches}")
      (System.nanoTime() - c0) / 1e9
    }
    val setupS = setup0 + poolS + Stats.median(cycles)

    // ---- measured window
    Trace.reset()
    JvmBox.resetPeakThreads()
    val w0 = JvmBox.now()

    // open loop: the rate source emits on its own clock; each row's
    // timestamp is its due time
    val open = spark.readStream.format("rate")
      .option("rowsPerSecond", cfg.openRowsPerS.toLong)
      .option("numPartitions", 1L)
      .load()
    val openT0 = System.nanoTime()
    val openTs = run(spark, open, cfg, "open", ckpt(), seconds + 60.0)(
      _ => System.nanoTime() - openT0 >= seconds * 1000000000L)
    val (openAcct, due, end, openViolations) = settle(openTs)
    val latRaw = Stats.latenciesFromDue(due, end)
    val lat = Stats.sortedOf(latRaw)
    val openSpans = openTs.flatMap(Streams.triggerSpans("open", _))
    val asyncSamples = Seq("async.io_ms", "async.dispatch_wait_ms", "async.inflight")
      .map(k => k -> Trace.sampled(k)).toMap

    // closed-loop drain: one query, a fixed number of rows per trigger, as
    // fast as the engine commits them; after the query's first trigger,
    // tasks/s over each run of drainBatches consecutive triggers, median over
    // drainGroups runs
    def drain(phase: String, groups: Int) = {
      val n = 1 + groups * cfg.drainBatches
      val ts = run(spark, microBatchSource(spark, cfg.drainRowsPerBatch), cfg, phase, ckpt(), 120)(
        q => Streams.lastBatch(q) >= n - 1)
      val (acct, _, _, violations) = settle(ts)
      val tps = ts.sortBy(_.batchId).slice(1, n).grouped(cfg.drainBatches).map { g =>
        g.map(_.rows).sum * 1000.0 / math.max(1L, g.last.commitEndMs - g.head.startMs)
      }.toSeq
      (ts, acct, tps, violations)
    }
    // traced runs first drain once untraced: the tracing-overhead baseline
    val untracedTps =
      if (!Trace.on) 0.0
      else { Trace.on = false; try Stats.median(drain("drain0", 1)._3) finally Trace.on = true }
    val (drainTs, drainAcct, groupTps, drainViolations) = drain("drain", cfg.drainGroups)
    val w1 = JvmBox.now()

    val drainTps = Stats.median(groupTps)
    val allTs = openTs ++ drainTs
    val acct = openAcct + drainAcct
    require(lat.length >= 1000, s"only ${lat.length} latency samples; p99 needs 1000")

    val window = w0.window(w1, JvmBox.peakThreads())
    val e2e = Map(
      "setup_s" -> setupS,
      "cpu_s" -> window("cpu_s"),
      "latency_p50_ms" -> Stats.slicedQuantile(due, latRaw, 0.5),
      "latency_p99_ms" -> Stats.slicedQuantile(due, latRaw, 0.99),
      "drain_tasks_per_s" -> drainTps)
    def q(k: String, p: Double) = { val a = asyncSamples(k); if (a.isEmpty) 0.0 else Stats.quantile(a, p) }
    val layer = Map(
      "async.io_ms_p50" -> q("async.io_ms", 0.5),
      "async.io_ms_p99" -> q("async.io_ms", 0.99),
      "async.dispatch_wait_ms_p50" -> q("async.dispatch_wait_ms", 0.5),
      "async.dispatch_wait_ms_p99" -> q("async.dispatch_wait_ms", 0.99),
      "async.inflight_mean" -> {
        val a = asyncSamples("async.inflight")
        if (a.isEmpty) 0.0 else a.sum / a.length
      },
      "async.order_violations" -> (openViolations + drainViolations).toDouble,
      "api.processed" -> acct.attempted.toDouble,
      "api.retry" -> 0.0,
      // the rate source stamps each row's due time on its own clock: there is
      // no generator thread that could fall behind
      "bench.gen_late_ms_max" -> 0.0,
      "bench.trace_overhead_frac" -> (if (untracedTps > 0) untracedTps / drainTps - 1.0 else 0.0)
    ) ++ Streams.triggerMetrics(allTs)
    Outcome(e2e, layer ++ window.removed("cpu_s"), acct,
      spans = openSpans ++ drainTs.flatMap(Streams.triggerSpans("drain", _)),
      diag = Map(
        "latency_samples" -> lat.length.toDouble,
        "latency_p50_ms_whole" -> Stats.quantile(lat, 0.5),
        "latency_p99_ms_whole" -> Stats.quantile(lat, 0.99),
        "latency_tail_rule" -> Stats.tailQuantile(lat.length).getOrElse(0.0),
        "open_triggers" -> openTs.size.toDouble,
        "drain_groups_tasks_per_s" -> groupTps.mkString(","),
        "setup_session_s" -> setup0,
        "setup_async_pool_s" -> poolS,
        "setup_cycles_s" -> cycles.mkString(",")))
  }
}
