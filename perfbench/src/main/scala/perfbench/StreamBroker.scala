package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit, struct}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.api.{ProcessResult, RecordProcessor, TaskPipeline}
import graft.core.{ConsumedRecord, MetaCodec, Task, TaskMetadata}
import graft.sources.{TaskSource, TaskWriter}
import graft.sources.kafkalike.BrokerLog

/** `stream_broker`: the full Decaton retry cycle through the in-repo broker.
  * One generator thread produces to `BrokerLog` on a fixed schedule; the
  * query subscribes origin + retry through the `graft-kafka` source; per
  * micro-batch `foreachBatch` extracts, orders per key, and a
  * `RecordProcessor` sends a seeded share of first deliveries to retry,
  * produced back through `TaskWriter.toRetryShape` and the `graft-kafka`
  * sink with zero backoff.
  * No simulated I/O and no async layer.
  */
object StreamBroker {

  final case class Cfg(seed: Long, keys: Int, partitions: Int, orderedPartitions: Int,
      produceRatePerS: Int, openTriggerMs: Long, retryPct: Int, maxOffsetsPerTrigger: Long, drainReps: Int,
      warmups: Int, warmupTasks: Int)

  // driver-side ledger written by foreachBatch: (state, id, retry_count, due)
  private val ledger = new ConcurrentHashMap[Long, Array[(String, Long, Long, Long)]]()
  private val completed = new AtomicLong()
  private val order = new Stats.OrderCheck

  /** Retry a seeded share of first deliveries; first deliveries must keep
    * per-key generation order (a retried task leaves that order by design).
    */
  final class Processor(seed: Long, pct: Int) extends RecordProcessor[Long, Long] {
    def process(t: Task[Long]): ProcessResult[Long] =
      if (t.metadata.retryCount > 0) ProcessResult.Processed(t.value)
      else {
        order.observe(new String(t.key, UTF_8), t.value)
        if (Streams.retries(seed, pct, t.value)) ProcessResult.Retry
        else ProcessResult.Processed(t.value)
      }
  }

  /** `target` tasks completed and every batch that completed them committed
    * (progress is reported after the commit log is written).
    */
  private def settled(q: StreamingQuery, target: Long): Boolean =
    completed.get >= target && ledger.keySet.asScala.forall(_ <= Streams.lastBatch(q))

  def partitionOf(key: Array[Byte], partitions: Int): Int =
    (java.util.Arrays.hashCode(key) & Int.MaxValue) % partitions

  private def start(spark: SparkSession, cfg: Cfg, root: String, origin: String, phase: String,
      ckpt: String, triggerMs: Long = 0L): StreamingQuery = {
    import spark.implicits._
    order.clear()
    ledger.clear()
    completed.set(0L)
    val retryOrigin = phase // retries land on "<phase>-retry"
    val records = TaskSource.toConsumedRecords(TaskSource.brokerStream(spark, root, origin,
      Some(s"$retryOrigin-retry"), maxOffsetsPerTrigger = Some(cfg.maxOffsetsPerTrigger)))
    records.writeStream
      .queryName(phase)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (ds: Dataset[ConsumedRecord], batchId: Long) =>
        val t0 = Trace.nowNs()
        // the pipeline runs per micro-batch: orderedPerKey is a batch operator
        val rows = TaskPipeline.consuming(ds, new Streams.IdExtractor(phase))
          .orderedPerKey(cfg.orderedPartitions)
          .thenProcess(new Processor(cfg.seed, cfg.retryPct))
          .dispositions
          .map { case (state, t) =>
            (state, t.value, t.metadata.retryCount, t.metadata.timestampMillis, new String(t.key, UTF_8))
          }.collect()
        val retry = rows.filter(_._1 == "retry")
        if (retry.nonEmpty) {
          val df = retry.toSeq.map(r => (r._5, Streams.longBytes(r._2), r._4, r._3))
            .toDF("key", "value", "due", "rc")
          val meta = struct(col("due").as("timestamp_millis"),
            lit("perfbench").as("source_application_id"), lit("gen-0").as("source_instance_id"),
            col("rc").as("retry_count"), lit(0L).as("scheduled_time_millis"))
          TaskWriter.toRetryShape(df, col("key"), col("value"), meta, retryOrigin,
            lit(System.currentTimeMillis()), lit(0L))
            .write.format("graft-kafka").mode("append").option("root", root).save()
        }
        ledger.put(batchId, rows.map(r => (r._1, r._2, r._3, r._4)))
        completed.addAndGet(rows.count(_._1 == "processed").toLong)
        val t1 = Trace.nowNs()
        Trace.span(s"$phase-b$batchId", "sink.batch", "trigger.addBatch", t0, t1)
        Trace.sample("sink.batch_ms", (t1 - t0) / 1e6)
      }.start()
  }

  /** Checks of one phase over its committed triggers: every generated id
    * completed, first deliveries in per-key order, every retried id
    * redelivered with retry_count = 1. Also returns per completed task
    * (due, commit end) and the number of retry decisions.
    */
  private def settle(triggers: Seq[Streams.Trigger], generated: Long)
      : (Stats.Accounting, Array[Long], Array[Long], Long) = {
    val done = new java.util.BitSet()
    val redelivered = new java.util.BitSet()
    val retried = mutable.ArrayBuffer.empty[Long]
    val due = Array.newBuilder[Long]
    val end = Array.newBuilder[Long]
    triggers.foreach { t =>
      Option(ledger.get(t.batchId)).getOrElse(Array.empty).foreach { case (state, id, rc, d) =>
        if (rc == 1L) redelivered.set(id.toInt)
        if (state == "retry") retried += id
        else if (state == "processed") {
          done.set(id.toInt)
          due += d
          end += t.commitEndMs
        }
      }
    }
    val acct = Stats.account(generated, done, order.violations.asScala.map(_.longValue).toSeq,
      retried, redelivered)
    (acct, due.result(), end.result(), retried.size.toLong)
  }

  private def record(seed: Long, keys: Int, id: Long, dueMs: Long): BrokerLog.Record = {
    val key = Streams.keyOf(seed, keys, id).getBytes(UTF_8)
    BrokerLog.Record(key, Streams.longBytes(id), dueMs, Streams.metaHeader(dueMs).toSeq)
  }

  def run(spark: SparkSession, cfg: Cfg, seconds: Int, scratch: String, setup0: Double): Outcome = {
    val root = s"$scratch/broker"
    var ckpts = 0
    def ckpt(): String = { ckpts += 1; s"$scratch/ckpt-broker-$ckpts" }
    def topics(origin: String, retryOrigin: String): Unit = {
      BrokerLog.createTopic(root, origin, cfg.partitions)
      BrokerLog.createTopic(root, s"$retryOrigin-retry", cfg.partitions)
    }
    def depth(topic: String): Long =
      (0 until cfg.partitions).map(p => BrokerLog.offsetRange(root, topic, p)._2).sum

    // ---- set-up: warm-up cycles on their own topics
    val cycles = (1 to cfg.warmups).map { i =>
      val c0 = System.nanoTime()
      val origin = s"warm$i"
      topics(origin, origin)
      val hints = Array.fill(cfg.partitions)(-1L)
      val now = System.currentTimeMillis()
      (0 until cfg.warmupTasks).foreach { id =>
        val r = record(cfg.seed, cfg.keys, id, now)
        val p = partitionOf(r.key, cfg.partitions)
        hints(p) = BrokerLog.produce(root, origin, p, r, hints(p)) + 1
      }
      val q = start(spark, cfg, root, origin, origin, ckpt())
      val ts = Streams.runUntil(q, 120)(settled(q, cfg.warmupTasks))
      val (acct, _, _, _) = settle(ts, cfg.warmupTasks)
      require(acct.correct, s"warm-up cycle $i failed its checks: ${acct.mismatches}")
      (System.nanoTime() - c0) / 1e9
    }
    val setupS = setup0 + Stats.median(cycles)

    // ---- measured window
    Trace.reset()
    JvmBox.resetPeakThreads()
    val w0 = JvmBox.now()

    // open loop: one generator thread on a fixed schedule, a sampler reading
    // the backlog once per second
    val origin = "tasks"
    topics(origin, "open")
    val total = cfg.produceRatePerS.toLong * seconds
    val produceMs = new Array[Double](total.toInt)
    val lateMax = new AtomicLong()
    // a fixed trigger interval, Decaton's commit interval: each trigger takes
    // what arrived since the last, so run-to-run engine speed moves the
    // trigger's duration, not also how many rows the next one carries
    val q = start(spark, cfg, root, origin, "open", ckpt(), cfg.openTriggerMs)
    val t0 = System.currentTimeMillis() + 100
    val gen = new Thread(() => {
      val hints = Array.fill(cfg.partitions)(-1L)
      var id = 0L
      while (id < total) {
        val due = t0 + id * 1000L / cfg.produceRatePerS
        val wait = due - System.currentTimeMillis()
        if (wait > 0) LockSupport.parkNanos(wait * 1000000L)
        val r = record(cfg.seed, cfg.keys, id, due)
        val p = partitionOf(r.key, cfg.partitions)
        val s0 = Trace.nowNs()
        lateMax.accumulateAndGet(System.currentTimeMillis() - due, math.max)
        hints(p) = BrokerLog.produce(root, origin, p, r, hints(p)) + 1
        val s1 = Trace.nowNs()
        produceMs(id.toInt) = (s1 - s0) / 1e6
        Trace.span(s"open-t$id-r0", "kafkalike.produce", "", s0, s1)
        id += 1
      }
    }, "perfbench-generator")
    val rangeMs = mutable.ArrayBuffer.empty[Double]
    var backlogMax = 0L
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val consumed = q.recentProgress.map(_.numInputRows).sum
        val s0 = System.nanoTime()
        val ends = Seq(origin, "open-retry").map { t =>
          (0 until cfg.partitions).map { p =>
            val r0 = System.nanoTime()
            val e = BrokerLog.offsetRange(root, t, p)._2
            rangeMs += (System.nanoTime() - r0) / 1e6 // read after join
            e
          }.sum
        }.sum
        backlogMax = math.max(backlogMax, ends - consumed)
        LockSupport.parkNanos(math.max(0L, 1000000000L - (System.nanoTime() - s0)))
      }
    }, "perfbench-sampler")
    gen.start()
    sampler.start()
    val openTs =
      try Streams.runUntil(q, seconds + 60.0)(!gen.isAlive && settled(q, total))
      finally { sampling = false; gen.join(); sampler.join() }
    val (openAcct, due, end, retried) = settle(openTs, total)
    val latRaw = Stats.latenciesFromDue(due, end)
    val lat = Stats.sortedOf(latRaw)
    val depthEnd = depth(origin).toDouble / cfg.partitions
    val retryWritten = depth("open-retry")

    // closed-loop drain: a fresh checkpoint reads the whole origin log from
    // earliest with no producer running; traced runs first drain once
    // untraced, the baseline of the tracing overhead
    def drain(phase: String): (Seq[Streams.Trigger], Stats.Accounting, Double) = {
      topics(origin, phase)
      val dq = start(spark, cfg, root, origin, phase, ckpt())
      val ts = Streams.runUntil(dq, 120)(settled(dq, total))
      val (acct, _, _, _) = settle(ts, total)
      val wallMs = ts.map(_.commitEndMs).max - ts.map(_.startMs).min
      (ts, acct, ts.map(_.rows).sum * 1000.0 / math.max(1L, wallMs))
    }
    val untracedTps =
      if (!Trace.on) 0.0
      else { Trace.on = false; try drain("drain0")._3 finally Trace.on = true }
    val drains = (1 to cfg.drainReps).map(r => drain(s"drain$r"))
    val w1 = JvmBox.now()

    // the no-Spark baseline: one thread reading and decoding the same log
    val r0 = System.nanoTime()
    var read = 0L
    (0 until cfg.partitions).foreach { p =>
      val (from, until) = BrokerLog.offsetRange(root, origin, p)
      BrokerLog.readLazy(root, origin, p, from, until).foreach { case (_, rec) =>
        MetaCodec.decode(rec.headers.find(_._1 == TaskMetadata.HeaderKey).get._2)
        read += 1
      }
    }
    val readTps = read / ((System.nanoTime() - r0) / 1e9)
    require(read == total, s"baseline read $read of $total records")

    val drainTps = Stats.median(drains.map(_._3))
    val acct = (openAcct +: drains.map(_._2)).reduce(_ + _)
    require(lat.length >= 1000, s"only ${lat.length} latency samples; p99 needs 1000")
    val window = w0.window(w1, JvmBox.peakThreads())
    val prod = Stats.sortedOf(produceMs)
    val ranges = Stats.sortedOf(rangeMs)
    val allTs = openTs ++ drains.flatMap(_._1)
    val e2e = Map(
      "setup_s" -> setupS,
      "cpu_s" -> window("cpu_s"),
      "latency_p50_ms" -> Stats.slicedQuantile(due, latRaw, 0.5),
      "latency_p99_ms" -> Stats.slicedQuantile(due, latRaw, 0.99),
      "drain_tasks_per_s" -> drainTps)
    val layer = Map(
      "kafkalike.produce_ms_p50" -> Stats.quantile(prod, 0.5),
      "kafkalike.produce_ms_p99" -> Stats.quantile(prod, 0.99),
      "kafkalike.offset_range_ms_p50" -> (if (ranges.isEmpty) 0.0 else Stats.quantile(ranges, 0.5)),
      "kafkalike.backlog_max" -> backlogMax.toDouble,
      "kafkalike.depth_end" -> depthEnd,
      "kafkalike.retry_written_per_requested" -> (if (retried == 0) 0.0 else retryWritten.toDouble / retried),
      "kafkalike.read_tasks_per_s" -> readTps,
      "api.processed" -> allTs.map(_.rows).sum.toDouble,
      "api.retry" -> retried.toDouble,
      "bench.gen_late_ms_max" -> lateMax.get.toDouble,
      "bench.trace_overhead_frac" -> (if (untracedTps > 0) untracedTps / drainTps - 1.0 else 0.0)
    ) ++ Streams.triggerMetrics(allTs)
    Outcome(e2e, layer ++ window.removed("cpu_s"), acct,
      spans = openTs.flatMap(Streams.triggerSpans("open", _)) ++
        drains.zipWithIndex.flatMap { case (d, i) => d._1.flatMap(Streams.triggerSpans(s"drain${i + 1}", _)) },
      diag = Map(
        "latency_samples" -> lat.length.toDouble,
        "latency_p50_ms_whole" -> Stats.quantile(lat, 0.5),
        "latency_p99_ms_whole" -> Stats.quantile(lat, 0.99),
        "latency_tail_rule" -> Stats.tailQuantile(lat.length).getOrElse(0.0),
        "open_tasks" -> total.toDouble,
        "open_triggers" -> openTs.size.toDouble,
        "drain_reps_tasks_per_s" -> drains.map(_._3).mkString(","),
        "setup_session_s" -> setup0,
        "setup_cycles_s" -> cycles.mkString(",")))
  }
}
