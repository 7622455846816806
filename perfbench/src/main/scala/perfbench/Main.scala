package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** What one workload run hands back: end-to-end and per-layer values (raw,
  * unit-less; run.py attaches units from BENCHMARK.json), the correctness
  * ledger, trigger/task spans and run diagnostics.
  */
final case class Outcome(
    e2e: Map[String, Double],
    layer: Map[String, Double],
    acct: Stats.Accounting,
    spans: Seq[Stats.Span],
    diag: Map[String, Any])

/** Benchmark JVM entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --settings <settings.json> --scratch <dir> --out <result.json>
  *  --spans <spans.jsonl.gz>`.
  * Writes one result file; run.py turns it into the contract line.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    Trace.on = args("trace") == "1"
    val scratch = new File(args("scratch")).getAbsolutePath
    val settings = new ObjectMapper().readTree(new File(args("settings")))
    val w = settings.path("workloads").path(workload)
    require(!w.isMissingNode, s"unknown workload $workload")
    val cores = settings.path("cores").asInt(4)

    val spark = Streams.session(cores, scratch)
    if (Trace.on) Trace.tap = Some(new PlanTap(spark))
    val setup0 = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val out =
      try workload match {
        case "stream_async" => StreamAsync.run(spark, asyncCfg(w, seed), seconds, scratch, setup0)
        case "stream_broker" => StreamBroker.run(spark, brokerCfg(w, seed), seconds, scratch, setup0)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } catch { case e: Throwable => spark.stop(); throw e }

    val spans = out.spans ++ Trace.spans.asScala
    val selfMs = Stats.selfTimeByLayer(spans).map { case (k, ns) => k -> ns / 1e6 }
    if (Trace.on) writeSpans(spans, args("spans"))
    def p50(k: String) = { val a = Trace.sampled(k); if (a.isEmpty) 0.0 else Stats.quantile(a, 0.5) }
    val common = Map(
      "sink.batch_ms_p50" -> p50("sink.batch_ms"),
      "api.extract_us_p50" -> p50("api.extract_us"),
      "core.meta_decode_ns_p50" -> p50("core.meta_decode_ns"),
      "api.poison" -> graft.api.TaskPipeline.poisonCounter(spark).value.toDouble
    ) ++ Trace.tap.map(_.metrics()).getOrElse(Map.empty)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> Trace.on,
      "correct" -> out.acct.correct,
      "attempted" -> out.acct.attempted,
      "failed" -> out.acct.failed,
      "mismatches" -> out.acct.mismatches.asJava,
      "e2e" -> (out.e2e ++ Map(
        "ok_frac" -> out.acct.okFrac,
        "rss_peak_mb" -> JvmBox.rssPeakMb())).asJava,
      "layer" -> (out.layer ++ common).asJava,
      "self_ms" -> selfMs.asJava,
      "diag" -> out.diag.asJava)
    spark.stop()
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new File(args("out")), result.asJava)
    System.exit(0)
  }

  private def asyncCfg(w: JsonNode, seed: Long) = StreamAsync.Cfg(
    seed = seed,
    keys = w.path("keys").asInt(),
    partitions = w.path("partitions").asInt(),
    maxInFlight = w.path("max_in_flight").asInt(),
    hops = w.path("io_hops").asInt(),
    hopMs = w.path("io_hop_ms").asLong(),
    openRowsPerS = w.path("open_rows_per_s").asInt(),
    drainRowsPerBatch = w.path("drain_rows_per_trigger").asInt(),
    drainBatches = w.path("drain_triggers").asInt(),
    drainGroups = w.path("drain_groups").asInt(),
    warmups = w.path("setup_cycles").asInt(),
    warmupBatches = w.path("setup_cycle_triggers").asInt())

  private def brokerCfg(w: JsonNode, seed: Long) = StreamBroker.Cfg(
    seed = seed,
    keys = w.path("keys").asInt(),
    partitions = w.path("topic_partitions").asInt(),
    orderedPartitions = w.path("partitions").asInt(),
    produceRatePerS = w.path("open_produce_per_s").asInt(),
    openTriggerMs = w.path("open_trigger_ms").asLong(),
    retryPct = w.path("retry_pct").asInt(),
    maxOffsetsPerTrigger = w.path("max_offsets_per_trigger").asLong(),
    drainReps = w.path("drain_reps").asInt(),
    warmups = w.path("setup_cycles").asInt(),
    warmupTasks = w.path("setup_cycle_tasks").asInt())

  /** Spans as gzipped JSON lines: trace, name, parent, start/end (epoch ns). */
  private def writeSpans(spans: Iterable[Stats.Span], path: String): Unit = {
    val out = new java.io.PrintWriter(new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(Paths.get(path))))
    try spans.foreach { s =>
      out.println(s"""{"trace":"${s.trace}","name":"${s.name}","parent":"${s.parent}","start":${s.startNs},"end":${s.endNs}}""")
    } finally out.close()
  }
}
