package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.Bench.BoxStat

/** Process-wide recorders shared by the driver side and the (in-process,
  * local-mode) executor side of a run. Spans and per-layer samples are only
  * recorded while [[on]] is set, which is the `--trace 1` run.
  */
object Trace {
  @volatile var on: Boolean = false
  /** Epoch-anchored monotonic clock, so bench-timed spans (nanoTime) and
    * Spark's progress timestamps (epoch millis) share one axis.
    */
  private val originNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = System.nanoTime() + originNs
  val spans = new ConcurrentLinkedQueue[Stats.Span]()
  private val samples =
    new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[java.lang.Double]]()

  def span(trace: String, name: String, parent: String, startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Stats.Span(trace, name, parent, startNs, endNs))

  def sample(name: String, v: Double): Unit =
    if (on) samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[java.lang.Double]()).add(v)

  def sampled(name: String): Array[Double] =
    Option(samples.get(name)).map(q => Stats.sortedOf(q.asScala.map(_.doubleValue)))
      .getOrElse(Array.empty)

  /** Catalyst/execution tap of a traced run, zeroed with the recorders. */
  @volatile var tap: Option[PlanTap] = None

  def reset(): Unit = { spans.clear(); samples.clear(); tap.foreach(_.reset()) }
}

/** JVM and box state at one instant; `minus` gives a window's deltas. */
final case class JvmBox(
    wallNs: Long, cpuNs: Long, gcMs: Long, jitMs: Long, allocBytes: Long, box: BoxStat) {
  def window(end: JvmBox, threadsPeak: Int): Map[String, Double] = {
    val d = end.box.minus(box)
    Map(
      "cpu_s" -> (end.cpuNs - cpuNs) / 1e9,
      "jvm.gc_ms" -> (end.gcMs - gcMs).toDouble,
      "jvm.jit_ms" -> (end.jitMs - jitMs).toDouble,
      "jvm.alloc_mb" -> math.max(0L, end.allocBytes - allocBytes) / 1048576.0,
      "jvm.threads_peak" -> threadsPeak.toDouble,
      "box.steal_frac" -> (if (d.totalTicks > 0) d.stealTicks.toDouble / d.totalTicks else 0.0),
      "box.throttled_ms" -> d.throttledUsec / 1000.0)
  }
}

object JvmBox {
  private val threads = ManagementFactory.getThreadMXBean

  def now(): JvmBox = JvmBox(
    System.nanoTime(),
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    },
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L),
    threads match {
      // live threads only; a thread that dies inside the window drops out
      case tm: com.sun.management.ThreadMXBean =>
        tm.getThreadAllocatedBytes(tm.getAllThreadIds).filter(_ > 0).sum
      case _ => 0L
    },
    graft.Bench.boxStat())

  def resetPeakThreads(): Unit = threads.resetPeakThreadCount()
  def peakThreads(): Int = threads.getPeakThreadCount

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    scala.util.Try {
      val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
        .asScala.find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
}

/** Catalyst phases and execution work of every query a window runs (the
  * pipeline each foreachBatch plans and runs, the retry writes), from one
  * QueryExecutionListener and one SparkListener. Installed in traced runs.
  */
final class PlanTap(spark: org.apache.spark.sql.SparkSession) {
  import java.util.concurrent.atomic.LongAdder
  import org.apache.spark.scheduler._
  private val sums = Seq("analysis", "optimization", "planning", "run", "jobs", "stages",
    "tasks", "shuffle_read", "shuffle_write", "spill").map(_ -> new LongAdder).toMap

  spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
    def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      qe.tracker.phases.foreach { case (phase, s) => sums.get(phase).foreach(_.add(s.durationMs)) }
      sums("run").add(durationNs / 1000000L)
    }
    def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  })
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = sums("jobs").increment()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = sums("stages").increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      sums("tasks").increment()
      Option(e.taskMetrics).foreach { m =>
        sums("shuffle_read").add(m.shuffleReadMetrics.totalBytesRead)
        sums("shuffle_write").add(m.shuffleWriteMetrics.bytesWritten)
        sums("spill").add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  })

  def reset(): Unit = sums.values.foreach(_.reset())

  /** Window totals; listener buses are asynchronous, so give them a moment. */
  def metrics(): Map[String, Double] = {
    Thread.sleep(300)
    def mb(k: String) = sums(k).sum / 1048576.0
    Map(
      "catalyst.analyze_ms" -> sums("analysis").sum.toDouble,
      "catalyst.optimize_ms" -> sums("optimization").sum.toDouble,
      "catalyst.plan_ms" -> sums("planning").sum.toDouble,
      "exec.run_ms" -> sums("run").sum.toDouble,
      "exec.jobs" -> sums("jobs").sum.toDouble,
      "exec.stages" -> sums("stages").sum.toDouble,
      "exec.tasks" -> sums("tasks").sum.toDouble,
      "exec.shuffle_read_mb" -> mb("shuffle_read"),
      "exec.shuffle_write_mb" -> mb("shuffle_write"),
      "exec.spill_mb" -> mb("spill"))
  }
}
