package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{ConsumedRecord, Task, TaskExtractor, TaskMetadata}

/** Outcome of processing one task — the tri-state the reference spreads
  * across completion/retry/discard paths (`ProcessingContextImpl.retry:172-183`,
  * `ProcessPipeline.java:79-91,145-184`). In the micro-batch model every row is
  * exactly one of these per batch; the batch barrier is the completion
  * watermark (SURVEY.md §2.3 T4, §2.5 O1).
  */
sealed trait ProcessResult[+T] extends Serializable
object ProcessResult {
  /** Task processed; offset completes (auto-complete on return, T1). */
  final case class Processed[T](value: T) extends ProcessResult[T]
  /** Task re-queued to the retry topic with `retry_count+1` (E1). */
  case object Retry extends ProcessResult[Nothing]
  /** Poison record dropped; offset still completes (E2). */
  case object Discard extends ProcessResult[Nothing]
}

/** Record-at-a-time processor SPI — the Spark-native `DecatonProcessor<T>`
  * (`processor/.../DecatonProcessor.java:20-45`). Runs inside `mapPartitions`;
  * throwing is equivalent to the reference's uncaught-error policy (E3): the
  * record is counted as an error and its offset completes without retry.
  */
trait RecordProcessor[T, U] extends Serializable {
  def process(task: Task[T]): ProcessResult[U]
}

/** The dataflow-pipeline builder: Spark-native form of
  * `ProcessorsBuilder.consuming(topic, deser).thenProcess(...)`
  * (`processor/.../ProcessorsBuilder.java:70-141`).
  *
  * A pipeline wraps a `Dataset[Task[T]]`; stages compose lazily as Dataset
  * transforms so Catalyst sees the whole plan. Per-key ordering (O2) is a
  * property of how the pipeline is keyed, not of a thread pool: equal keys
  * hash to the same shuffle partition exactly as the reference's
  * `DefaultSubPartitioner` routes equal keys to the same worker queue
  * (`processor/.../internal/DefaultSubPartitioner.java:26-58`).
  */
final class TaskPipeline[T](val tasks: Dataset[Task[T]])(implicit val enc: Encoder[Task[T]]) {

  /** Append a whole-Dataset stage (the common, Catalyst-visible case: T2). */
  def thenTransform(stage: Dataset[Task[T]] => Dataset[Task[T]]): TaskPipeline[T] =
    new TaskPipeline(stage(tasks))

  /** Append a record-at-a-time processor with tri-state results. Errors follow
    * the reference policy E3: counted, offset completed, no auto-retry.
    * Returns (processed, retries, discarded+errored counts are observable on
    * the processed stream via the `graft.*` metrics columns).
    */
  def thenProcess[U](p: RecordProcessor[T, U])(
      implicit encU: Encoder[Task[U]]): ProcessedStreams[T, U] =
    thenProcessTraced(p, TracingProvider.Noop)

  /** [[thenProcess]] with a tracing span per task (the reference's
    * `TracingProvider` hook): the span opens before `process` and closes
    * with the outcome tag, executor-side, including the uncaught-error path.
    */
  def thenProcessTraced[U](p: RecordProcessor[T, U], tracing: TracingProvider)(
      implicit encU: Encoder[Task[U]]): ProcessedStreams[T, U] = {
    implicit val encEither: Encoder[(Int, Task[U], Task[T])] =
      Encoders.tuple(Encoders.scalaInt, encU, enc)
    // One pass, one shuffle-free mapPartitions; the tri-state is encoded in a
    // tag column so downstream splits are cheap column filters.
    val tagged = tasks.mapPartitions { it =>
      it.map { task =>
        // tracing can never corrupt the data path: a throwing traceStart
        // degrades to a noop span instead of failing the Spark task
        val span =
          try tracing.traceStart(task)
          catch { case scala.util.control.NonFatal(_) => TracingProvider.Noop.traceStart(task) }
        val out =
          try {
            p.process(task) match {
              case ProcessResult.Processed(v) =>
                (TaskPipeline.TagProcessed, Task(task.metadata, task.key, v), task)
              case ProcessResult.Retry   => (TaskPipeline.TagRetry, null.asInstanceOf[Task[U]], task)
              case ProcessResult.Discard => (TaskPipeline.TagDiscard, null.asInstanceOf[Task[U]], task)
            }
          } catch {
            // E3: uncaught processor error — complete the offset, count it.
            case scala.util.control.NonFatal(_) =>
              (TaskPipeline.TagError, null.asInstanceOf[Task[U]], task)
          }
        // close OUTSIDE the try, exactly once, and guarded: a throwing span
        // reporter must not reclassify a processed task as an error (or drop
        // its output) — tracing can never corrupt the data path
        try span.close(TaskPipeline.stateName(out._1))
        catch { case scala.util.control.NonFatal(_) => () }
        out
      }
    }
    new ProcessedStreams(tagged)
  }

  /** F1 key blocking: drop tasks whose key is in the ignore list; offsets of
    * dropped records still advance (`BlacklistedKeysFilter.java:32-58`).
    * Small lists fold into the scan as an `isin` predicate.
    */
  def blockKeys(keys: Seq[Array[Byte]]): TaskPipeline[T] = {
    val keySet = keys.map(_.toSeq).toSet
    // null keys pass through (the reference's filter only matches concrete
    // blocked keys; one null-key record must not NPE the whole job)
    thenTransform(_.filter((t: Task[T]) => t.key == null || !keySet.contains(t.key.toSeq)))
  }

  /** C1 scheduled execution, batch form: only tasks whose
    * `scheduled_time_millis <= asOfMillis` are due ("at least after, not
    * exactly at" — `decaton.proto:18-21`); the rest stay queued for a later
    * trigger.
    */
  def dueBy(asOfMillis: Long): TaskPipeline[T] =
    thenTransform(_.filter((t: Task[T]) => t.metadata.scheduledTimeMillis <= asOfMillis))

  /** O2: co-locate equal keys (hash shuffle), ordering each partition by
    * production time, then arrival — the batch equivalent of per-key FIFO
    * queues. Each key's tasks run in timestamp order, ties in the order they
    * arrived; different keys interleave as they do in the reference's fetch
    * (offset) order (`DefaultSubPartitioner.java:26-58`). Clustering by key
    * instead would stall an in-order async window
    * ([[graft.streaming.AsyncProcessing]]) on each whole same-key chain.
    *
    * Null/empty keys have no ordering contract in the reference and are
    * routed round-robin (`RoundRobinSubPartitioner.java:26-44`) so a hot
    * null-key stream can't pin one worker; here they scatter by their arrival
    * sequence instead of all hashing to the null partition.
    */
  def orderedPerKey(numPartitions: Int): TaskPipeline[T] = {
    require(numPartitions > 0, s"numPartitions must be positive, got $numPartitions")
    thenTransform { ds =>
      // assigned before the shuffle, so it records each row's input position
      val arrival = col("__arrival")
      val spread = when(col("key").isNull || length(col("key")) === 0,
        pmod(arrival, lit(numPartitions)).cast("string").cast("binary"))
        .otherwise(col("key"))
      ds.withColumn("__arrival", monotonically_increasing_id())
        .repartition(numPartitions, spread)
        .sortWithinPartitions(col("metadata.timestampMillis"), arrival)
        .drop("__arrival")
        .as[Task[T]](enc)
    }
  }
}

object TaskPipeline {
  val TagProcessed = 0
  val TagRetry = 1
  val TagDiscard = 2
  val TagError = 3

  private val log = org.slf4j.LoggerFactory.getLogger("graft.api.TaskPipeline")

  /** One poison-drop counter per SparkContext, named so it surfaces in the
    * Spark UI's accumulator table — extraction failures are counted, not just
    * logged, matching the reference's task-metrics posture (E2;
    * `ProcessPipeline.java` counts extraction errors in its metrics family).
    * Entries for stopped contexts are swept on the next lookup.
    */
  private val poisonAccs =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.SparkContext,
      org.apache.spark.util.LongAccumulator]()

  def poisonCounter(spark: SparkSession): org.apache.spark.util.LongAccumulator = {
    val it = poisonAccs.keySet.iterator()
    while (it.hasNext) if (it.next().isStopped) it.remove()
    poisonAccs.computeIfAbsent(spark.sparkContext, sc => sc.longAccumulator("graft.tasks.poison"))
  }

  def stateName(tag: Int): String = tag match {
    case TagProcessed => "processed"
    case TagRetry => "retry"
    case TagDiscard => "discard"
    case _ => "error"
  }

  /** Entry point mirroring `ProcessorsBuilder.consuming(topic, extractor)`.
    * `records` must have the ConsumedRecord column shape (Kafka source schema
    * or the batch surrogate from [[graft.sources.TaskSource]]).
    *
    * A record the extractor CANNOT parse is poison, not fatal: it is logged
    * with its (topic, partition, offset) coordinates and dropped, and its
    * offset completes with the batch — the reference catches extraction
    * errors, completes the offset and counts the record instead of crashing
    * the subscription (E2; `ProcessPipeline.extract` error handling). One
    * corrupt record among 100 TB must not kill the job. Fatal JVM errors
    * still propagate.
    */
  def consuming[T](records: Dataset[ConsumedRecord], extractor: TaskExtractor[T])(
      implicit enc: Encoder[Task[T]]): TaskPipeline[T] = {
    val poison = poisonCounter(records.sparkSession)
    new TaskPipeline(records.mapPartitions(_.flatMap { r =>
      try Iterator.single(extractor.extract(r))
      catch {
        case scala.util.control.NonFatal(e) =>
          poison.add(1L)
          log.warn("poison record dropped at {}/{}@{}: {}", r.topic,
            r.partition.asInstanceOf[AnyRef], r.offset.asInstanceOf[AnyRef], e)
          Iterator.empty
      }
    }))
  }
}

/** Result of a tri-state processing stage: split views over one tagged pass.
  * The views are lazy projections of the same tagged dataset; materializing
  * SEVERAL of them re-executes the processor unless you call [[persist]]
  * first (or use [[dispositions]] for single-pass accounting).
  */
final class ProcessedStreams[T, U](tagged: Dataset[(Int, Task[U], Task[T])]) {
  import TaskPipeline._

  /** Persist the tagged pass so multiple view materializations share one
    * processor execution. Returns this for chaining; pair with [[unpersist]].
    */
  def persist(level: org.apache.spark.storage.StorageLevel): this.type = {
    tagged.persist(level); this
  }
  def unpersist(): this.type = { tagged.unpersist(); this }

  /** Disposition counters — the reference's `tasks.processed` /
    * `tasks.discarded` / `tasks.error` metrics family (`ProcessPipeline
    * .java:79-91,145-184` increments; metrics doc `docs/monitoring.adoc`).
    * One aggregation pass; call per micro-batch inside foreachBatch for
    * streaming metrics. Keys are exactly the [[TaskPipeline.stateName]]
    * values ("processed" | "retry" | "discard" | "error") — the same strings
    * [[dispositions]], tracing spans and [[graft.metrics.TaskMetrics]]
    * consume, so accounting built on one surface joins against the other
    * without a silent key mismatch.
    */
  def counts: Map[String, Long] = {
    implicit val ie: org.apache.spark.sql.Encoder[Int] = Encoders.scalaInt
    val byTag = tagged.groupByKey(_._1).count().collect().toMap
    Map(
      "processed" -> byTag.getOrElse(TagProcessed, 0L),
      "retry" -> byTag.getOrElse(TagRetry, 0L),
      "discard" -> byTag.getOrElse(TagDiscard, 0L),
      "error" -> byTag.getOrElse(TagError, 0L))
  }

  /** One-pass disposition view: (state, original task) for EVERY input row —
    * including errors — so downstream accounting never re-executes the
    * processor per split. Prefer this over combining several of the filtered
    * views below when you need more than one of them materialized.
    */
  def dispositions(implicit encT: Encoder[Task[T]]): Dataset[(String, Task[T])] = {
    implicit val enc: Encoder[(String, Task[T])] = Encoders.tuple(Encoders.STRING, encT)
    tagged.map(x => (TaskPipeline.stateName(x._1), x._3))
  }

  def processed(implicit encU: Encoder[Task[U]]): Dataset[Task[U]] =
    tagged.filter(_._1 == TagProcessed).map(_._2)

  /** Tasks to re-produce to the retry topic: `retry_count+1`, scheduled time
    * pushed out by the backoff (`DecatonTaskRetryQueueingProcessor.java:60-112`).
    */
  def retries(backoffMillis: Long, nowMillis: Long)(
      implicit encT: Encoder[Task[T]]): Dataset[Task[T]] =
    tagged.filter(_._1 == TagRetry).map { case (_, _, t) =>
      t.copy(metadata = t.metadata.copy(
        retryCount = t.metadata.retryCount + 1,
        scheduledTimeMillis = nowMillis + backoffMillis))
    }

  def discarded(implicit encT: Encoder[Task[T]]): Dataset[Task[T]] =
    tagged.filter(_._1 == TagDiscard).map(_._3)

  def errored(implicit encT: Encoder[Task[T]]): Dataset[Task[T]] =
    tagged.filter(_._1 == TagError).map(_._3)
}
