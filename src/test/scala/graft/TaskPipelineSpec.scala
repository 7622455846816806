package graft

import org.apache.spark.sql.functions._

import graft.api._
import graft.core._
import graft.sources.TaskSource

class TaskPipelineSpec extends SparkTestBase {

  private def pipeline() = {
    import spark.implicits._
    val records = TaskSource.fromEvents(spark, sfDir)
    val extractor = new TaskExtractor[String] {
      def extract(r: ConsumedRecord): Task[String] = Task(
        TaskMetadata(timestampMillis = r.timestampMillis),
        r.key,
        if (r.value == null) null else new String(r.value, "UTF-8"))
    }
    TaskPipeline.consuming(records, extractor)
  }

  test("consuming + extraction yields one task per record") {
    assert(pipeline().tasks.count() == Tables.events(spark, sfDir).count())
  }

  test("a throwing extractor is poison-discard, not job-fatal (E2 on the SPI path)") {
    import spark.implicits._
    val records = TaskSource.fromEvents(spark, sfDir)
    val total = records.count()
    val poisoned = TaskPipeline.consuming(records, new TaskExtractor[String] {
      def extract(r: ConsumedRecord): Task[String] = {
        // every key ending in 7 is "corrupt wire format"
        if (new String(r.key, "UTF-8").endsWith("7"))
          throw new IllegalArgumentException("unparseable payload")
        Task(TaskMetadata(timestampMillis = r.timestampMillis), r.key,
          new String(r.value, "UTF-8"))
      }
    })
    val corrupt = records.filter(r => new String(r.key, "UTF-8").endsWith("7")).count()
    assert(corrupt > 0, "fixture should contain keys ending in 7")
    // one corrupt record must not kill the job; the rest extract normally
    assert(poisoned.tasks.count() == total - corrupt)
    assert(poisoned.tasks.filter(t => new String(t.key, "UTF-8").endsWith("7")).count() == 0)
  }

  test("poison drops are COUNTED in the graft.tasks.poison accumulator, not just logged") {
    import spark.implicits._
    val records = TaskSource.fromEvents(spark, sfDir)
    val acc = TaskPipeline.poisonCounter(spark)
    val before = acc.value
    val poisoned = TaskPipeline.consuming(records, new TaskExtractor[String] {
      def extract(r: ConsumedRecord): Task[String] = {
        if (new String(r.key, "UTF-8").endsWith("7"))
          throw new IllegalArgumentException("unparseable payload")
        Task(TaskMetadata(timestampMillis = r.timestampMillis), r.key,
          new String(r.value, "UTF-8"))
      }
    })
    poisoned.tasks.count()
    val corrupt = records.filter(r => new String(r.key, "UTF-8").endsWith("7")).count()
    assert(corrupt > 0)
    // the reference counts extraction failures in its metrics family —
    // monitoring must see dropped records (ADVICE r13)
    assert(acc.value - before == corrupt,
      s"accumulator must count every poison drop: ${acc.value - before} vs $corrupt")
  }

  test("blockKeys drops exactly the ignored keys and nothing else") {
    import spark.implicits._
    val all = pipeline()
    val blockedKey = "1".getBytes("UTF-8")
    val remaining = all.blockKeys(Seq(blockedKey)).tasks
    val droppedCount = all.tasks.filter(_.key.toSeq == blockedKey.toSeq).count()
    assert(droppedCount > 0, "fixture should contain key '1'")
    assert(remaining.count() == all.tasks.count() - droppedCount)
    assert(remaining.filter(_.key.toSeq == blockedKey.toSeq).count() == 0)
  }

  test("tri-state processing splits processed/retry/discard/error disjointly") {
    import spark.implicits._
    val p = pipeline().thenProcess(new RecordProcessor[String, Int] {
      def process(t: Task[String]): ProcessResult[Int] = {
        val k = new String(t.key, "UTF-8").toLong
        if (k % 10 == 0) ProcessResult.Discard
        else if (k % 10 == 1) ProcessResult.Retry
        else if (k % 10 == 2) throw new RuntimeException("boom") // E3 path
        else ProcessResult.Processed(t.value.length)
      }
    })
    val total = pipeline().tasks.count()
    val now = 1706659200000L
    val n = p.processed.count() + p.retries(100L, now).count() +
      p.discarded.count() + p.errored.count()
    assert(n == total)
    // retry mutation: count+1 and scheduled in the future
    val r = p.retries(100L, now).collect()
    assert(r.nonEmpty)
    r.foreach { t =>
      assert(t.metadata.retryCount == 1L)
      assert(t.metadata.scheduledTimeMillis == now + 100L)
    }
  }

  test("dueBy filters to tasks whose scheduled time has arrived") {
    import spark.implicits._
    val base = pipeline()
    val withSched = base.thenTransform(_.map { t =>
      t.copy(metadata = t.metadata.copy(
        scheduledTimeMillis = t.metadata.timestampMillis))
    }(base.enc))
    val cutoff = 1705363200000L
    val due = withSched.dueBy(cutoff).tasks.count()
    val expected = withSched.tasks.filter(_.metadata.scheduledTimeMillis <= cutoff).count()
    assert(due == expected && due > 0)
  }

  test("orderedPerKey co-locates and orders each key's tasks") {
    // newest first: arrival runs against production time, so only the
    // timestamp sort can put each key's tasks back in order
    val parts = pipeline().thenTransform(_.sort(col("metadata.timestampMillis").desc))
      .orderedPerKey(4).tasks.rdd
      .map(t => (new String(t.key, "UTF-8"), t.metadata.timestampMillis)).glom().collect()
    // each key lands in exactly one partition
    val homes = parts.toSeq.flatMap(_.map(_._1).distinct)
    assert(homes.size == homes.distinct.size, "a key spread over partitions")
    assert(homes.size < parts.map(_.length).sum, "fixture needs keys with several tasks")
    // within its partition, each key's timestamps never go backwards, however
    // far apart its tasks sit
    val violations = parts.map { p =>
      val last = scala.collection.mutable.Map.empty[String, Long]
      p.count { case (k, ts) =>
        val bad = last.get(k).exists(_ > ts)
        last(k) = ts
        bad
      }
    }.sum
    assert(violations == 0)
  }

  test("orderedPerKey keeps arrival order when every task shares one timestamp") {
    import spark.implicits._
    // the shape of a rate-micro-batch drain: one input partition, one
    // timestamp, consecutive tasks on different keys
    val tasks = spark.createDataset((0 until 400).map { i =>
      Task(TaskMetadata(timestampMillis = 1000L), s"k${i * 7 % 13}".getBytes("UTF-8"), i.toLong)
    }).coalesce(1)
    val parts = new TaskPipeline(tasks).orderedPerKey(4).tasks.rdd
      .map(t => (new String(t.key, "UTF-8"), t.value)).glom().collect()
    assert(parts.map(_.length).sum == 400)
    assert(parts.map(_.map(_._1).distinct.length).sum == 13, "a key spread over partitions")
    // each partition in arrival order: every key's tasks in input order, and
    // keys interleaved rather than grouped
    parts.foreach { p =>
      val ids = p.map(_._2).toSeq
      assert(ids == ids.sorted, s"not in arrival order: ${ids.take(20)}")
    }
  }
}
