package graft

import graft.sinks.IndexedParquetSink
import graft.streaming.SyncMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

object IndexedParquetSinkSpec {
  /** Set → the next evaluation of the trip row waits until another
    * write task has finished with rows (its counts are then merged),
    * then throws. JVM singletons, so the local executor's tasks share
    * them instead of each task's closure getting a copy. */
  val armed = new AtomicBoolean(false)
  val writersDone = new AtomicInteger(0)
}

/** The exactly-once sink's write pass: its metrics are counted while the
  * batch is written, so they stay exact when an attempt dies mid-job,
  * and the write reads the batch once, uncached, in at most two jobs. */
class IndexedParquetSinkSpec extends SparkSpec {
  import IndexedParquetSinkSpec.{armed, writersDone}

  /** 4000 docs over 5 indices × 7 apps. */
  private def docs = spark.range(0, 4000).select(col("id").as("msg_id"),
    concat(lit("idx-"), (col("id") % 5).cast("string")).as("index"),
    concat(lit("app-"), (col("id") % 7).cast("string")).as("app"),
    col("id").cast("string").as("data"))

  private def storeCounts(root: String): Map[(String, String), Long] =
    spark.read.parquet(root).groupBy("index", "app").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  /** Jobs started while `body` runs. A fence job before and after it
    * makes sure every job-start event has reached the listener. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def fence(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(name) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen.contains(name), s"listener never saw $name")
    }
    sc.addSparkListener(l)
    try {
      fence("fence-before")
      seen.clear()
      body
      fence("fence-after")
      seen.size - 1
    } finally sc.removeSparkListener(l)
  }

  test("a write attempt that dies mid-job leaks no counts into the marker") {
    val path = s"${Files.createTempDirectory("graft-sink-retry")}/store"
    val trip = udf { (id: Long) =>
      if (id == 3999L && armed.getAndSet(false)) {
        val deadline = System.currentTimeMillis() + 30000
        while (writersDone.get == 0 && System.currentTimeMillis() < deadline)
          Thread.sleep(10)
        throw new RuntimeException("injected task death")
      }
      id % 3 == 0
    }
    val writers = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask" && e.taskInfo.successful &&
            e.taskMetrics.outputMetrics.recordsWritten > 0)
          writersDone.incrementAndGet()
    }
    writersDone.set(0)
    armed.set(true)
    spark.sparkContext.addSparkListener(writers)
    val metrics = try IndexedParquetSink.withRetries(1, label = "sink-spec") { () =>
      IndexedParquetSink.writeBatchExactlyOnce(docs, path, 7L,
        isFailed = Some(trip(col("msg_id"))),
        failedPath = Some(s"$path/_failed"))
    } finally spark.sparkContext.removeSparkListener(writers)
    // the first attempt died after another task had written its rows,
    // and the retry wrote the batch
    assert(!armed.get && writersDone.get > 0)
    assert(SyncMetrics.value("""graft_es_retry_total{sink="sink-spec"}""") >= 1)

    val marker = scala.io.Source.fromFile(s"$path/_commits/7").getLines()
      .filter(_.nonEmpty).map(_.split("\t", -1)).map { f =>
        (f(0), f(1)) -> (f(2).toLong, f(3).toLong)
      }.toMap
    val written = storeCounts(path)
    val failed = storeCounts(s"$path/_failed")
    assert(written.values.sum + failed.values.sum == 4000L)
    assert(marker.map { case (k, (w, _)) => k -> w }.filter(_._2 > 0) == written)
    assert(marker.map { case (k, (_, f)) => k -> f }.filter(_._2 > 0) == failed)
    // the returned metrics are the marker's rows
    assert(metrics.collect().map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(3))).toMap == marker)
  }

  test("one staging write: at most two jobs, metrics collect free, input uncached") {
    Seq(None, Some(col("msg_id") % 3 === 0)).zipWithIndex.foreach {
      case (isFailed, i) =>
        val path = s"${Files.createTempDirectory("graft-sink-jobs")}/store"
        val df = docs
        val jobs = jobsIn {
          IndexedParquetSink.writeBatchExactlyOnce(df, path, i.toLong,
            isFailed, isFailed.map(_ => s"$path/_failed")).collect()
        }
        assert(jobs <= 2, s"isFailed=${isFailed.isDefined}: $jobs jobs")
        assert(df.storageLevel == StorageLevel.NONE)
        assert(spark.read.parquet(path).count() +
          isFailed.fold(0L)(_ => spark.read.parquet(s"$path/_failed").count())
          == 4000L)
    }
  }
}
