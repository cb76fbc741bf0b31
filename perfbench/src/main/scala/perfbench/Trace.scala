package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Executor-side totals of the tasks of one or more Spark jobs. */
final case class TaskTotals(
    jobs: Int = 0,
    tasks: Long = 0,
    runMs: Long = 0,
    cpuMs: Double = 0,
    gcMs: Long = 0,
    shuffleBytes: Long = 0,
    spillBytes: Long = 0,
    jobMs: Long = 0,
    /** tasks of the widest stage */
    widest: Long = 0) {
  def +(o: TaskTotals): TaskTotals = TaskTotals(jobs + o.jobs, tasks + o.tasks,
    runMs + o.runMs, cpuMs + o.cpuMs, gcMs + o.gcMs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes, jobMs + o.jobMs,
    math.max(widest, o.widest))
}

/** One finished Spark job: wall interval (driver clock, ms) and its tasks. */
final case class JobRecord(id: Int, startMs: Long, endMs: Long, totals: TaskTotals)

/** Collects every Spark job with the metrics of its tasks. Jobs are later
  * attributed to spans by time interval, not by call site: every job of a
  * `foreachBatch` body reports the same call site. */
final class JobRecorder extends SparkListener {
  private val stageOfJob = mutable.Map[Int, Seq[Int]]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageTotals = mutable.Map[Int, TaskTotals]()
  private val done = mutable.ArrayBuffer[JobRecord]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    stageOfJob(e.jobId) = e.stageIds
    jobStart(e.jobId) = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = TaskTotals(tasks = 1, runMs = m.executorRunTime,
        cpuMs = m.executorCpuTime / 1e6, gcMs = m.jvmGCTime,
        shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
      stageTotals(e.stageId) = stageTotals.getOrElse(e.stageId, TaskTotals()) + t
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val start = jobStart.remove(e.jobId).getOrElse(e.time)
    val stages = stageOfJob.remove(e.jobId).getOrElse(Nil)
    val t = stages.flatMap(stageTotals.remove).map(s => s.copy(widest = s.tasks))
      .foldLeft(TaskTotals())(_ + _)
    done += JobRecord(e.jobId, start, e.time,
      t.copy(jobs = 1, jobMs = e.time - start))
  }

  def jobs: Seq[JobRecord] = synchronized(done.toList)
}

/** Planning time of every query execution, from the phase tracker. */
final class PlanRecorder extends QueryExecutionListener {
  private val done = mutable.ArrayBuffer[(Long, Double)]()
  private def record(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    synchronized(done += ((System.currentTimeMillis(), ms.toDouble)))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  /** Sum of planning ms of executions that finished inside `[from, to]`. */
  def within(from: Long, to: Long): Double =
    synchronized(done.filter(p => p._1 >= from && p._1 <= to).map(_._2).sum)
}

/** A timed call: name, wall interval (ms) and the span that caused it. */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long) {
  def ms: Long = endMs - startMs
}

/** In-memory span recorder. Spans are opened and closed on the driver
  * thread in strict nesting, so the innermost span holding a job's
  * interval is well defined. */
final class Tracer {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List(-1)

  def span[T](name: String)(f: => T): T = {
    val id = spans.size
    spans += Span(id, name, stack.head, System.currentTimeMillis(), -1)
    stack = id :: stack
    try f
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endMs = System.currentTimeMillis())
    }
  }

  def all: Seq[Span] = spans.toList

  /** Innermost span whose interval holds the job's whole interval. */
  def owner(j: JobRecord): Option[Span] =
    spans.filter(s => s.startMs <= j.startMs && j.endMs <= s.endMs)
      .sortBy(s => -depth(s)).headOption

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  /** Self time: the span's duration minus what its child spans cover. */
  def selfMs(s: Span): Long = s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  /** Task totals of the jobs each span owns directly. */
  def attribute(jobs: Seq[JobRecord]): Map[Int, TaskTotals] =
    jobs.flatMap(j => owner(j).map(_.id -> j.totals)).groupMapReduce(_._1)(_._2)(_ + _)
}

object Jvm {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}
