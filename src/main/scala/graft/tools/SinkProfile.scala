package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Measurement aid (guide §1: read the event stream, not the code):
  * runs one named query end to end with a job-level listener attached
  * and prints every Spark job's duration + description, then the total.
  * Used to count jobs per micro-batch in the streaming sink protocol
  * (r14 verdict #2/#3) — the listener is on the shared SparkContext, so
  * jobs submitted by the replay twin's cloned session are captured too.
  *
  * Usage: runMain graft.tools.SinkProfile <query> [reps]
  * (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench).
  */
object SinkProfile {
  def main(args: Array[String]): Unit = {
    val query = args.headOption.getOrElse("sync_pipeline_stream")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-sink-profile")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir",
        graft.operators.Scratch.tempDir("graft-spark-local"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class J(id: Int, start: Long, var end: Long = -1L,
        var desc: String = "")
    val jobs = new scala.collection.concurrent.TrieMap[Int, J]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, J(e.jobId, e.time, desc = d))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
    })

    // warm-up rep (JIT/codegen), not reported
    SparkEntryRef.run(spark, sfDir, query)
    (1 to reps).foreach { rep =>
      jobs.clear()
      val t0 = System.nanoTime()
      SparkEntryRef.run(spark, sfDir, query)
      val wall = (System.nanoTime() - t0) / 1e9
      // give the listener bus a moment to drain
      Thread.sleep(300)
      val js = jobs.values.toSeq.sortBy(_.id)
      val jobTotal = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
      println(f"== $query rep $rep: wall $wall%.3f s, ${js.size} jobs, job-time sum $jobTotal%.3f s ==")
      js.foreach { j =>
        val dur = if (j.end >= 0) (j.end - j.start) / 1e3 else -1.0
        println(f"  job ${j.id}%4d ${dur}%8.3f s  ${j.desc.take(110)}")
      }
    }
    spark.stop()
  }
}

/** Indirection so the tool never holds a stale copy of the query map. */
private object SparkEntryRef {
  def run(spark: SparkSession, sfDir: String, query: String): Long =
    graft.SparkEntry.queries(query)(spark, sfDir).count()
}
