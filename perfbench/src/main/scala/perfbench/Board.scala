package perfbench

import org.apache.spark.sql.SparkSession

/** `board`: a closed loop over a fixed subset of `SparkEntry.queries`, one
  * row at a time, against the read-only tables under the data directory.
  * Each row is timed on writing its full result as parquet; the results of
  * the last timed sweep are left in `<work>/board-out/<row>` for `run.py`
  * to fingerprint against the DuckDB oracle outside the timed region. */
object Board {
  val rows: Seq[String] = Seq(
    "dedup_ngram_jaccard_prefix", "curate_daily",
    "q_sessionize_multibatch", "sim_pq_residual", "graph_source_rank",
    "text_tfidf", "sketch_hll_stream", "sync_pipeline", "q1_agg")

  val tables: Seq[String] = Seq("events", "documents", "embeddings", "lineitem")

  private def clearCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One sweep: per-row wall seconds, optionally inside tracer spans. */
  private def sweep(spark: SparkSession, a: Main.Args, tracer: Option[Tracer]): Seq[(String, Double)] =
    rows.map { row =>
      clearCaches(spark)
      val q = graft.SparkEntry.queries(row)
      val t0 = System.nanoTime()
      def body(): Unit = q(spark, a.data).write.mode("overwrite")
        .parquet(s"${a.work}/board-out/$row")
      tracer.fold(body())(_.span(s"queries.$row")(body()))
      row -> (System.nanoTime() - t0) / 1e9
    }

  def run(spark: SparkSession, a: Main.Args, sessionS: Double): Map[String, Any] = {
    val t0 = System.nanoTime()
    tables.foreach(t => spark.read.parquet(s"${a.data}/$t.parquet").count())
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9
    // one cold sweep fills the codegen caches and does the first JIT
    // compiles; the JVM keeps warming for about four more sweeps, which a
    // run cannot afford, so timed sweeps sit at the same place on that
    // slope in every run
    sweep(spark, a, None)
    if (a.trace) traced(spark, a, setupS)
    else {
      // at least two timed sweeps, and whole sweeps until `seconds` have passed
      val done = scala.collection.mutable.ArrayBuffer[Seq[(String, Double)]]()
      def elapsed = done.map(_.map(_._2).sum).sum
      while (done.size < 2 || elapsed < a.seconds)
        done += sweep(spark, a, None)
      val perRow = rows.map(r => r -> Main.median(done.map(_.toMap.apply(r)).toSeq)).toMap
      val sweepS = done.map(_.map(_._2).sum).toSeq
      val boardS = perRow.values.sum
      Map(
        "attempted" -> done.size * rows.size,
        "failed" -> 0,
        "e2e" -> Map(
          "setup_s" -> setupS,
          "board_s" -> boardS,
          "throughput_per_s" -> rows.size / boardS,
          // the slowest row: a figure of its own, not the reciprocal of throughput
          "latency_ms" -> perRow.values.max * 1000),
        "record" -> Map("sweeps_s" -> sweepS, "row_s" -> perRow,
          "sweep_row_s" -> done.map(_.toMap), "settings" -> Main.settings, "rows" -> rows),
        "check" -> Map("board_out" -> s"${a.work}/board-out"))
    }
  }

  /** Traced sweep: each row in a span, with the Spark jobs, tasks, GC,
    * shuffle, spill and planning time that fall inside it. It runs between
    * two untraced sweeps; overhead is its wall time minus their mean, so
    * that warm-up going on across the three sweeps cancels out. */
  private def traced(spark: SparkSession, a: Main.Args, setupS: Double): Map[String, Any] = {
    val before = sweep(spark, a, None).map(_._2).sum
    val jobs = new JobRecorder
    val plans = new PlanRecorder
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    val tracer = new Tracer
    val gc0 = Jvm.gcMs()
    val t0 = System.nanoTime()
    sweep(spark, a, Some(tracer))
    val tracedS = (System.nanoTime() - t0) / 1e9
    val gcMs = Jvm.gcMs() - gc0
    Thread.sleep(500) // listener bus drains the last job events
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    val after = sweep(spark, a, None).map(_._2).sum
    val untraced = (before + after) / 2
    val byspan = tracer.attribute(jobs.jobs)
    val layers = tracer.all.flatMap { s =>
      val t = byspan.getOrElse(s.id, TaskTotals())
      Seq(s"${s.name}.s" -> s.ms / 1000.0, s"${s.name}.jobs" -> t.jobs.toDouble,
        s"${s.name}.cpu_ms" -> t.cpuMs, s"${s.name}.gc_ms" -> t.gcMs.toDouble,
        s"${s.name}.shuffle_bytes" -> t.shuffleBytes.toDouble,
        s"${s.name}.spill_bytes" -> t.spillBytes.toDouble,
        s"${s.name}.plan_ms" -> plans.within(s.startMs, s.endMs))
    }.toMap
    val all = byspan.values.foldLeft(TaskTotals())(_ + _)
    val n = rows.size.toDouble
    val inJobs = tracer.all.map(s => jobs.jobs.filter(j => tracer.owner(j).exists(_.id == s.id))
      .map(_.totals.jobMs).sum).sum
    Map(
      "attempted" -> rows.size,
      "failed" -> 0,
      "layers" -> (layers ++ Map(
        "spark.jobs_per_unit" -> all.jobs / n,
        "spark.tasks_per_unit" -> all.tasks / n,
        "spark.cpu_ms_per_unit" -> all.cpuMs / n,
        "spark.gc_ms_per_unit" -> gcMs / n,
        "spark.shuffle_bytes_per_unit" -> all.shuffleBytes / n,
        "spark.core_util" -> all.runMs / (tracedS * 1000 * Main.cores),
        "spark.driver_ms_per_unit" -> (tracedS * 1000 - inJobs) / n,
        "trace.overhead_pct" -> 100 * (tracedS - untraced) / untraced)),
      "record" -> Map(
        "spans" -> tracer.all.map(s => Map("name" -> s.name, "parent" -> s.parent,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> tracer.selfMs(s))),
        "traced_s" -> tracedS, "untraced_s" -> Seq(before, after), "setup_s" -> setupS,
        "settings" -> Main.settings),
      "check" -> Map("board_out" -> s"${a.work}/board-out"))
  }
}
