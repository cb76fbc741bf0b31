package perfbench

import graft.operators.SyncPipeline
import graft.sinks.{Compaction, IndexedParquetSink}
import graft.sources.Connectors
import graft.streaming.{StreamingSync, SyncMetrics}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** The two sync workloads: generated message files through
  * `StreamingSync.start` into the exactly-once `IndexedParquetSink`. */
object Sync {

  sealed trait Kind {
    def spec: StreamSpec
    def msgsPerFile: Int
    def secondsPerFile: Int
    /** Input files for a run of `seconds`. */
    def files(seconds: Int): Int
  }

  /** Closed loop: a pre-landed backlog of large files, drained one file per
    * micro-batch by an `availableNow` query. The first `warmBatches` batches
    * are not timed; the rest of the backlog is sized so that draining it
    * takes about `--seconds` at `sizingRate` messages per second. */
  case object Backfill extends Kind {
    val spec: StreamSpec = StreamSpec.backfill
    val msgsPerFile = 50000
    val secondsPerFile = 40
    val sizingRate = 20000.0
    val warmBatches = 4
    def files(seconds: Int): Int =
      warmBatches + math.max(3, math.ceil(seconds * sizingRate / msgsPerFile).toInt)
  }

  /** Open loop: small files land in the source directory on a fixed
    * schedule, one every `intervalMs`, while a processing-time query whose
    * trigger interval is shorter than a batch runs batches back to back.
    * Files landed in the first `warmS` seconds are not measured. */
  case object Trickle extends Kind {
    val spec: StreamSpec = StreamSpec.trickle
    val msgsPerFile = 25
    val secondsPerFile = 2
    val intervalMs = 250L
    val triggerMs = 100L
    val warmS = 8
    def files(seconds: Int): Int = ((warmS + seconds) * 1000 / intervalMs).toInt
    /** Validity limits: generator lateness p95, and backlog at the last
      * batch relative to the median backlog. */
    val maxLateP95Ms = 250.0
    val maxBacklogGrowth = 3.0
  }

  type Counts = Map[(String, String), Long]

  final case class Inputs(files: IndexedSeq[String], expected: Map[String, Counts],
      setupS: Double)

  /** Generate the seeded input files into `staged`, on `cores` threads,
    * with the expected store of each file. Set-up runs as `setupReps` equal
    * groups of files, one after another; set-up time is the median group
    * time times the number of groups. */
  def generate(k: Kind, seed: Long, nFiles: Int, staged: String): Inputs = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    new File(staged).mkdirs()
    val groups = (0 until nFiles).grouped((nFiles + setupReps - 1) / setupReps).toSeq
    try {
      val done = groups.map { files =>
        val t0 = System.nanoTime()
        val exp = Await.result(Future.sequence(files.map { f => Future {
          val msgs = Gen.file(k.spec, seed, f, k.msgsPerFile, k.secondsPerFile)
          ParquetFiles.write(Paths.get(staged, fileName(f)), msgs)
          fileName(f) -> Gen.expected(k.spec.cfg, msgs)
        }}), 120.seconds)
        ((System.nanoTime() - t0) / 1e9, exp)
      }
      Inputs((0 until nFiles).map(fileName), done.flatMap(_._2).toMap,
        Main.median(done.map(_._1)) * groups.size)
    } finally pool.shutdown()
  }

  val setupReps = 3

  def fileName(f: Int): String = f"file-$f%05d.parquet"

  /** One streaming run's observations. */
  final case class Observed(progress: Seq[StreamingQueryProgress],
      batchFiles: Map[Long, Seq[String]], commitMs: Map[Long, Long],
      landedMs: Map[String, Long], lateMs: Seq[Double], gcMs: Long,
      windowMs: (Long, Long))

  private final class ProgressLog extends StreamingQueryListener {
    val all = mutable.ArrayBuffer[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized(all += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val pathRe = "\"path\":\"([^\"]+)\"".r
  private val batchRe = "\"batchId\":(\\d+)".r

  /** Files of each micro-batch, from the file source's checkpoint log. */
  def sourceLog(sink: String): Map[Long, Seq[String]] = {
    val dir = new File(s"$sink/_checkpoint/sources/0")
    Option(dir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .flatMap { l =>
        for (p <- pathRe.findFirstMatchIn(l); b <- batchRe.findFirstMatchIn(l))
          yield b.group(1).toLong -> new Path(p.group(1)).getName
      }.distinct.groupMap(_._1)(_._2)
  }

  /** Per-(index, app) counts recorded in each batch's commit marker. */
  def markers(sink: String): Map[Long, Counts] =
    Option(new File(s"$sink/_commits").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit)).map { f =>
        f.getName.toLong -> Files.readAllLines(f.toPath).asScala.filter(_.nonEmpty)
          .map { l => val x = l.split("\t", -1); (x(0), x(1)) -> x(2).toLong }.toMap
      }.toMap

  private def startQuery(spark: SparkSession, k: Kind, src: String, sink: String): org.apache.spark.sql.streaming.StreamingQuery =
    k match {
      case Backfill => StreamingSync.start(spark, k.spec.cfg, src, sink, s"$sink-metrics",
        availableNow = true, batchFiles = Some(1))
      case Trickle => StreamingSync.start(spark, k.spec.cfg, src, sink, s"$sink-metrics",
        flushIntervalMs = Some(Trickle.triggerMs))
    }

  /** Run the real streaming sync over the inputs. */
  def stream(spark: SparkSession, k: Kind, in: Inputs, staged: String, src: String,
      sink: String, seconds: Int): Observed = {
    val log = new ProgressLog
    spark.streams.addListener(log)
    new File(src).mkdirs()
    val landed = mutable.Map[String, Long]()
    val late = mutable.ArrayBuffer[Double]()
    val gc0 = Jvm.gcMs()
    def land(f: String): Unit = {
      Files.move(Paths.get(staged, f), Paths.get(src, f), StandardCopyOption.ATOMIC_MOVE)
      landed(f) = System.currentTimeMillis()
    }
    val window = k match {
      case Backfill =>
        in.files.foreach(land)
        val q = startQuery(spark, k, src, sink)
        if (!q.awaitTermination(150000)) { q.stop(); sys.error("backfill did not drain in 150 s") }
        q.exception.foreach(e => throw e)
        (0L, Long.MaxValue)
      case Trickle =>
        val q = startQuery(spark, k, src, sink)
        val t0 = System.currentTimeMillis() + 200
        val gen = new Thread(() => in.files.zipWithIndex.foreach { case (f, i) =>
          val due = t0 + i * Trickle.intervalMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          land(f)
          late.synchronized(late += (landed(f) - due).toDouble)
        }, "trickle-generator")
        gen.setDaemon(true)
        gen.start()
        gen.join()
        q.processAllAvailable()
        q.stop()
        q.exception.foreach(e => throw e)
        (t0 + Trickle.warmS * 1000L, t0 + (Trickle.warmS + seconds) * 1000L)
    }
    Thread.sleep(300) // listener bus delivers the last progress event
    spark.streams.removeListener(log)
    val commits = Option(new File(s"$sink/_commits").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit)).map(f => f.getName.toLong -> f.lastModified()).toMap
    Observed(log.synchronized(log.all.toList).filter(_.numInputRows > 0),
      sourceLog(sink), commits, landed.toMap, late.toList, Jvm.gcMs() - gc0, window)
  }

  private def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli
  private def dur(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)

  /** Store read-back: a full read of every column, one index-pruned scan,
    * and per-(index, app) counts; returns (seconds, counts, rows, distinct ids). */
  def scan(spark: SparkSession, sink: String, index: String): (Double, Counts, Long, Long) = {
    val t0 = System.nanoTime()
    val df = spark.read.parquet(sink)
    df.write.format("noop").mode("overwrite").save()
    df.filter(col("index") === index).count()
    val counts = df.groupBy("index", "app").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val s = (System.nanoTime() - t0) / 1e9
    val r = df.agg(count(lit(1)), countDistinct(col("msg_id"))).head()
    (s, counts, r.getLong(0), r.getLong(1))
  }

  private var last = System.nanoTime()
  private def phase(name: String): Unit = {
    val now = System.nanoTime()
    System.err.println(f"[perfbench] $name ${(now - last) / 1e9}%.2f s")
    last = now
  }

  def run(spark: SparkSession, k: Kind, a: Main.Args, sessionS: Double): Map[String, Any] = {
    val staged = s"${a.work}/staged"
    val in = generate(k, a.seed, k.files(a.seconds), staged)
    val setupS = sessionS + in.setupS
    phase("generate")
    val sink = s"${a.work}/sink"
    val jobs = new JobRecorder
    if (a.trace) spark.sparkContext.addSparkListener(jobs)
    val obs = stream(spark, k, in, staged, s"${a.work}/src", sink, a.seconds)
    phase("stream")
    if (a.trace) { Thread.sleep(300); spark.sparkContext.removeSparkListener(jobs) }

    // ---- output check: per-batch markers against the expected store ----
    val marks = markers(sink)
    val batches = obs.batchFiles.keys.toSeq.sorted
    val expectedOf = batches.map(b => b ->
      obs.batchFiles(b).map(in.expected).foldLeft(Map.empty: Counts)(Gen.merge)).toMap
    val badBatches = batches.filter(b => !marks.get(b).contains(expectedOf(b).filter(_._2 > 0)))
    val consumed = obs.batchFiles.values.flatten.toSet
    val allExpected = in.files.map(in.expected).foldLeft(Map.empty: Counts)(Gen.merge)
    val someIndex = allExpected.keys.map(_._1).toSeq.sorted.head
    phase("check")
    val (scanS, storeCounts, rows, distinct) = scan(spark, sink, someIndex)
    phase("scan")
    val markerTotal = marks.values.foldLeft(Map.empty: Counts)(Gen.merge)
    val storeOk = consumed == in.files.toSet && storeCounts == allExpected &&
      rows == distinct && markerTotal == storeCounts
    val failed = if (storeOk) badBatches.size else batches.size
    if (!storeOk || badBatches.nonEmpty)
      System.err.println(s"[perfbench] store check failed: files ${consumed.size}/${in.files.size}, " +
        s"store==expected ${storeCounts == allExpected}, rows $rows distinct $distinct, " +
        s"markers==store ${markerTotal == storeCounts}, bad batches ${badBatches.mkString(",")}")

    // ---- timing ----
    val byBatch = obs.progress.map(p => p.batchId -> p).toMap
    val msgsOf = (b: Long) => obs.batchFiles(b).size.toLong * k.msgsPerFile
    val commitOf = (b: Long) => obs.commitMs.getOrElse(b,
      startMs(byBatch(b)) + dur(byBatch(b), "triggerExecution").toLong)
    val (timedBatches, freshness, msgsPerS, validity) = k match {
      case Backfill =>
        val timed = batches.filter(_ >= Backfill.warmBatches)
        val t0 = commitOf(Backfill.warmBatches - 1)
        val msgs = timed.map(msgsOf).sum
        (timed, Seq.empty[Double], msgs / ((commitOf(timed.last) - t0) / 1000.0), Map.empty[String, Any])
      case Trickle =>
        val (w0, w1) = obs.windowMs
        val fileBatch = obs.batchFiles.toSeq.flatMap { case (b, fs) => fs.map(_ -> b) }.toMap
        val timedFiles = in.files.filter(f => obs.landedMs(f) >= w0 && obs.landedMs(f) < w1)
        val fresh = timedFiles.map(f => (commitOf(fileBatch(f)) - obs.landedMs(f)).toDouble)
        val timed = timedFiles.map(fileBatch).distinct.sorted
        val lastCommit = timedFiles.map(f => commitOf(fileBatch(f))).max
        // backlog at each batch commit: landed files whose batch is later
        val backlog = timed.map(b => in.files.count(f =>
          obs.landedMs(f) <= commitOf(b) && fileBatch(f) > b).toDouble)
        val lateP95 = Main.quantile(obs.lateMs, 0.95)
        val growth = backlog.last / math.max(1.0, Main.median(backlog))
        (timed, fresh, timedFiles.size.toDouble * k.msgsPerFile / ((lastCommit - w0) / 1000.0),
          Map("gen_late_p95_ms" -> lateP95, "backlog_files_p95" -> Main.quantile(backlog, 0.95),
            "backlog_growth" -> growth, "offered_msgs_per_s" -> k.msgsPerFile * 1000.0 / Trickle.intervalMs,
            "valid" -> (lateP95 <= Trickle.maxLateP95Ms && growth <= Trickle.maxBacklogGrowth)))
    }
    val batchMs = timedBatches.flatMap(byBatch.get).map(dur(_, "triggerExecution"))
    val invalid = if (validity.get("valid").contains(false)) 1 else 0
    val storeFiles = new File(sink).listFiles().filter(_.getName.startsWith("index="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    val e2e = Map(
      "setup_s" -> setupS,
      "msgs_per_s" -> msgsPerS,
      "batch_p50_ms" -> Main.median(batchMs),
      "batch_p95_ms" -> Main.tail(batchMs, 0.95),
      "freshness_p50_ms" -> (if (freshness.isEmpty) None else Some(Main.median(freshness))),
      "freshness_p95_ms" -> Main.tail(freshness, 0.95),
      "store_scan_s" -> scanS,
      "throughput_per_s" -> msgsPerS,
      "latency_ms" -> (if (freshness.isEmpty) Main.median(batchMs) else Main.median(freshness)))
    val common = Map(
      "attempted" -> batches.size,
      "failed" -> (failed + invalid),
      "record" -> Map("batches" -> batches.size, "timed_batches" -> timedBatches.size,
        "files" -> in.files.size, "msgs_per_file" -> k.msgsPerFile,
        "freshness_samples" -> freshness.size, "batch_samples" -> batchMs.size,
        "store_files" -> storeFiles.length, "validity" -> validity,
        "batch_ms" -> obs.progress.map(p => Seq(p.batchId, obs.batchFiles.getOrElse(p.batchId, Nil).size,
          dur(p, "triggerExecution").toLong, dur(p, "addBatch").toLong, dur(p, "getBatch").toLong)),
        "settings" -> Main.settings))
    if (!a.trace) common ++ Map("e2e" -> e2e)
    else {
      val (table, spans) = layers(spark, k, a, in, obs, jobs.jobs, timedBatches,
        storeFiles.map(_.length()).sum, storeFiles.length, rows, validity)
      // the store's maintenance pass, then the same check on its result
      val c0 = System.nanoTime()
      val report = Compaction.compact(spark, sink)
      val compactMs = (System.nanoTime() - c0) / 1e6
      val (_, compacted, cRows, cDistinct) = scan(spark, sink, someIndex)
      val compactOk = compacted == allExpected && cRows == cDistinct
      if (!compactOk) System.err.println("[perfbench] store changed by compaction")
      common ++ Map(
        "failed" -> (failed + invalid + (if (compactOk) 0 else 1)),
        "layers" -> (table ++ Map("sinks.compact_ms" -> compactMs,
          "sinks.compact_files_before" -> report.filesBefore.toDouble,
          "sinks.compact_files_after" -> report.filesAfter.toDouble)),
        "record" -> (common("record").asInstanceOf[Map[String, Any]] ++ Map("spans" -> spans)))
    }
  }

  /** The per-layer table of a traced run: streaming phases and jobs per
    * batch from the streaming run, then a replay of its timed micro-batches
    * through the public layer calls with a span around each, and the same
    * replay untraced before and after it for the tracing overhead. */
  private def layers(spark: SparkSession, k: Kind, a: Main.Args, in: Inputs, obs: Observed,
      jobs: Seq[JobRecord], timed: Seq[Long], storeBytes: Long, storeFiles: Int,
      storeRows: Long, validity: Map[String, Any]): (Map[String, Double], Seq[Map[String, Any]]) = {
    val byBatch = obs.progress.map(p => p.batchId -> p).toMap
    val timedP = timed.flatMap(byBatch.get)
    def durMedian(key: String) = Main.median(timedP.map(dur(_, key)))
    val perBatchJobs = timedP.map { p =>
      val s = startMs(p)
      val e = s + dur(p, "triggerExecution").toLong
      jobs.filter(j => j.startMs >= s && j.endMs <= e).map(_.totals).foldLeft(TaskTotals())(_ + _)
    }
    val streamWallMs = timedP.map(dur(_, "triggerExecution")).sum
    val all = perBatchJobs.foldLeft(TaskTotals())(_ + _)
    val n = timedP.size.toDouble
    val quarter = math.max(1, timedP.size / 4)
    val trig = timedP.map(dur(_, "triggerExecution"))
    val src = s"${a.work}/src"
    val replayBatches = timed.take(k match { case Backfill => 4; case Trickle => 12 })
    val glob = (b: Long) => obs.batchFiles(b).mkString(s"$src/{", ",", "}")

    // untraced replay: the same calls, no spans, nothing cached, into a
    // store of its own; it runs before and after the traced replay
    def untraced(dir: String): Double = {
      val u0 = System.nanoTime()
      replayBatches.foreach { b =>
        val admitted = SyncPipeline.rateLimit(k.spec.cfg)(StreamingSync.transform(k.spec.cfg)(
          Connectors.ParquetMessages.read(spark, glob(b))))
          .select("msg_id", "topic", "publish_time", "data", "index", "app",
            "ts_resolved", "is_debug", "field_count")
        val m = IndexedParquetSink.writeBatchExactlyOnce(admitted, s"${a.work}/$dir", b)
        SyncMetrics.recordBulk(m)
        m.withColumn("batch_id", lit(b)).write.mode("overwrite").parquet(s"${a.work}/$dir-metrics/bid=$b")
      }
      (System.nanoTime() - u0) / 1e9
    }
    val untracedBefore = untraced("replay-u1")

    // traced replay: each layer call materialized inside its own span
    val rec = new JobRecorder
    spark.sparkContext.addSparkListener(rec)
    val tracer = new Tracer
    val sinkT = s"${a.work}/replay-t"
    val fs = FileSystem.get(new java.net.URI(s"file://$sinkT"), spark.sparkContext.hadoopConfiguration)
    val filesPerBatch = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    replayBatches.foreach { b =>
      tracer.span("batch") {
        val read = tracer.span("sources.read") {
          val d = Connectors.ParquetMessages.read(spark, glob(b)).cache(); d.count(); d
        }
        val admitted = tracer.span("operators.transform") {
          val t = SyncPipeline.rateLimit(k.spec.cfg)(StreamingSync.transform(k.spec.cfg)(read))
            .select("msg_id", "topic", "publish_time", "data", "index", "app",
              "ts_resolved", "is_debug", "field_count").cache()
          t.count(); t
        }
        val m = tracer.span("sinks.write") {
          IndexedParquetSink.writeBatchExactlyOnce(admitted, sinkT, b)
        }
        tracer.span("streaming.metrics") {
          SyncMetrics.recordBulk(m)
          m.withColumn("batch_id", lit(b)).write.mode("overwrite")
            .parquet(s"${a.work}/replay-t-metrics/bid=$b")
        }
        filesPerBatch += fs.globStatus(new Path(s"$sinkT/index=*/b$b-*")).length
        admitted.unpersist(); read.unpersist()
      }
    }
    val tracedS = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300)
    spark.sparkContext.removeSparkListener(rec)
    // the mean of the untraced replays on either side: warm-up going on
    // across the three replays cancels out of the overhead
    val untracedS = (untracedBefore + untraced("replay-u2")) / 2
    val own = tracer.attribute(rec.jobs)
    def spans(name: String) = tracer.all.filter(_.name == name)
    def self(name: String) = Main.median(spans(name).map(tracer.selfMs(_).toDouble))
    def tot(name: String) = spans(name).map(s => own.getOrElse(s.id, TaskTotals())).foldLeft(TaskTotals())(_ + _)
    val rn = replayBatches.size.toDouble
    val replayMsgs = replayBatches.map(b => obs.batchFiles(b).size * k.msgsPerFile).sum
    val tr = tot("operators.transform")
    val trWallMs = spans("operators.transform").map(_.ms).sum.toDouble
    val sp = Map(
      "sources.read_ms" -> self("sources.read"),
      "sources.tasks_per_batch" -> Main.median(spans("sources.read")
        .map(s => own.getOrElse(s.id, TaskTotals()).widest.toDouble)),
      "operators.transform_ms" -> self("operators.transform"),
      "operators.cpu_ms_per_kmsg" -> tr.cpuMs / (replayMsgs / 1000.0),
      "operators.core_util" -> tr.runMs / (trWallMs * Main.cores),
      "operators.rate_limit_shuffle_bytes" -> tr.shuffleBytes / rn,
      "sinks.write_ms" -> self("sinks.write"),
      "sinks.jobs_per_batch" -> tot("sinks.write").jobs / rn,
      "sinks.files_per_batch" -> Main.median(filesPerBatch.toSeq),
      "sinks.bytes_per_msg" -> storeBytes.toDouble / math.max(1L, storeRows),
      "sinks.store_files" -> storeFiles.toDouble,
      "sinks.batch_growth" -> Main.median(trig.takeRight(quarter)) / Main.median(trig.take(quarter)),
      "sinks.retries" -> SyncMetrics.value("graft_es_retry_total{sink=\"sink\"}").toDouble,
      "streaming.latest_offset_ms" -> durMedian("latestOffset"),
      "streaming.get_batch_ms" -> durMedian("getBatch"),
      "streaming.query_planning_ms" -> durMedian("queryPlanning"),
      "streaming.add_batch_ms" -> durMedian("addBatch"),
      "streaming.wal_commit_ms" -> durMedian("walCommit"),
      "streaming.commit_offsets_ms" -> durMedian("commitOffsets"),
      "streaming.jobs_per_batch" -> Main.median(perBatchJobs.map(_.jobs.toDouble)),
      "streaming.driver_ms" -> Main.median(timedP.zip(perBatchJobs).map { case (p, t) =>
        dur(p, "addBatch") - t.jobMs }),
      "streaming.metrics_ms" -> self("streaming.metrics"),
      "streaming.gc_ms" -> obs.gcMs / math.max(1.0, obs.progress.size.toDouble),
      "trace.overhead_pct" -> 100 * (tracedS - untracedS) / untracedS,
      "trace.traced_s" -> tracedS,
      "trace.untraced_s" -> untracedS,
      "spark.jobs_per_unit" -> all.jobs / n,
      "spark.tasks_per_unit" -> all.tasks / n,
      "spark.cpu_ms_per_unit" -> all.cpuMs / n,
      "spark.gc_ms_per_unit" -> obs.gcMs / math.max(1.0, obs.progress.size.toDouble),
      "spark.shuffle_bytes_per_unit" -> all.shuffleBytes / n,
      "spark.core_util" -> all.runMs / (streamWallMs * Main.cores),
      "spark.driver_ms_per_unit" -> (streamWallMs - all.jobMs) / n)
    val trickle = validity.collect { case (key, v: Double) => s"streaming.$key" -> v }
    val spanRecords = tracer.all.map { s =>
      val t = own.getOrElse(s.id, TaskTotals())
      Map("name" -> s.name, "id" -> s.id, "parent" -> s.parent, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "self_ms" -> tracer.selfMs(s), "jobs" -> t.jobs,
        "tasks" -> t.tasks, "cpu_ms" -> t.cpuMs, "shuffle_bytes" -> t.shuffleBytes)
    }
    (sp ++ trickle, spanRecords)
  }
}
