package graft

import graft.operators.{SyncConfig, SyncPipeline}
import graft.streaming.StreamingSync
import graft.sources.Tables
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end streaming sync: file-source message stream → transforms →
  * per-batch admission → indexed parquet sink with bulk metrics. The
  * streaming result must equal the batch pipeline on the same messages
  * (shared transform code), and the sink layout must be index-partitioned. */
class StreamingSyncSpec extends SparkSpec {

  private val cfg = SyncConfig(
    globalFilters = Seq("\"k\": 13\\}"),
    rewriteRules = Seq(("click", "web"), ("view", "web")),
    rateLimits = Map("__DEFAULT_APP__" -> 50),
    rateLimitWindow = "hour")

  test("streaming pipeline == batch pipeline; sink partitioned by index") {
    val tmp = Files.createTempDirectory("graft-stream").toString
    val srcDir = s"$tmp/src"
    val sinkDir = s"$tmp/sink"
    val metricsDir = s"$tmp/metrics"

    val msgs = Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"),
        col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
    msgs.write.parquet(srcDir)

    val q = StreamingSync.start(spark, cfg, srcDir, sinkDir, metricsDir,
      availableNow = true)
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(sinkDir)
    val batch = SyncPipeline(cfg)(msgs)

    assert(streamed.count() == batch.count())
    // identical admitted message sets and routing
    val a = streamed.select("msg_id", "index", "app").orderBy("msg_id")
      .collect().toSeq
    val b = batch.select("msg_id", "index", "app").orderBy("msg_id")
      .collect().toSeq
    assert(a == b)

    // sink layout: index=... partition directories (the "ES indices")
    val dirs = new java.io.File(sinkDir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("index="))
    assert(dirs.nonEmpty)

    // bulk metrics present and consistent with written doc count
    val metrics = spark.read.parquet(metricsDir)
    assert(metrics.agg(sum("written")).head.getLong(0) == streamed.count())
  }

  test("transform spreads a one-partition batch over every core") {
    val one = Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
      .coalesce(1)
    assert(one.rdd.getNumPartitions == 1)
    val out = StreamingSync.transform(cfg)(one)
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    // the hash on msg_id really spreads the rows: more than one task
    // holds a share of the batch
    val perTask = out.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perTask.count(_ > 0) > 1, perTask.mkString(","))
  }

  test("a single-file batch: store == batch pipeline, one file per index per batch") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val tmp = Files.createTempDirectory("graft-spread").toString
    val msgs = Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
    msgs.coalesce(1).write.parquet(s"$tmp/src")
    StreamingSync.start(spark, cfg, s"$tmp/src", s"$tmp/sink",
      s"$tmp/metrics", availableNow = true).awaitTermination(120000)

    val store = spark.read.parquet(s"$tmp/sink")
    val batch = SyncPipeline(cfg)(msgs)
    assert(store.select("msg_id", "index", "app").orderBy("msg_id")
      .collect().toSeq ==
      batch.select("msg_id", "index", "app").orderBy("msg_id")
        .collect().toSeq)

    // the spread must not multiply the store's files: every index
    // directory holds exactly one b<id>-* file per committed batch
    val fs = FileSystem.get(new java.net.URI(tmp),
      spark.sparkContext.hadoopConfiguration)
    val committed = fs.listStatus(new Path(s"$tmp/sink/_commits"))
      .map(_.getPath.getName).filter(_.forall(_.isDigit)).toSet
    assert(committed.nonEmpty)
    val dirs = fs.globStatus(new Path(s"$tmp/sink/index=*"))
    assert(dirs.length == batch.select("index").distinct().count())
    dirs.foreach { d =>
      val perBatch = fs.listStatus(d.getPath).map(_.getPath.getName)
        .filter(_.startsWith("b"))
        .groupBy(_.stripPrefix("b").takeWhile(_ != '-'))
      assert(perBatch.keySet.subsetOf(committed), s"${d.getPath}: $perBatch")
      assert(perBatch.values.forall(_.length == 1),
        s"${d.getPath}: ${perBatch.values.flatten.mkString(",")}")
    }
    // one source file, one batch: each index holds exactly one file
    assert(committed.size == 1)
  }

  test("--flush-interval rides SyncConfig into the processing-time trigger") {
    // the config default mirrors args.rs:117-119 (5000 ms)
    assert(SyncConfig().flushIntervalMs == 5000L)
    val tmp = Files.createTempDirectory("graft-flush").toString
    val msgs = Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
      .limit(50)
    msgs.write.parquet(s"$tmp/src")
    // start WITHOUT the explicit flushIntervalMs override: the 100 ms
    // cadence must come from the config field alone
    val q = StreamingSync.start(spark, cfg.copy(flushIntervalMs = 100L),
      s"$tmp/src", s"$tmp/sink", s"$tmp/metrics")
    // pin the WIRING, not just "some trigger fired": the running
    // query's actual trigger must be the config's 100 ms cadence
    val trig = q
      .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.trigger
    assert(trig ==
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L),
      s"config flush interval did not reach the trigger: $trig")
    try {
      val deadline = System.currentTimeMillis() + 60000
      var n = 0L
      while (n == 0L && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        n = try spark.read.parquet(s"$tmp/sink").count()
        catch { case _: Exception => 0L } // sink not yet created
      }
      assert(n > 0L, "configured flush interval never fired a batch")
    } finally q.stop()
  }

  test("connection-identity knobs travel SyncConfig → the connector seam verbatim") {
    // r11 CLI-parity residue: the six args.rs client knobs the sandbox
    // cannot exercise (--pulsar-addr/-token, --consumer-name,
    // --subscription-name, --channel-buffer-size, --injected-logfile)
    // are config fields that must REACH the provider seam, not sit
    // inert in a struct nobody reads
    import graft.sources.Connectors
    // defaults mirror args.rs:73-123 exactly
    assert(SyncConfig().pulsarAddr == "pulsar://127.0.0.1:6650")
    assert(SyncConfig().pulsarToken.isEmpty &&
      SyncConfig().consumerName.isEmpty &&
      SyncConfig().subscriptionName.isEmpty)
    assert(SyncConfig().channelBufferSize == 2048)
    assert(SyncConfig().injectedLogfile.isEmpty)
    val idCfg = cfg.copy(
      pulsarAddr = "pulsar://broker.example:6650",
      pulsarToken = Some("tok-123"),
      consumerName = Some("graft-consumer"),
      subscriptionName = Some("graft-sub"),
      channelBufferSize = 4096,
      injectedLogfile = Some("/var/log/injected.log"))
    // the builder maps config → subscription 1:1
    assert(Connectors.subscriptionFor(idCfg, "/some/uri", Some(7)) ==
      Connectors.Subscription("/some/uri", Some(7),
        "pulsar://broker.example:6650", Some("tok-123"),
        Some("graft-consumer"), Some("graft-sub"), 4096))
    // and the RUNNING sync delivers the full descriptor to the
    // connector: a recording wrapper around the parquet stand-in
    var seen: Option[Connectors.Subscription] = None
    object Recording extends Connectors.MessageConnector {
      val name = "recording"
      def readStream(s: org.apache.spark.sql.SparkSession, uri: String,
          maxBatch: Option[Int]): org.apache.spark.sql.DataFrame =
        Connectors.ParquetMessages.readStream(s, uri, maxBatch)
      def read(s: org.apache.spark.sql.SparkSession,
          uri: String): org.apache.spark.sql.DataFrame =
        Connectors.ParquetMessages.read(s, uri)
      override def readStreamWith(s: org.apache.spark.sql.SparkSession,
          sub: Connectors.Subscription): org.apache.spark.sql.DataFrame = {
        seen = Some(sub)
        super.readStreamWith(s, sub)
      }
    }
    val tmp = Files.createTempDirectory("graft-connid").toString
    Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
      .limit(20).write.parquet(s"$tmp/src")
    val q = StreamingSync.start(spark, idCfg, s"$tmp/src", s"$tmp/sink",
      s"$tmp/metrics", availableNow = true, source = Recording)
    q.awaitTermination(120000)
    assert(seen.contains(
      Connectors.subscriptionFor(idCfg, s"$tmp/src", None)),
      s"connector saw $seen")
  }

  test("bounded consumer batches (maxFilesPerTrigger) reach the same result") {
    val tmp = Files.createTempDirectory("graft-stream3").toString
    val msgs = Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
    msgs.repartition(8).write.parquet(s"$tmp/src") // 8 source files
    val q = StreamingSync.start(spark, cfg, s"$tmp/src", s"$tmp/sink",
      s"$tmp/metrics", availableNow = true, batchFiles = Some(2))
    q.awaitTermination(120000)
    val metrics = spark.read.parquet(s"$tmp/metrics")
    assert(metrics.select("batch_id").distinct().count() >= 3,
      "2-files-per-trigger over 8 files should yield multiple batches")
    assert(spark.read.parquet(s"$tmp/sink").count() ==
      SyncPipeline(cfg)(msgs).count())
  }

  test("streaming message dedup drops broker redeliveries") {
    val tmp = Files.createTempDirectory("graft-dedup").toString
    val msgs = Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data")).limit(300)
    // simulate redelivery: every message delivered twice
    msgs.unionAll(msgs).write.parquet(s"$tmp/src")
    val out = StreamingSync.dedupMessages()(
      StreamingSync.readMessageStream(spark, s"$tmp/src"))
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table("dedup_stream").count() == 300)
    assert(spark.table("dedup_stream").select("msg_id").distinct().count() == 300)
  }

  test("bulk failures are diverted, counted per index, and metered") {
    val tmp = Files.createTempDirectory("graft-bulkfail").toString
    val msgs = Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
    msgs.write.parquet(s"$tmp/src")
    graft.streaming.SyncMetrics.reset()
    val poison = "\"k\": 5[0-9]\\}"
    val q = StreamingSync.start(spark, SyncConfig(), s"$tmp/src",
      s"$tmp/sink", s"$tmp/metrics", availableNow = true,
      failedDocPattern = Some(poison))
    q.awaitTermination(120000)

    val total = SyncPipeline(SyncConfig())(msgs)
    val expectFailed = total.filter(col("data").rlike(poison)).count()
    val written = spark.read.parquet(s"$tmp/sink")
    val failed = spark.read.parquet(s"$tmp/sink/_failed")
    // poison docs land in the failed-payload store, never the index
    assert(failed.count() == expectFailed && expectFailed > 0)
    assert(written.count() == total.count() - expectFailed)
    assert(written.filter(col("data").rlike(poison)).count() == 0)
    // bulk metrics carry the per-index failure counts (es.rs:133-191)
    val metrics = spark.read.parquet(s"$tmp/metrics")
    assert(metrics.agg(sum("failed")).head.getLong(0) == expectFailed)
    assert(metrics.agg(sum("written")).head.getLong(0) == written.count())
    // and the prometheus-style counters accumulated the same totals
    val snap = graft.streaming.SyncMetrics.snapshot()
    assert(snap.contains("graft_es_write_failed_total"))
    val failedTotal = snap.linesIterator
      .filter(_.startsWith("graft_es_write_failed_total"))
      .map(_.split(' ').last.toLong).sum
    assert(failedTotal == expectFailed)
  }

  test("withRetries retries transient sink failures and counts them") {
    import graft.sinks.IndexedParquetSink
    graft.streaming.SyncMetrics.reset()
    var attempts = 0
    val out = IndexedParquetSink.withRetries(3, label = "test") { () =>
      attempts += 1
      if (attempts < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(out == "ok" && attempts == 3)
    assert(graft.streaming.SyncMetrics
      .value("""graft_es_retry_total{sink="test"}""") == 2)
    // exhausted retries rethrow (micro-batch fails -> checkpoint replay)
    intercept[RuntimeException] {
      IndexedParquetSink.withRetries(1, label = "test2") { () =>
        throw new RuntimeException("permanent")
      }
    }
    assert(graft.streaming.SyncMetrics
      .value("""graft_es_retry_total{sink="test2"}""") == 1)
  }

  test("sync runs unchanged through a swapped source connector (jsonlines)") {
    // the A33 seam claim, proven with the NON-default connector: the
    // same StreamingSync.start, fed by the jsonlines MessageConnector
    // (topic = directory name), lands the same admitted set as the
    // batch pipeline over the same messages
    import graft.sources.Connectors
    val tmp = Files.createTempDirectory("graft-conn-sync").toString
    val payloads = (0 until 60).map(i => s"""{"k": $i}""")
    Seq("web", "errs").foreach { topic =>
      val dir = new java.io.File(s"$tmp/topics/$topic")
      dir.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/topics/$topic/part-0.jsonl"),
        payloads.mkString("\n").getBytes)
    }
    val q = StreamingSync.start(spark, cfg, s"$tmp/topics/*/*.jsonl",
      s"$tmp/sink", s"$tmp/metrics", availableNow = true,
      source = Connectors.JsonLinesMessages)
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(s"$tmp/sink")
    val batch = SyncPipeline(cfg)(
      Connectors.JsonLinesMessages.read(spark, s"$tmp/topics/*/*.jsonl"))
    assert(streamed.count() > 0 && streamed.count() == batch.count())
    assert(streamed.select("msg_id", "index", "app").orderBy("msg_id")
      .collect().toSeq ==
      batch.select("msg_id", "index", "app").orderBy("msg_id")
        .collect().toSeq)
  }

  test("mid-batch crash + restart from checkpoint: store equals batch relation exactly (no loss, no dup)") {
    // the r6-verdict #4 fault injection: the stream is KILLED mid-write
    // (orphan batch-scoped files on disk, no commit marker), restarted
    // from the checkpoint, and the indexed store must converge to the
    // batch relation bit-for-bit — replay scrubs the orphans (no dup)
    // and rewrites the uncommitted batch (no loss)
    import graft.sources.Connectors
    import org.apache.hadoop.fs.{FileSystem, Path}
    val tmp = Files.createTempDirectory("graft-crash").toString
    // no rate limits: admission is then batch-split-invariant, so the
    // final store must equal the batch pipeline regardless of batching
    val cfg2 = SyncConfig(
      globalFilters = Seq("\"k\": 13\\}"),
      rewriteRules = Seq(("click", "web"), ("view", "web")))
    val msgs = Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
    msgs.repartition(3).write.parquet(s"$tmp/src") // 3 files → 3 batches

    val fs = FileSystem.get(new java.net.URI(tmp),
      spark.sparkContext.hadoopConfiguration)
    object CrashOnce extends Connectors.BulkSinkConnector {
      val name = "crash-once"
      @volatile var fired = false
      def writeBatch(batch: org.apache.spark.sql.DataFrame, target: String,
          batchId: Long,
          isFailed: Option[org.apache.spark.sql.Column],
          failedTarget: Option[String]): org.apache.spark.sql.DataFrame = {
        if (!fired && batchId >= 1) {
          fired = true
          // leave exactly the wreckage a crashed commit-move leaves:
          // some b<id>-* files in their index dirs, NO marker
          val stage = s"$target/_staging/__crash"
          batch.limit(7).coalesce(1).write.mode("overwrite")
            .partitionBy("index").parquet(stage)
          fs.globStatus(new Path(s"$stage/index=*/part-*"))
            .zipWithIndex.foreach { case (s0, i) =>
              val idxDir = new Path(s"$target/${s0.getPath.getParent.getName}")
              fs.mkdirs(idxDir)
              fs.rename(s0.getPath,
                new Path(idxDir, s"b$batchId-orphan$i.parquet"))
            }
          fs.delete(new Path(stage), true)
          throw new RuntimeException("injected mid-batch crash")
        }
        Connectors.IndexedParquetBulk.writeBatch(batch, target, batchId,
          isFailed, failedTarget)
      }
    }

    val poison = "\"k\": 5[0-9]\\}"
    val q1 = StreamingSync.start(spark, cfg2, s"$tmp/src", s"$tmp/sink",
      s"$tmp/metrics", availableNow = true, batchFiles = Some(1),
      maxRetries = 0, sink = CrashOnce, failedDocPattern = Some(poison))
    val died = try { q1.awaitTermination(120000); false } catch {
      case _: org.apache.spark.sql.streaming.StreamingQueryException => true
    }
    assert(died, "the injected crash must kill the stream")
    // the crash left real wreckage: orphan files present, batch 0 committed
    assert(fs.globStatus(new Path(s"$tmp/sink/index=*/b1-orphan*")).nonEmpty)
    assert(fs.exists(new Path(s"$tmp/sink/_commits/0")))
    assert(!fs.exists(new Path(s"$tmp/sink/_commits/1")))

    // restart from the same checkpoint: batch 1 replays (scrub+rewrite),
    // batch 2 runs fresh
    StreamingSync.start(spark, cfg2, s"$tmp/src", s"$tmp/sink",
      s"$tmp/metrics", availableNow = true, batchFiles = Some(1),
      maxRetries = 0, sink = CrashOnce,
      failedDocPattern = Some(poison)).awaitTermination(120000)

    val all = SyncPipeline(cfg2)(msgs)
    val batch = all.filter(!col("data").rlike(poison))
    // the FAILED-docs store rides the same commit protocol: exactly the
    // batch poison set, no dup, even through the crash window
    val failedStore = spark.read.parquet(s"$tmp/sink/_failed")
    assert(failedStore.count() ==
      all.filter(col("data").rlike(poison)).count(), "failed-store no loss")
    assert(failedStore.select("msg_id").distinct().count()
      == failedStore.count(), "failed-store no dup")
    val store = spark.read.parquet(s"$tmp/sink")
    assert(store.count() == batch.count(), "no loss")
    assert(store.select("msg_id").distinct().count() == store.count(), "no dup")
    assert(store.select("msg_id", "index", "app").orderBy("msg_id")
      .collect().toSeq ==
      batch.select("msg_id", "index", "app").orderBy("msg_id")
        .collect().toSeq, "store == batch relation exactly")
    // the orphans were scrubbed, every batch has its marker, and the
    // once-per-batch metrics agree with the store
    assert(fs.globStatus(new Path(s"$tmp/sink/index=*/b1-orphan*")).isEmpty)
    Seq(0, 1, 2).foreach(b =>
      assert(fs.exists(new Path(s"$tmp/sink/_commits/$b")), s"marker $b"))
    assert(spark.read.parquet(s"$tmp/metrics")
      .agg(sum("written")).head.getLong(0) == store.count())
  }

  test("second availableNow run is incremental (checkpoint): no re-write") {
    val tmp = Files.createTempDirectory("graft-stream2").toString
    val srcDir = s"$tmp/src"
    Tables.events(spark, sf())
      .select(col("event_id").as("msg_id"), col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
      .limit(100).write.parquet(srcDir)
    val sinkDir = s"$tmp/sink"; val metricsDir = s"$tmp/metrics"
    StreamingSync.start(spark, cfg, srcDir, sinkDir, metricsDir,
      availableNow = true).awaitTermination(120000)
    val n1 = spark.read.parquet(sinkDir).count()
    StreamingSync.start(spark, cfg, srcDir, sinkDir, metricsDir,
      availableNow = true).awaitTermination(120000)
    val n2 = spark.read.parquet(sinkDir).count()
    assert(n1 == n2)
  }

  test("writeChunkedFiles: one job emits one file per batch, empty batches included") {
    // r13: the chunk writer moved from nBatches sequential filter+write
    // jobs to ONE partitioned write. The micro-batch sequence is
    // load-bearing (watermark advancement models batch INDEX; the
    // stream-stream replays drain two sources in lockstep), so an empty
    // batch must still produce its schema-only file in order.
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-chunk-spec").toString
    // batch 1 of 0..3 is EMPTY
    val batched = Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 2L),
      (4L, "d", 3L)).toDF("doc_id", "text", "batch")
    val src = graft.streaming.StreamedBatch.writeChunkedFiles(batched,
      Seq("doc_id", "text"), nBatches = 4, tmp)
    val files = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.map(_.getName).toSeq ==
      Seq("f000.parquet", "f001.parquet", "f002.parquet", "f003.parquet"))
    // mod-times strictly increasing — the file source's replay order
    assert(files.map(_.lastModified()).toSeq.sliding(2)
      .forall { case Seq(a, b) => a < b })
    // per-file content: exactly the batch's rows; the empty batch reads
    // back as zero rows with the right schema
    val perFile = files.map(f => spark.read.parquet(f.getPath))
    assert(perFile.map(_.count()).toSeq == Seq(2L, 0L, 1L, 1L))
    assert(perFile.forall(_.columns.toSeq == Seq("doc_id", "text")))
    assert(perFile(2).as[(Long, String)].collect().toSeq == Seq((3L, "c")))
    org.apache.hadoop.fs.FileSystem
      .get(new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(tmp), true)
  }
}
