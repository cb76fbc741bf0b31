package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The engine's analog of the reference's Elasticsearch bulk sink
  * (es.rs:273-316): documents are routed to time-rotated "indices" —
  * here a parquet dataset partitioned by the `index` column — and each
  * flush produces per-(index, app) bulk metrics, the counterpart of the
  * reference's write success/failure counters (prometheus.rs).
  *
  * At cluster scale the partitioned write IS the bulk batching: each task
  * writes its index partitions independently, and downstream consumers
  * prune by index directory exactly like an ES index query. The
  * exactly-once write first hashes the batch on `index`, so one task
  * writes each index of a batch and the store gains one file per
  * (batch, index) however widely the batch was spread before it. */
object IndexedParquetSink {

  /** Append one batch of enriched sync documents (must carry `index`,
    * `app` columns) to the indexed store; returns per-(index, app) bulk
    * metrics for observability. */
  def writeBatch(batch: DataFrame, path: String): DataFrame = {
    // Two actions run against the batch (write + metrics agg); the cache
    // keeps the second off the source. Note: the streaming progress
    // numInputRows still reports the batch size once per action — an
    // accounting quirk of multi-action foreachBatch, not a double scan
    // (sink row counts stay exact).
    batch.cache()
    try {
      batch.write.mode("append").partitionBy("index").parquet(path)
      batch.groupBy(col("index"), col("app"))
        .agg(count(lit(1)).as("written"))
    } finally batch.unpersist()
  }

  /** [[writeBatch]] with per-item bulk failure accounting (es.rs:133-191:
    * the reference parses the bulk response, counts failed items per
    * index, and logs the failed payloads). `isFailed` marks the docs the
    * bulk response would reject; they are diverted to the failed-docs
    * store (the payload log) instead of the index, and the returned
    * metrics carry per-(index, app) `written` AND `failed` counts. The
    * metrics aggregate is materialized while the batch is cached, so
    * consuming it later never rescans the source. */
  def writeBatchAccounted(batch: DataFrame, path: String,
      isFailed: org.apache.spark.sql.Column,
      failedPath: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    batch.cache()
    try {
      batch.filter(!isFailed).write.mode("append")
        .partitionBy("index").parquet(path)
      failedPath.foreach { fp =>
        batch.filter(isFailed).write.mode("append")
          .partitionBy("index").parquet(fp)
      }
      val agg = batch.groupBy(col("index"), col("app"))
        .agg(sum(when(!isFailed, 1L).otherwise(0L)).as("written"),
          sum(when(isFailed, 1L).otherwise(0L)).as("failed"))
      val rows = agg.collect()
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), agg.schema)
    } finally batch.unpersist()
  }

  /** EXACTLY-ONCE append of one micro-batch into the indexed store — the
    * commit-marker protocol that makes checkpoint REPLAY (the streaming
    * counterpart of broker redelivery, pulsar.rs:193-221 reconnect loop)
    * safe for a file sink the way ES doc-ids make it safe for the
    * reference's bulk writes:
    *
    *  1. a marker at `_commits/<batchId>` means the batch is fully in
    *     the store → a replay returns the recorded metrics and writes
    *     NOTHING (no dup);
    *  2. no marker → scrub any partial output of a mid-batch crash
    *     (every file this protocol moves is named `b<batchId>-*`, so
    *     the orphans of a died attempt are exactly a glob), stage the
    *     batch under `_staging/<batchId>`, MOVE the staged files into
    *     their `index=` directories under the batch-scoped names, then
    *     atomically rename the marker into place (create-temp + rename).
    *     The staging write hashes the batch on `index` into the
    *     session's core count of partitions, so ONE task writes each
    *     index: a batch adds one `b<batchId>-k.parquet` per index it
    *     touches, however many partitions the batch arrives in (the
    *     explicit count also keeps AQE from coalescing the write back
    *     into one task).
    *
    * A crash at ANY point replays into case 2 and converges: the store
    * after restart equals the batch relation exactly — no loss (the
    * checkpoint replays uncommitted batches), no dup (committed batches
    * skip, partial attempts are scrubbed by name). Marker payloads are
    * escaped TSV (tab/newline/backslash in index/app values cannot
    * break framing); markers written by a pre-escaping build are not
    * readable by this one — drain a store's in-flight checkpoint before
    * upgrading across the marker format. Underscore-prefixed
    * dirs (`_commits`, `_staging`) are invisible to parquet readers, so
    * the store layout stays `index=`-partitioned for pruning, retention
    * and compaction. Metadata cost is O(#files in the batch) renames —
    * no data rewrite. */
  def writeBatchExactlyOnce(batch: DataFrame, path: String, batchId: Long,
      isFailed: Option[org.apache.spark.sql.Column] = None,
      failedPath: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val marker = new Path(s"$path/_commits/$batchId")
    val metricsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("index",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("app",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("written",
        org.apache.spark.sql.types.LongType)) ++
      isFailed.map(_ => org.apache.spark.sql.types.StructField("failed",
        org.apache.spark.sql.types.LongType)))
    def metricsDf(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), metricsSchema)
    // index/app are payload-derived strings and may legally contain tab
    // or newline (the regex app extractor admits them) — escape so a
    // hostile value can never corrupt the marker's line/field framing
    // (an unparseable marker on a COMMITTED batch would be a permanent
    // poison pill: the replay path would throw forever)
    def esc(v: String): String = v.flatMap {
      case '\\' => "\\\\"
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case c => c.toString
    }
    def unesc(v: String): String = {
      val b = new StringBuilder
      var i = 0
      while (i < v.length) {
        if (v(i) == '\\' && i + 1 < v.length) {
          b += (v(i + 1) match {
            case 't' => '\t'; case 'n' => '\n'; case 'r' => '\r'
            case c => c
          })
          i += 2
        } else { b += v(i); i += 1 }
      }
      b.result()
    }
    if (fs.exists(marker)) {
      // replay AFTER commit: the batch is already in the store — return
      // the metrics recorded in the marker, write nothing
      val in = fs.open(marker)
      val content = try scala.io.Source.fromInputStream(in).mkString
        finally in.close()
      metricsDf(content.linesIterator.filter(_.nonEmpty).map { l =>
        val f = l.split("\t", -1).map(unesc)
        if (isFailed.isDefined)
          org.apache.spark.sql.Row(f(0), f(1), f(2).toLong, f(3).toLong)
        else org.apache.spark.sql.Row(f(0), f(1), f(2).toLong)
      }.toSeq)
    } else {
      // replay after a mid-batch crash (or first attempt): scrub this
      // batch's orphans by name, then write fresh
      def scrub(root: String): Unit = {
        val st = new Path(s"$root/_staging/$batchId")
        if (fs.exists(st)) fs.delete(st, true)
        fs.globStatus(new Path(s"$root/index=*/b$batchId-*"))
          .foreach(s => fs.delete(s.getPath, false))
      }
      scrub(path)
      failedPath.foreach(scrub)
      batch.cache()
      try {
        def stageAndMove(df: DataFrame, root: String): Unit = {
          val staging = s"$root/_staging/$batchId"
          df.repartition(spark.sparkContext.defaultParallelism, col("index"))
            .write.mode("overwrite").partitionBy("index").parquet(staging)
          var k = 0
          fs.globStatus(new Path(s"$staging/index=*/part-*"))
            .sortBy(_.getPath.toString).foreach { s =>
              val idxDir = new Path(s"$root/${s.getPath.getParent.getName}")
              fs.mkdirs(idxDir)
              if (!fs.rename(s.getPath,
                  new Path(idxDir, s"b$batchId-$k.parquet")))
                throw new IllegalStateException(
                  s"commit move failed for ${s.getPath}")
              k += 1
            }
          fs.delete(new Path(s"$root/_staging/$batchId"), true)
        }
        isFailed match {
          case Some(cond) =>
            stageAndMove(batch.filter(!cond), path)
            failedPath.foreach(fp => stageAndMove(batch.filter(cond), fp))
          case None => stageAndMove(batch, path)
        }
        val agg = isFailed match {
          case Some(cond) => batch.groupBy(col("index"), col("app"))
            .agg(sum(when(!cond, 1L).otherwise(0L)).as("written"),
              sum(when(cond, 1L).otherwise(0L)).as("failed"))
          case None => batch.groupBy(col("index"), col("app"))
            .agg(count(lit(1)).as("written"))
        }
        val rows = agg.collect().toIndexedSeq
        // marker last, atomically: temp file + rename — the commit point
        val tmp = new Path(s"$path/_commits/.tmp-$batchId")
        fs.mkdirs(new Path(s"$path/_commits"))
        val outS = fs.create(tmp, true)
        try outS.write(rows.map(r => r.toSeq.map {
            case s: String => esc(s)
            case v => String.valueOf(v)
          }.mkString("\t"))
          .mkString("", "\n", "\n").getBytes("UTF-8"))
        finally outS.close()
        if (!fs.rename(tmp, marker))
          throw new IllegalStateException(s"marker rename failed for $marker")
        metricsDf(rows)
      } finally batch.unpersist()
    }
  }

  /** Transient-failure retry with linear backoff — the engine analog of
    * the reference's ES connect/retry loop (es.rs: connection retried on
    * startup; bulk errors logged and retried by redelivery). Each retry
    * bumps the `graft_es_retry_total` counter; attempts exhausted →
    * rethrow (the micro-batch fails and the checkpoint replays it, the
    * streaming counterpart of broker redelivery). */
  def withRetries[T](maxRetries: Int, backoffMs: Long = 0,
      label: String = "sink")(attempt: () => T): T = {
    var tries = 0
    while (true) {
      try return attempt()
      catch {
        case e: Throwable =>
          tries += 1
          if (tries > maxRetries) throw e
          graft.streaming.SyncMetrics.incBy("graft_es_retry_total",
            Seq("sink" -> label), 1)
          if (backoffMs > 0) Thread.sleep(backoffMs * tries)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Metrics accumulated across batches (driver-side small aggregate). */
  def readIndexed(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
