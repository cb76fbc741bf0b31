package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.AccumulatorV2
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The engine's analog of the reference's Elasticsearch bulk sink
  * (es.rs:273-316): documents are routed to time-rotated "indices" —
  * here a parquet dataset partitioned by the `index` column — and each
  * flush produces per-(index, app) bulk metrics, the counterpart of the
  * reference's write success/failure counters (prometheus.rs).
  *
  * At cluster scale the partitioned write IS the bulk batching: each task
  * writes its index partitions independently, and downstream consumers
  * prune by index directory exactly like an ES index query. A batch is
  * written by ONE staging write that hashes it on `index` (one task, so
  * one file, per (batch, index)) and counts written and failed docs as
  * it passes them, the way the reference counts from the response to
  * the bulk request that wrote them (es.rs:133-191): the batch is read
  * once, never cached, and the metrics cost no job of their own. */
object IndexedParquetSink {

  /** Staging partition column that splits written from failed docs. */
  private val FailedFlag = "__failed"

  /** Per-(index, app) `[written, failed]` counts, added to by the
    * staging write's tasks. Spark merges a result task's update once
    * per partition and drops the updates of failed task attempts, so a
    * fresh instance per write attempt counts every doc exactly once. */
  private final class BulkCounts extends AccumulatorV2[
      (String, String, Boolean), mutable.HashMap[(String, String), Array[Long]]] {
    private val m = mutable.HashMap.empty[(String, String), Array[Long]]
    def isZero: Boolean = m.isEmpty
    def copy(): BulkCounts = {
      val c = new BulkCounts
      c.merge(this)
      c
    }
    def reset(): Unit = m.clear()
    def add(v: (String, String, Boolean)): Unit =
      m.getOrElseUpdate((v._1, v._2), Array(0L, 0L))(if (v._3) 1 else 0) += 1
    def merge(other: AccumulatorV2[(String, String, Boolean),
        mutable.HashMap[(String, String), Array[Long]]]): Unit =
      other.value.foreach { case (k, c) =>
        val t = m.getOrElseUpdate(k, Array(0L, 0L))
        t(0) += c(0); t(1) += c(1)
      }
    def value: mutable.HashMap[(String, String), Array[Long]] = m
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
    *
    * The staging is ONE write of the batch: it hashes the rows on
    * `index` into the session's core count of partitions, so one task
    * writes each index and a batch adds one `b<batchId>-k.parquet` per
    * index it touches, however many partitions it arrives in (the
    * explicit count also keeps AQE from coalescing the write back into
    * one task). `isFailed` marks the docs the bulk response would reject
    * (es.rs:133-191; a doc it cannot classify, a null, is written): the
    * write partitions them apart under a failed flag, and they move to
    * `failedPath`, the failed-payload log, or are dropped when there is
    * none. The same pass counts per-(index, app) `written` (and, with
    * `isFailed`, `failed`) docs into an accumulator, so the returned
    * metrics are a local relation: collecting them starts no job.
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
      isFailed: Option[Column] = None,
      failedPath: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val marker = new Path(s"$path/_commits/$batchId")
    val metricsSchema = StructType(Seq(
      StructField("index", StringType), StructField("app", StringType),
      StructField("written", LongType)) ++
      isFailed.map(_ => StructField("failed", LongType)))
    def metricsDf(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(rows.asJava, metricsSchema)
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
        if (isFailed.isDefined) Row(f(0), f(1), f(2).toLong, f(3).toLong)
        else Row(f(0), f(1), f(2).toLong)
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
      // a fresh accumulator per attempt: a died attempt's counts are
      // never merged into this one
      val counts = new BulkCounts
      spark.sparkContext.register(counts)
      val tally = udf { (index: String, app: String, failed: Boolean) =>
        counts.add((index, app, failed)); failed
      }.asNondeterministic()
      val flag = isFailed.fold(lit(false))(c => coalesce(c, lit(false)))
      // the tally sits after the hash, in the write's result stage
      val staging = s"$path/_staging/$batchId"
      batch.repartition(spark.sparkContext.defaultParallelism, col("index"))
        .withColumn(FailedFlag, tally(col("index"), col("app"), flag))
        .write.mode("overwrite").partitionBy(FailedFlag, "index")
        .parquet(staging)
      var k = 0
      fs.globStatus(new Path(s"$staging/$FailedFlag=*/index=*/part-*"))
        .sortBy(_.getPath.toString).foreach { s =>
          val idx = s.getPath.getParent
          val root =
            if (idx.getParent.getName == s"$FailedFlag=true") failedPath
            else Some(path)
          root.foreach { r =>
            val idxDir = new Path(s"$r/${idx.getName}")
            fs.mkdirs(idxDir)
            if (!fs.rename(s.getPath, new Path(idxDir, s"b$batchId-$k.parquet")))
              throw new IllegalStateException(
                s"commit move failed for ${s.getPath}")
            k += 1
          }
        }
      fs.delete(new Path(staging), true)
      val rows = counts.value.toSeq.map { case ((index, app), c) =>
        if (isFailed.isDefined) Row(index, app, c(0), c(1))
        else Row(index, app, c(0))
      }
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

  /** Read the indexed store: every committed doc, with `index` as a
    * partition column (underscore dirs — markers, staging, the failed
    * log — are not read). */
  def readIndexed(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
