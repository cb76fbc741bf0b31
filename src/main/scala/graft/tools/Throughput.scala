package graft.tools

import graft.operators.{SyncConfig, SyncPipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Sustained-throughput measurement of the sync pipeline at the
  * reference's own anchor (README: 2,000,000 messages consumed):
  * replicates the sf0.1 events to ~2M messages, runs the full
  * filter→parse→enrich→route chain, reports msg/s.
  * Usage: runMain graft.tools.Throughput [replicas] */
object Throughput {
  def main(args: Array[String]): Unit = {
    val replicas = args.headOption.map(_.toInt).getOrElse(20)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName("graft-throughput")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = graft.sources.Tables.events(spark, "/root/testdata/sf0.1")
    val msgs = base
      .crossJoin(spark.range(replicas).select(col("id").as("rep")))
      .select((col("event_id") * replicas + col("rep")).as("msg_id"),
        col("event_type").as("topic"),
        timestamp_micros(expr("ts div 1000")).as("publish_time"),
        col("props").as("data"))
    val cfg = SyncConfig(
      globalFilters = Seq("\"k\": 13\\}"),
      namespaceFilters = Map("error" -> Seq("\"k\": 9[0-9]\\}")),
      rewriteRules = Seq(("click", "web"), ("view", "web"), ("purchase", "commerce")),
      debugLogPatterns = Seq("\"k\": 4[0-9]\\}"))
    val pipeline = SyncPipeline(cfg)(msgs)

    val n = msgs.count() // warm-up + input size
    pipeline.count()     // warm-up full chain (codegen)
    val t0 = System.nanoTime()
    val out = pipeline.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"INPUT=$n OUTPUT=$out SECONDS=$sec%.2f MSG_PER_SEC=${n / sec}%.0f")
    spark.stop()
  }
}
