package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan inspection + timing for a named SparkEntry query:
  * runMain graft.tools.Explain <query> [sfDir] [reps]
  * Prints the formatted physical plan, then times `reps` materializations
  * (after one warm-up). */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName("graft-explain")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // match Bench's scratch placement so timings are comparable (r13)
      .config("spark.local.dir",
        graft.operators.Scratch.tempDir("graft-spark-local"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // comma-separated names share one session (r13: plan surveys over
    // many queries shouldn't pay a JVM+session start-up each)
    name.split(",").map(_.trim).filter(_.nonEmpty).foreach { nm =>
      println(s"===== $nm =====")
      val fn = graft.SparkEntry.queries(nm)
      fn(spark, sfDir).explain("formatted")
      fn(spark, sfDir).count() // warm-up
      // REBUILD the DataFrame inside the timer: Materialize() checkpoints
      // eagerly at CONSTRUCTION time, so timing a pre-built df measures
      // only the post-checkpoint tail (dedup_prefix_jaccard read 0.85 s
      // here vs 6.6 s in Bench until this tool was fixed to match
      // Bench's fn(...).count() semantics).
      (1 to reps).foreach { i =>
        // dead materialization blocks from the previous query would
        // distort the next timing (the Bench clearCache convention)
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
      }
    }
    spark.stop()
  }
}
