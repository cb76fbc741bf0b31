package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Benchmark entry point, started by `run.py`:
  *
  * {{{
  *   Main --workload backfill|trickle|board --seed N --seconds S --trace 0|1
  *        --work DIR --data DIR
  *   Main --oracle-sql FILE      (board rows' DuckDB oracle SQL as JSON)
  * }}}
  *
  * Prints one JSON line `{"result": ...}` on standard output; progress
  * lines go to standard error. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, data: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    kv.get("--oracle-sql") match {
      case Some(out) =>
        Files.writeString(Paths.get(out), Json.render(
          Board.rows.map(r => r -> graft.SparkEntry.oracleSql(r)).toMap))
      case None =>
        val a = Args(kv("--workload"), kv("--seed").toLong, kv("--seconds").toInt,
          kv("--trace") == "1", kv("--work"), kv("--data"))
        val t0 = System.nanoTime()
        val spark = session(a.work)
        val sessionS = (System.nanoTime() - t0) / 1e9
        val out = try a.workload match {
          case "backfill" => Sync.run(spark, Sync.Backfill, a, sessionS)
          case "trickle" => Sync.run(spark, Sync.Trickle, a, sessionS)
          case "board" => Board.run(spark, a, sessionS)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        } finally spark.stop()
        println(Json.render(Map("result" -> out)))
    }
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The benchmark's own session: every core of the host, shuffle
    * partitions equal to the core count, scratch under the work directory,
    * UTC, legacy nanos-as-long parquet reads, no UI. */
  val settings: Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  def session(work: String): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    settings.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The percentile only when at least ten samples lie beyond it. */
  def tail(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.size * (1 - q) >= 10) Some(quantile(xs, q)) else None
}

/** Minimal JSON rendering for the benchmark's records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
      .map { case (k, x) => s"${str(k)}: ${render(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case x => str(x.toString)
  }
}
