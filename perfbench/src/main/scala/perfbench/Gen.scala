package perfbench

import graft.operators.SyncConfig

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.util.Random

/** One generated message, in the connector's message shape
  * `(msg_id, topic, publish_time, data)`; `publishMicros` is epoch micros. */
final case class Msg(msgId: Long, topic: String, publishMicros: Long, data: String)

/** The shape of a generated message stream: topic set, day span, app key
  * skew, payload sizes, planted rejects, and the sync config that runs
  * over it. */
final case class StreamSpec(
    topics: IndexedSeq[String],
    days: Int,
    apps: Int,
    zipf: Double,
    minPayload: Int,
    maxPayload: Int,
    cfg: SyncConfig)

object StreamSpec {
  val namespaceTopic = "audit"

  private def baseCfg(rateLimits: Map[String, Int]) = SyncConfig(
    globalFilters = Seq("\"drop\":\\s*true"),
    namespaceFilters = Map(namespaceTopic -> Seq("\"secret\":")),
    rewriteRules = Seq(("clicks", "web"), ("views", "web")),
    timeKey = Some("ts_ms"),
    debugLogPatterns = Seq("\"trace\":"),
    rateLimits = rateLimits)

  /** Five topics over two days and 50 evenly used apps: URI-shaped,
    * partitioned and plain names, one of them the namespace-filtered topic. */
  val backfill: StreamSpec = StreamSpec(
    topics = Vector("persistent://tenant/ns/orders", "persistent://tenant/ns/clicks",
      "payments-partition-0", "payments-partition-1", namespaceTopic),
    days = 2, apps = 50, zipf = 0.0, minPayload = 200, maxPayload = 600,
    cfg = baseCfg(Map.empty))

  /** Forty topics over seven days and 200 Zipf-skewed apps, with per-second
    * rate limits on the three hottest apps. */
  val trickle: StreamSpec = StreamSpec(
    topics = (0 until 40).map { i =>
      if (i == 0) namespaceTopic
      else if (i == 1) "persistent://tenant/ns/clicks"
      else if (i % 4 == 0) s"persistent://tenant/ns/t$i"
      else if (i % 4 == 1) s"t$i-partition-${i % 3}"
      else s"t$i"
    },
    days = 7, apps = 200, zipf = 1.1, minPayload = 200, maxPayload = 600,
    cfg = baseCfg(Map(app(0) -> 1, app(1) -> 1, app(2) -> 2)))

  def app(i: Int): String = f"app-$i%03d"
}

/** Seeded message generation and the expected store it must produce.
  *
  * The expectation is computed here in plain Scala from the generator's
  * own knowledge of each message, independently of the engine's sync
  * transforms: the same filter, route and admission rules, written out a
  * second time so that the store written by the engine can be checked
  * against it. */
object Gen {
  /** 2024-03-01T00:00:00Z in epoch micros. */
  val BaseMicros: Long = 1709251200L * 1000000L
  val DayMicros: Long = 86400L * 1000000L

  private val dateFmt = DateTimeFormatter.ofPattern("yyyy.MM.dd").withZone(ZoneOffset.UTC)
  private val filler = "abcdefghijklmnopqrstuvwxyz0123456789 "

  /** Messages of file `file`: `n` messages whose publish times lie inside
    * the file's own seconds `[file * secondsPerFile, (file + 1) *
    * secondsPerFile)` of each day, so rate-limit admission never spans two
    * files and the expected store does not depend on batch boundaries. */
  def file(spec: StreamSpec, seed: Long, file: Int, n: Int,
      secondsPerFile: Int): IndexedSeq[Msg] = {
    val rnd = new Random(seed * 1000003L + file)
    val cdf = appCdf(spec)
    (0 until n).map { i =>
      val id = file.toLong * 1000000L + i
      val topic = spec.topics(rnd.nextInt(spec.topics.size))
      val day = rnd.nextInt(spec.days)
      val secOfDay = file.toLong * secondsPerFile + rnd.nextInt(secondsPerFile)
      val micros = BaseMicros + day * DayMicros + secOfDay * 1000000L +
        rnd.nextInt(1000000)
      Msg(id, topic, micros, payload(spec, rnd, cdf, id, topic))
    }
  }

  private def appCdf(spec: StreamSpec): Array[Double] = {
    val w = (1 to spec.apps).map(r => 1.0 / math.pow(r, spec.zipf))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  private def pickApp(rnd: Random, cdf: Array[Double]): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  /** A JSON payload, or one of the planted rejects and edge cases: empty,
    * non-JSON, global-filter hit, namespace-filter hit, `level=debug`,
    * pattern-debug, `time_key` present, and no `app` key. */
  private def payload(spec: StreamSpec, rnd: Random, cdf: Array[Double],
      id: Long, topic: String): String = {
    val kind = rnd.nextInt(100)
    if (kind == 0) return ""
    if (kind == 1) return s"plain text message $id"
    val app = StreamSpec.app(pickApp(rnd, cdf))
    val fields = mutable.ArrayBuffer[String]()
    if (kind != 2) fields += s""""app":"$app""""
    fields += s""""id":$id"""
    fields += s""""level":"${if (kind < 6) "debug" else "info"}""""
    if (kind == 3) fields += """"drop":true"""
    if (kind == 4 || (kind < 12 && topic == StreamSpec.namespaceTopic))
      fields += """"secret":"x""""
    if (kind == 5) fields += """"trace":1"""
    if (kind >= 6 && kind < 30) fields += s""""ts_ms":${1709251200000L + id % 86400000L}"""
    val size = spec.minPayload + rnd.nextInt(spec.maxPayload - spec.minPayload + 1)
    val body = fields.mkString("{", ",", ",\"msg\":\"")
    val pad = math.max(1, size - body.length - 2)
    val sb = new StringBuilder(body)
    var k = 0
    while (k < pad) { sb += filler.charAt(rnd.nextInt(filler.length)); k += 1 }
    sb ++= "\"}"
    sb.result()
  }

  // ---- the expected store -------------------------------------------------

  private def topicPart(t: String): String =
    if (t.contains("://")) t.substring(t.lastIndexOf('/') + 1) else t

  private val partitioned = "^(.*)-partition-\\d+".r.unanchored
  private def collapse(t: String): String = t match {
    case partitioned(base) if base.nonEmpty => base
    case _ => t
  }

  private val appKey = "\"app\"\\s*:\\s*\"([^\"]*)\"".r.unanchored

  /** Routing of one message: `Some((index, app))` when the sync keeps it. */
  def route(cfg: SyncConfig, m: Msg): Option[(String, String)] = {
    val d = m.data
    def any(ps: Seq[String]) = ps.exists(p => p.r.findFirstIn(d).isDefined)
    if (d == null || d.isEmpty || any(cfg.globalFilters)) None
    else if (!d.trim.startsWith("{")) None
    else if (cfg.namespaceFilters.get(m.topic).exists(any)) None
    else {
      val base = collapse(topicPart(m.topic))
      val routed = cfg.rewriteRules.collectFirst {
        case (pat, target) if ("^" + pat).r.findFirstIn(base).isDefined =>
          target.replace(".*", "")
      }.getOrElse(base)
      val date = dateFmt.format(Instant.ofEpochSecond(
        Math.floorDiv(m.publishMicros, 1000000L)))
      val app = d match {
        case appKey(a) if a.nonEmpty => a
        case _ => graft.functions.SyncFunctions.DefaultApp
      }
      Some((s"$routed-$date", app))
    }
  }

  /** Expected per-(index, app) written counts of one file's messages:
    * route each message, then admit the first `limit(app)` messages of each
    * (app, second) in (publish_time, msg_id) order. */
  def expected(cfg: SyncConfig, msgs: Seq[Msg]): Map[(String, String), Long] = {
    val routed = msgs.flatMap(m => route(cfg, m).map(r => (m, r)))
    val admitted =
      if (cfg.rateLimits.isEmpty) routed
      else routed.groupBy { case (m, (_, app)) =>
          (app, Math.floorDiv(m.publishMicros, 1000000L)) }
        .toSeq.flatMap { case ((app, _), group) =>
          val sorted = group.sortBy { case (m, _) => (m.publishMicros, m.msgId) }
          cfg.rateLimits.get(app).fold(sorted)(n => sorted.take(n))
        }
    admitted.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
  }

  def merge(a: Map[(String, String), Long],
      b: Map[(String, String), Long]): Map[(String, String), Long] =
    b.foldLeft(a) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }
}
