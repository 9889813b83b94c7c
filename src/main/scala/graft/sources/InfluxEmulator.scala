package graft.sources

import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import scala.collection.mutable

import com.sun.net.httpserver.HttpExchange

/** Loopback InfluxDB 1.x API emulator on the JDK's built-in HTTP server —
  * the offline stand-in that lets [[InfluxStore]]'s REAL transport code
  * (executor-side POST batching, per-tag GET queries, response parsing)
  * run against a live socket (the PredictionServer pattern,
  * ml/HttpServe.scala). Speaks the public HTTP surface the reference's
  * provider/forwarder pair uses (`data_provider/providers.py::
  * InfluxDataProvider`, `client/forwarders.py::ForwardPredictionsIntoInflux`
  * — public repo; mount empty, SURVEY.md §0):
  *
  *   - `POST /write?db=<db>&precision=ns` — line-protocol body, one point
  *     per line; 204 on success (matching the real server)
  *   - `GET /query?db=<db>&epoch=u&q=SELECT "value" FROM "<m>" WHERE
  *     "tag" = '<tag>' AND time >= <ns> AND time < <ns>` — the one InfluxQL
  *     shape the store emits; standard `{"results":[{"series":[...]}]}`
  *     JSON, time in the requested epoch unit
  *   - `GET /ping` — 204 liveness
  *
  * Storage is in-memory per (db, measurement); points return
  * time-ascending like the real server. `epoch=u` (µs) is the precision
  * the store requests: µs-since-epoch stays under 2^53, so the JSON
  * number round-trips through a double exactly (ns would not).
  */
class InfluxEmulator(port: Int = 0) {

  private val server = graft.ml.PredictionServer.bind(port)
  private val pool = Executors.newFixedThreadPool(4)

  // (db, measurement) -> points (tag, ns, value); all access synchronized
  private val points = mutable.Map.empty[(String, String), mutable.ArrayBuffer[(String, Long, Double)]]

  def boundPort: Int = server.getAddress.getPort

  /** Total stored points (test introspection). */
  def size: Int = points.synchronized(points.valuesIterator.map(_.size).sum)

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").iterator
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    if (bytes.isEmpty) ex.sendResponseHeaders(code, -1L)
    else {
      ex.sendResponseHeaders(code, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }

  // measurement,tag=<escaped> value=<double> <ns> — the exact shape
  // LineProtocol.toLines emits; lazy groups keep escaped separators intact
  private val lineRx = "^(.+?),tag=(.*?) value=([^ ]+) ([0-9]+)$".r

  private def unescapeTag(s: String): String =
    s.replaceAll("\\\\([\\\\,= ])", "$1")
  private def unescapeMeasurement(s: String): String =
    s.replaceAll("\\\\([\\\\, ])", "$1")

  server.createContext("/write", (ex: HttpExchange) => {
    if (ex.getRequestMethod != "POST") respond(ex, 405, """{"error":"POST only"}""")
    else {
      val p = params(ex)
      val db = p.getOrElse("db", "")
      if (p.get("precision").exists(_ != "ns"))
        respond(ex, 400, """{"error":"only precision=ns supported"}""")
      else {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val parsed = body.linesIterator.filter(_.nonEmpty).map {
          case lineRx(m, tag, v, ns) =>
            try Some((unescapeMeasurement(m), (unescapeTag(tag), ns.toLong, v.toDouble)))
            catch { case _: NumberFormatException => None }
          case _ => None
        }.toSeq
        if (parsed.contains(None)) respond(ex, 400, """{"error":"unable to parse line"}""")
        else {
          points.synchronized {
            parsed.flatten.foreach { case (m, pt) =>
              points.getOrElseUpdate((db, m), mutable.ArrayBuffer.empty) += pt
            }
          }
          respond(ex, 204, "")
        }
      }
    }
  })

  // the one query shape InfluxStore emits; '' and \' unescape inside the
  // tag literal per InfluxQL string rules
  private val queryRx =
    """^SELECT "value" FROM "([^"]+)" WHERE "tag" = '((?:[^'\\]|\\.)*)' AND time >= ([0-9]+) AND time < ([0-9]+)$""".r

  server.createContext("/query", (ex: HttpExchange) => {
    val p = params(ex)
    val db = p.getOrElse("db", "")
    val epoch = p.getOrElse("epoch", "ns")
    val divisor = epoch match {
      case "u" | "µ" => 1000L
      case "ms" => 1000000L
      case "ns" => 1L
      case other => -1L
    }
    (p.get("q"), divisor) match {
      case (_, -1L) => respond(ex, 400, s"""{"error":"unsupported epoch"}""")
      case (Some(queryRx(m, tagEsc, fromNs, toNs)), div) =>
        val tag = tagEsc.replaceAll("\\\\(['\\\\])", "$1")
        val (f, t) = (fromNs.toLong, toNs.toLong)
        val hits = points.synchronized {
          points.getOrElse((db, m), mutable.ArrayBuffer.empty)
            .filter { case (tg, ns, _) => tg == tag && ns >= f && ns < t }
            .sortBy(_._2).toVector
        }
        val body =
          if (hits.isEmpty) """{"results":[{"statement_id":0}]}"""
          else {
            val values = hits.map { case (_, ns, v) => s"[${ns / div},$v]" }.mkString(",")
            s"""{"results":[{"statement_id":0,"series":[{"name":"$m","columns":["time","value"],"values":[$values]}]}]}"""
          }
        respond(ex, 200, body)
      case (Some(other), _) =>
        respond(ex, 400, s"""{"error":"unsupported query"}""")
      case (None, _) => respond(ex, 400, """{"error":"missing q"}""")
    }
  })

  server.createContext("/ping", (ex: HttpExchange) => respond(ex, 204, ""))

  def start(): InfluxEmulator = { server.setExecutor(pool); server.start(); this }

  def stop(): Unit = { server.stop(0); pool.shutdown() }
}
