package graft.ml

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.SparkSession

/** HTTP layer over [[Serve]] — the reference's prediction endpoint
  * (`server/views/base.py::BaseModelView.post`, public repo; mount empty,
  * SURVEY.md §0) on the JDK's built-in `com.sun.net.httpserver` — no
  * external framework, so it runs in this offline environment and in any
  * JVM deployment.
  *
  * Routes (mirroring the reference's view surface):
  *   - `GET  /healthz`            → `{"status":"ok"}` liveness probe
  *   - `GET  /metadata`           → model metadata (tags, threshold)
  *   - `POST /prediction`         → [[Serve.scoreFrame]] over the body;
  *     400 with an error JSON on malformed payloads. Accepts JSON records
  *     (default) or PARQUET bytes (`Content-Type` containing `parquet` /
  *     `octet-stream`), and answers JSON or parquet per the `Accept`
  *     header — `server/utils.py` parity
  *   - `GET  /models`             → the watchman/status surface
  *     (`watchman/server.py` analogue): every build in the attached
  *     [[DiskRegistry]] with its artifact path and metadata.json
  *     (thresholds live inside the metadata); 404 when the server was
  *     started without a registry
  *
  * Serving-path notes: requests are scored through the same Spark plan as
  * batch scoring (one engine, no drift between train/serve math), and the
  * request parse uses the EXPLICIT schema (no inference scan). A JSON
  * request stays a LOCAL relation from parse to render, so for the
  * row-local scorers (PCA, the dense autoencoder) Catalyst evaluates the
  * whole plan on the driver: no job, stage or task, and handler threads
  * run Catalyst concurrently on the shared session instead of queueing
  * on the scheduler. The sequence model (window + join) and the parquet
  * legs still run jobs. The handler pool is bounded.
  */
class PredictionServer(spark: SparkSession, model: TagAnomalyScorer,
    tags: Seq[String], port: Int = 0, nThreads: Int = 4,
    registry: Option[DiskRegistry] = None,
    resolution: String = "10 minutes") {

  private val server: HttpServer = PredictionServer.bind(port)
  private val pool = Executors.newFixedThreadPool(nThreads)

  /** Bound port — useful when constructed with port 0 (ephemeral). */
  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def jsonError(msg: String): String =
    "{\"error\":" + Serve.jsonString(msg) + "}"

  server.createContext("/healthz", (ex: HttpExchange) =>
    respond(ex, 200, "{\"status\":\"ok\"}"))

  server.createContext("/metadata", (ex: HttpExchange) =>
    respond(ex, 200,
      "{\"tags\":[" + tags.map(Serve.jsonString).mkString(",") +
        s"""],"threshold":${model.threshold},""" +
        s""""resolution":${Serve.jsonString(resolution)}}"""))

  server.createContext("/models", (ex: HttpExchange) =>
    registry match {
      case None => respond(ex, 404, jsonError("no registry attached"))
      case Some(reg) =>
        try {
          val items = reg.entries.map { case (k, path) =>
            // metadata.json is already JSON — embed it verbatim
            val metaFile = java.nio.file.Paths.get(path, "metadata.json")
            val meta =
              if (java.nio.file.Files.isReadable(metaFile))
                java.nio.file.Files.readString(metaFile)
              else "null"
            s"""{"config_key": ${Serve.jsonString(k)}, "path": ${Serve.jsonString(path)}, "metadata": $meta}"""
          }
          respond(ex, 200, "{\"models\": [" + items.mkString(", ") + "]}")
        } catch {
          case e: Exception => respond(ex, 500, jsonError(e.toString))
        }
    })

  // Parquet content negotiation (`server/utils.py` parity: the reference
  // endpoint accepts JSON records OR parquet bytes and answers in kind):
  // request format from Content-Type, response format from Accept.
  private def wantsParquet(header: String): Boolean = {
    val h = header.toLowerCase(java.util.Locale.ROOT)
    h.contains("parquet") || h.contains("octet-stream")
  }

  server.createContext("/prediction", (ex: HttpExchange) => {
    if (ex.getRequestMethod != "POST") respond(ex, 405, jsonError("POST only"))
    else {
      val raw = ex.getRequestBody.readAllBytes()
      val contentType = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
      val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
      // a blank payload is a client bug and must be a 400, not a silent
      // 200 "[]" (Serve.parseRequest would treat it as zero records)
      val jsonBody =
        if (wantsParquet(contentType)) None
        else Some(new String(raw, StandardCharsets.UTF_8))
      if (raw.isEmpty || jsonBody.exists(_.trim.isEmpty))
        respond(ex, 400, jsonError("empty request body"))
      else try {
        val x = jsonBody match {
          case Some(body) => Serve.parseRequest(spark, body, tags)
          case None => Serve.parseParquetRequest(spark, raw, tags)
        }
        val out = Serve.scoreFrame(model, x, tags)
        if (wantsParquet(accept)) {
          val bytes = Serve.toParquetResponse(out)
          ex.getResponseHeaders.set("Content-Type", "application/x-parquet")
          ex.sendResponseHeaders(200, bytes.length.toLong)
          val os = ex.getResponseBody
          try os.write(bytes) finally os.close()
        } else respond(ex, 200, Serve.toJsonResponse(out))
      } catch {
        // client-caused failures (malformed JSON/parquet, empty body) are
        // 400s; anything else is a real 500 — do not mask engine bugs as
        // client errors
        case e: IllegalArgumentException => respond(ex, 400, jsonError(e.getMessage))
        case e: Exception => respond(ex, 500, jsonError(e.toString))
      }
    }
  })

  def start(): PredictionServer = { server.setExecutor(pool); server.start(); this }

  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

object PredictionServer {

  /** A loopback JDK `HttpServer` whose sockets have Nagle's algorithm off.
    * The JDK server sends a response's status line + headers and its body
    * as two writes. On a kept-alive connection Nagle holds the body of a
    * POST answer until the client ACKs the headers, and the client delays
    * that ACK: ~40 ms per answer (measured 43 ms for a POST to `/healthz`,
    * 1 ms for a GET). The JDK reads `sun.net.httpserver.nodelay` once,
    * when the JVM's first server is made, so every graft server binds
    * here; a value set before is kept.
    */
  private[graft] def bind(port: Int): HttpServer = {
    System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }
}
