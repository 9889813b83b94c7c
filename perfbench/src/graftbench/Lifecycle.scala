package graftbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.{DiskRegistry, PredictionServer, Serve, TagAnomalyScorer, WorkflowGenerator}

/** Gordo's loop in one session: build a seeded fleet, rebuild it from the
  * registry, then serve one built machine over loopback HTTP, first in
  * an open loop at a fixed rate, then in a closed loop with one client
  * per core.
  */
object Lifecycle {
  val modelTypes: Seq[String] = Seq("pca_anomaly", "autoencoder_sgd")
  private val eventTypes = Seq("click", "view", "purchase", "signup", "error")

  /** Open-loop arrival rate: about a third of the closed-loop capacity
    * that one client per core reaches on a 4-core box (4.0 to 6.1
    * requests/s), low enough that queueing does not amplify noise from
    * other load on the box.
    */
  private val openRate = 1.6
  private val requestTimeoutMs = 30000

  /** Share of each payload size, in records, in the request mix: mostly
    * 1-row, with some 100- and 1000-row batches. The weights are an
    * assumption; no record of real traffic gives them. They are set so
    * that 40% of the open loop's requests are batches, which puts its
    * tail among the batches and its median among the 1-row requests.
    * Latency is also reported per payload size, so that the weights
    * cannot hide a regression in one size class.
    */
  val mixShare: Map[Int, Double] = Map(1 -> 0.6, 100 -> 0.25, 1000 -> 0.15)

  /** Two machines: the served anomaly model and the gradient-trained
    * autoencoder, whose every epoch is a Spark job. The seed picks their
    * tags.
    */
  def fleetConfig(seed: Long): String = {
    val r = new Random(seed)
    def tags(k: Int) = r.shuffle(eventTypes).take(k).map("\"" + _ + "\"").mkString(", ")
    val models = Seq(
      "m-pca" -> """{"type": "pca_anomaly", "k": 2, "threshold_pctl": 0.95}""",
      "m-sgd" -> """{"type": "autoencoder_sgd", "hidden": 4, "epochs": 5, "threshold_pctl": 0.95}""")
    val machines = models.map { case (name, model) =>
      s"""{"name": "$name", "dataset": {"tags": [${tags(3)}]}, "model": $model}"""
    }
    s"""{"defaults": {"dataset": {"resolution": "1 hour", "tag_col": "event_type",
       | "value_col": "value"}, "evaluation": {"n_splits": 1}},
       | "machines": [${machines.mkString(", ")}]}""".stripMargin
  }

  /** (name, model type, registry key) per machine, in build order. */
  private def registryKeys(fleetJson: String, regDir: Path): Seq[(String, String, String)] = {
    val reg = DiskRegistry(regDir.toString)
    WorkflowGenerator.normalize(fleetJson).map { case (name, mtype, cfg) =>
      (name, mtype, reg.key(s"$mtype\n$cfg"))
    }
  }

  private def listing(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }

  private def treeBytes(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** One payload: a JSON array of records, one double per tag. */
  private final case class Payload(json: String, rows: Int)

  /** One open-loop request; epoch milliseconds. A failed request counts
    * as taking the whole timeout.
    */
  private final case class Req(idx: Int, due: Double, sent: Double, done: Double, ok: Boolean) {
    def lateness: Double = sent - due
    def latency: Double = if (ok) done - due else requestTimeoutMs.toDouble
    def roundTrip: Double = done - sent
  }

  def run(a: Args, ops: Ops, report: Report): SparkSession = {
    var long: DataFrame = null
    val (spark, setupS) = Bench.setUp(a, s => {
      long = graft.sources.Events.read(s, s"${a.data}/events.parquet")
        .select("ts", "event_type", "value").cache()
      long.count()
    })
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())

    // 1. build the fleet into a fresh dir
    val fleetJson = fleetConfig(a.seed)
    val fleetDir = Paths.get(a.runDir, "fleet")
    val regDir = fleetDir.resolve("registry")
    val buildTrace = tracer.fold(0L)(_.newTrace())
    tracer.foreach(_.tag(buildTrace, "build"))
    val b0 = Clock.now()
    val built = WorkflowGenerator.buildFleet(spark, fleetJson, long, fleetDir.toString)
    val b1 = Clock.now()
    tracer.foreach(_.untag())
    val keys = registryKeys(fleetJson, regDir)
    built.failed.foreach { case (n, e) => ops.attempted += 1; ops.fail(s"build machine $n", e) }
    built.built.foreach(m => ops.check(s"build machine ${m.name}") {
      Files.exists(Paths.get(m.path, "metadata.json"))
    })
    ops.check("fleet manifest lists every machine as built") {
      val manifest = org.json4s.jackson.JsonMethods.parse(
        Files.readString(Paths.get(built.manifestPath)))
      val statuses = (manifest \ "machines").children.map(m =>
        (m \ "name").values.toString -> (m \ "status").values.toString).toMap
      keys.forall { case (name, _, _) => statuses.get(name).contains("built") }
    }
    val fleetBuildS = (b1 - b0) / 1000

    // 2. rebuild: every machine must be a registry hit that creates nothing
    val paths = built.built.map(m => m.name -> m.path).toMap
    val before = (listing(fleetDir), listing(regDir))
    var hitRatio = 0.0
    def rebuild(): Double = {
      val t0 = Clock.now()
      val r = WorkflowGenerator.buildFleet(spark, fleetJson, long, fleetDir.toString)
      val s = (Clock.now() - t0) / 1000
      val hits = keys.count { case (name, _, key) =>
        before._2.contains(key) && r.built.exists(m => m.name == name && paths.get(name).contains(m.path))
      }
      hitRatio = hits.toDouble / keys.size
      ops.check("rebuild is all registry hits and creates no artifact") {
        r.failed.isEmpty && hits == keys.size &&
          (listing(fleetDir), listing(regDir)) == before
      }
      s
    }
    val rebuilds = tracer match {
      case None => Seq.fill(5)(false -> rebuild())
      // alternate untraced and traced rebuilds to measure the overhead
      case Some(tr) =>
        (0 until 6).map { i =>
          if (i % 2 == 0) tr.detach()
          val s = rebuild()
          if (i % 2 == 0) tr.attach()
          (i % 2 == 1) -> s
        }
    }
    val rebuildS = Stats.median(rebuilds.filterNot(_._1).map(_._2))

    // 3. serve the pca machine
    val pca = built.built.find(_.modelType == "pca_anomaly").getOrElse(
      throw new IllegalStateException("the pca_anomaly machine did not build"))
    val (scorer, tags) = graft.Main.loadScorer(spark, pca.path)
    val rnd = new Random(a.seed)
    val pool = payloads(spark, long, tags, rnd)
    val expected = pool.map(p => reference(spark, scorer, tags, p))
    val server = new PredictionServer(spark, scorer, tags).start()
    val url = URI.create(s"http://127.0.0.1:${server.boundPort}/prediction").toURL
    def request(i: Int): Boolean = ops.check(s"request ${pool(i).rows} rows") {
      matches(post(url, pool(i).json), expected(i))
    }
    // a fixed mix of payload sizes, in seeded order: the seed moves the
    // order, not the amount of work
    def mix(r: Random, n: Int): IndexedSeq[Int] = {
      val big = math.round(n * mixShare(1000)).toInt
      val mid = math.round(n * mixShare(100)).toInt
      r.shuffle(Seq.fill(big)(pool.size - 1) ++ Seq.fill(mid)(pool.size - 2) ++
        (0 until n - big - mid).map(_ % (pool.size - 2))).toIndexedSeq
    }
    request(0) // warm-up

    // open loop: one request every 1/openRate seconds, each arrival
    // shifted by a seeded jitter of up to a fifth of the gap, each request
    // timed from its due time; 32 requests, 13 of them batches, put the
    // tail at p68, the third-fastest batch
    val n = math.max(32, math.round(openRate * a.seconds).toInt)
    val gap = 1000 / openRate
    val dues = (0 until n).map(k => k * gap + (rnd.nextDouble() - 0.5) * 0.4 * gap)
    val choice = mix(rnd, n)
    val clients = Executors.newCachedThreadPool()
    val start = Clock.now() + gap
    val futures = dues.map(start + _).zip(choice).map { case (due, i) =>
      while (Clock.now() < due)
        java.util.concurrent.locks.LockSupport.parkNanos(((due - Clock.now()) * 1e6).toLong)
      clients.submit(new Callable[Req] {
        def call(): Req = {
          val sent = Clock.now()
          val ok = request(i)
          Req(i, due, sent, Clock.now(), ok)
        }
      })
    }
    val open = futures.map(_.get(2L * requestTimeoutMs, TimeUnit.MILLISECONDS))
    clients.shutdown()
    val latency = open.map(_.latency)

    // closed loop: one client per core. Throughput is clients over mean
    // response time (Little's law), so requests cut off by the end of the
    // window do not enter as a rounding error.
    val closedNs = (a.seconds / 2.0 * 1e9).toLong
    val responseMs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double)]()
    val c0 = System.nanoTime()
    val threads = (0 until a.cores).map { c =>
      val order = mix(new Random(a.seed * 31 + c), 30)
      val t = new Thread(() => {
        var k = 0
        while (System.nanoTime() - c0 < closedNs) {
          val i = order(k % order.size)
          val t0 = Clock.now()
          val ok = request(i)
          responseMs.add(pool(i).rows -> (if (ok) Clock.now() - t0 else requestTimeoutMs.toDouble))
          k += 1
        }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    val closed = responseMs.asScala.toSeq
    val rps = a.cores / (closed.map(_._2).sum / closed.size / 1000)
    server.stop()

    if (!a.trace) {
      val (tail, pct, count) = Stats.tail(latency)
      report.put("setup_s", setupS, "s")
      report.put("cold_s", fleetBuildS, "s")
      report.put("warm_s", rebuildS, "s")
      report.put("op_p50_ms", Stats.median(latency), "ms")
      report.put("op_tail_ms", tail, "ms")
      report.put("ops_per_s", rps, "1/s")
      report.line(s"workload model_lifecycle: ${keys.size} machines, seed ${a.seed}")
      report.line(f"setup_s = $setupS%.3f s")
      report.line(f"fleet_build_s = $fleetBuildS%.3f s")
      report.line(f"fleet_rebuild_s = $rebuildS%.3f s (rebuilds ${rebuilds.map(r => f"${r._2}%.3f").mkString(", ")}, " +
        f"registry hit ratio $hitRatio%.2f)")
      report.line(f"serve_p50_ms = ${Stats.median(latency)}%.1f ms (open loop, $n requests at $openRate/s; " +
        f"generator lateness p50 ${Stats.median(open.map(_.lateness))}%.2f ms, max ${open.map(_.lateness).max}%.2f ms)")
      report.line(f"serve_tail_ms = $tail%.1f ms (p$pct of $count samples)")
      report.line(f"serve_rps = $rps%.3f 1/s (closed loop, ${a.cores} clients, ${closed.size} requests)")
      mixShare.keys.toSeq.sorted.foreach { rows =>
        val o = open.filter(r => pool(r.idx).rows == rows).map(_.latency)
        val c = closed.filter(_._1 == rows).map(_._2)
        def p50(xs: Seq[Double]) = if (xs.isEmpty) "-" else f"${Stats.median(xs)}%.1f"
        report.line(s"serve_ms.${rows}_rows = open loop p50 ${p50(o)} ms (${o.size} requests), " +
          s"closed loop p50 ${p50(c)} ms (${c.size} requests)")
      }
      report.line(f"peak_rss_mb = ${Bench.peakRssMb()}%.1f MB")
    } else {
      val tr = tracer.get
      val layers = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      // per-machine windows: a machine's registry entry is written the
      // moment its artifact is complete, and machines build in order
      tr.drain()
      val ends = keys.map { case (_, _, key) =>
        Files.getLastModifiedTime(regDir.resolve(key)).toMillis.toDouble }
      val starts = b0 +: ends.init
      keys.zip(starts.zip(ends)).foreach { case ((name, mtype, _), (s, e)) =>
        val t = tr.newTrace()
        val root = tr.span(t, 0, s"ml.machine:$name", s, e)
        val js = tr.jobsBetween(s, e)
        tr.jobSpans(t, root, js)
        tr.planSpans(t, root, tr.plansBetween(s, e))
        layers(s"ml.machine_build_ms.$mtype") += e - s
        layers(s"ml.machine_jobs.$mtype") += js.size
      }
      tr.span(buildTrace, 0, "ml.build_fleet", b0, b1)
      val buildJobs = tr.jobsTagged(buildTrace, "build")
      layers ++= tr.catalystLayer(tr.plansBetween(b0, b1))
      layers ++= tr.execLayer(buildJobs, b0, b1)
      layers("ml.artifact_bytes") = treeBytes(fleetDir).toDouble
      layers("ml.registry_hit_ratio") = hitRatio
      // serve layers: the server's three calls, in process, on the pool
      val inproc = pool.indices.map { i =>
        val t = tr.newTrace()
        tr.tag(t, "serve")
        val t0 = Clock.now()
        val x = Serve.parseRequest(spark, pool(i).json, tags)
        val t1 = Clock.now()
        val scored = Serve.scoreFrame(scorer, x, tags)
        val t2 = Clock.now()
        val body = Serve.toJsonResponse(scored)
        val t3 = Clock.now()
        tr.untag()
        ops.check("in-process serve") { matches(body, expected(i)) }
        val root = tr.span(t, 0, "serve.inprocess", t0, t3, Map("rows" -> pool(i).rows.toDouble))
        tr.span(t, root, "serve.parse", t0, t1)
        tr.span(t, root, "serve.score", t1, t2)
        tr.span(t, root, "serve.render", t2, t3)
        (t1 - t0, t2 - t1, t3 - t2, t)
      }
      tr.drain()
      open.foreach(r => tr.span(tr.newTrace(), 0, "serve.request", r.sent, r.done,
        Map("due_ms" -> r.due, "ok" -> (if (r.ok) 1.0 else 0.0))))
      val total = inproc.map(p => p._1 + p._2 + p._3)
      layers("serve.parse_ms") = Stats.median(inproc.map(_._1))
      layers("serve.score_ms") = Stats.median(inproc.map(_._2))
      layers("serve.render_ms") = Stats.median(inproc.map(_._3))
      layers("serve.jobs_per_request") = Stats.median(inproc.map(p => tr.jobsTagged(p._4, "serve").size.toDouble))
      layers("serve.http_ms") = Stats.median(open.map(r => r.roundTrip - total(r.idx)))
      layers("serve.gen_lag_ms") = Stats.median(open.map(_.lateness))
      mixShare.keys.foreach(rows => layers(s"serve.open_p50_ms.${rows}_rows") =
        Stats.median(open.filter(r => pool(r.idx).rows == rows).map(_.latency)))
      val tracedRebuild = Stats.median(rebuilds.filter(_._1).map(_._2))
      layers("trace.overhead_pct") = 100 * (tracedRebuild / rebuildS - 1)
      tr.detach()
      Bench.putLayers(report, Bench.derive(layers.toMap, a.cores))
      report.line(f"tracing overhead = ${layers("trace.overhead_pct")}%.2f%% of fleet_rebuild_s " +
        f"(traced $tracedRebuild%.3f s, untraced $rebuildS%.3f s)")
      val out = Paths.get(a.traceDir, s"${a.workload}-seed${a.seed}.jsonl")
      tr.write(out)
      report.line(s"spans written to $out")
    }
    spark
  }

  /** A seeded pool of distinct payloads: two 1-row, one 100-row and
    * one 1000-row. Values are drawn around each tag's hourly mean, one
    * record in ten far outside it.
    */
  private def payloads(spark: SparkSession, long: DataFrame, tags: Seq[String],
      rnd: Random): IndexedSeq[Payload] = {
    val wide = graft.ops.Timeseries.align(long, "ts", "event_type", "value", tags, "1 hour")
    val aggs = tags.flatMap(t => Seq(avg(col(t)), stddev(col(t))))
    val row = wide.agg(aggs.head, aggs.tail: _*).head()
    val stats = tags.indices.map(i => (row.getDouble(2 * i), row.getDouble(2 * i + 1)))
    def record(): String = {
      val far = rnd.nextDouble() < 0.1
      tags.zip(stats).map { case (t, (mean, sd)) =>
        val v = mean + sd * (if (far) 8 + rnd.nextDouble() else rnd.nextGaussian())
        "\"" + t + "\": " + f"$v%.4f"
      }.mkString("{", ", ", "}")
    }
    (Seq.fill(2)(1) ++ Seq(100, 1000)).map(k =>
      Payload(Seq.fill(k)(record()).mkString("[", ",", "]"), k)).toIndexedSeq
  }

  /** `anomalous` per record, in payload order, from Serve.scoreRequest. */
  private def reference(spark: SparkSession, model: TagAnomalyScorer, tags: Seq[String],
      p: Payload): IndexedSeq[Option[Boolean]] = {
    val rows = Serve.scoreRequest(spark, model, p.json, tags)
      .select("req_idx", "anomalous").collect().sortBy(_.getLong(0))
    require(rows.length == p.rows && rows.map(_.getLong(0)).sameElements(0L until p.rows),
      s"reference scoring returned ${rows.length} rows for ${p.rows} records")
    rows.map(r => if (r.isNullAt(1)) None else Some(r.getBoolean(1))).toIndexedSeq
  }

  /** One row per record, `req_idx` in order, `anomalous` as expected. */
  private def matches(body: String, expected: IndexedSeq[Option[Boolean]]): Boolean = {
    import org.json4s._
    val rows = org.json4s.jackson.JsonMethods.parse(body).children
    rows.size == expected.size && rows.zipWithIndex.forall { case (r, i) =>
      (r \ "req_idx") == JInt(i) && ((r \ "anomalous") match {
        case JBool(b) => expected(i).contains(b)
        case JNothing | JNull => expected(i).isEmpty
        case _ => false
      })
    }
  }

  /** POSTs a JSON body; a non-200 answer or a timeout throws. */
  private def post(url: java.net.URL, body: String): String = {
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(requestTimeoutMs)
    conn.setReadTimeout(requestTimeoutMs)
    conn.setRequestMethod("POST")
    conn.setRequestProperty("Content-Type", "application/json")
    conn.setDoOutput(true)
    val os = conn.getOutputStream
    try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val text = try new String(is.readAllBytes(), StandardCharsets.UTF_8) finally is.close()
    if (code != 200) throw new IllegalStateException(s"HTTP $code: $text")
    text
  }
}
