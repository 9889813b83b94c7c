package graft.ml

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The request path stays inside local relations: parse, score and render
  * fold on the driver, so a JSON request runs no Spark job; the bytes it
  * answers are pinned; and concurrent requests on one shared session
  * answer exactly what they answer one at a time.
  */
class ServeLocalSpec extends SparkSpec {
  import spark.implicits._

  private val tagCols = Seq("t1", "t2", "t3")

  // training manifold: t3 ≈ t1 + t2 (rank 2), so k=2 reconstructs it
  private lazy val train = (1 to 200).map { i =>
    val a = math.sin(i / 10.0) * 10; val b = math.cos(i / 7.0) * 5
    (a, b, a + b)
  }.toDF("t1", "t2", "t3")
  private lazy val pca = PcaAnomaly.fit(train, tagCols, k = 2, pctl = 0.99)
  private lazy val rfae = AutoEncoder.fit(train, tagCols, hidden = 16, pctl = 0.99)

  private val oneRow = """[{"t1":5.0,"t2":3.0,"t3":8.0}]"""
  private val thousandRows = (0 until 1000).map { i =>
    val a = math.sin(i / 3.0) * 10; val b = math.cos(i / 5.0) * 5
    s"""{"t1":$a,"t2":$b,"t3":${a + b + (if (i % 10 == 0) 40 else 0)}}"""
  }.mkString("[", ",", "]")
  private val missingAndNaN =
    """[{"t1":5.0,"t2":3.0,"t3":8.0},{"t1":1.0},{"t1":NaN,"t2":3.0,"t3":8.0}]"""

  private def body(m: TagAnomalyScorer, json: String): String =
    Serve.toJsonResponse(Serve.scoreRequest(spark, m, json, tagCols))

  /** Every job the session starts while `f` runs, on any thread: the
    * listener bus is ordered, so the jobs between two marker jobs are
    * exactly the body's.
    */
  private def jobsOnAnyThread(f: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      def marker(m: String): Unit = {
        sc.setJobDescription(m)
        try spark.range(1).rdd.count() finally sc.setJobDescription(null)
      }
      marker("serve-local/begin")
      f
      marker("serve-local/end")
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains("serve-local/end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains("serve-local/end"), "listener never saw the marker job")
    } finally sc.removeSparkListener(listener)
    val all = seen.asScala.toSeq
    all.indexOf("serve-local/end") - all.indexOf("serve-local/begin") - 1
  }

  private def post(port: Int, payload: String, path: String = "/prediction"): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$path")
      .toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    val os = conn.getOutputStream
    try os.write(payload.getBytes(StandardCharsets.UTF_8)) finally os.close()
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    try (code, new String(is.readAllBytes(), StandardCharsets.UTF_8)) finally is.close()
  }

  private def withServer[T](f: PredictionServer => T): T = {
    val server = new PredictionServer(spark, pca, tagCols).start()
    try f(server) finally server.stop()
  }

  // ---- a request runs no Spark job --------------------------------------

  test("the job counter sees jobs: the parquet response leg still runs them") {
    val out = Serve.scoreRequest(spark, pca, oneRow, tagCols)
    assert(jobsOnAnyThread(Serve.toParquetResponse(out)) > 0)
  }

  for ((kind, model) <- Seq("pca" -> (() => pca), "rfae" -> (() => rfae));
       (size, json) <- Seq("1-row" -> oneRow, "1000-row" -> thousandRows,
         "missing-tag + NaN" -> missingAndNaN))
    test(s"a $size JSON request to the $kind scorer runs zero Spark jobs") {
      val m = model()
      var out = ""
      assert(jobsOnAnyThread { out = body(m, json) } == 0)
      assert(out.startsWith("[{\"req_idx\":0"))
    }

  test("POST /prediction through PredictionServer runs zero Spark jobs") {
    withServer { server =>
      var answers = Seq.empty[(Int, String)]
      val jobs = jobsOnAnyThread {
        answers = Seq(oneRow, missingAndNaN).map(post(server.boundPort, _))
      }
      assert(answers.map(_._1) == Seq(200, 200), answers)
      assert(answers.map(_._2) == Seq(body(pca, oneRow), body(pca, missingAndNaN)))
      assert(jobs == 0)
    }
  }

  // ---- the response bytes are pinned ------------------------------------
  // Expected bodies were generated by the `toJSON`-rendered, job-running
  // request path this one replaced, on the same payloads and model.

  private val onManifold =
    """"t1":5.0,"t2":3.0,"t3":8.0,"anomaly_score":3.650024149988857E-8,""" +
      """"tag_anomaly_t1":6.661338147750939E-16,"tag_anomaly_t2":0.0,""" +
      """"tag_anomaly_t3":4.440892098500626E-16,"anomalous":false"""
  private val offManifold =
    """"t1":5.0,"t2":3.0,"t3":80.0,"anomaly_score":6.700389876198926,""" +
      """"tag_anomaly_t1":4.3837347500823105,"tag_anomaly_t2":2.2198482452921495,""" +
      """"tag_anomaly_t3":4.555257171868914,"anomalous":true"""

  private val pinned = Seq(
    "a ts field" ->
      ("""[{"ts":"2024-01-01T00:00:00Z","t1":5.0,"t2":3.0,"t3":8.0},""" +
        """{"ts":"2024-01-01T00:10:00Z","t1":5.0,"t2":3.0,"t3":80.0}]""",
        s"""[{"req_idx":0,"ts":"2024-01-01T00:00:00.000Z",$onManifold},""" +
          s"""{"req_idx":1,"ts":"2024-01-01T00:10:00.000Z",$offManifold}]"""),
    "an unknown field" ->
      ("""[{"t1":5.0,"t2":3.0,"t3":8.0,"junk":"x","more":[1,2]}]""",
        s"""[{"req_idx":0,$onManifold}]"""),
    "a missing tag" ->
      ("""[{"t1":5.0,"t2":3.0,"t3":8.0},{"t1":1.0},{"t1":5.0,"t2":3.0,"t3":80.0}]""",
        s"""[{"req_idx":0,$onManifold},{"req_idx":1,"t1":1.0},{"req_idx":2,$offManifold}]"""),
    "a bare NaN" ->
      ("""[{"t1":NaN,"t2":3.0,"t3":8.0},{"t1":5.0,"t2":3.0,"t3":8.0}]""",
        s"""[{"req_idx":0,"t1":"NaN","t2":3.0,"t3":8.0},{"req_idx":1,$onManifold}]"""),
    "a quoted NaN" ->
      ("""[{"t1":"NaN","t2":3.0,"t3":8.0},{"t1":5.0,"t2":3.0,"t3":8.0}]""",
        s"""[{"req_idx":0,"t1":"NaN","t2":3.0,"t3":8.0},{"req_idx":1,$onManifold}]"""),
    "a [null] element" ->
      ("""[null,{"t1":5.0,"t2":3.0,"t3":8.0}]""",
        s"""[{"req_idx":0},{"req_idx":1,$onManifold}]"""),
    "an empty array" -> ("[]", "[]"),
    "an empty body" -> ("", "[]"))

  for ((name, (payload, expected)) <- pinned)
    test(s"response bytes are pinned: $name") {
      assert(body(pca, payload) == expected)
    }

  test("malformed payloads raise IllegalArgumentException; Spark's trim keeps a newline") {
    for (payload <- Seq("this is not json", "  \n")) {
      val e = intercept[IllegalArgumentException](body(pca, payload))
      assert(e.getMessage.contains("malformed JSON request payload"), payload)
    }
  }

  // ---- concurrent requests on the shared session ------------------------

  test("4 concurrent clients each get their payload's sequential body") {
    val payloads = Seq(pinned(0)._2._1, missingAndNaN, thousandRows,
      (0 until 100).map(i => s"""{"t1":$i.0,"t2":${i % 3}.0,"t3":${i + i % 3}.0}""")
        .mkString("[", ",", "]"))
    val expected = payloads.map(body(pca, _))
    val confBefore = spark.conf.getAll
    withServer { server =>
      val clients = Executors.newFixedThreadPool(payloads.size)
      try {
        for (_ <- 1 to 5) {
          val barrier = new CyclicBarrier(payloads.size)
          val answers = payloads.map { p =>
            clients.submit(() => { barrier.await(); post(server.boundPort, p) })
          }.map(_.get(60, TimeUnit.SECONDS))
          assert(answers.map(_._1).forall(_ == 200), answers.map(_._1))
          assert(answers.map(_._2) == expected)
        }
      } finally clients.shutdown()
    }
    assert(spark.conf.getAll == confBefore, "the serving path changed session conf")
  }

  test("a POST answer is not held back by Nagle's algorithm") {
    withServer { server =>
      val ms = (1 to 10).map { _ =>
        val t0 = System.nanoTime()
        assert(post(server.boundPort, oneRow, "/healthz")._1 == 200)
        (System.nanoTime() - t0) / 1e6
      }
      // with Nagle on, each POST answer on a kept-alive connection waited
      // out the client's delayed ACK of the headers: ~40 ms, against ~1 ms
      // for a GET (a fresh connection's first answer is not held)
      assert(ms.sorted.apply(ms.size / 2) < 20, ms)
    }
  }

  test("nothing on the serving path sets session conf") {
    val files = Seq("Serve", "HttpServe", "PcaAnomaly", "AutoEncoder", "SequenceAE")
      .map(f => f -> java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"src/main/scala/graft/ml/$f.scala")))
    val setters = Seq("conf.set(", "conf.unset(", "setConf(", "SQLConf")
    for ((f, src) <- files; s <- setters)
      assert(!src.contains(s), s"$f.scala mentions $s")
  }
}
