package graft

import java.nio.file.Files

import graft.SparkSpec

/** End-to-end CLI lifecycle: a YAML fleet config and a long-format
  * parquet on disk, `build` → artifact dirs + manifest, `serve` on the
  * built artifact → live loopback server, `client` bulk-predicting a
  * time range through real HTTP — the cli.py build/serve/client loop.
  */
class MainCliSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dataPath: String = {
    val long = (1 to 300).flatMap { i =>
      val ts = java.sql.Timestamp.valueOf(f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00")
      val a = math.sin(i / 10.0) * 10; val b = math.cos(i / 7.0) * 5
      Seq(("t1", ts, a), ("t2", ts, b), ("t3", ts, a + b))
    }.toDF("tag", "ts", "value")
    val p = Files.createTempDirectory("graft-cli-data").resolve("long.parquet").toString
    long.write.parquet(p)
    p
  }

  private lazy val outDir = Files.createTempDirectory("graft-cli-out").toString

  private lazy val configPath: String = {
    val yaml =
      """machines:
        |  - name: cli-machine
        |    dataset:
        |      tags: [t1, t2, t3]
        |      resolution: 10 minutes
        |    model:
        |      type: pca_anomaly
        |      k: 2
        |    evaluation:
        |      n_splits: 2
        |""".stripMargin
    val p = Files.createTempDirectory("graft-cli-cfg").resolve("fleet.yaml")
    Files.writeString(p, yaml)
    p.toString
  }

  test("build: YAML fleet config + parquet -> artifacts + manifest") {
    val result = Main.build(configPath, dataPath, outDir)
    assert(result.failed.isEmpty)
    assert(result.built.map(_.name) == Seq("cli-machine"))
    assert(Files.isReadable(java.nio.file.Paths.get(result.manifestPath)))
    assert(Files.isReadable(
      java.nio.file.Paths.get(result.built.head.path, "metadata.json")))
  }

  test("serve + client: bulk predict over a time range through live HTTP") {
    val built = Main.build(configPath, dataPath, outDir).built.head
    val server = Main.serve(built.path, port = 0, block = false)
    try {
      val out = Files.createTempDirectory("graft-cli-resp").resolve("resp.jsonl")
      val n = Main.client(s"http://127.0.0.1:${server.boundPort}", dataPath,
        "2024-01-01T00:00:00", "2024-01-01T05:00:00", Some(out.toString),
        batchSize = 10)
      assert(n > 0)
      val lines = Files.readAllLines(out)
      assert(lines.size == math.ceil(n / 10.0).toInt) // one response array per batch
      assert(lines.get(0).contains("\"anomaly_score\""))
    } finally server.stop()
  }

  test("single-machine (non-fleet) config wraps and builds") {
    val single =
      """{"name": "solo",
        | "dataset": {"tags": ["t1", "t2", "t3"], "resolution": "10 minutes"},
        | "model": {"type": "autoencoder", "hidden": 4},
        | "evaluation": {"n_splits": 2}}""".stripMargin
    val p = Files.createTempDirectory("graft-cli-cfg2").resolve("solo.json")
    Files.writeString(p, single)
    val result = Main.build(p.toString, dataPath,
      Files.createTempDirectory("graft-cli-out2").toString)
    assert(result.failed.isEmpty && result.built.map(_.name) == Seq("solo"))
    // the autoencoder artifact serves through the same loader
    val (scorer, tags) = Main.loadScorer(spark, result.built.head.path)
    assert(tags == Seq("t1", "t2", "t3") && !scorer.threshold.isNaN)
  }

  test("a non-default resolution flows build -> metadata -> /metadata -> client alignment") {
    val cfg =
      """{"name": "halfhour",
        | "dataset": {"tags": ["t1", "t2"], "resolution": "30 minutes"},
        | "model": {"type": "pca_anomaly", "k": 1},
        | "evaluation": {"n_splits": 2}}""".stripMargin
    val p = Files.createTempDirectory("graft-cli-cfg3").resolve("half.json")
    Files.writeString(p, cfg)
    val built = Main.build(p.toString, dataPath,
      Files.createTempDirectory("graft-cli-out3").toString).built.head
    assert(Main.loadResolution(built.path) == "30 minutes")
    val server = Main.serve(built.path, port = 0, block = false)
    try {
      val meta = new String(java.net.URI.create(
        s"http://127.0.0.1:${server.boundPort}/metadata").toURL
        .openStream().readAllBytes())
      assert(meta.contains("\"resolution\":\"30 minutes\""), meta)
      // 5 hours at the TRAINED 30-minute granularity = 10 buckets — a
      // client stuck on the 10-minute default would send 30
      val n = Main.client(s"http://127.0.0.1:${server.boundPort}", dataPath,
        "2024-01-01T00:00:00", "2024-01-01T05:00:00", None)
      assert(n == 10, s"client sent $n rows — not aligned to the trained resolution")
    } finally server.stop()
  }

  test("loadScorer rejects non-servable and non-artifact dirs") {
    intercept[IllegalArgumentException] {
      Main.loadScorer(spark, Files.createTempDirectory("graft-empty").toString)
    }
    val forecast = ml.ModelBuilder.build(spark, ml.ModelBuilder.arForecast,
      """{"name": "fc", "dataset": {"tags": ["t1", "t2"], "resolution": "10 minutes"},
        | "model": {"type": "ar_forecast", "lookback": 2},
        | "evaluation": {"n_splits": 2}}""".stripMargin,
      spark.read.parquet(dataPath), Files.createTempDirectory("graft-cli-fc").toString)
    val e = intercept[IllegalArgumentException](Main.loadScorer(spark, forecast.path))
    assert(e.getMessage.contains("'ar_forecast' is not servable"), e.getMessage)
  }
}
