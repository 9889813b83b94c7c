package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ModelBuilderSpec extends SparkSpec {

  private val config =
    """{"name": "events-anomaly",
      |  "dataset": {"tags": ["click", "view", "purchase"],
      |              "resolution": "1 hour",
      |              "tag_col": "event_type", "value_col": "value"},
      |  "model": {"k": 2, "threshold_pctl": 0.95},
      |  "evaluation": {"n_splits": 2}}""".stripMargin

  private def events =
    graft.sources.Events.read(spark, "/root/testdata/sf0.001/events.parquet")

  test("build produces a reloadable model, metadata, and scores new data") {
    val out = java.nio.file.Files.createTempDirectory("graft-build").toString
    val result = ModelBuilder.build(spark, ModelBuilder.pcaAnomaly, config, events, out)

    assert(result.metadata.contains("\"name\": \"events-anomaly\""))
    assert(result.metadata.contains("\"cv\":"))
    assert(result.model.threshold > 0)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(result.path, "metadata.json")))

    val scored = ModelBuilder.predict(result, events, config)
    assert(scored.columns.contains("anomaly_score") && scored.columns.contains("anomalous"))
    val n = scored.count()
    val flagged = scored.filter(col("anomalous")).count()
    assert(n > 0 && flagged < n) // 0.95 pctl threshold: some but not all flagged
  }

  test("buildForecast trains the per-tag fleet, persists coefficients, CV on later data") {
    val out = java.nio.file.Files.createTempDirectory("graft-fbuild").toString
    val fconfig =
      """{"name": "events-forecast",
        |  "dataset": {"tags": ["click", "view"], "resolution": "1 hour",
        |              "tag_col": "event_type", "value_col": "value"},
        |  "model": {"type": "ar_forecast", "lookback": 4},
        |  "evaluation": {"n_splits": 2}}""".stripMargin
    val result = ModelBuilder.build(spark, ModelBuilder.arForecast, fconfig, events, out)
    assert(result.model.coefs.map(_._1).sorted == Seq("click", "view"))
    assert(result.model.lb == 4)
    assert(result.metadata.contains("\"type\": \"ar_forecast\""))
    assert(result.metadata.contains("val_mean_abs_err"))
    // the persisted coefficient table round-trips into a scoring model
    val scored = result.model.forecast(
      events.filter(col("event_type").isin("click", "view"))
        .groupBy(graft.ops.Timeseries.bucket(col("ts"), "1 hour").as("bucket"),
          col("event_type"))
        .agg(avg(col("value")).as("v")),
      "bucket")
    assert(scored.count() > 0 && scored.columns.contains("v_hat"))
    // second build of the same config is a registry hit
    val again = ModelBuilder.build(spark, ModelBuilder.arForecast, fconfig, events, out)
    assert(again.path == result.path)
  }

  test("buildAutoEncoder persists the nonlinear model and reloads it exactly") {
    val out = java.nio.file.Files.createTempDirectory("graft-aebuild").toString
    val aconfig =
      """{"name": "events-rfae",
        |  "dataset": {"tags": ["click", "view", "purchase"],
        |              "resolution": "1 hour",
        |              "tag_col": "event_type", "value_col": "value"},
        |  "model": {"type": "autoencoder", "hidden": 8, "threshold_pctl": 0.95,
        |            "seed": 7},
        |  "evaluation": {"n_splits": 2}}""".stripMargin
    val result = ModelBuilder.build(spark, ModelBuilder.autoencoder, aconfig, events, out)
    assert(result.metadata.contains("\"type\": \"autoencoder\""))
    assert(result.metadata.contains("val_mean_score"))
    assert(result.model.threshold > 0)
    // reloaded model == a direct fit with the same config on the same data
    val (wide, tags) = ModelBuilder.dataset(events,
      Map("dataset" -> Map(
        "tags" -> Seq("click", "view", "purchase"), "resolution" -> "1 hour",
        "tag_col" -> "event_type", "value_col" -> "value")))
    val direct = AutoEncoder.fit(wide, tags, hidden = 8, pctl = 0.95, seed = 7L)
    assert(result.model.beta.flatten.toSeq == direct.beta.flatten.toSeq)
    assert(result.model.threshold == direct.threshold)
    // second build of the same config is a registry hit
    val again = ModelBuilder.build(spark, ModelBuilder.autoencoder, aconfig, events, out)
    assert(again.path == result.path)
  }

  test("rebuilding the same config is a registry hit (no new artifact)") {
    val out = java.nio.file.Files.createTempDirectory("graft-build2").toString
    val r1 = ModelBuilder.build(spark, ModelBuilder.pcaAnomaly, config, events, out)
    val mtime = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(r1.path, "metadata.json"))
    val r2 = ModelBuilder.build(spark, ModelBuilder.pcaAnomaly, config, events, out)
    assert(r1.path == r2.path)
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(r2.path, "metadata.json")) == mtime)
  }

  test("int config fields outside the Int range are rejected; seed reads as a full Long") {
    def rfae(model: String) =
      s"""{"name": "events-range",
         |  "dataset": {"tags": ["click", "view", "purchase"], "resolution": "1 hour",
         |              "tag_col": "event_type", "value_col": "value"},
         |  "model": {"type": "autoencoder", $model},
         |  "evaluation": {"n_splits": 1}}""".stripMargin
    val out = java.nio.file.Files.createTempDirectory("graft-range").toString
    // 2^32 + 8: keeping the low 32 bits would train hidden = 8
    intercept[IllegalArgumentException] {
      ModelBuilder.build(spark, ModelBuilder.autoencoder, rfae(""""hidden": 4294967304"""),
        events, out)
    }
    // 2^32 + 42 is its own seed, not seed 42
    val wide = ModelBuilder.build(spark, ModelBuilder.autoencoder,
      rfae(""""hidden": 4, "seed": 4294967338"""), events, out)
    val low = ModelBuilder.build(spark, ModelBuilder.autoencoder,
      rfae(""""hidden": 4, "seed": 42"""), events, out)
    assert(wide.model.beta.flatten.toSeq != low.model.beta.flatten.toSeq)
  }

  test("every kind's metadata.json keeps its key order") {
    val models = Map(
      "pca_anomaly" -> """"k": 1""",
      "ar_forecast" -> """"lookback": 2""",
      "esn_forecast" -> """"reservoir": 4, "washout": 2""",
      "autoencoder" -> """"hidden": 2""",
      "autoencoder_sgd" -> """"hidden": 2, "epochs": 2""",
      "autoencoder_seq" -> """"lookback": 2, "hidden": 2, "epochs": 2""")
    val anomaly = Seq("threshold", "threshold_pctl")
    val losses = Seq("train_mse_first", "train_mse_last")
    val modelKeys = Map(
      "pca_anomaly" -> ("k" +: anomaly),
      "ar_forecast" -> Seq("lookback"),
      "esn_forecast" -> Seq("reservoir", "spectral_radius", "leak", "washout", "input_scale"),
      "autoencoder" -> (Seq("hidden", "ridge") ++ anomaly),
      "autoencoder_sgd" -> (Seq("hidden", "epochs", "lr") ++ anomaly ++ losses),
      "autoencoder_seq" -> (Seq("lookback", "hidden", "epochs", "lr") ++ anomaly ++ losses))
    assert(ModelBuilder.kinds.keySet == models.keySet)
    val out = java.nio.file.Files.createTempDirectory("graft-format").toString
    ModelBuilder.kinds.foreach { case (mtype, kind) =>
      val cfg =
        s"""{"name": "fmt-$mtype",
           |  "dataset": {"tags": ["click", "view"], "resolution": "1 hour",
           |              "tag_col": "event_type", "value_col": "value"},
           |  "model": {"type": "$mtype", ${models(mtype)}},
           |  "evaluation": {"n_splits": 2}}""".stripMargin
      val meta = org.json4s.jackson.JsonMethods.parse(
        ModelBuilder.build(spark, kind, cfg, events, out).metadata)
      def keys(v: org.json4s.JValue) = v.asInstanceOf[org.json4s.JObject].obj.map(_._1)
      val rows = if (mtype == "pca_anomaly") Seq("rows") else Nil
      assert(keys(meta) ==
        Seq("name", "tags", "resolution") ++ rows ++ Seq("model", "cv", "config_key"), mtype)
      assert(keys(meta \ "model") == "type" +: modelKeys(mtype), mtype)
      val foldKeys = "fold" +: (
        if (mtype.endsWith("_forecast")) Seq("val_rows", "val_mean_abs_err", "val_max_abs_err")
        else Seq("threshold", "val_rows", "val_mean_score", "val_max_score"))
      val folds = (meta \ "cv").children
      assert(folds.size == 2 && folds.forall(keys(_) == foldKeys), mtype)
    }
  }
}
