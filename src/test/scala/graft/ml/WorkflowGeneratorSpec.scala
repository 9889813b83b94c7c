package graft.ml

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WorkflowGeneratorSpec extends SparkSpec {

  private def events =
    graft.sources.Events.read(spark, "/root/testdata/sf0.001/events.parquet")

  private val fleetConfig =
    """{"defaults": {
      |   "dataset": {"resolution": "1 hour",
      |               "tag_col": "event_type", "value_col": "value"},
      |   "evaluation": {"n_splits": 2}},
      | "machines": [
      |   {"name": "m-pca",
      |    "dataset": {"tags": ["click", "view", "purchase"]},
      |    "model": {"type": "pca_anomaly", "k": 2, "threshold_pctl": 0.95}},
      |   {"name": "m-forecast",
      |    "dataset": {"tags": ["click", "view"]},
      |    "model": {"type": "ar_forecast", "lookback": 4}},
      |   {"name": "m-esn",
      |    "dataset": {"tags": ["click", "view"]},
      |    "model": {"type": "esn_forecast", "reservoir": 16, "washout": 4}},
      |   {"name": "m-rfae",
      |    "dataset": {"tags": ["click", "view", "purchase"]},
      |    "model": {"type": "autoencoder", "hidden": 8, "threshold_pctl": 0.95}}
      | ]}""".stripMargin

  test("normalize merges defaults under machine overrides, machine wins") {
    val norm = WorkflowGenerator.normalize(
      """{"defaults": {"dataset": {"resolution": "1 hour", "tags": ["x"]},
        |              "evaluation": {"n_splits": 9}},
        | "machines": [{"name": "a", "dataset": {"tags": ["click"]},
        |               "model": {"type": "ar_forecast"}}]}""".stripMargin)
    assert(norm.map(n => (n._1, n._2)) == Seq(("a", "ar_forecast")))
    val cfg = norm.head._3
    assert(cfg.contains("\"tags\":[\"click\"]"))      // machine override won
    assert(cfg.contains("\"resolution\":\"1 hour\"")) // default survived
    assert(cfg.contains("\"n_splits\":9"))            // untouched default block
  }

  test("buildFleet builds 4 machines across all 4 model types; rebuild is all cache hits") {
    val out = java.nio.file.Files.createTempDirectory("graft-fleet").toString
    val r = WorkflowGenerator.buildFleet(spark, fleetConfig, events, out)
    assert(r.failed.isEmpty, r.failed.map(_._2).mkString("; "))
    assert(r.built.map(a => a.name -> a.modelType).toMap == Map(
      "m-pca" -> "pca_anomaly", "m-forecast" -> "ar_forecast",
      "m-esn" -> "esn_forecast", "m-rfae" -> "autoencoder"))
    r.built.foreach(a => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(a.path, "metadata.json"))))
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(r.manifestPath))
    assert(manifest.contains("\"m-pca\"") && manifest.contains("\"built\""))

    // rebuild with an EMPTY frame: every machine must be a registry hit
    // that does no Spark work — building from zero rows would throw
    val empty = events.filter(lit(false))
    val again = WorkflowGenerator.buildFleet(spark, fleetConfig, empty, out)
    assert(again.failed.isEmpty)
    assert(again.built.map(a => a.name -> a.path).toMap ==
      r.built.map(a => a.name -> a.path).toMap)
  }

  test("a broken machine fails alone; the fleet and manifest carry on") {
    val out = java.nio.file.Files.createTempDirectory("graft-fleet2").toString
    val cfg =
      """{"defaults": {"dataset": {"resolution": "1 hour",
        |              "tag_col": "event_type", "value_col": "value"},
        |              "evaluation": {"n_splits": 2}},
        | "machines": [
        |   {"name": "ok", "dataset": {"tags": ["click", "view"]},
        |    "model": {"type": "pca_anomaly", "k": 1}},
        |   {"name": "broken", "dataset": {"tags": ["click"]},
        |    "model": {"type": "no_such_builder"}}]}""".stripMargin
    val r = WorkflowGenerator.buildFleet(spark, cfg, events, out)
    assert(r.built.map(_.name) == Seq("ok"))
    assert(r.failed.map(_._1) == Seq("broken"))
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(r.manifestPath))
    assert(manifest.contains("\"failed\"") && manifest.contains("no_such_builder"))
  }

  test("a machine name that is not one path segment fails alone and writes nothing outside outDir") {
    val parent = java.nio.file.Files.createTempDirectory("graft-fleet-escape")
    val out = parent.resolve("out").toString
    val cfg =
      """{"defaults": {"dataset": {"resolution": "1 hour", "tags": ["click", "view"],
        |              "tag_col": "event_type", "value_col": "value"},
        |              "evaluation": {"n_splits": 2}, "model": {"k": 1}},
        | "machines": [{"name": "../escape"}, {"name": "ok"}]}""".stripMargin
    val r = WorkflowGenerator.buildFleet(spark, cfg, events, out)
    assert(r.built.map(_.name) == Seq("ok"))
    assert(r.failed.map(_._1) == Seq("../escape"))
    assert(r.failed.head._2.isInstanceOf[IllegalArgumentException])
    val siblings = java.nio.file.Files.list(parent)
    try assert(siblings.iterator().asScala.map(_.getFileName.toString).toSeq == Seq("out"))
    finally siblings.close()
  }

  test("YAML fleet document normalizes identically to its JSON twin") {
    val yaml =
      """defaults:
        |  dataset:
        |    resolution: 1 hour
        |    tag_col: event_type
        |    value_col: value
        |  evaluation:
        |    n_splits: 2
        |machines:
        |  - name: m-pca
        |    dataset:
        |      tags: [click, view, purchase]
        |    model:
        |      type: pca_anomaly
        |      k: 2
        |      threshold_pctl: 0.95
        |  - name: m-forecast
        |    dataset:
        |      tags:
        |        - click
        |        - view
        |    model: {type: ar_forecast, lookback: 4}
        |  - name: m-esn
        |    dataset:
        |      tags: [click, view]
        |    model: {type: esn_forecast, reservoir: 16, washout: 4}
        |  - name: m-rfae
        |    dataset:
        |      tags: [click, view, purchase]
        |    model: {type: autoencoder, hidden: 8, threshold_pctl: 0.95}
        |""".stripMargin
    // the YAML and JSON forms of the same fleet must produce IDENTICAL
    // normalized configs — same registry keys, so a config migrated from
    // JSON to YAML (or back) never rebuilds a machine
    assert(YamlConfig.normalizeFleet(yaml) == WorkflowGenerator.normalize(fleetConfig))
  }

  test("YAML scalars type like JSON: ints, floats, bools, strings") {
    val norm = YamlConfig.normalizeFleet(
      """machines:
        |  - name: typed
        |    dataset:
        |      tags: [click]
        |    model:
        |      type: pca_anomaly
        |      k: 2
        |      threshold_pctl: 0.95
        |      center: true
        |""".stripMargin)
    val cfg = norm.head._3
    assert(cfg.contains("\"k\":2"))                  // int, not "2"
    assert(cfg.contains("\"threshold_pctl\":0.95"))  // float
    assert(cfg.contains("\"center\":true"))          // bool
    assert(cfg.contains("\"type\":\"pca_anomaly\"")) // string
  }

  test("empty YAML document is rejected") {
    intercept[IllegalArgumentException] { YamlConfig.toJson("") }
  }

  test("YAML anchors/aliases resolve; multi-doc and arbitrary tags are rejected") {
    // real YAML alias semantics — the shared defaults idiom in fleet docs
    assert(YamlConfig.toJson("a: &x 7\nb: *x") == """{"a":7,"b":7}""")
    // a multi-document stream must throw, not silently keep document one
    intercept[Exception] { YamlConfig.toJson("a: 1\n---\na: 2") }
    // SafeConstructor: a tag naming a class must not instantiate it
    intercept[Exception] {
      YamlConfig.toJson("a: !!javax.script.ScriptEngineManager [!!java.net.URLClassLoader []]")
    }
  }

  test("duplicate machine names are rejected up front") {
    intercept[IllegalArgumentException] {
      WorkflowGenerator.buildFleet(spark,
        """{"machines": [{"name": "a", "dataset": {"tags": ["click"]}},
          |              {"name": "a", "dataset": {"tags": ["view"]}}]}""".stripMargin,
        events, java.nio.file.Files.createTempDirectory("graft-fleet3").toString)
    }
  }
}
