package graft.ml

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Fleet generation from ONE multi-machine config document — the analogue
  * of the reference's third pillar (`workflow/workflow_generator.py` +
  * `workflow/config_elements/normalized_config.py::NormalizedConfig`,
  * public repo; mount empty, SURVEY.md §0): a config names N machines and
  * shared defaults, the generator normalizes each machine (defaults deep-
  * merged under machine-specific overrides, machine wins) and emits one
  * build per machine.
  *
  * Where the reference renders an Argo pod per machine, here each machine
  * is a sequence of Spark jobs inside ONE session: [[ModelBuilder.build]]
  * run as the kind its `model.type` names in [[ModelBuilder.kinds]]
  * (`pca_anomaly` when absent). The content-addressed [[DiskRegistry]]
  * dedupes across the fleet AND across runs: a rebuild of an unchanged
  * machine is a cache hit that does no Spark work, and a failed machine
  * lands in the error list without sinking the fleet (the failed-Argo-step
  * analogue). A `fleet.json` manifest (the rendered-workflow analogue)
  * records every machine's outcome.
  *
  * Config shape (JSON; YAML parses to the same tree):
  * {{{
  * { "defaults": { "dataset": {"resolution": "10 minutes"},
  *                 "evaluation": {"n_splits": 3} },
  *   "machines": [
  *     { "name": "m1", "dataset": {"tags": ["click","view"]},
  *       "model": {"type": "pca_anomaly", "k": 2} },
  *     { "name": "m2", "dataset": {"tags": ["click"]},
  *       "model": {"type": "ar_forecast", "lookback": 6} } ] }
  * }}}
  */
object WorkflowGenerator {

  case class MachineArtifact(name: String, modelType: String, path: String,
      metadata: String)

  case class FleetResult(built: Seq[MachineArtifact],
      failed: Seq[(String, Throwable)], manifestPath: String)

  /** Normalize the fleet config: one canonical per-machine JSON config
    * (defaults merged under machine overrides), in declaration order.
    * Canonical = compact, key-sorted rendering, so a semantically equal
    * machine config always produces the same registry key regardless of
    * the author's whitespace or key order.
    */
  def normalize(fleetConfigJson: String): Seq[(String, String, String)] = {
    val root = JsonMethods.parse(fleetConfigJson)
    val defaults = root \ "defaults" match {
      case o: JObject => o
      case _ => JObject(Nil)
    }
    val machines = root \ "machines" match {
      case JArray(ms) => ms
      case _ => throw new IllegalArgumentException("fleet config needs a machines array")
    }
    machines.map {
      case m: JObject =>
        val merged = deepMerge(defaults, m)
        val name = merged \ "name" match {
          case JString(s) => s
          case _ => throw new IllegalArgumentException("every machine needs a name")
        }
        val mtype = merged \ "model" \ "type" match {
          case JString(s) => s
          case _ => ModelBuilder.pcaAnomaly.name
        }
        (name, mtype, JsonMethods.compact(JsonMethods.render(sortKeys(merged))))
      case other =>
        throw new IllegalArgumentException(s"machine entry is not an object: $other")
    }
  }

  /** Build every machine in the fleet config against one long-format
    * frame. Failures are isolated per machine; the manifest records both
    * outcomes. Duplicate names are rejected up front — two machines that
    * would race for the same artifact identity are a config bug, not a
    * fleet runtime surprise.
    */
  def buildFleet(spark: SparkSession, fleetConfigJson: String, longDf: DataFrame,
      outDir: String): FleetResult = {
    val normalized = normalize(fleetConfigJson)
    val dupes = normalized.groupBy(_._1).filter(_._2.size > 1).keys
    require(dupes.isEmpty, s"duplicate machine names in fleet config: ${dupes.mkString(", ")}")

    val outcomes = normalized.map { case (name, mtype, cfg) =>
      try {
        val kind = ModelBuilder.kinds.getOrElse(mtype,
          throw new IllegalArgumentException(s"unknown model.type '$mtype' for machine $name"))
        val r = ModelBuilder.build(spark, kind, cfg, longDf, outDir)
        Right(MachineArtifact(name, mtype, r.path, r.metadata))
      } catch { case e: Throwable => Left(name -> e) }
    }
    val built = outcomes.collect { case Right(a) => a }
    val failed = outcomes.collect { case Left(f) => f }

    val manifest =
      "{\"machines\": [" + (
        built.map(a =>
          s"""{"name": ${Serve.jsonString(a.name)}, "status": "built",
             | "model_type": ${Serve.jsonString(a.modelType)},
             | "path": ${Serve.jsonString(a.path)}}""".stripMargin.replaceAll("\n", "")) ++
        failed.map { case (n, e) =>
          s"""{"name": ${Serve.jsonString(n)}, "status": "failed",
             | "error": ${Serve.jsonString(String.valueOf(e.getMessage))}}""".stripMargin
            .replaceAll("\n", "") }
      ).mkString(", ") + "]}"
    val manifestPath = Paths.get(outDir, "fleet.json")
    Files.createDirectories(manifestPath.getParent)
    Files.writeString(manifestPath, manifest)
    FleetResult(built, failed, manifestPath.toString)
  }

  /** Right-biased deep merge: `over` wins; nested objects merge key-wise
    * (the NormalizedConfig default-resolution rule).
    */
  private def deepMerge(base: JObject, over: JObject): JObject = {
    val keys = (base.obj.map(_._1) ++ over.obj.map(_._1)).distinct
    JObject(keys.map { k =>
      k -> (((base \ k), (over \ k)) match {
        case (b: JObject, o: JObject) => deepMerge(b, o)
        case (_, JNothing) => base \ k
        case (_, o) => o
      })
    })
  }

  private def sortKeys(v: JValue): JValue = v match {
    case JObject(fields) =>
      JObject(fields.sortBy(_._1).map { case (k, x) => k -> sortKeys(x) })
    case JArray(items) => JArray(items.map(sortKeys))
    case other => other
  }
}
