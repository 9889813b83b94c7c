package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineStage}
import org.apache.spark.ml.feature.{MinMaxScaler, PCA, StandardScaler, VectorAssembler}

import JsonConfig.{bool, int, str, strList}

/** Config → spark.ml Pipeline — the analogue of the reference's
  * `serializer/pipeline_from_definition.py::from_definition` (public repo;
  * mount empty, SURVEY.md §0), which turns a nested dict keyed by dotted
  * class paths into an sklearn Pipeline.
  *
  * Definition shape (JSON; YAML front-ends can parse to the same tree):
  * {{{
  * {"steps": [
  *   {"type": "assembler", "inputCols": ["t1", "t2"]},
  *   {"type": "standard_scaler"},
  *   {"type": "pca_anomaly", "k": 2}
  * ]}
  * }}}
  * Each step type maps to a registered MLlib stage builder; unknown types
  * fail fast with the available registry listed (mirrors the reference's
  * import-error behavior for bad class paths).
  */
object PipelineFactory {

  val FeaturesCol = "features"
  val ScaledCol = "features_scaled"

  private type StageBuilder = Map[String, Any] => PipelineStage

  /** The stage registry — the analogue of from_definition's dynamic class
    * resolution, made explicit (no runtime reflection surprises).
    */
  val registry: Map[String, StageBuilder] = Map(
    "assembler" -> { params =>
      new VectorAssembler()
        .setInputCols(strList(params, "inputCols").toArray)
        .setOutputCol(FeaturesCol)
    },
    "minmax_scaler" -> { params =>
      new MinMaxScaler()
        .setInputCol(str(params, "inputCol", FeaturesCol))
        .setOutputCol(str(params, "outputCol", ScaledCol))
    },
    "standard_scaler" -> { params =>
      new StandardScaler()
        .setWithMean(bool(params, "withMean", default = true))
        .setWithStd(bool(params, "withStd", default = true))
        .setInputCol(str(params, "inputCol", FeaturesCol))
        .setOutputCol(str(params, "outputCol", ScaledCol))
    },
    "pca" -> { params =>
      new PCA()
        .setK(int(params, "k", 2))
        .setInputCol(str(params, "inputCol", ScaledCol))
        .setOutputCol(str(params, "outputCol", "pca_features"))
    }
  )

  /** Build a Pipeline from a parsed definition tree. */
  def fromDefinition(definition: Map[String, Any]): Pipeline = {
    val steps = definition.get("steps") match {
      case Some(s: Seq[_]) => s.map {
        case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
        case other => throw new IllegalArgumentException(s"step must be an object, got: $other")
      }
      case _ => throw new IllegalArgumentException("definition needs a 'steps' list")
    }
    val stages = steps.map { step =>
      val tpe = step.get("type") match {
        case Some(t: String) => t
        case _ => throw new IllegalArgumentException(s"step missing 'type': $step")
      }
      registry.getOrElse(tpe,
        throw new IllegalArgumentException(
          s"unknown stage type '$tpe'; available: ${registry.keys.toSeq.sorted.mkString(", ")}")
      ).apply(step)
    }
    new Pipeline().setStages(stages.toArray)
  }

  /** Build from a JSON definition string. */
  def fromJson(json: String): Pipeline = fromDefinition(JsonConfig.parse(json))
}
