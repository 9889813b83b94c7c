package graft.ml

import com.fasterxml.jackson.databind.ObjectMapper

import org.yaml.snakeyaml.LoaderOptions
import org.yaml.snakeyaml.Yaml
import org.yaml.snakeyaml.constructor.SafeConstructor

/** YAML front-end for machine/fleet configs — the reference's configs are
  * YAML documents (`workflow/config_elements/machine.py::Machine` +
  * `normalized_config.py::NormalizedConfig`, public repo; mount empty,
  * SURVEY.md §0), while [[WorkflowGenerator]] / [[ModelBuilder]] /
  * [[PipelineFactory]] consume JSON. This is a thin, driver-side
  * normalization layer: YAML parses to the SAME tree JSON would (the
  * scaladoc contract on [[WorkflowGenerator]]), so every downstream
  * consumer — deep merge, registry keying, builder routing — is shared
  * verbatim with the JSON path. No new semantics live here.
  *
  * Parsing is SnakeYAML (already on Spark's runtime classpath) under
  * `SafeConstructor`: standard maps/lists/scalars only — a `!!tag` that
  * would instantiate an arbitrary class is rejected, anchors/aliases
  * resolve with real YAML semantics, and a multi-document stream throws
  * instead of silently keeping the first document. (The Jackson YAML
  * dataformat was rejected for this job: its `readTree` turns `*alias`
  * into the literal string of the anchor name and drops trailing
  * documents — both silent config corruption.) The resolved tree is
  * rendered to compact JSON by the same Jackson databind json4s wraps,
  * so scalars land as the identical node types the JSON parser yields.
  */
object YamlConfig {

  /** Parse ONE YAML document and render it as compact JSON. Quote ISO
    * dates (`from_ts: "2024-01-01T00:00:00Z"`) — an unquoted YAML
    * timestamp resolves to a date object and serializes as epoch millis,
    * not the string the dataset config expects.
    */
  def toJson(yaml: String): String = {
    val tree = new Yaml(new SafeConstructor(new LoaderOptions())).load[Object](yaml)
    require(tree != null, "empty YAML document")
    new ObjectMapper().writeValueAsString(tree)
  }

  /** YAML fleet document → normalized per-machine configs (name, model
    * type, canonical key-sorted JSON) — `from_definition` parity for the
    * reference's native config format.
    */
  def normalizeFleet(fleetYaml: String): Seq[(String, String, String)] =
    WorkflowGenerator.normalize(toJson(fleetYaml))
}
