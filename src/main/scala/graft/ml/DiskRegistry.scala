package graft.ml

import java.nio.file.{Files, Path, Paths}

import graft.Artifacts

/** Content-addressed build cache — the analogue of the reference's
  * `builder/build_model.py::provide_saved_model` +
  * `util/disk_registry.py` (public repo; mount empty, SURVEY.md §0):
  * the model key is a digest of the full config, a registry hit skips the
  * build entirely. Driver-side only; never touches executors.
  */
class DiskRegistry(root: Path) {

  Files.createDirectories(root)

  /** Stable cache key for a config string (the reference uses md5 of
    * model+data config + version).
    */
  def key(config: String): String = Artifacts.registryKey(config)

  private def entry(k: String): Path = root.resolve(k)

  def lookup(config: String): Option[String] = {
    val p = entry(key(config))
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  /** Return the cached artifact location, or run `build` and register its
    * result (the pointer file commits by atomic rename).
    */
  def getOrBuild(config: String)(build: => String): String =
    lookup(config).getOrElse {
      val artifact = build
      Artifacts.writeFile(entry(key(config)), artifact)
      artifact
    }

  /** Enumerate registered builds as (config key, artifact path), key-
    * sorted — the watchman/status surface reads this.
    */
  def entries: Seq[(String, String)] = {
    val stream = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !Artifacts.isTemp(p))
        .map(p => p.getFileName.toString -> Files.readString(p).trim)
        .toSeq.sortBy(_._1)
    } finally stream.close()
  }
}

object DiskRegistry {
  def apply(dir: String): DiskRegistry = new DiskRegistry(Paths.get(dir))
}
