package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession

/** The commit rule every persisted artifact follows, and the content key
  * that names it — gordo's build cache (`provide_saved_model` /
  * `disk_registry`): an artifact is persisted once under a key derived
  * from its config, and a later hit skips the build.
  *
  *   - A DIRECTORY artifact (a Spark write) exists only when the
  *     committer's success marker is present in its LAST-written part, so
  *     a directory left behind by a killed job never counts ([[committed]],
  *     [[gated]]).
  *   - A FILE artifact exists only once renamed into place
  *     ([[writeFile]]): a reader probing the target sees either nothing or
  *     the whole file, never a truncated one.
  */
object Artifacts {

  /** md5-hex key of a config string (the reference's registry key). */
  def registryKey(config: String): String =
    MessageDigest.getInstance("MD5")
      .digest(config.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Content fingerprint of a table path (names, sizes, mtimes of its
    * top-level listing) — persisted-artifact keys include it so a
    * REGENERATED fixture can never be served a stale artifact fitted on
    * the old data, and [[graft.sources.Tables]] re-checks it before
    * reusing a resolved relation. One `listStatus`, no Spark job.
    */
  def tableFingerprint(s: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val stats =
      if (!fs.exists(p)) Array("absent")
      else fs.listStatus(p).sortBy(_.getPath.getName)
        .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
    registryKey(stats.mkString("|"))
  }

  /** True iff the directory artifact at `dir` committed: every one of
    * `parts` (its sub-directories written last; `dir` itself when none
    * are named) carries the success marker.
    */
  def committed(s: SparkSession, dir: String, parts: String*): Boolean = {
    val conf = s.sparkContext.hadoopConfiguration
    (if (parts.isEmpty) Seq(dir) else parts.map(p => s"$dir/$p")).forall { d =>
      val marker = new org.apache.hadoop.fs.Path(d, "_SUCCESS")
      marker.getFileSystem(conf).exists(marker)
    }
  }

  /** Run `write` unless the artifact at `dir` committed (see
    * [[committed]]); returns `dir`.
    */
  def gated(s: SparkSession, dir: String, parts: String*)(write: => Unit): String = {
    if (!committed(s, dir, parts: _*)) write
    dir
  }

  /** Write a file artifact through a temp sibling renamed over `path` in
    * one atomic step. A writer killed mid-write leaves only the temp file,
    * which [[isTemp]] names so registries never list it.
    */
  def writeFile(path: Path, content: String): Unit = {
    val target = path.toAbsolutePath
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      Files.writeString(tmp, content)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** True for [[writeFile]]'s temp siblings (dot-prefixed). */
  def isTemp(p: Path): Boolean = p.getFileName.toString.startsWith(".")
}
