package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.SparkSession

/** The commit rule every persisted artifact follows, the content key
  * that names it, and the process memo in front of both — gordo's build
  * cache (`provide_saved_model` / `disk_registry`): an artifact is
  * persisted once under a key derived from its config, and a later hit
  * skips the build.
  *
  *   - A DIRECTORY artifact (a Spark write) exists only when the
  *     committer's success marker is present in its LAST-written part, so
  *     a directory left behind by a killed job never counts ([[committed]],
  *     [[gated]]).
  *   - A FILE artifact exists only once renamed into place
  *     ([[writeFile]]): a reader probing the target sees either nothing or
  *     the whole file, never a truncated one.
  *   - Registry paths are put together only here ([[path]]), and a
  *     directory artifact is built through [[materialize]]: one memo
  *     entry per path, so the config's table fingerprint keys the process
  *     memo as well as the disk entry.
  */
object Artifacts {

  /** Root for cross-run persisted artifacts (fitted quantizers,
    * materialized fixtures): the build's own target dir, NOT a shared
    * world-writable /tmp — a predictable shared path invites cross-user
    * collision and artifact poisoning.
    */
  private def registryRoot: String =
    sys.env.getOrElse("GRAFT_REGISTRY_DIR", {
      // Anchor to the BUILD's target dir via the loaded class's code
      // source, NOT the process cwd: a launcher running Bench/Verify from
      // any other cwd would otherwise resolve a fresh empty registry
      // every run, silently re-paying every one-time fit (measured: r7
      // driver cold_total 164.5 s vs 112.4 s with the registry warm).
      // Code source is .../target/scala-2.13/classes for tests, but sbt
      // `runMain` executes a packaged jar at
      // .../target/bg-jobs/sbt_<id>/job-1/target/<hash>/<hash>/x.jar —
      // an EPHEMERAL per-invocation dir that itself contains a `target`
      // component. Walking up to the FIRST `target` ancestor therefore
      // resolved a fresh empty registry on every runMain, silently
      // re-paying every one-time fit each round (the r7→r8 cold_total
      // mystery: artifacts landed in bg-jobs dirs and were never reused).
      // Take the TOPMOST `target` ancestor — the build's own target dir,
      // stable across invocations and shared with the test classpath.
      try {
        val loc = Artifacts.getClass.getProtectionDomain.getCodeSource.getLocation
        var cur = Paths.get(loc.toURI)
        var top: Path = null
        while (cur != null) {
          if (cur.getFileName != null && cur.getFileName.toString == "target")
            top = cur
          cur = cur.getParent
        }
        if (top != null) top.resolve("graft-registry").toString
        else new java.io.File("target/graft-registry").getAbsolutePath
      } catch { case _: Exception =>
        new java.io.File("target/graft-registry").getAbsolutePath }
    })

  /** Registry path of the artifact of `kind` built from `config`:
    * `<root>/<kind>_<registryKey(config)><ext>`. Every config that reads
    * a table embeds its [[tableFingerprint]] (RegistryFingerprintSpec).
    */
  def path(kind: String, config: String, ext: String = ""): String =
    s"$registryRoot/${kind}_${registryKey(config)}$ext"

  /** A registry file named by the caller, not by a content key (the
    * published oracle fragments).
    */
  def registryFile(dir: String, name: String): Path =
    Paths.get(registryRoot, dir, name)

  /** One memo slot: `compute` runs at most once, under the slot's own
    * lock — never the map's — so one memoized compute may call another.
    */
  private final class Slot(private var compute: () => AnyRef) {
    private var value: AnyRef = _
    def get: AnyRef = synchronized {
      if (compute != null) { value = compute(); compute = null }
      value
    }
  }

  private val memo = new ConcurrentHashMap[String, Slot]()

  /** Process-level memo — the fit-once/score-many discipline: `compute`
    * runs at most once per `key` (a second caller waits for the first),
    * and a compute that throws leaves the key free for the next caller.
    * Sound for deterministic (seeded) computes whose inputs the key names:
    * a registry path through its config, or an in-memory fit through
    * `<fit>|<dir>`.
    */
  def remember[T <: AnyRef](key: String)(compute: => T): T = {
    val fresh = new Slot(() => compute)
    val slot = Option(memo.putIfAbsent(key, fresh)).getOrElse(fresh)
    try slot.get.asInstanceOf[T]
    catch { case e: Throwable => memo.remove(key, slot); throw e }
  }

  /** The directory artifact of `kind` built from `config` (see [[path]]):
    * `write(path)` runs unless the artifact committed (see [[committed]]
    * for `parts`), at most once per path and process. Returns the path.
    */
  def materialize(s: SparkSession, kind: String, config: String, parts: String*)(
      write: String => Unit): String = {
    val dir = path(kind, config)
    remember(dir)(gated(s, dir, parts: _*)(write(dir)))
  }

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

  /** Delete `root` and everything under it; a missing root is a no-op. */
  def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }

  /** tmpfs (`/dev/shm`) when the box has a writable one: throwaway
    * per-run state (snapshot chains, replay checkpoints) lives seconds
    * and is rewritten per micro-batch, so disk fsync on it is pure fixed
    * cost (stream_upsert: 2.4 s → ~1.2 s warm at sf0.1 from this alone).
    */
  lazy val tmpfsRoot: Option[Path] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) Some(shm.toPath) else None
  }

  /** Temp dirs made here are recursively deleted by one JVM-exit hook —
    * scratch state must not accumulate across repeated bench/verify
    * processes.
    */
  private lazy val tempDirsToDelete = {
    val q = new ConcurrentLinkedQueue[Path]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      q.forEach(p => try deleteRecursively(p) catch { case _: Exception => () })
    }))
    q
  }

  /** A fresh temp dir ([[tmpfsRoot]] when there is one), deleted at JVM
    * exit.
    */
  def tempDirDeletedAtExit(prefix: String): String = {
    val p = tmpfsRoot.fold(Files.createTempDirectory(prefix))(
      Files.createTempDirectory(_, prefix))
    tempDirsToDelete.add(p)
    p.toString
  }
}
