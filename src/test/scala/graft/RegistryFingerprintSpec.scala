package graft

import org.apache.spark.sql.functions._

/** Cross-round registry staleness: every DISK-persisted artifact key must
  * include a content fingerprint of its source table, so a regenerated
  * fixture (new sizes/mtimes, same path) can never be served an artifact
  * fitted on the old data. Two rounds were lost to exactly that drift;
  * this pins the property on a tmp fixture that gets "regenerated"
  * in-place.
  */
class RegistryFingerprintSpec extends SparkSpec {
  import spark.implicits._

  test("regenerating a fixture in-place changes the compacted-copy registry path") {
    val dir = java.nio.file.Files.createTempDirectory("regen").toString
    def gen(n: Int): Unit =
      spark.range(n).select(col("id").as("event_id"),
          timestamp_micros(lit(1609459200000000L) + col("id") * 1000000L).as("ts"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    gen(10)
    val before = SparkEntry.compactRoot(spark, dir)
    Thread.sleep(5) // mtime tick — regeneration is never same-millisecond
    gen(12)
    val after = SparkEntry.compactRoot(spark, dir)
    assert(before != after,
      "compact registry key ignored the fixture regeneration — stale artifact risk")
  }

  test("all disk-persisted registry keys embed a table fingerprint") {
    // Static tripwire: any registry config string (Artifacts.materialize /
    // Artifacts.path, or a bare registryKey) that lacks tableFingerprint
    // can serve a stale artifact across fixture regenerations. Scan the
    // sources so a NEW persisted artifact cannot ship without one (the
    // in-memory Artifacts.remember keys are process-scoped and exempt).
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val sources = try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
      .map(p => p -> new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8))
      finally files.close()
    val src = sources.map(_._2).mkString("\n")
    // a config string literal; whitespace and `//` comments may sit
    // between it and the call
    val literal = """(?:\s|//[^\n]*)*s?"([^"]+)""""
    // every registryKey(s"<kind>-v<N>|...") config string...
    val keyConfigs = ("""registryKey\(""" + literal).r.findAllMatchIn(src)
      .map(_.group(1)).toList
    // ...and every registry-path site's: Artifacts.materialize(s, "<kind>",
    // s"...") and Artifacts.path("<kind>", s"...")
    val site = """Artifacts\.(?:materialize\(\s*\w+,|path\()\s*"\w+","""
    val siteConfigs = (site + literal).r.findAllMatchIn(src).map(_.group(1)).toList
    // the scan must see every registry-path site's config string — a site
    // it cannot parse would silently escape the tripwire
    val sites = site.r.findAllMatchIn(src).size
    assert(sites > 0 && siteConfigs.size == sites,
      s"$sites registry-path sites but only ${siteConfigs.size} config strings parsed")
    val configs = keyConfigs ++ siteConfigs
    assert(configs.size >= 31,
      s"scan matched only ${configs.size} registry config strings — regex drift?")
    val offenders = configs
      .filter(cfg => !cfg.contains("tableFingerprint") && !cfg.contains("$fp")
        && !cfg.contains("bucketed")) // bucketed tables are re-laid-out per process (in-memory catalog)
    assert(offenders.isEmpty,
      s"disk registry keys without a table fingerprint: $offenders")
    // Registry paths are put together only in Artifacts: a path assembled
    // by hand elsewhere (the registry root, or a `<kind>_${registryKey(`
    // name) escapes the memo-by-path and the site scan above. The
    // streaming queries' `<name>_${registryKey(dir).take(8)}` memory-sink
    // names are not paths.
    val handMade = """registryRoot|_\$\{registryKey\((?!dir\)\.take\(8\)\})""".r
    val assembled = sources
      .filterNot(_._1.getFileName.toString == "Artifacts.scala")
      .flatMap { case (p, text) =>
        handMade.findAllMatchIn(text).map(m => s"${p.getFileName}: ${m.matched}") }
    assert(assembled.isEmpty,
      s"registry paths put together outside graft.Artifacts: $assembled")
  }
}
