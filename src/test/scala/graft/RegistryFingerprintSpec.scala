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
    // Static tripwire: any $registryRoot/<kind>_${registryKey(...)} whose
    // key string lacks tableFingerprint can serve a stale artifact across
    // fixture regenerations. Scan the sources so a NEW persisted artifact
    // cannot ship without one (the in-memory fittedModel memo keys are
    // process-scoped and exempt).
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val src = try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
      .map(p => new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)).mkString("\n")
      finally files.close()
    // every registryKey(s"<kind>-v<N>|...") config string; whitespace and
    // `//` comments may sit between the call and its string
    val config = """registryKey\((?:\s|//[^\n]*)*s?"([^"]+)""""
    val configs = config.r.findAllMatchIn(src).map(_.group(1)).toList
    // the scan must see every inline registry-path site's config string
    // — a site it cannot parse would silently escape the tripwire
    val sites = """\$registryRoot/\w+_\$\{registryKey\(""".r.findAllMatchIn(src).size
    val parsedSites = ("""\$registryRoot/\w+_\$\{""" + config).r.findAllMatchIn(src).size
    assert(sites > 0 && parsedSites == sites,
      s"$sites registry-path sites but only $parsedSites config strings parsed")
    assert(configs.size >= 31,
      s"scan matched only ${configs.size} registry config strings — regex drift?")
    val offenders = configs
      .filter(cfg => !cfg.contains("tableFingerprint") && !cfg.contains("$fp")
        && !cfg.contains("bucketed")) // bucketed tables are re-laid-out per process (in-memory catalog)
    assert(offenders.isEmpty,
      s"disk registry keys without a table fingerprint: $offenders")
  }
}
