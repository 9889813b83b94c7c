package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Static tripwire for the one-resolver rule: a parquet source read in
  * any file that declares queries (`SparkEntry.scala` and the family
  * files under `graft/queries`) goes through [[Tables.resolve]]
  * (directly, or via `T`/`E`/`Ebetween`), so a query pays the
  * schema-inference job once per session, not once per read. A raw
  * `read.parquet` is allowed only on the named paths below, each
  * rewritten or written during the query, or a multi-file read.
  */
class SourceReadsSpec extends AnyFunSuite {

  private def source(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)

  /** Every main source file holding a `Query("<name>", …)` declaration. */
  private def queryFiles: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get("src/main/scala"))
    try files.iterator().asScala.map(_.toString).filter(_.endsWith(".scala"))
      .filter(p => """\bQuery\(\s*"""".r.findFirstIn(source(p)).isDefined)
      .toSeq.sorted
    finally files.close()
  }

  // argument of a raw `.read.parquet(...)` -> why it is not resolved
  private val exempt = Map(
    "s\"$out/data\"" -> "manifest build: read back inside its own write",
    "s\"$out/v1\"" -> "time-travel build: read back inside its own write",
    "files.toIndexedSeq: _*" -> "manifest-pruned multi-file read",
    "s\"$stateDir/bands\"" -> "incremental dedup state",
    "s\"$stateDir/stats\"" -> "incremental dedup state",
    "s\"$stateDir/pairs\"" -> "incremental dedup state",
    "basePath" -> "incremental kNN state",
    "s\"$statePath/hashes\"" -> "incremental phash state",
    "s\"$statePath/pairs\"" -> "incremental phash state",
    "table" -> "stream_upsert's table, rewritten by every micro-batch")

  test("SparkEntry reads parquet sources only through the resolver") {
    val files = queryFiles
    assert(files.contains("src/main/scala/graft/SparkEntry.scala") && files.size > 1,
      s"query-declaring files not found: $files")
    val src = files.map(source).mkString("\n")
    val reads = """\.read\.parquet\(([^)]*)\)(\s*\.schema)?""".r
      .findAllMatchIn(src).map(m => (m.group(1).trim, m.group(2) != null)).toList
    assert(reads.nonEmpty && src.contains("Tables.resolve(s, "),
      "scan found no reads at all — regex drift?")
    val fixture = reads.map(_._1).filter(_.startsWith("s\"$dir/"))
    assert(fixture.isEmpty, s"fixture tables read around the resolver: $fixture")
    val schemaOnly = reads.collect { case (arg, true) => arg }
    assert(schemaOnly.isEmpty,
      s"read.parquet(…).schema infers a schema per call; resolve instead: $schemaOnly")
    val unnamed = reads.map(_._1).filterNot(exempt.contains)
    assert(unnamed.isEmpty, s"raw parquet reads outside the named exemptions: $unnamed")
  }

  test("the events reader and T resolve through Tables") {
    assert(!source("src/main/scala/graft/sources/Events.scala").contains("read.parquet"))
    val entry = source("src/main/scala/graft/queries/Common.scala")
    assert("""def T\(s: SparkSession, dir: String, name: String\): DataFrame =\s+Tables\.resolve\(""".r
      .findFirstIn(entry).isDefined)
  }
}
