package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Static scans over the main sources for rules the compiler does not
  * check: each scaladoc describes the member beneath it, and each value
  * quantization rule (per-row integer cents, the micro-sum under every
  * micro-mean, the hourly-cents series) is written out once.
  */
class SourceScanSpec extends AnyFunSuite {

  /** (path, text) of every main Scala source. */
  private lazy val mainSources: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get("src/main/scala"))
    try files.iterator().asScala.map(_.toString).filter(_.endsWith(".scala"))
      .toSeq.sorted
      .map(p => p -> new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8))
    finally files.close()
  }

  private def lineOf(src: String, offset: Int): Int =
    src.substring(0, offset).count(_ == '\n') + 1

  test("no scaladoc is stacked on another one") {
    // a `*/` followed, across blank lines only, by another `/**`: the
    // first doc describes nothing beneath it
    val stacked = """\*/[ \t]*\n(?:[ \t]*\n)*[ \t]*/\*\*""".r
    val hits = for {
      (path, src) <- mainSources
      m <- stacked.findAllMatchIn(src)
    } yield s"$path:${lineOf(src, m.start)}"
    assert(hits.isEmpty, s"stacked scaladocs: ${hits.mkString(", ")}")
  }

  // margins stripped and whitespace runs collapsed, so a copy matches in
  // any line layout
  private def norm(src: String): String =
    src.replaceAll("""\n[ \t]*\|""", "\n").replaceAll("""\s+""", " ")

  /** `path: <match>` of every match of `rule` in the normalized main sources. */
  private def copiesOf(rule: scala.util.matching.Regex): Seq[String] =
    for {
      (path, src) <- mainSources
      m <- rule.findAllMatchIn(norm(src))
    } yield s"$path: ${m.matched.take(80)}"

  private def onlyInCommon(what: String, copies: Seq[String]): Unit =
    assert(copies.size == 1 &&
      copies.head.startsWith("src/main/scala/graft/queries/Common.scala:"),
      s"$what copies: $copies")

  test("the hourly-cents series is spelled out once, in graft.queries.Common") {
    // the CTE, with its micro-sum written out or interpolated
    val cte =
      """SELECT event_type, date_trunc\('hour', CAST\(ts AS TIMESTAMP\)\) AS bucket, """ +
        """\((?:\$\{?microSumSql\}?|CAST\(SUM\(CAST\(value AS DECIMAL\(18,6\)\)\) \* 1000000 AS BIGINT\)) """ +
        """// count\(\*\)\) // 10000 AS c FROM events WHERE value IS NOT NULL GROUP BY 1, 2\)"""
    onlyInCommon("hourly-cents CTE", copiesOf(cte.r))
    assert(cte.replace("""\$\{?microSumSql\}?|""", "").r
      .findFirstIn(norm(graft.queries.Common.hourlyCentsCte)).isDefined)
    // the Scala twin: per (event_type, hour bucket), cents =
    // (micro-sum div count) div 10000, the micro-sum summed in micro-units
    // or as a decimal scaled after the aggregate
    val twin =
      ("""date_trunc\("hour", col\("ts"\)\)\.as\("bucket"\)\)[\s\S]{0,400}?""" +
        """\((?:s_micro|cast\(\w+ \* 1000000 as long\)) div \w+\) div 10000""").r
    onlyInCommon("hourly-cents Scala", copiesOf(twin))
  }

  test("the integer-cents and micro-sum rules are spelled out once, in graft.queries.Common") {
    val centsScala =
      """cast\(cast\(value as decimal\(18,6\)\) \* 1000000 as bigint\) div 10000(?!\d)""".r
    val centsSql =
      """CAST\(CAST\(value AS DECIMAL\(18,6\)\) \* 1000000 AS BIGINT\) // 10000(?!\d)""".r
    val microScala = """sum\(col\("value"\)\.cast\("decimal\(18,6\)"\)\)""".r
    val microSql = """CAST\(SUM\(CAST\(value AS DECIMAL\(18,6\)\)\) \* 1000000 AS BIGINT\)""".r
    onlyInCommon("per-row cents Scala", copiesOf(centsScala))
    onlyInCommon("per-row cents SQL", copiesOf(centsSql))
    onlyInCommon("micro-sum Scala", copiesOf(microScala))
    onlyInCommon("micro-sum SQL", copiesOf(microSql))
    assert(centsSql.pattern.matcher(graft.queries.Common.valueCentsSql).matches())
    assert(microSql.pattern.matcher(graft.queries.Common.microSumSql).matches())
  }
}
