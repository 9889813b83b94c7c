package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Static scans over the main sources for rules the compiler does not
  * check: each scaladoc describes the member beneath it, and the
  * hourly-cents rule is written out once.
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

  test("the hourly-cents series is spelled out once, in graft.queries.Common") {
    // margins stripped and whitespace runs collapsed, so a copy matches in
    // any line layout
    def norm(src: String): String =
      src.replaceAll("""\n[ \t]*\|""", "\n").replaceAll("""\s+""", " ")
    val cte = norm(
      """SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
        | (CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
        | // count(*)) // 10000 AS c
        | FROM events WHERE value IS NOT NULL GROUP BY 1, 2)""".stripMargin)
    val sqlCopies = mainSources.flatMap { case (path, src) =>
      val n = norm(src)
      Iterator.iterate(n.indexOf(cte))(i => n.indexOf(cte, i + 1))
        .takeWhile(_ >= 0).map(_ => path)
    }
    assert(sqlCopies == Seq("src/main/scala/graft/queries/Common.scala"),
      s"hourly-cents CTE copies: $sqlCopies")
    assert(norm(graft.queries.Common.hourlyCentsCte).contains(cte))
    // the Scala twin: per (event_type, hour bucket), cents =
    // (micro-sum div count) div 10000
    val twin =
      """date_trunc\("hour", col\("ts"\)\)\.as\("bucket"\)\)[\s\S]{0,300}?\(s_micro div \w+\) div 10000""".r
    val scalaCopies = for {
      (path, src) <- mainSources
      m <- twin.findAllMatchIn(src)
    } yield s"$path:${lineOf(src, m.start)}"
    assert(scalaCopies.size == 1 &&
      scalaCopies.head.startsWith("src/main/scala/graft/queries/Common.scala:"),
      s"hourly-cents Scala copies: $scalaCopies")
  }
}
