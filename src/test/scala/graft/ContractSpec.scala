package graft

import graft.queries.{Oracle, Query}

/** Driver-contract consistency: every oracle has a query, and every query
  * is callable at smoke scale.
  */
class ContractSpec extends SparkSpec {

  /** Every main source file's text. */
  private lazy val mainSources: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8))
    finally files.close()
  }

  test("every oracleSql key has a queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("every query plans (analysis passes) at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, dir)
      assert(df.schema.fields.nonEmpty, s"$name produced an empty schema")
    }
  }

  test("entry returns rows at sf0.001 (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** The integer-division exactness contract: ~7 queries (hourlyCentsLong
    * and the seasonal/trend family) pair Spark `div` — which truncates
    * toward zero — with DuckDB `//` — which floors. The two agree ONLY on
    * non-negative operands, so the whole cents/micro-unit discipline
    * rests on `events.value >= 0`. Pin the domain at every fixture scale
    * the oracles run at (FIXTURES.md records the same contract): a
    * regenerated fixture with negative values must fail HERE, by name,
    * not as an off-by-one hash mismatch in a trend query.
    */
  test("events.value is non-negative at every oracle scale (div vs // contract)") {
    import org.apache.spark.sql.functions.{col, min}
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val lo = graft.sources.Events.read(spark, s"/root/testdata/$sf/events.parquet")
        .agg(min(col("value"))).head().getDouble(0)
      assert(lo >= 0.0,
        s"$sf events.value min=$lo < 0 — Spark div (truncate) and DuckDB // " +
          "(floor) diverge on negative operands; the cents quantization " +
          "in hourlyCentsLong and the seasonal/trend oracles is no longer exact")
    }
  }

  test("268 queries, each name declared exactly once across every declaring file") {
    val names = SparkEntry.declared.map(_.name)
    assert(names.size == 268, s"${names.size} declared queries")
    assert(names.distinct.size == names.size,
      s"declared more than once: ${names.diff(names.distinct).distinct}")
    assert(SparkEntry.queries.keySet == names.toSet)
    // a `Query("<name>", …)` outside the tables `declared` is built from,
    // or a second declaration of a name in another file, shows up here
    val inSource = mainSources.flatMap(src =>
      """\bQuery\(\s*"(\w+)"""".r.findAllMatchIn(src).map(_.group(1)))
    assert(inSource.sorted == names.sorted,
      s"source declarations differ from the contract: ${inSource.diff(names)} / ${names.diff(inSource)}")
  }

  test("every query has an oracle: static text, or one its query publishes") {
    SparkEntry.declared.foreach { case Query(name, _, oracle) =>
      val sql = oracle.text(name)
      oracle match {
        case _: Oracle.Sql => assert(sql.exists(_.trim.nonEmpty), s"$name: empty oracle")
        case _: Oracle.Published => () // pinned to a publish site below
      }
      // a fragment read before its declaring object initialized it
      // interpolates as the text "null"
      assert(sql.forall("""\bnull\b""".r.findFirstIn(_).isEmpty), s"$name: oracle holds 'null'")
    }
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("publishOracle call sites are exactly the queries declared Published") {
    val sites = mainSources.flatMap(src =>
      """publishOracle\(\s*"(\w+)"""".r.findAllMatchIn(src).map(_.group(1))).toSet
    val published = SparkEntry.declared.collect {
      case Query(name, _, _: Oracle.Published) => name }.toSet
    assert(sites == published,
      s"published but not declared Published: ${sites -- published}; " +
        s"declared Published but never published: ${published -- sites}")
  }
}
