package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Artifacts

/** One named query of the driver contract: the function that builds its
  * result over a fixture directory, and the DuckDB oracle that result
  * must hash-match. Each query is declared once, in its family's table;
  * `SparkEntry.queries` and `SparkEntry.oracleSql` are derived from the
  * declarations.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Oracle)

object Query {

  /** The `queries` contract map. A repeated name fails here instead of
    * silently keeping only the last declaration.
    */
  def builds(all: Seq[Query]): Map[String, (SparkSession, String) => DataFrame] = {
    val repeated = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(repeated.isEmpty, s"query names declared more than once: ${repeated.mkString(", ")}")
    all.map(q => q.name -> q.build).toMap
  }

  /** The `oracleSql` contract map, evaluated now: a published oracle
    * appears once its query has run (or left a fragment file).
    */
  def oracles(all: Seq[Query]): Map[String, String] =
    all.flatMap(q => q.oracle.text(q.name).map(q.name -> _)).toMap
}

/** A query's DuckDB oracle. The text is by-name: it is built when the
  * contract map is read, never while a declaring object initializes (a
  * `val` fragment declared further down would still be `null` then).
  */
sealed trait Oracle {
  def text(name: String): Option[String]
}

object Oracle {

  /** A static oracle. */
  final class Sql(sql: => String) extends Oracle {
    def text(name: String): Option[String] = Some(sql)
  }

  object Sql {
    def apply(sql: => String): Sql = new Sql(sql)
  }

  /** An oracle the query publishes when it runs ([[publishOracle]]),
    * because its text needs fitted parameters, a persisted artifact or
    * the fixture's size. Read order: the text published in this
    * process, else the fixture-keyed fragment file an earlier process
    * published, else `fallback`, else no entry.
    */
  final class Published(fallback: => Option[String]) extends Oracle {
    def text(name: String): Option[String] =
      Option(publishedOracleSql.get(name)).orElse {
        val f = oracleFragmentFile(name)
        if (java.nio.file.Files.isReadable(f))
          Some(java.nio.file.Files.readString(f))
        else None
      }.orElse(fallback)
  }

  object Published {
    def apply(): Published = new Published(None)
    def apply(fallback: => String): Published = new Published(Some(fallback))
  }

  /** Oracle SQL published at query-run time (the fitted-params
    * lifecycle). Each publish ALSO persists the fragment as the registry
    * file `oracle_sql/<name>.sql`, and [[Published]] falls back to that
    * file when the in-process value is absent — so a cold process can
    * dump a generated oracle for a query that ran in an earlier process
    * (same-fixture staleness is impossible in the driver flow: Verify
    * always runs the query, overwriting the fragment, before dumping
    * oracle_sql.json).
    */
  private val publishedOracleSql =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Fragment filenames are FIXTURE-KEYED when the runner declares one
    * (`graft.oracle.fixture`, set by Verify from its sfDir): a query
    * that THROWS during Verify must not fall back to a fragment fitted
    * on a different fixture — that fails safe (hash mismatch) but masks
    * the real error behind a confusing oracle diff. With the key in the
    * name, a missing run yields a missing fragment → the absent oracle
    * entry points at the query failure itself. Unkeyed (tests, ad-hoc
    * sessions): plain `<name>.sql`, same behavior as before.
    */
  private def oracleFragmentFile(name: String): java.nio.file.Path = {
    val fixture = sys.props.get("graft.oracle.fixture")
      .map(_.replaceAll("[^A-Za-z0-9.]+", "-").stripPrefix("-"))
    Artifacts.registryFile("oracle_sql",
      fixture.fold(s"$name.sql")(f => s"$name.$f.sql"))
  }

  /** Publishes `name`'s oracle. Only a query declared with a
    * [[Published]] oracle reads it back.
    */
  def publishOracle(name: String, sql: String): Unit = {
    publishedOracleSql.put(name, sql)
    try Artifacts.writeFile(oracleFragmentFile(name), sql)
    catch { case _: Exception => () } // fragment persistence is best-effort
  }
}
