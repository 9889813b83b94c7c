package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** The relation resolver's contract: relations are cached per session,
  * never rows, and every hit is fingerprint-checked.
  */
class TablesSpec extends SparkSpec {

  private def tmpTable(): String =
    Files.createTempDirectory("graft-tables").toString + "/t.parquet"

  private def write(path: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(path)

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get

  test("a rewritten path re-resolves: the next read sees the new schema and rows") {
    val p = tmpTable()
    write(p, spark.range(3).select(col("id"), lit("x").as("a")))
    val before = Tables.resolve(spark, p)
    assert(before.columns.toSeq == Seq("id", "a") && before.count() == 3)
    assert(Tables.resolve(spark, p).count() == 3) // a hit, same table
    write(p, spark.range(5).select(col("id"), lit(1).as("b"), lit(2.0).as("c")))
    val after = Tables.resolve(spark, p)
    assert(after.columns.toSeq == Seq("id", "b", "c"))
    assert(after.count() == 5)
    assert(after.agg(sum(col("b"))).head().getLong(0) == 5L)
  }

  test("a cache hit launches no Spark job; the miss it replaces does") {
    val p = tmpTable()
    write(p, spark.range(4).toDF("id"))
    assert(jobsDuring("tables-miss")(Tables.resolve(spark, p)) >= 1,
      "the first resolve should run the schema-inference job")
    assert(jobsDuring("tables-hit")(Tables.resolve(spark, p).schema) == 0)
    // the events reader rides the same resolver, normalization included
    val e = tmpTable()
    write(e, spark.range(4).select(col("id").as("event_id"),
      timestamp_micros(col("id") * 1000000L).as("ts")))
    Events.read(spark, e)
    assert(jobsDuring("events-hit") {
      Events.read(spark, e).schema
      Events.readBetween(spark, e, "1970-01-01", "1970-01-02").schema
    } == 0)
  }

  test("two resolves of one path self-join with correct counts") {
    val p = tmpTable()
    write(p, spark.range(4).toDF("id"))
    val a = Tables.resolve(spark, p)
    val b = Tables.resolve(spark, p)
    val c = Tables.resolve(spark, p)
    assert(a.join(b, a("id") === b("id")).count() == 4)
    assert(b.join(c, b("id") === c("id")).count() == 4)
    assert(b.join(c, b("id") < c("id")).count() == 6)
  }

  test("a second session never receives the first session's relation") {
    val p = tmpTable()
    write(p, spark.range(4).toDF("id"))
    val other = spark.newSession()
    val first = relationOf(Tables.resolve(spark, p))
    val hit = relationOf(Tables.resolve(spark, p))
    val mine = relationOf(Tables.resolve(other, p))
    assert(hit.location eq first.location, "a same-session hit reuses the listing")
    assert(!(mine.location eq first.location))
    assert(mine.sparkSession eq other)
    assert(relationOf(Tables.resolve(other, p)).sparkSession eq other)
    assert(Tables.resolve(other, p).count() == 4)
  }
}
