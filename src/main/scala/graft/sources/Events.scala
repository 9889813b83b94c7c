package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Canonical reader for the `events` fixture table.
  *
  * The fixture has shipped with `ts` in three physical generations:
  *   1. parquet TIMESTAMP(NANOS) — Spark cannot read it as a timestamp
  *      ([PARQUET_TYPE_ILLEGAL]); with `spark.sql.legacy.parquet
  *      .nanosAsLong` it surfaces as a ns-since-epoch LONG;
  *   2. parquet TIMESTAMP(MICROS) with isAdjustedToUTC=false — Spark 4.x
  *      (inferTimestampNTZ on by default) reads it as TIMESTAMP_NTZ,
  *      which `unix_micros`/`unix_seconds` and interval arithmetic
  *      REJECT at analysis time;
  *   3. parquet TIMESTAMP(MICROS) with isAdjustedToUTC=true — a plain
  *      TimestampType.
  * Rather than hard-code one generation's physical type (a silent
  * analysis failure on the others), adapt to what the footer actually
  * says and normalize every generation to ONE logical type: a
  * µs-precision `ts` TimestampType — the type every downstream operator
  * and every DuckDB oracle (`CAST(ts AS TIMESTAMP)`, a µs no-op there)
  * agrees on. All graft sessions pin `spark.sql.session.timeZone=UTC`
  * (Sessions.scala), so the NTZ→TIMESTAMP cast is value-preserving:
  * the naive wall-clock instants the generator wrote ARE UTC instants.
  * The footer is read through [[Tables]], once per session and path.
  */
object Events {

  private def raw(s: SparkSession, path: String): DataFrame = {
    // Intentionally session-global: Sessions.builder sets the same flag,
    // and it only changes semantics for TIMESTAMP(NANOS) columns — which
    // only this reader touches. Harmless for µs files; required before
    // planning a ns file.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.resolve(s, path)
  }

  private def isNanosLong(df: DataFrame): Boolean =
    df.schema("ts").dataType == LongType

  private def isNtz(df: DataFrame): Boolean =
    df.schema("ts").dataType == TimestampNTZType

  /** Full scan with `ts` normalized to a µs TimestampType regardless of
    * the fixture generation (see object doc). The NTZ cast happens under
    * the pinned-UTC session, so values are unchanged.
    */
  def read(s: SparkSession, path: String): DataFrame = {
    val df = raw(s, path)
    if (isNanosLong(df)) df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else if (isNtz(df)) df.withColumn("ts", col("ts").cast("timestamp"))
    else df
  }

  /** Time-bounded scan `[fromDate, toDate)` (dates at UTC midnight) with
    * the range predicate applied to the COLUMN AS STORED, so it lands in
    * the parquet scan's PushedFilters (row-group/page pruning — the thing
    * that matters at 100 TB):
    *   - ns-long generation: bound the raw long; exact because
    *     `ts div 1000 >= F ⟺ ts >= F*1000` for positive longs;
    *   - NTZ generation: bound with LocalDateTime literals, so both
    *     sides are TIMESTAMP_NTZ and the comparison is timezone-free by
    *     construction (no session-zone coercion of an Instant literal);
    *   - UTC-µs generation: bound the timestamp with Instant literals
    *     (timezone-fixed — no dependence on session or JVM zone).
    * After filtering, `ts` is normalized exactly as in [[read]].
    */
  def readBetween(s: SparkSession, path: String,
      fromDate: String, toDate: String): DataFrame = {
    def instant(d: String): java.time.Instant =
      java.time.LocalDate.parse(d).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    val df = raw(s, path)
    if (isNanosLong(df)) {
      def ns(d: String): Long = instant(d).toEpochMilli * 1000000L
      df.filter(col("ts") >= ns(fromDate) && col("ts") < ns(toDate))
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    } else if (isNtz(df)) {
      def ldt(d: String): java.time.LocalDateTime =
        java.time.LocalDate.parse(d).atStartOfDay
      df.filter(col("ts") >= lit(ldt(fromDate)) && col("ts") < lit(ldt(toDate)))
        .withColumn("ts", col("ts").cast("timestamp"))
    } else {
      df.filter(col("ts") >= lit(instant(fromDate)) && col("ts") < lit(instant(toDate)))
    }
  }

  /** Defensive epoch accessors for arbitrary caller-supplied frames
    * (model fits, sinks) whose `ts` may be NTZ: `unix_*` rejects
    * TIMESTAMP_NTZ at analysis time, and the cast is a no-op for a
    * column that is already TimestampType. Under the pinned-UTC session
    * the NTZ cast is value-preserving.
    */
  def epochMicros(c: Column): Column = unix_micros(c.cast("timestamp"))
  def epochSeconds(c: Column): Column = unix_seconds(c.cast("timestamp"))
}
