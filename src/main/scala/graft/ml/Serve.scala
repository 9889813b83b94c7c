package graft.ml

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Anything servable: per-tag + total anomaly scoring with a fitted
  * threshold. Both anomaly models implement it, so the request path and
  * the HTTP layer are model-agnostic — the reference swaps model classes
  * under one server the same way.
  */
trait TagAnomalyScorer {
  def threshold: Double

  /** Add `anomaly_score` and `tag_anomaly_<tag>` columns for `tags`. */
  def scoreWithTags(df: DataFrame, tags: Seq[String]): DataFrame
}

/** Request/response prediction surface — the reference's
  * `server/views/base.py::BaseModelView.post` analogue (public repo; mount
  * empty, SURVEY.md §0): POST /prediction receives an X payload of
  * records, returns per-row anomaly output. The surface is (model, JSON
  * payload) → response frame / JSON; [[PredictionServer]] wraps it 1:1
  * over HTTP.
  *
  * Contract notes mirrored from the reference: records parse against an
  * EXPLICIT schema (no inference scan — a request must not cost two
  * passes), unknown fields are ignored, every record returns exactly one
  * response row in payload order (`req_idx`) — records missing a tag come
  * back with NULL scores/verdict rather than disappearing — and the
  * response carries the total anomaly, the threshold verdict, and per-tag
  * error columns.
  */
object Serve {

  /** Explicit request schema: optional `ts` + one double per tag. */
  def requestSchema(tags: Seq[String], tsCol: String = "ts"): StructType =
    StructType(StructField(tsCol, TimestampType, nullable = true) +:
      tags.map(t => StructField(t, DoubleType, nullable = true)))

  /** Parse a JSON-array payload ("[{...}, {...}]") into the X frame;
    * `req_idx` is the record's position in the payload, so the response
    * stays row-aligned with the request.
    *
    * The body is a one-row local relation and both projections over it
    * fold into it (Catalyst's `ConvertToLocalRelation`), so the collect
    * runs no Spark job; the records then become a LOCAL relation again,
    * the same rule [[parseParquetRequest]] follows.
    */
  def parseRequest(spark: SparkSession, json: String, tags: Seq[String],
      tsCol: String = "ts"): DataFrame = {
    import spark.implicits._
    val schema = requestSchema(tags, tsCol)
    val Array(parsed) = spark.createDataset(Seq(json)).toDF("__body")
      .select(col("__body"), from_json(col("__body"), ArrayType(schema)).as("__arr"))
      .select(col("__arr"),
        (col("__arr").isNull && length(trim(col("__body"))) > 0).as("__bad"))
      .collect()
    // malformed JSON parses to null — that must be a request ERROR, not an
    // empty 200-style success that silently drops the whole payload
    require(!parsed.getBoolean(1), "malformed JSON request payload")
    val records = if (parsed.isNullAt(0)) Seq.empty else parsed.getSeq[Row](0)
    // a `null` element is a record with every field null
    val rows = records.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(i.toLong +: (if (r == null) Seq.fill(schema.length)(null) else r.toSeq))
    }
    spark.createDataFrame(rows.asJava,
      StructType(StructField("req_idx", LongType, nullable = false) +: schema.fields))
  }

  /** Score a request payload: total anomaly + threshold verdict + per-tag
    * decomposition — the reference's prediction frame columns. Every
    * request record produces exactly one response row in payload order:
    * records missing a tag come back with NULL scores/verdict (they cannot
    * be scored) instead of silently disappearing and breaking the
    * request↔response row correspondence.
    */
  def scoreRequest(spark: SparkSession, model: TagAnomalyScorer, json: String,
      tags: Seq[String], tsCol: String = "ts"): DataFrame =
    scoreFrame(model, parseRequest(spark, json, tags, tsCol), tags)

  /** The body-format-agnostic scoring core: a parsed X frame carrying
    * `req_idx` + tag columns → the aligned response frame. Shared by the
    * JSON and parquet request paths.
    *
    * Scorable rows are `na.drop`'s filter, unscorable rows its complement
    * (a null or NaN in any tag), NULL-filled to the scored columns. Both
    * sets are collected and merged by `req_idx` on the driver into a
    * LOCAL relation. For a row-local scorer (projections only: PCA, the
    * dense autoencoder) over a local X frame both branches fold into
    * local relations, so a request runs no Spark job; a scorer that is
    * not row-local (the sequence model's windowed embed) runs its jobs
    * inside the same two collects.
    */
  def scoreFrame(model: TagAnomalyScorer, x: DataFrame,
      tags: Seq[String]): DataFrame = {
    val scored = model.scoreWithTags(x.na.drop("any", tags), tags)
      .withColumn("anomalous", col("anomaly_score") > lit(model.threshold))
    val have = x.columns.toSet
    val unscorable = x.filter(tags.map(t => col(t).isNull || isnan(col(t))).reduce(_ || _))
      .select(scored.schema.map(f =>
        (if (have(f.name)) col(f.name) else lit(null).cast(f.dataType)).as(f.name)): _*)
    // the union's nullability: a column is nullable if either side's is
    val schema = StructType(scored.schema.zip(unscorable.schema).map { case (a, b) =>
      a.copy(nullable = a.nullable || b.nullable)
    })
    val idx = schema.fieldIndex("req_idx")
    val rows = (scored.collect() ++ unscorable.collect()).sortBy(_.getLong(idx))
    x.sparkSession.createDataFrame(rows.toSeq.asJava, schema)
  }

  /** Parse a PARQUET request body (`server/utils.py` accepts parquet
    * bytes next to JSON records — public repo; mount empty, SURVEY.md
    * §0) into the same X frame as [[parseRequest]]: unknown columns are
    * ignored, missing tag columns come back as nulls (→ NULL-scored
    * rows, same contract as JSON), and `req_idx` is the record's
    * position in the file so the response stays row-aligned.
    */
  def parseParquetRequest(spark: SparkSession, bytes: Array[Byte],
      tags: Seq[String], tsCol: String = "ts"): DataFrame = {
    require(bytes.nonEmpty, "empty parquet request body")
    val tmp = java.nio.file.Files.createTempFile("graft-req-", ".parquet")
    try {
      java.nio.file.Files.write(tmp, bytes)
      val raw =
        try spark.read.parquet(tmp.toString)
        catch { case e: Exception =>
          throw new IllegalArgumentException(s"unreadable parquet request body: ${e.getMessage}")
        }
      val have = raw.columns.toSet
      val projected = raw.select(
        (if (have(tsCol)) col(tsCol).cast("timestamp") else lit(null).cast("timestamp")).as(tsCol) +:
          tags.map(t =>
            (if (have(t)) col(t).cast("double") else lit(null).cast("double")).as(t)): _*)
      // Request bodies are scoring-sized by contract: collect into a
      // LOCAL relation. A cache()d frame would leak one pinned RDD per
      // request for the life of the session (nothing unpersists it), and
      // a lazy scan would outlive the temp file. req_idx = row position
      // in the file, assigned on the collected order of the single-file
      // scan — contiguous, unlike monotonically_increasing_id.
      val schema = StructType(StructField("req_idx", LongType,
        nullable = false) +: projected.schema.fields)
      val rows = projected.collect().zipWithIndex.map { case (r, i) =>
        Row.fromSeq(i.toLong +: r.toSeq)
      }
      spark.createDataFrame(rows.toSeq.asJava, schema)
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Response as a JSON array string (what [[PredictionServer]] writes).
    * A `to_json` projection folds into the local response frame like the
    * rest of the request; Dataset's own JSON encoder is a `mapPartitions`
    * and would run a job.
    */
  def toJsonResponse(response: DataFrame): String =
    response.select(to_json(struct(col("*")))).collect()
      .map(_.getString(0)).mkString("[", ",", "]")

  /** Response as parquet bytes (single in-order file — the parquet leg
    * of the content negotiation).
    */
  def toParquetResponse(response: DataFrame): Array[Byte] = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-resp-")
    val dir = tmp.resolve("out").toString
    try {
      response.coalesce(1).sortWithinPartitions("req_idx")
        .write.mode("overwrite").parquet(dir)
      // Files.list/walk return open directory streams: close them, or a
      // busy server leaks one fd per parquet response until GC
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      val part =
        try listing
          .filter(p => p.getFileName.toString.startsWith("part-") &&
            p.getFileName.toString.endsWith(".parquet"))
          .findFirst().orElseThrow(() =>
            new IllegalStateException("parquet response write produced no part file"))
        finally listing.close()
      java.nio.file.Files.readAllBytes(part)
    } finally graft.Artifacts.deleteRecursively(tmp)
  }

  /** JSON string literal with full escaping — shared by the HTTP layer
    * and ModelBuilder's metadata.json (a tag name containing a quote must
    * not produce unparseable output).
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
