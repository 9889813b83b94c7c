package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Artifacts
import graft.ops.Timeseries
import graft.sources.Tables

/** What more than one query family uses: the fixture-table resolvers, the
  * resampled series several families start from, and the SQL fragments
  * several oracles share.
  */
object Common {

  private[graft] def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.resolve(s, s"$dir/$name.parquet")

  /** events scan with `ts` normalized to a µs timestamp regardless of the
    * fixture generation's physical parquet type (ns-long vs µs — see
    * [[graft.sources.Events]]). DuckDB's CAST(ts AS TIMESTAMP) performs
    * the same µs truncation on the oracle side of the compare.
    */
  private[graft] def E(s: SparkSession, dir: String): DataFrame =
    graft.sources.Events.read(s, s"$dir/events.parquet")

  /** The hourly integer-cents series `h(event_type, bucket, c)` as one
    * oracle CTE: the mean `value` per (event_type, hour), quantized by
    * integer operations alone — Σ value as DECIMAL(18,6) × 10⁶ as BIGINT,
    * `//` the row count, `//` 10000 — never a fractional decimal→BIGINT
    * cast, which truncates in Spark but rounds in DuckDB. DuckDB's `//`
    * floors and Spark's `div` truncates; they agree because
    * `events.value` is non-negative (ContractSpec pins that domain). The
    * SQL twin of [[hourlyCentsLong]].
    */
  private[graft] val hourlyCentsCte: String =
    """h AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
      |    (CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
      |      // count(*)) // 10000 AS c
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)""".stripMargin

  /** The hourly integer-cents series `(event_type, bucket, c)` of an
    * events frame the caller has already filtered (non-null `value`, plus
    * any cohort or type filter of its own) — the Scala twin of
    * [[hourlyCentsCte]], bit-identical to it over the same rows.
    */
  private[graft] def hourlyCentsLong(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg((sum(col("value").cast("decimal(18,6)")) * lit(1000000L))
          .cast("long").as("s_micro"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("bucket"),
        expr("(s_micro div n) div 10000").as("c"))

  private[graft] val corrTypes = Seq("click", "error", "purchase", "signup", "view")
  private[graft] def corrPairs: Seq[(String, String)] =
    for { i <- corrTypes.indices; j <- i + 1 until corrTypes.length }
      yield (corrTypes(i), corrTypes(j))

  /** Aligned wide frame of integer-CENTS hourly means, one row per bucket
    * with a `c_<type>` column per stream of [[corrTypes]] — shared by the
    * correlation matrix, the Mahalanobis score and the rolling-correlation
    * window query.
    */
  private[graft] def hourlyCentsWide(s: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
    hourly.groupBy("bucket")
      .agg(corrTypes.map(t =>
        max(when(col("event_type") === t, col("c"))).as(s"c_$t")).head,
        corrTypes.tail.map(t =>
          max(when(col("event_type") === t, col("c"))).as(s"c_$t")): _*)
  }

  /** 10-min resample in LONG format (bucket, event_type, v) — the keyed
    * layout gap filling needs to window per tag instead of globally.
    * v is rounded to 6 before any gap-filling so both engines interpolate
    * from identical doubles.
    */
  private[graft] def longResampled(s: SparkSession, dir: String): DataFrame =
    E(s, dir)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .groupBy(Timeseries.bucket(col("ts"), "10 minutes").as("bucket"), col("event_type"))
      .agg(round(avg(col("value")), 6).as("v"))

  /** The seasonal decomposition's exact-INTEGER grid
    * (v6/sum25/detr25/s_sum/cnt per bucket) shared by
    * win_seasonal_decompose, win_seasonal_outliers and
    * agg_seasonal_strength — every downstream value is a mirrored
    * expression over these exact BIGINTs, free of repr traps.
    */
  private[graft] def seasonalGrid(s: SparkSession, dir: String): DataFrame = {
    val hourly = E(s, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg((sum(col("value").cast("decimal(18,6)")) * lit(1000000L))
          .cast("long").as("s_micro"),
        count(lit(1)).as("n"))
      .withColumn("v6", expr("s_micro div n")) // both operands >= 0: floor
    val w = Window.partitionBy("event_type").orderBy("bucket")
      .rowsBetween(-12, 12)
    val t = hourly
      .withColumn("wn", count(lit(1)).over(w))
      .withColumn("sum25", sum(col("v6")).over(w))
      .filter(col("wn") === 25)
      .withColumn("detr25", col("v6") * lit(25L) - col("sum25"))
    val pw = Window.partitionBy(col("event_type"), hour(col("bucket")))
    t.withColumn("s_sum", sum(col("detr25")).over(pw))
      .withColumn("cnt", count(lit(1)).over(pw))
  }

  /** Sequential double-fold list dot product — DuckDB's list_sum folds
    * left-to-right exactly like Spark's `aggregate`, so the doubles are
    * bit-identical (see Similarity.dot).
    */
  private[graft] def dotSql(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"
  private[graft] def normSqSql(a: String) =
    s"list_sum(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))"

  /** Shared BM25 CTE chain ending in `b(doc_id, bm25)` — the full
    * inverted-index algebra mirrored from [[graft.ops.Search.bm25]]
    * (k1 = 1.2, b = 0.75, query = data/model/training). Scores are
    * rounded to 6 INSIDE the CTE so every consumer (the ranking join in
    * the hybrid oracle included) orders on cross-engine-identical values.
    */
  private[graft] def bm25Cte: String =
    """toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
      |q(term) AS (SELECT * FROM (VALUES ('data'), ('model'), ('training'))),
      |tf AS (SELECT t.doc_id, t.term, count(*) AS tf
      |       FROM toks t JOIN q USING (term) GROUP BY 1, 2),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      |sc AS (
      |  SELECT tf.doc_id,
      |    ln(1 + (s.n - df.df + 0.5)/(df.df + 0.5))
      |      * tf.tf * (1.2 + 1)
      |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS sterm
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
      |b AS (SELECT doc_id, round(sum(sterm), 6) AS bm25 FROM sc GROUP BY 1)"""
      .stripMargin

  /** The twin-injection fixtures ([[docsWithDups]] and the multimodal
    * image twins) offset duplicate ids by +100000; a corpus whose ids
    * reach that would silently collide twins with real docs (a pair
    * dropped by the `<` ordering, ambiguous attribution). Checked ONCE
    * per (process, dir) — parquet min/max stats make the scalar agg a
    * footer read.
    */
  private[graft] def assertTwinIdHeadroom(s: SparkSession, dir: String): Unit =
    Artifacts.remember(s"idcap|$dir") {
      val mx = T(s, dir, "documents").agg(max(col("doc_id"))).head().getLong(0)
      require(mx < 100000,
        s"documents doc_id max $mx >= 100000: the twin-id offset would collide")
      java.lang.Boolean.TRUE
    }

  /** documents ∪ case-mutated copies of every 10th doc — deterministic
    * injected near-duplicates so the dedup operators have real work (the
    * raw corpus is 100% distinct). Mirrored verbatim in the oracle CTE
    * [[docsWithDupsSql]].
    */
  private[graft] def docsWithDups(s: SparkSession, dir: String): DataFrame = {
    assertTwinIdHeadroom(s, dir)
    val d = T(s, dir, "documents").select("doc_id", "text")
    d.unionByName(
      d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), upper(col("text")).as("text")))
  }

  /** 50-word segment table `(doc_id, seg_idx, seg)` of the documents
    * corpus — shared by the segment-dedup and duplication-weight queries.
    */
  private[graft] def docSegments(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    T(s, dir, "documents")
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0L), ceil(size(words) / lit(50.0)).cast("long") - 1),
          i => struct(i.as("seg_idx"),
            array_join(slice(words, (i * 50 + 1).cast("int"), lit(50)), " ")
              .as("seg")))).as("e"))
      .select(col("doc_id"), col("e.seg_idx").as("seg_idx"), col("e.seg").as("seg"))
  }

  /** The oracle CTE `all_docs` — the SQL twin of [[docsWithDups]]. */
  private[graft] val docsWithDupsSql =
    """all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, upper(text) AS text
      |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin
}
