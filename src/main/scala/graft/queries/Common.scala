package graft.queries

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Artifacts
import graft.Artifacts.tableFingerprint
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

  /** Materialize-once compacted events copy (registry-gated,
    * fingerprint-keyed so a regenerated fixture — or a reader-
    * normalization change: v2 writes the normalized TimestampType ts —
    * can never serve a stale layout) — shared by the compaction query and
    * the parquet-file-source streaming queries, which need a real
    * DIRECTORY source. Package-private so LakeSinksSpec audits the exact
    * artifact. File count derives from input SIZE (v3 — one
    * range-sorted file per ~32 MB, min 2): a literal 8
    * made every sf0.1 file 250 KB, and the seven streaming consumers
    * each paid 8 scan tasks' fixed cost (parquet reader init dominates
    * at that size — `Probe trace`: ~200 ms CPU per tiny task) per replay; a
    * real compaction job targets a file-size band, not a file count, so
    * the count grows with the data and scan parallelism at 100 TB comes
    * from the data itself.
    */
  private[graft] def compactRoot(s: SparkSession, dir: String): String =
    Artifacts.materialize(s, "compact",
        s"compact-v3|$dir|${tableFingerprint(s, s"$dir/events.parquet")}") { out =>
      val src = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
      val srcBytes = src.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(src).getLength
      val nFiles = math.max(2L, srcBytes / (32L << 20)).toInt
      E(s, dir).repartitionByRange(nFiles, col("ts"))
        .sortWithinPartitions("ts", "event_id")
        .write.mode("overwrite").parquet(out)
    }

  /** The documents table's explicit JSONL schema: schema-on-read without
    * an inference pass.
    */
  private[graft] val jsonlSchema =
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  /** Materialize-once JSONL copy of the documents table (registry-gated,
    * fingerprint-keyed) — shared by the batch round-trip query and the
    * file-source streaming queries.
    */
  private[graft] def jsonlRoot(s: SparkSession, dir: String): String =
    Artifacts.materialize(s, "jsonl",
        s"jsonl-v2|$dir|${tableFingerprint(s, s"$dir/documents.parquet")}") { out =>
      T(s, dir, "documents")
        .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("value"))
        .write.mode("overwrite").text(out)
    }

  /** Exact order-independent sum of a double expression: sum in
    * DECIMAL(18,6), emit DOUBLE. Mirrors CAST(SUM(CAST(x AS
    * DECIMAL(18,6))) AS DOUBLE) in the oracle.
    */
  private[graft] def dsum(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")

  /** A reading's integer cents: `value` as DECIMAL(18,6) × 10⁶ as BIGINT,
    * `div` 10000 — integer operations alone, never a fractional
    * decimal→BIGINT cast, which truncates in Spark but rounds in DuckDB.
    * Spark's `div` truncates and DuckDB's `//` floors; they agree because
    * `events.value` is non-negative (ContractSpec pins that domain). The
    * Scala twin of [[valueCentsSql]].
    */
  private[graft] def valueCents: Column =
    expr("cast(cast(value as decimal(18,6)) * 1000000 as bigint) div 10000")

  /** The oracle form of [[valueCents]], without enclosing parentheses. */
  private[graft] val valueCentsSql =
    "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) // 10000"

  /** The micro-sum of `value` over a group: Σ value as DECIMAL(18,6) × 10⁶
    * as BIGINT, exact and order-independent — the oracle form of
    * [[microMeans]]' `s_micro`.
    */
  private[graft] val microSumSql =
    "CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)"

  /** The micro-mean base: per group, the micro-sum `s_micro`
    * ([[microSumSql]]) and the row count `n`; [[microMean]] is their
    * integer mean. Both are mergeable aggregates, so a streaming groupBy
    * keeps them as state just as a batch one computes them.
    */
  private[graft] def microMeans(grouped: RelationalGroupedDataset): DataFrame =
    grouped.agg((sum(col("value").cast("decimal(18,6)")) * lit(1000000L))
        .cast("long").as("s_micro"),
      count(lit(1)).as("n"))

  /** The mean in micro-units over [[microMeans]]' columns. Both operands
    * are non-negative, so `div` floors like DuckDB's `//`.
    */
  private[graft] def microMean: Column = expr("s_micro div n")

  /** [[microMeans]] per (event_type, hour `bucket`) of an events frame,
    * batch or streaming, that the caller has already filtered.
    */
  private[graft] def hourlyMicroMeans(events: DataFrame): DataFrame =
    microMeans(events.groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket")))

  /** The hourly integer-cents series `(event_type, bucket, c)` over
    * [[hourlyMicroMeans]] — the Scala twin of [[hourlyCentsCte]].
    */
  private[graft] def hourlyCentsLong(events: DataFrame): DataFrame =
    hourlyMicroMeans(events)
      .select(col("event_type"), col("bucket"), expr("(s_micro div n) div 10000").as("c"))

  /** The hourly integer-cents series `h(event_type, bucket, c)` as one
    * oracle CTE: the mean `value` per (event_type, hour), the micro-sum
    * `//` the row count `//` 10000. The SQL twin of [[hourlyCentsLong]],
    * bit-identical to it over the same rows.
    */
  private[graft] val hourlyCentsCte: String =
    s"""h AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
      |    ($microSumSql
      |      // count(*)) // 10000 AS c
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)""".stripMargin

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
    val hourly = hourlyMicroMeans(E(s, dir).filter(col("value").isNotNull))
      .withColumn("v6", microMean)
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

  /** Split instant shared by the drift queries: cohort A = the first half
    * of the fixture month. An Instant literal is timezone-fixed (a
    * java.sql.Timestamp literal would parse in the JVM default zone).
    */
  private val driftSplit = java.time.Instant.parse("2024-01-16T00:00:00Z")
  private[graft] def driftIsA: Column = col("ts") < lit(driftSplit)

  /** Order-statistic slack for a t-digest rank_ok bracket at quantile p
    * — sized to the k1-scale error bound, not a flat 2%: a δ=100
    * merging digest's max centroid weight near q is ≈ 4n·q(1−q)/δ, so
    * the interpolated estimate sits within ~2n·q(1−q)/δ order
    * statistics of the true quantile. ε = 10 × that bound (measured:
    * the ACTUAL p99 rank error on the fixture is 0.025–0.1% of n at
    * every SF, so 10× theory ≈ 8–20× observed — merge-order headroom
    * without the old 2% near-vacuity the round-10 advice flagged), with
    * a ±4 floor so tiny groups keep a non-degenerate bracket. Tail
    * quantiles get the 0.2% floor; p50's centroids are legitimately
    * fatter (ε = 1%).
    */
  private[graft] def tdigestRankSlack(n: Column, p: Double): Column = {
    val eps = math.max(0.002, 20.0 * p * (1 - p) / 100.0)
    greatest(lit(4L), ceil(n.cast("double") * lit(eps)).cast("long"))
  }

  /** The oracle's 10-minute bucket of `ts`. */
  private[graft] val bucket10m = "time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))"

  /** The top-10 rows `(lang, rnk, item, est)` of per-language Misra-Gries
    * sketches `(lang, hh)` — shared by the batch and the streaming heavy
    * hitters; the oracle is [[heavyHittersOracleSql]].
    */
  private[graft] def heavyHittersTop10(sketches: DataFrame): DataFrame =
    sketches
      .select(col("lang"), posexplode(col("hh")).as(Seq("rnk", "c")))
      .select(col("lang"), col("rnk"), col("c.item").as("item"),
        col("c.est").as("est"))
      .filter(col("rnk") < 10)
      .orderBy("lang", "rnk")

  /** Exact top-10 words per language — the oracle for BOTH Misra-Gries
    * queries: at k = 40 > the 31-word fixture vocabulary the sketch
    * provably never evicts, so its counters ARE the exact counts (see
    * q_agg_heavyhitters). rnk is 0-based to match posexplode.
    */
  private[graft] def heavyHittersOracleSql: String =
    """WITH w AS (SELECT lang,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS item
      |  FROM documents),
      |f AS (SELECT lang, item, count(*) AS est FROM w GROUP BY 1, 2),
      |r AS (SELECT lang, item, est,
      |        row_number() OVER (PARTITION BY lang ORDER BY est DESC, item) - 1 AS rnk
      |      FROM f)
      |SELECT lang, rnk, item, est FROM r WHERE rnk < 10
      |ORDER BY lang, rnk""".stripMargin

  /** The event-type transition matrix over `(prev_type, next_type)`
    * pairs: the count per pair and its share of the source state's row
    * (two exact BIGINT→double casts, one IEEE division, round 6). Shared
    * by the batch lag window (`agg_transitions`) and the stateful replay
    * (`stream_transitions`), whose ordered single-pass emission is
    * row-identical to the lag form; the oracle is [[transitionsOracleSql]].
    */
  private[graft] def transitionMatrix(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("prev_type")).cast("double"), 6))
      .orderBy("prev_type", "next_type")

  /** The oracle twin of [[transitionMatrix]] over the batch lag pairs. */
  private[graft] def transitionsOracleSql: String =
    """WITH sq AS (SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      |  FROM events),
      |c AS (SELECT prev_type, event_type AS next_type, count(*) AS n
      |      FROM sq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, next_type, n,
      |  round(CAST(n AS DOUBLE)
      |    / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
      |FROM c ORDER BY 1, 2""".stripMargin

  /** Users per conversion-funnel stage, from one `user_id` frame per
    * stage: click, view after the click, purchase after the view. Shared
    * by the batch min-chaining funnel (`agg_funnel`) and the stateful
    * replay (`stream_funnel`); the oracle is [[funnelOracleSql]].
    */
  private[graft] def funnelStages(click: DataFrame, view: DataFrame,
      purchase: DataFrame): DataFrame =
    click.select(lit(1L).as("stage"), lit("click").as("stage_name"), col("user_id"))
      .unionByName(view.select(lit(2L).as("stage"),
        lit("view_after_click").as("stage_name"), col("user_id")))
      .unionByName(purchase.select(lit(3L).as("stage"),
        lit("purchase_after_view").as("stage_name"), col("user_id")))
      .groupBy("stage", "stage_name")
      .agg(count_distinct(col("user_id")).as("users"))
      .orderBy("stage")

  /** The oracle twin of [[funnelStages]] over min-chained stages. */
  private[graft] def funnelOracleSql: String =
    """WITH e AS (SELECT user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |c AS (SELECT user_id, min(us) AS c_us FROM e
      |      WHERE event_type = 'click' GROUP BY 1),
      |v AS (SELECT e.user_id, min(us) AS v_us FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'view' AND us > c_us GROUP BY 1),
      |p AS (SELECT e.user_id, min(us) AS p_us FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'purchase' AND us > v_us GROUP BY 1),
      |st AS (SELECT 1 AS stage, 'click' AS stage_name, user_id FROM c
      |       UNION ALL
      |       SELECT 2, 'view_after_click', user_id FROM v
      |       UNION ALL
      |       SELECT 3, 'purchase_after_view', user_id FROM p)
      |SELECT stage, stage_name, count(DISTINCT user_id) AS users
      |FROM st GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** Hash-derived site coordinates in exact 1e-4-degree integer units
    * (lat ∈ [-60°, 60°), lon ∈ [-180°, 180°)) — the geo family's fixture
    * derivation, portable to the oracle engine verbatim because every
    * step is md5-hex → 60-bit integer → modulus. The ±60° latitude cap
    * is what makes [[graft.ops.Geo.radiusPairs]]' fixed-width grid sound
    * (see its scaladoc).
    */
  private[graft] def geoE4(prefix: String, id: Column): (Column, Column) = {
    val hx = md5(concat(lit(prefix), id.cast("string")))
    val h1 = conv(substring(hx, 1, 15), 16, 10).cast("long")
    val h2 = conv(substring(hx, 17, 15), 16, 10).cast("long")
    (h1 % 1200000L - 600000L, h2 % 3600000L - 1800000L)
  }

  /** Matching oracle-side SQL for [[geoE4]]. */
  private[graft] def geoE4Sql(prefix: String, idExpr: String): (String, String) = (
    s"CAST(('0x'||substr(md5('$prefix'||CAST($idExpr AS VARCHAR)),1,15)) AS BIGINT) % 1200000 - 600000",
    s"CAST(('0x'||substr(md5('$prefix'||CAST($idExpr AS VARCHAR)),17,15)) AS BIGINT) % 3600000 - 1800000")

  /** Hash-derived integer e4 value in [-half, half): the triangle-fixture
    * building block of [[trisDim]]; mirrors [[triE4Sql]].
    */
  private def triE4(prefix: String, id: Column, off: Int, span: Long): Column =
    conv(substring(md5(concat(lit(prefix), id.cast("string"))), off, 15), 16, 10)
      .cast("long") % span - span / 2

  private def triE4Sql(prefix: String, idExpr: String, off: Int, span: Long): String =
    s"CAST(('0x'||substr(md5('$prefix'||CAST($idExpr AS VARCHAR)),$off,15)) AS BIGINT) % $span - ${span / 2}"

  /** The hash-derived triangle dim: one triangle per supplier, center
    * ±50°/±170°, vertices center ±10°.
    */
  private def trisDim(s: SparkSession, dir: String): DataFrame = {
    val k = col("s_suppkey")
    val cy = triE4("tc", k, 1, 1000000L)
    val cx = triE4("tc", k, 17, 3400000L)
    T(s, dir, "supplier").select(k.as("tri_id"),
      (cy + triE4("tv1", k, 1, 200000L)).as("y1"),
      (cx + triE4("tv1", k, 17, 200000L)).as("x1"),
      (cy + triE4("tv2", k, 1, 200000L)).as("y2"),
      (cx + triE4("tv2", k, 17, 200000L)).as("x2"),
      (cy + triE4("tv3", k, 1, 200000L)).as("y3"),
      (cx + triE4("tv3", k, 17, 200000L)).as("x3"))
  }

  /** Point (py, px) inside the row's triangle: three exact integer cross
    * products, same sign (boundary inclusive).
    */
  private def insideTri: Column = {
    val d1 = (col("px") - col("x1")) * (col("y2") - col("y1")) -
      (col("py") - col("y1")) * (col("x2") - col("x1"))
    val d2 = (col("px") - col("x2")) * (col("y3") - col("y2")) -
      (col("py") - col("y2")) * (col("x3") - col("x2"))
    val d3 = (col("px") - col("x3")) * (col("y1") - col("y3")) -
      (col("py") - col("y3")) * (col("x1") - col("x3"))
    (d1 >= 0 && d2 >= 0 && d3 >= 0) || (d1 <= 0 && d2 <= 0 && d3 <= 0)
  }

  /** Fixed 20°-cell grid for the polygon joins. Triangle vertices sit
    * within ±1e5 e4-units of the center ([[triE4]] span 2e5), so a
    * triangle bbox spans ≤ one cell width per axis and covers at most
    * 2×2 cells — each triangle explodes to ≤ 4 (cx, cy) entries, a
    * bounded blow-up of the dim at ANY polygon count. A point lands in
    * exactly one cell, so the cell equi-join tests each (point,
    * triangle-cell-entry) pair at most once and can never duplicate a
    * containment pair. This turns the broadcast NESTED-LOOP join
    * (|points| × |polygons| sign tests — 300M at sf0.1, unbounded at
    * scale) into a broadcast HASH join on (cx, cy) whose candidate
    * count is |points| × (polygons per cell): measured 2.3 s → sub-1 s
    * at sf0.1, and the plan survives millions of polygons because the
    * per-cell fan-out, not the dim size, bounds per-point work.
    */
  private val fenceCellE4 = 200000L

  private def fenceCellOf(c: Column): Column =
    floor(c.cast("double") / fenceCellE4).cast("long")

  /** Triangle dim exploded to its ≤4 covering grid cells. */
  private def trisCellDim(s: SparkSession, dir: String): DataFrame = {
    val minx = least(col("x1"), col("x2"), col("x3"))
    val maxx = greatest(col("x1"), col("x2"), col("x3"))
    val miny = least(col("y1"), col("y2"), col("y3"))
    val maxy = greatest(col("y1"), col("y2"), col("y3"))
    trisDim(s, dir)
      .withColumn("cx", explode(array_distinct(array(
        fenceCellOf(minx), fenceCellOf(maxx)))))
      .withColumn("cy", explode(array_distinct(array(
        fenceCellOf(miny), fenceCellOf(maxy)))))
  }

  /** Every (point, triangle) containment pair of `points`, batch or
    * streaming: each row's `user_id` site ([[geoE4]]) hash-joins the
    * broadcast cell-exploded triangle dim on its grid cell, and the
    * exact sign tests filter the candidates. Shared by the point-in-
    * polygon join and the streaming geofence; the oracle is
    * [[fenceHitsOracle]].
    */
  private[graft] def fenceHits(s: SparkSession, dir: String, points: DataFrame): DataFrame = {
    val (ula, ulo) = geoE4("u", col("user_id"))
    points.select(col("*"), ula.as("py"), ulo.as("px"),
        fenceCellOf(ulo).as("cx"), fenceCellOf(ula).as("cy"))
      .join(broadcast(trisCellDim(s, dir)), Seq("cx", "cy"))
      .filter(insideTri)
  }

  /** The oracle twin of [[fenceHits]]: `points` declares the CTE `p` of
    * (`keys`, py, px), every (point, triangle) pair gets its three cross
    * products, and the same-sign pairs are kept, ordered by `order`.
    */
  private[graft] def fenceHitsOracle(points: String, keys: String, order: String): String = {
    val cy = triE4Sql("tc", "s_suppkey", 1, 1000000L)
    val cx = triE4Sql("tc", "s_suppkey", 17, 3400000L)
    def vy(i: Int) = s"(($cy) + ${triE4Sql(s"tv$i", "s_suppkey", 1, 200000L)})"
    def vx(i: Int) = s"(($cx) + ${triE4Sql(s"tv$i", "s_suppkey", 17, 200000L)})"
    s"""WITH $points,
       |t AS (SELECT s_suppkey AS tri_id, ${vy(1)} AS y1, ${vx(1)} AS x1,
       |    ${vy(2)} AS y2, ${vx(2)} AS x2, ${vy(3)} AS y3, ${vx(3)} AS x3
       |  FROM supplier),
       |d AS (SELECT $keys, tri_id,
       |    (px-x1)*(y2-y1) - (py-y1)*(x2-x1) AS d1,
       |    (px-x2)*(y3-y2) - (py-y2)*(x3-x2) AS d2,
       |    (px-x3)*(y1-y3) - (py-y3)*(x1-x3) AS d3
       |  FROM p, t)
       |SELECT $keys, tri_id FROM d
       |WHERE (d1 >= 0 AND d2 >= 0 AND d3 >= 0)
       |   OR (d1 <= 0 AND d2 <= 0 AND d3 <= 0)
       |ORDER BY $order""".stripMargin
  }

  /** The hourly OHLC candles `(event_type, bucket, open, high, low, close,
    * n)` of an events frame, batch or streaming: first/last are made
    * DETERMINISTIC under timestamp ties by taking min/max over the
    * total-order struct (ts, event_id, value) — both engines compare
    * structs lexicographically, so the pick is identical (a bare
    * min_by/arg_min tie is engine-arbitrary). Every aggregate is
    * mergeable O(1) state. The oracle is [[ohlcOracleSql]].
    */
  private[graft] def hourlyCandles(events: DataFrame): DataFrame = {
    val ord = struct(col("ts").as("t"), col("event_id").as("id"),
      col("value").as("v"))
    events.groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(min(ord).getField("v").as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max(ord).getField("v").as("close"),
        count(lit(1)).as("n"))
  }

  /** The oracle twin of [[hourlyCandles]], shared by the batch and the
    * streamed candles.
    */
  private[graft] def ohlcOracleSql: String =
    """WITH e AS (SELECT event_type,
      |       date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
      |       CAST(ts AS TIMESTAMP) AS t, event_id, value
      |     FROM events WHERE value IS NOT NULL)
      |SELECT event_type, bucket,
      |  min({'t': t, 'id': event_id, 'v': value}).v AS open,
      |  max(value) AS high, min(value) AS low,
      |  max({'t': t, 'id': event_id, 'v': value}).v AS close,
      |  count(*) AS n
      |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The batch as-of join's oracle, shared by the streamed as-of replay:
    * each click enriched with the latest same-user view at or before it.
    */
  private[graft] def asofOracleSql: String =
    """WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) t, value
      |           FROM events WHERE event_type = 'click'),
      |     r AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, avg(value) AS vv
      |           FROM events WHERE event_type = 'view' GROUP BY 1, 2)
      |SELECT l.event_id, l.user_id, l.value, round(r.vv, 6) AS asof_view
      |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.t >= r.t
      |ORDER BY event_id""".stripMargin

  /** The CDC upsert's final state as the one-shot batch merge over the
    * original events — shared by the batch and the streamed upsert.
    */
  private[graft] def upsertOracleSql: String =
    """WITH upd AS (
      |  SELECT event_id, event_type, value + 1000 AS value
      |  FROM events WHERE event_id % 7 = 0
      |  UNION ALL
      |  SELECT event_id + 1000000 AS event_id, 'backfill' AS event_type, value
      |  FROM events WHERE event_id % 97 = 0),
      |merged AS (
      |  SELECT event_id, event_type, value FROM events
      |  WHERE event_id NOT IN (SELECT event_id FROM upd)
      |  UNION ALL SELECT event_id, event_type, value FROM upd)
      |SELECT event_type, count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin
}
