package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Artifacts
import graft.Artifacts.{registryKey, tableFingerprint}
import graft.ops.{AnomalyMath, TextAnalysis}
import graft.queries.Common._
import graft.queries.Oracle.Sql
import graft.sources.Tables
import graft.streaming.{Reading, Streams, UserEvent}

/** The streaming family: each core operator's streaming form, run either
  * as a batch replay of per-tag state over the fixture's readings
  * (CUSUM, autocorrelation, gaps, prequential scores, EWMA, Kalman,
  * as-of, transitions, funnel) or as a live Structured Streaming query
  * over a committed file source (heavy hitters, t-digest quantiles,
  * OHLC, sliding and seasonal means, Mahalanobis and KS drift monitors,
  * exactly-once dedup, CDC upsert, geofence). Each query's body sits
  * beside its oracle.
  */
object Streaming {

  val queries: Seq[Query] = Seq(
    Query("stream_resample", q_stream_resample, Sql(resampleOracle)),
    Query("stream_session", q_stream_session, Sql(sessionOracle)),
    Query("stream_ewma", q_stream_ewma, Sql(ewmaOracle)),
    Query("stream_cusum", q_stream_cusum, Sql(cusumOracle)),
    Query("stream_autocorr", q_stream_autocorr, Sql(autocorrOracle)),
    Query("stream_gap_detect", q_stream_gap_detect, Sql(gapDetectOracle)),
    Query("stream_score", q_stream_score, Sql(scoreOracle)),
    Query("stream_transitions", q_stream_transitions, Sql(transitionsOracleSql)),
    Query("stream_funnel", q_stream_funnel, Sql(funnelOracleSql)),
    Query("stream_asof", q_stream_asof, Sql(asofOracleSql)),
    Query("stream_kalman", q_stream_kalman, Sql(kalmanOracle)),
    Query("stream_heavyhitters", q_stream_heavyhitters, Sql(heavyHittersOracleSql)),
    Query("stream_threshold", q_stream_threshold, Sql(thresholdOracle)),
    Query("stream_tdigest", q_stream_tdigest, Sql(tdigestOracle)),
    Query("stream_ohlc", q_stream_ohlc, Sql(ohlcOracleSql)),
    Query("stream_sliding", q_stream_sliding, Sql(slidingOracle)),
    Query("stream_seasonal", q_stream_seasonal, Sql(seasonalOracle)),
    Query("stream_mahalanobis", q_stream_mahalanobis, Sql(mahalanobisOracle)),
    Query("stream_drift", q_stream_drift, Sql(driftOracle)),
    Query("stream_dedup", q_stream_dedup, Sql(dedupOracle)),
    Query("stream_upsert", q_stream_upsert, Sql(upsertOracleSql)),
    Query("stream_geo_fence", q_stream_geo_fence, Sql(geoFenceOracle)))

  /** Streaming file source over a committed parquet directory, with the
    * schema of its resolved table (no inference job per query).
    */
  private def parquetStream(s: SparkSession, root: String): DataFrame =
    s.readStream.schema(Tables.resolve(s, root).schema).parquet(root)

  /** The fixture's events as per-tag [[Reading]]s, tagged by event type. */
  private def readings(s: SparkSession, dir: String): Dataset[Reading] = {
    import s.implicits._
    E(s, dir)
      .select(col("event_type").as("tag"), col("ts"), col("value"))
      .as[Reading]
  }

  /** The fixture's events as per-user [[UserEvent]]s. */
  private def userEvents(s: SparkSession, dir: String): Dataset[UserEvent] = {
    import s.implicits._
    E(s, dir)
      .select(col("user_id").as("user"),
        graft.sources.Events.epochMicros(col("ts")).as("tsMicros"),
        col("event_id").as("eventId"), col("event_type").as("etype"))
      .as[UserEvent]
  }

  private def q_stream_resample(s: SparkSession, dir: String): DataFrame =
    Streams.resample(E(s, dir), "ts", "event_type", "value",
        "10 minutes", "20 minutes")
      .select(col("bucket"), col("event_type"),
        round(col("avg_value"), 6).as("avg_value"), col("n"))
      .orderBy("bucket", "event_type")

  private def resampleOracle: String =
    s"""SELECT $bucket10m AS bucket, event_type,
       |  round(avg(value), 6) AS avg_value, count(*) AS n
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private def q_stream_session(s: SparkSession, dir: String): DataFrame =
    Streams.sessionize(E(s, dir), "ts", "user_id",
        "30 minutes", "20 minutes")
      .orderBy("user_id", "session_start")

  private def sessionOracle: String =
    """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) t FROM events),
      |m AS (SELECT user_id, t,
      |        -- session_window merges only when the next event is
      |        -- STRICTLY inside [prev, prev+gap): new session at >= gap
      |        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
      |               >= INTERVAL 30 MINUTE OR
      |             lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
      |        THEN 1 ELSE 0 END AS new_s
      |      FROM o),
      |s AS (SELECT user_id, t,
      |        sum(new_s) OVER (PARTITION BY user_id ORDER BY t
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |      FROM m)
      |SELECT min(t) AS session_start,
      |  max(t) + INTERVAL 30 MINUTE AS session_end,
      |  user_id, count(*) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** LIVE EWMA ([[graft.streaming.Streams.ewmaOnline]]) driven over the
    * hourly cents series — the streaming deployment of win_ewma's
    * α-smoothing. The recursion is the textbook αx + (1−α)s (NOT
    * win_ewma's algebraically-equal but IEEE-different s + α(x−s)), so
    * the oracle replays THIS association — including writing (1.0 − 0.2)
    * rather than a 0.8 literal, which is a different double. Output is
    * the final smoothed level per stream; state is ONE double per tag.
    */
  private def q_stream_ewma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val readings = hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
      .select(col("event_type").as("tag"), col("bucket").as("ts"),
        col("c").cast("double").as("value"))
      .as[Reading]
    Streams.ewmaOnline(readings, 0.2)
      .groupBy(col("tag"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(max_by(col("ewma"), col("ts")), 6).as("ewma"))
      .select(col("tag").as("event_type"), col("n"), col("ewma"))
      .orderBy("event_type")
  }

  // replays ewmaOnline's αx + (1−α)s association exactly — including
  // (1.0 - 0.2) in place of a 0.8 literal (a different double)
  private def ewmaOracle: String =
    s"""WITH $hourlyCentsCte,
      |l AS (SELECT event_type,
      |    list_transform(list(c ORDER BY bucket),
      |      x -> CAST(x AS DOUBLE)) AS xs
      |  FROM h GROUP BY 1)
      |SELECT event_type, len(xs) AS n,
      |  round(list_reduce(xs, (acc, x) -> 0.2 * x + (1.0 - 0.2) * acc), 6)
      |    AS ewma
      |FROM l ORDER BY 1""".stripMargin

  /** Streaming CUSUM in batch replay — bit-identical to the batch closed
    * form (exact micro-unit state), so it carries a full oracle. Ties on
    * (tag, ts, value) are exact duplicate readings whose outputs form the
    * same multiset under any processing order; BOTH cusum columns join
    * the final sort because either side alone can stay clamped at 0
    * across a duplicate pair — only the pair of scores is a total order.
    */
  private def q_stream_cusum(s: SparkSession, dir: String): DataFrame =
    Streams.cusumOnline(readings(s, dir), target = 50.0, slack = 5.0, h = 200.0)
      .toDF()
      // same lossless grid rounding as win_cusum (DuckDB cast ulp)
      .withColumn("cusum_up", round(col("cusum_up"), 6))
      .withColumn("cusum_dn", round(col("cusum_dn"), 6))
      // BOTH cusum columns join the sort: a duplicate reading whose up
      // side stays clamped at 0 still differs on the down side, and the
      // sort must be a total order for the hash compare
      .orderBy("tag", "ts", "value", "cusum_up", "cusum_dn")

  // Streaming CUSUM (batch replay): the same decimal-exact closed form,
  // keyed by tag and ordered by (ts, value) — the processing order the
  // stateful operator sorts each group by. Exact (tag, ts, value)
  // duplicates yield the same output multiset under either order; BOTH
  // cusum columns join the final sort (either side alone can stay
  // clamped at 0 across a duplicate pair — not a total order).
  private def cusumOracle: String =
    """WITH e AS (SELECT event_type AS tag, CAST(ts AS TIMESTAMP) AS ts, value,
      |    CAST(value AS DECIMAL(18,6)) - CAST(55.0 AS DECIMAL(18,6)) AS dev_up,
      |    CAST(45.0 AS DECIMAL(18,6)) - CAST(value AS DECIMAL(18,6)) AS dev_dn
      |  FROM events),
      |c AS (SELECT tag, ts, value,
      |    sum(dev_up) OVER w AS cu, sum(dev_dn) OVER w AS cd
      |  FROM e
      |  WINDOW w AS (PARTITION BY tag ORDER BY ts, value
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |m AS (SELECT tag, ts, value,
      |    cu - least(CAST(0 AS DECIMAL(18,6)), min(cu) OVER w) AS up,
      |    cd - least(CAST(0 AS DECIMAL(18,6)), min(cd) OVER w) AS dn
      |  FROM c
      |  WINDOW w AS (PARTITION BY tag ORDER BY ts, value
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT tag, ts, value,
      |  round(CAST(up AS DOUBLE), 6) AS cusum_up,
      |  round(CAST(dn AS DOUBLE), 6) AS cusum_dn,
      |  CAST(up > CAST(200.0 AS DECIMAL(18,6)) AS INT) AS alarm_up,
      |  CAST(dn > CAST(200.0 AS DECIMAL(18,6)) AS INT) AS alarm_dn
      |FROM m ORDER BY tag, ts, value, cusum_up, cusum_dn""".stripMargin

  /** Streaming rolling autocorrelation in batch replay — bit-identical to
    * the batch closed form (exact integer ring-buffer state), so it
    * carries a full oracle like stream_cusum. The nullable autocorr sort
    * key is pinned NULLS FIRST on both engines.
    */
  private def q_stream_autocorr(s: SparkSession, dir: String): DataFrame =
    Streams.autocorrOnline(readings(s, dir), k = 12)
      .toDF()
      .orderBy(col("tag"), col("ts"), col("value"), col("autocorr"))

  // Streaming autocorrelation (batch replay): same integer stats keyed
  // by tag and ordered by (ts, value) — the stateful operator's
  // processing order. autocorr joins the sort key (NULLS FIRST on both
  // engines) to pin exact-duplicate readings' outputs.
  private def autocorrOracle: String =
    """WITH e AS (SELECT event_type AS tag, CAST(ts AS TIMESTAMP) AS ts, value,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS kx
      |  FROM events),
      |l AS (SELECT tag, ts, value, kx,
      |    lag(kx) OVER (PARTITION BY tag ORDER BY ts, value) AS ky
      |  FROM e),
      |s AS (SELECT tag, ts, value,
      |    CAST(count(ky) OVER w AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN ky IS NOT NULL THEN kx END) OVER w AS BIGINT) AS sx,
      |    CAST(sum(ky) OVER w AS BIGINT) AS sy,
      |    CAST(sum(kx * ky) OVER w AS BIGINT) AS sxy,
      |    CAST(sum(CASE WHEN ky IS NOT NULL THEN kx * kx END) OVER w AS BIGINT) AS sxx,
      |    CAST(sum(ky * ky) OVER w AS BIGINT) AS syy
      |  FROM l
      |  WINDOW w AS (PARTITION BY tag ORDER BY ts, value
      |    ROWS BETWEEN 11 PRECEDING AND CURRENT ROW))
      |SELECT tag, ts, value,
      |  CASE WHEN n >= 2 THEN
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / sqrt(NULLIF(
      |        (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0))
      |  END AS autocorr
      |FROM s ORDER BY tag, ts, value, autocorr NULLS FIRST""".stripMargin

  /** Streaming gap detection in batch replay — bit-identical to the
    * batch lag formulation (integer bucket arithmetic, single batch =
    * the full ordered replay), so it carries a full oracle; the
    * cross-batch state carry is MemoryStream-spec'd. The live form is
    * the O(tags)-state liveness monitor.
    */
  private def q_stream_gap_detect(s: SparkSession, dir: String): DataFrame =
    Streams.gapsOnline(readings(s, dir), 3600L)
      .toDF()
      .orderBy("tag", "gap_start_hb")

  // one row per detected outage — the replay of gapsOnline's emission
  private def gapDetectOracle: String =
    """WITH hb AS (SELECT DISTINCT event_type AS tag,
      |    CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))
      |      AS BIGINT) // 3600 AS hb
      |  FROM events),
      |g AS (SELECT tag, hb,
      |    lag(hb) OVER (PARTITION BY tag ORDER BY hb) AS p
      |  FROM hb)
      |SELECT tag, p + 1 AS gap_start_hb, hb - p - 1 AS missing
      |FROM g WHERE p IS NOT NULL AND hb > p + 1
      |ORDER BY tag, gap_start_hb""".stripMargin

  /** Prequential z-scores in batch replay ([[Streams.scoreOnline]]'s
    * Welford state over the full ordered history, one batch). ORACLE-
    * CHECKED (round 11): the prequential z at row k IS the windowed
    * (avg, stddev_samp) over rows 1..k−1 in (ts, value) order, so the
    * oracle is an exact windowed-SQL twin — no sketch flags needed.
    * Welford vs the two-pass window agree to ~2e-14 (measured max over
    * sf0.1), five orders inside the round-6 contract, and no fixture z
    * sits near the 3.0 threshold, so the anomaly flag is stable too.
    * The cross-batch state carry stays MemoryStream-spec'd.
    */
  private def q_stream_score(s: SparkSession, dir: String): DataFrame =
    Streams.scoreOnline(readings(s, dir), 3.0)
      .toDF()
      .select(col("tag"),
        graft.sources.Events.epochMicros(col("ts")).as("ts_us"),
        col("value"), round(col("z"), 6).as("z"), col("anomalous"))
      .orderBy("tag", "ts_us", "value")

  // the prequential z at row k IS the windowed (avg, stddev_samp) over
  // rows 1..k−1 in (ts, value) order — an exact twin of scoreOnline's
  // Welford replay (agree to ~2e-14, far inside round-6); sd is NULL
  // below 2 prior rows, so the CASE's ELSE mirrors the n>=2 gate
  private def scoreOracle: String =
    """WITH s AS (SELECT event_type AS tag,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value,
      |    count(*) OVER w AS cnt, avg(value) OVER w AS mu,
      |    stddev_samp(value) OVER w AS sd
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, value
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT tag, ts_us, value,
      |  round(CASE WHEN cnt >= 2 AND sd > 0 THEN (value - mu) / sd
      |    ELSE 0.0 END, 6) AS z,
      |  (CASE WHEN cnt >= 2 AND sd > 0 THEN abs((value - mu) / sd)
      |    ELSE 0.0 END) > 3.0 AS anomalous
      |FROM s ORDER BY tag, ts_us, value""".stripMargin

  /** LIVE transition feed ([[graft.streaming.Streams.transitionsOnline]])
    * aggregated into the same matrix — per-user last-event state only,
    * O(users); ordered replay is row-identical to the batch lag window,
    * so the query shares `agg_transitions`' oracle verbatim.
    */
  private def q_stream_transitions(s: SparkSession, dir: String): DataFrame =
    transitionMatrix(Streams.transitionsOnline(userEvents(s, dir)).toDF())

  /** LIVE conversion funnel ([[graft.streaming.Streams.funnelOnline]])
    * aggregated into the same stage counts — per-user write-once
    * three-slot state, O(users); first-qualifying-in-order ≡
    * min-chaining, so the single-batch replay shares `agg_funnel`'s
    * oracle verbatim.
    */
  private def q_stream_funnel(s: SparkSession, dir: String): DataFrame = {
    val snap = Streams.funnelOnline(userEvents(s, dir)).toDF()
    funnelStages(snap.filter(col("c_us").isNotNull),
      snap.filter(col("v_us").isNotNull), snap.filter(col("p_us").isNotNull))
  }

  /** Streaming AS-OF enrichment in batch replay
    * ([[graft.streaming.Streams.asofOnline]]): clicks joined to the
    * latest same-user view at-or-before them through one O(1) state slot
    * per user. A single-batch replay is bit-identical to the batch as-of
    * join, so this STATEFUL streaming op carries join_asof's full oracle
    * (the stream_cusum discipline); StreamsSpec pins the multi-batch
    * incremental run against the batch result.
    */
  private def q_stream_asof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = E(s, dir)
    val l = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("user"),
        graft.sources.Events.epochMicros(col("ts")).as("tsMicros"),
        lit(false).as("isRight"), col("event_id").as("eventId"),
        col("value"))
    val r = ev.filter(col("event_type") === "view")
      .groupBy("user_id", "ts").agg(avg(col("value")).as("vv"))
      .select(col("user_id").as("user"),
        graft.sources.Events.epochMicros(col("ts")).as("tsMicros"),
        lit(true).as("isRight"), lit(-1L).as("eventId"),
        col("vv").as("value"))
    Streams.asofOnline(l.unionByName(r).as[graft.streaming.AsOfIn])
      .toDF()
      .select(col("event_id"), col("user_id"), col("value"),
        round(col("asof_vv"), 6).as("asof_view"))
      .orderBy("event_id")
  }

  /** ONLINE Kalman local-level filter in batch replay
    * ([[graft.streaming.Streams.kalmanOnline]], Q=1, R=10) over the
    * exact-integer hourly mean series: the terminal posterior per stream
    * must equal a DuckDB `list_reduce` replay of the identical recursion
    * (the ml_holt_winters discipline — same literals, same association),
    * so the whole adaptive-gain filter path is hash-checked. Unrounded:
    * the doubles are bit-identical by construction.
    */
  private def q_stream_kalman(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourly = hourlyMicroMeans(E(s, dir).filter(col("value").isNotNull))
      .select(col("event_type").as("tag"), col("bucket").as("ts"),
        (microMean.cast("double") / lit(1000000.0)).as("value"))
      .as[Reading]
    val filtered = Streams.kalmanOnline(hourly, q = 1.0, r = 10.0)
      .toDF()
    filtered.groupBy(col("tag").as("event_type"))
      .agg(max(struct(col("ts"), col("level"), col("p"), col("k"), col("n")))
        .as("fin"))
      .select(col("event_type"), col("fin.n").as("n"),
        col("fin.level").as("level"), col("fin.p").as("p"),
        col("fin.k").as("k"))
      .orderBy("event_type")
  }

  // the FULL Kalman recursion replayed as a list_reduce fold — every
  // float op mirrors Streams.kalmanOnline verbatim (association
  // included); state = [level, P, K]; unrounded by construction
  private def kalmanOracle: String =
    s"""WITH $hourlyMeanListCtes,
      |fin AS (SELECT event_type, len(ys) AS n,
      |    list_reduce(
      |      [[ys[1], 10.0, 0.0]] ||
      |        list_transform(ys[2:CAST(len(ys) AS INTEGER)],
      |          y -> [y, 0.0, 0.0]),
      |      (acc, x) -> [
      |        acc[1] + (acc[2] + 1.0) / (acc[2] + 1.0 + 10.0)
      |          * (x[1] - acc[1]),
      |        (1.0 - (acc[2] + 1.0) / (acc[2] + 1.0 + 10.0))
      |          * (acc[2] + 1.0),
      |        (acc[2] + 1.0) / (acc[2] + 1.0 + 10.0)
      |      ]) AS st
      |  FROM ser)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  st[1] AS level, st[2] AS p, st[3] AS k
      |FROM fin ORDER BY event_type""".stripMargin

  /** Heavy hitters over a LIVE file-source stream — the Misra-Gries
    * native aggregate running as a stateful streaming aggregation: the
    * state store holds one O(k) sketch buffer per language, each
    * micro-batch's partial sketches merge into it (the mergeable-
    * summaries property HeavyHittersSpec pins), and complete-mode output
    * re-emits the current top-k. This is the real 100 TB continuous-
    * ingest shape: per-key state is k counters regardless of stream
    * length, vs an exact word count whose state grows with the
    * vocabulary. Executor-parallel end to end (file source → explode →
    * partial sketches), nothing driver-side but the k×|langs| result.
    * ORACLE-CHECKED by the same k-sizing argument as
    * `agg_heavyhitters` (k = 40 > the 31-word fixture vocabulary ⇒
    * zero evictions ⇒ exact counts deterministically), which makes the
    * streaming state-store merge path itself hash-verified against the
    * batch-SQL exact top-10.
    */
  private def q_stream_heavyhitters(s: SparkSession, dir: String): DataFrame = {
    val name = s"hh_stream_${registryKey(dir).take(8)}"
    val stream = s.readStream.schema(jsonlSchema).json(jsonlRoot(s, dir))
      .select(col("lang"), explode(graft.ops.Dedup.words(col("text"))).as("w"))
      .groupBy("lang")
      .agg(TextAnalysis.heavyHitters(col("w"), 40).as("hh"))
    heavyHittersTop10(Streams.replayToTable(stream, name, "complete"))
  }

  /** Anomaly threshold over a LIVE parquet-file stream — the t-digest
    * native aggregate as a stateful streaming aggregation (the claim in
    * AnomalyMath.thresholdSketch's doc, proven as a real run): the state
    * store holds one O(compression) digest per event_type, micro-batch
    * partial digests merge in, complete mode re-emits the current p99.
    * The exact sort-based `percentile` is ILLEGAL in this position —
    * this sketch is how a continuous ingest maintains thresholds at all.
    * Streams the compacted events registry copy (a real directory
    * source); executor-parallel end to end.
    *
    * ORACLE-CHECKED (round 10): same discipline as q_stream_tdigest —
    * the streamed estimate is checked against its order-statistic
    * bracket over the raw values (which the oracle recomputes), with
    * the SQL-exact percentile and count beside it.
    */
  private def q_stream_threshold(s: SparkSession, dir: String): DataFrame = {
    val root = compactRoot(s, dir)
    val name = s"thr_stream_${registryKey(dir).take(8)}"
    val stream = parquetStream(s, root)
      .filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(AnomalyMath.thresholdSketch(col("value"), 0.99).as("est"),
        count(lit(1)).as("n"))
    val est = Streams.replayToTable(stream, name, "complete")
    val h = col("n").cast("double") * lit(0.99) - lit(0.99) // p*(n-1)
    val slack = tdigestRankSlack(col("n"), 0.99)
    Tables.resolve(s, root).filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
      .join(broadcast(est), Seq("event_type"))
      .groupBy("event_type")
      .agg(first(col("n")).as("n"),
        round(percentile(col("value"), lit(0.99)), 6).as("thr_p99_exact"),
        sum((col("value") < col("est")).cast("long")).as("n_lt"),
        sum((col("value") <= col("est")).cast("long")).as("n_le"))
      .select(col("event_type"), col("n"), col("thr_p99_exact"),
        (col("n_le") >= floor(h).cast("long") + lit(1L) - slack &&
          col("n_lt") <= ceil(h).cast("long") + slack).as("rank_ok"))
      .orderBy("event_type")
  }

  // rank_ok TRUE = the streamed t-digest p99's order-statistic bracket
  // (q_stream_threshold scaladoc)
  private def thresholdOracle: String =
    """SELECT event_type, count(*) AS n,
      |  round(quantile_cont(value, 0.99), 6) AS thr_p99_exact,
      |  TRUE AS rank_ok
      |FROM events WHERE value IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** CONTINUOUS windowed quantiles via the t-digest aggregate — the
    * sketch family's quantile member running inside Structured
    * Streaming (beside stream_heavyhitters' Misra-Gries): per
    * (stream, hour) the state store holds ONE mergeable digest
    * (O(compression) centroids), not the window's values — the only
    * way windowed p95 exists at 100 TB stream rates.
    *
    * ORACLE-CHECKED (round 10, the countmin/threshold_sketch
    * discipline): centroid layout is merge-order-dependent, so the raw
    * estimates stay on the expression API (TDigestSpec pins accuracy);
    * the driver row carries the streaming COUNT (exact — checked
    * against SQL count(*)), the SQL-exact batch percentiles, and the
    * per-quantile order-statistic bracket flags of the streamed
    * estimates (see q_agg_threshold_sketch). The flags verify the
    * sketch against raw data the oracle can recompute; the count
    * verifies the streaming aggregation itself.
    */
  private def q_stream_tdigest(s: SparkSession, dir: String): DataFrame = {
    val root = compactRoot(s, dir)
    val name = s"tdig_stream_${registryKey(dir).take(8)}"
    val stream = parquetStream(s, root)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(AnomalyMath.thresholdSketch(col("value"), 0.5).as("p50_est"),
        AnomalyMath.thresholdSketch(col("value"), 0.95).as("p95_est"),
        count(lit(1)).as("n"))
    val est = Streams.replayToTable(stream, name, "complete")
    def bracket(p: Double, nLt: Column, nLe: Column): Column = {
      val h = col("n").cast("double") * lit(p) - lit(p) // p*(n-1)
      val slack = tdigestRankSlack(col("n"), p)
      nLe >= floor(h).cast("long") + lit(1L) - slack &&
        nLt <= ceil(h).cast("long") + slack
    }
    Tables.resolve(s, root).filter(col("value").isNotNull)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("bucket"),
        col("value"))
      .join(broadcast(est), Seq("event_type", "bucket"))
      .groupBy("event_type", "bucket")
      .agg(first(col("n")).as("n"),
        round(percentile(col("value"), lit(0.5)), 6).as("p50_exact"),
        round(percentile(col("value"), lit(0.95)), 6).as("p95_exact"),
        sum((col("value") < col("p50_est")).cast("long")).as("lt50"),
        sum((col("value") <= col("p50_est")).cast("long")).as("le50"),
        sum((col("value") < col("p95_est")).cast("long")).as("lt95"),
        sum((col("value") <= col("p95_est")).cast("long")).as("le95"))
      .select(col("event_type"), col("bucket"), col("n"),
        col("p50_exact"), col("p95_exact"),
        bracket(0.5, col("lt50"), col("le50")).as("p50_ok"),
        bracket(0.95, col("lt95"), col("le95")).as("p95_ok"))
      .orderBy("event_type", "bucket")
  }

  // p50_ok/p95_ok TRUE = the streamed t-digest estimates sit inside
  // their order-statistic brackets (q_stream_tdigest scaladoc); n and
  // the exact percentiles are SQL-recomputed, so a broken streaming
  // agg or sketch hash-fails the row.
  private def tdigestOracle: String =
    """SELECT event_type,
      |  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
      |  count(*) AS n,
      |  round(quantile_cont(value, 0.5), 6) AS p50_exact,
      |  round(quantile_cont(value, 0.95), 6) AS p95_exact,
      |  TRUE AS p50_ok, TRUE AS p95_ok
      |FROM events WHERE value IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** CONTINUOUS OHLC — the same compaction as agg_resample_ohlc running
    * as a live streaming aggregation over the compacted-events directory
    * source: struct-min/max and count are all mergeable O(1)-state
    * aggregates, so each (stream, hour) bucket's candles update in place
    * in the state store (complete mode re-emits). Shares
    * agg_resample_ohlc's oracle — the streamed candles must equal the
    * batch candles exactly, ties included.
    */
  private def q_stream_ohlc(s: SparkSession, dir: String): DataFrame = {
    val root = compactRoot(s, dir)
    val name = s"ohlc_stream_${registryKey(dir).take(8)}"
    val stream = hourlyCandles(parquetStream(s, root).filter(col("value").isNotNull))
    Streams.replayToTable(stream, name, "complete")
      .orderBy("event_type", "bucket")
  }

  /** SLIDING-window streaming aggregation — the overlapping-window shape
    * tumbling stream_resample cannot express (a 1-hour window advancing
    * every 15 minutes: each event feeds FOUR windows; the state store
    * holds one mergeable sum+count per open window — the dashboard
    * "rolling last hour, refreshed every 15 min" semantics). Exactness:
    * the decimal sum → micro BIGINT → integer mean discipline, so the
    * streamed windows hash-match a replicate-then-aggregate SQL replay
    * (each event row contributes to its four window starts — the
    * agg_active_users WAU trick in time-window form).
    */
  private def q_stream_sliding(s: SparkSession, dir: String): DataFrame = {
    val root = compactRoot(s, dir)
    val name = s"slide_stream_${registryKey(dir).take(8)}"
    val stream = microMeans(parquetStream(s, root)
      .filter(col("value").isNotNull)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type")))
    Streams.replayToTable(stream, name, "complete")
      .select(col("window.start").as("wstart"), col("event_type"),
        microMean.as("v6"), col("n"))
      .orderBy("wstart", "event_type")
  }

  // each event contributes to its FOUR window starts — replicate-then-
  // aggregate (the WAU trick in time-window form); v6 = exact integer
  // micro mean, so the streamed sliding windows hash-match
  private def slidingOracle: String =
    s"""WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS t, value
      |  FROM events WHERE value IS NOT NULL),
      |ks AS (SELECT unnest(range(0, 4)) AS k),
      |r AS (SELECT event_type, value,
      |    time_bucket(INTERVAL '15 minutes', t)
      |      - k * INTERVAL '15 minutes' AS wstart
      |  FROM e CROSS JOIN ks)
      |SELECT wstart, event_type,
      |  $microSumSql
      |    // count(*) AS v6,
      |  count(*) AS n
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** LIVE seasonal-residual monitor — the deployment form of seasonal
    * scoring: the hour-of-day profile is FROZEN from the reference
    * cohort (first half-month, batch, exact integer micro-units), the
    * live cohort streams through a stateful hourly-mean aggregation
    * (sum+count are mergeable; the mean forms AFTER the stream stops),
    * and each live bucket is scored against the broadcast profile:
    * resid = live mean − expected-at-this-hour. Every output is one
    * exact integer over the same exact divisor — unrounded, bit-exact,
    * and the whole stream path is hash-checked by a frozen-profile SQL
    * mirror.
    */
  private def q_stream_seasonal(s: SparkSession, dir: String): DataFrame = {
    val root = compactRoot(s, dir)
    val ref = Tables.resolve(s, root)
      .filter(driftIsA && col("value").isNotNull)
    val profile = microMeans(ref.groupBy(col("event_type"), hour(col("ts")).as("hod")))
      .select(col("event_type"), col("hod"), microMean.as("p6"))
    val name = s"seasonal_stream_${registryKey(dir).take(8)}"
    val liveStream = hourlyMicroMeans(parquetStream(s, root)
      .filter(!driftIsA && col("value").isNotNull))
    val live = Streams.replayToTable(liveStream, name, "complete")
      .withColumn("v6", microMean)
      .withColumn("hod", hour(col("bucket")))
    val prof = profile.select(col("event_type").as("p_type"),
      col("hod").as("p_hod"), col("p6"))
    live.join(broadcast(prof),
        col("event_type") === col("p_type") && col("hod") === col("p_hod"))
      .select(col("event_type"), col("bucket"),
        (col("v6").cast("double") / lit(1000000.0)).as("v"),
        (col("p6").cast("double") / lit(1000000.0)).as("expected"),
        ((col("v6") - col("p6")).cast("double") / lit(1000000.0)).as("resid"))
      .orderBy("event_type", "bucket")
  }

  // frozen hour-of-day profile from cohort A; live buckets scored
  // against it — exact integer micro-units, unrounded outputs
  private def seasonalOracle: String =
    s"""WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS t, value
      |     FROM events WHERE value IS NOT NULL),
      |p AS (SELECT event_type, hour(t) AS hod,
      |        $microSumSql
      |          // count(*) AS p6
      |      FROM e WHERE t < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1, 2),
      |l AS (SELECT event_type, date_trunc('hour', t) AS bucket,
      |        $microSumSql
      |          // count(*) AS v6
      |      FROM e WHERE t >= TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1, 2)
      |SELECT l.event_type, bucket,
      |  CAST(v6 AS DOUBLE) / 1000000.0 AS v,
      |  CAST(p6 AS DOUBLE) / 1000000.0 AS expected,
      |  CAST(v6 - p6 AS DOUBLE) / 1000000.0 AS resid
      |FROM l JOIN p ON l.event_type = p.event_type AND hour(bucket) = p.hod
      |ORDER BY 1, 2""".stripMargin

  /** LIVE multivariate anomaly monitor — Mahalanobis scoring as a
    * deployment runs it (the stream_seasonal/stream_drift "frozen
    * reference" discipline): the (click, view) covariance is FROZEN from
    * the first-half reference cohort (what makes scores comparable
    * across days, and what a stream — which cannot rescan history —
    * requires); the live second half streams through a real parquet
    * readStream into a stateful per-(type, hour) sum+count aggregation
    * (mergeable, complete mode), aligns to (x, y) pairs post-stream, and
    * scores each live bucket against the frozen inverse. Arithmetic is
    * [[mahalanobisD2]]'s exact-BIGINT + one-mirrored-IEEE-combination
    * discipline, so the ENTIRE stream path is hash-checked by SQL.
    */
  private def q_stream_mahalanobis(s: SparkSession, dir: String): DataFrame = {
    val root = compactRoot(s, dir)
    val types = Seq("click", "view")
    def widen(cents: DataFrame): DataFrame = cents.groupBy("bucket")
      .agg(max(when(col("event_type") === "click", col("c"))).as("x"),
        max(when(col("event_type") === "view", col("c"))).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val ref = widen(hourlyCentsLong(Tables.resolve(s, root)
      .filter(driftIsA && col("value").isNotNull &&
        col("event_type").isin(types: _*))))
    val stats = ref.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val name = s"maha_stream_${registryKey(dir).take(8)}"
    val liveCents = hourlyCentsLong(parquetStream(s, root)
      .filter(!driftIsA && col("value").isNotNull &&
        col("event_type").isin(types: _*)))
    val live = widen(Streams.replayToTable(liveCents, name, "complete"))
    val j = live.crossJoin(broadcast(stats))
    val ax = (col("n") * col("x") - col("sx")).cast("double")
    val ay = (col("n") * col("y") - col("sy")).cast("double")
    val vxx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val vyy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val vxy = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val qd = ax * ax * vyy - ax * ay * vxy * lit(2.0) + ay * ay * vxx
    val d2u = (col("n") - 1).cast("double") * qd /
      nullif(col("n").cast("double") * (vxx * vyy - vxy * vxy), lit(0.0))
    j.select(col("bucket"), col("x").as("c_click"), col("y").as("c_view"),
        round(d2u, 6).as("d2"),
        when(d2u > 9.21, 1).otherwise(0).as("outlier"))
      .orderBy("bucket")
  }

  // frozen-covariance scoring of the streamed second half — the whole
  // stream path (readStream → stateful agg → align → d²) hash-checked
  private def mahalanobisOracle: String =
    s"""WITH h AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
      |    ($microSumSql
      |      // count(*)) // 10000 AS c
      |  FROM events
      |  WHERE value IS NOT NULL AND event_type IN ('click', 'view')
      |  GROUP BY 1, 2),
      |wide AS (
      |  SELECT bucket,
      |    max(CASE WHEN event_type = 'click' THEN c END) AS x,
      |    max(CASE WHEN event_type = 'view' THEN c END) AS y
      |  FROM h GROUP BY 1
      |  HAVING max(CASE WHEN event_type = 'click' THEN c END) IS NOT NULL
      |     AND max(CASE WHEN event_type = 'view' THEN c END) IS NOT NULL),
      |st AS (SELECT count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM wide WHERE bucket < TIMESTAMP '2024-01-16 00:00:00'),
      |m AS (SELECT bucket, x, y, n,
      |    CAST(n * x - sx AS DOUBLE) AS ax,
      |    CAST(n * y - sy AS DOUBLE) AS ay,
      |    CAST(n * sxx - sx * sx AS DOUBLE) AS vxx,
      |    CAST(n * syy - sy * sy AS DOUBLE) AS vyy,
      |    CAST(n * sxy - sx * sy AS DOUBLE) AS vxy
      |  FROM wide CROSS JOIN st
      |  WHERE bucket >= TIMESTAMP '2024-01-16 00:00:00'),
      |d AS (SELECT bucket, x, y,
      |    CAST(n - 1 AS DOUBLE)
      |      * (ax * ax * vyy - ax * ay * vxy * 2.0 + ay * ay * vxx)
      |      / NULLIF(CAST(n AS DOUBLE) * (vxx * vyy - vxy * vxy), 0) AS d2u
      |  FROM m)
      |SELECT bucket, x AS c_click, y AS c_view, round(d2u, 6) AS d2,
      |  CASE WHEN d2u > 9.21 THEN 1 ELSE 0 END AS outlier
      |FROM d ORDER BY bucket""".stripMargin

  /** LIVE drift monitor — the deployment form of the KS test: bin edges
    * frozen from the reference cohort (first half-month, batch), the
    * live cohort streamed from a real parquet directory source through a
    * stream-static broadcast range join + a stateful binned-count
    * aggregation (complete mode), KS computed from the final histograms.
    * Out-of-range live values clamp into the end bins. The oracle derives
    * the identical frozen-edge statistic in SQL — the whole
    * stream-vs-batch path is hash-checked, not just row-counted.
    */
  private def q_stream_drift(s: SparkSession, dir: String): DataFrame = {
    val root = compactRoot(s, dir)
    // The reference cohort's bin ranges + histogram are FROZEN artifacts
    // — a production monitor computes them once at train time and scores
    // every live window against them (the whole point of frozen edges:
    // comparability across days). Persist both fingerprint-keyed, so a
    // serving run pays a model-sized parquet read (|keys| + |keys|×bins
    // rows), not a rescan of the reference history.
    val refRoot = Artifacts.materialize(s, "driftref",
        s"driftref-v1|$dir|${tableFingerprint(s, s"$dir/events.parquet")}") { out =>
      val ref = Tables.resolve(s, root).filter(driftIsA)
      val rng = graft.ops.Drift.referenceRanges(ref, "event_type", "value")
      graft.ops.Drift.binAgainst(ref, "event_type", "value", rng)
        .groupBy("event_type", "__bin").agg(count(lit(1)).as("__na"))
        .join(rng, Seq("event_type"))
        .coalesce(1).write.mode("overwrite").parquet(out)
    }
    val frozen = Tables.resolve(s, refRoot)
    val ranges = frozen.select("event_type", "__mn", "__mx").distinct()
    val refHist = frozen.select("event_type", "__bin", "__na")
    val name = s"drift_stream_${registryKey(dir).take(8)}"
    val liveStream = graft.ops.Drift.binAgainst(
        parquetStream(s, root).filter(!driftIsA),
        "event_type", "value", ranges)
      .groupBy("event_type", "__bin").agg(count(lit(1)).as("__nb"))
    val joint = refHist.join(
      Streams.replayToTable(liveStream, name, "complete"),
      Seq("event_type", "__bin"), "full_outer")
      .na.fill(0L, Seq("__na", "__nb"))
    graft.ops.Drift.ksOfCounts(joint, "event_type").orderBy("event_type")
  }

  // frozen-reference-edge KS (bin ranges from cohort A only, live values
  // clamped into the end bins) — the streaming monitor's exact semantic
  private def driftOracle: String =
    """WITH e AS (SELECT event_type, value,
      |       CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00' AS is_a
      |     FROM events WHERE value IS NOT NULL AND isfinite(value)),
      |r AS (SELECT event_type, min(value) AS mn, max(value) AS mx
      |      FROM e WHERE is_a GROUP BY 1),
      |bb AS (SELECT e.event_type, is_a,
      |         greatest(least(CAST(floor((value - mn) / ((mx - mn) / 100))
      |           AS BIGINT), 99), 0) AS bin
      |       FROM e JOIN r USING (event_type)),
      |c AS (SELECT event_type, bin,
      |        count(*) FILTER (WHERE is_a) AS na,
      |        count(*) FILTER (WHERE NOT is_a) AS nb
      |      FROM bb GROUP BY 1, 2),
      |cum AS (SELECT event_type, bin,
      |          CAST(sum(na) OVER pk AS DOUBLE) / sum(na) OVER pt AS fa,
      |          CAST(sum(nb) OVER pk AS DOUBLE) / sum(nb) OVER pt AS fb
      |        FROM c
      |        WINDOW pk AS (PARTITION BY event_type ORDER BY bin),
      |               pt AS (PARTITION BY event_type))
      |SELECT event_type, round(max(abs(fa - fb)), 6) AS ks
      |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exactly-once delivery over an at-least-once spool — a LIVE
    * parquet-file-source stream through [[graft.streaming.Streams.dedup]]
    * (`dropDuplicatesWithinWatermark`): the spool is the full events
    * table plus injected exact retransmissions (`event_id % 13 == 3`,
    * the at-least-once redelivery shape), and the deduped stream must
    * reconstruct the original table EXACTLY — the oracle is the base
    * table verbatim, so one surviving duplicate or dropped original
    * fails rows/hash. Retransmissions are byte-identical copies, so
    * whichever arrival survives, the emitted row is the same —
    * deterministic under any file order. The whole spool lands in one
    * micro-batch (no maxFilesPerTrigger), so every duplicate is inside
    * the state horizon by construction; per-key state is one id within
    * the watermark, O(horizon), the 100 TB continuous-ingest shape.
    */
  private def q_stream_dedup(s: SparkSession, dir: String): DataFrame = {
    val root = Artifacts.materialize(s, "dedupspool",
        s"dedupspool-v1|$dir|${tableFingerprint(s, s"$dir/events.parquet")}") { out =>
      val base = E(s, dir).select("event_id", "ts", "event_type", "value")
      base.unionByName(base.filter(col("event_id") % 13 === 3))
        .repartition(4) // 4 spool files, one micro-batch
        .write.mode("overwrite").parquet(out)
    }
    val name = s"dedup_stream_${registryKey(dir).take(8)}"
    val stream = parquetStream(s, root)
    val deduped = Streams.dedup(
      stream, "ts", Seq("event_id"), "30 minutes")
    Streams.replayToTable(deduped, name, "append")
      .select(col("event_id"),
        graft.sources.Events.epochMicros(col("ts")).as("ts_us"),
        col("event_type"), col("value"))
      .orderBy("event_id")
  }

  // the deduped at-least-once spool must reconstruct the base table
  // exactly (retransmissions are exact copies of event_id % 13 == 3)
  private def dedupOracle: String =
    """SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |  event_type, value
      |FROM events ORDER BY event_id""".stripMargin

  /** Streaming CDC upsert into a PARTITIONED copy-on-write table — the
    * production Delta-style rewrite: the snapshot is laid out in
    * event_id-range partitions, each micro-batch merges ONLY the
    * partitions its keys touch, and the write replaces exactly those
    * partition directories (dynamic partition overwrite). The CDC feed
    * is range-ordered (repartitionByRange), so a micro-batch's keys
    * localize to a few partitions — the round-10 full-snapshot rewrite
    * paid 5 whole-table copies per execution; this pays
    * O(touched partitions) per batch, the shape that survives a 100 TB
    * table. Update keys are unique, so the final state is
    * batching-order-independent and must equal the one-shot batch merge:
    * the oracle (shared with sink_upsert) is the batch-merge algebra over
    * the ORIGINAL events table, so a lost row, double-applied update, or
    * mis-partitioned write hash-fails.
    */
  private def q_stream_upsert(s: SparkSession, dir: String): DataFrame = {
    val base = E(s, dir)
    // v2: range-ordered CDC files — each micro-batch (one file) covers a
    // contiguous id range, the locality a partition-pruned merge exploits
    val updatesDir = Artifacts.materialize(s, "upsertcdc",
        s"upsertcdc-v2|$dir|${tableFingerprint(s, s"$dir/events.parquet")}") { out =>
      base.filter(col("event_id") % 7 === 0)
        .withColumn("value", col("value") + lit(1000.0))
        .unionByName(base.filter(col("event_id") % 97 === 0)
          .withColumn("event_id", col("event_id") + lit(1000000L))
          .withColumn("event_type", lit("backfill")))
        .repartitionByRange(4, col("event_id")) // 4 files -> 4 micro-batches
        .write.mode("overwrite").parquet(out)
    }
    // Table lives for this invocation in a temp dir (tmpfs-preferring,
    // deleted at JVM exit); __p = event_id div width is the partition
    // key, width derived from the id domain so the table has ~16 live
    // partitions at ANY sf (a fixed literal left the whole sf0.1 table
    // in one partition and pruned nothing) — on a real table the
    // partition spec is date/tenant and pre-exists.
    // The ONE layout constant: ~16 live event_id-range partitions at any
    // sf (width derives from the id domain). Both hash-repartitions below
    // derive from it — a changed layout can't silently leave a stale
    // width pin behind (r11 verdict #7).
    val nTableParts = 16
    val width = math.max(1L,
      (base.agg(max(col("event_id"))).head().getLong(0) + 1L) / nTableParts)
    val state = Artifacts.tempDirDeletedAtExit("graft-stream-upsert")
    val table = s"$state/t"
    base.withColumn("__p", expr(s"event_id div $width"))
      // one file per partition dir: without the pin, partitionBy fans
      // each of 32 write tasks across every dir (≈512 small files) and
      // every later batch pays the listing
      .repartition(nTableParts, col("__p"))
      .write.partitionBy("__p").mode("overwrite").parquet(table)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val stream = s.readStream.schema(Tables.resolve(s, updatesDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(updatesDir)
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
          .withColumn("__p", expr(s"event_id div $width"))
        // ONE job per batch: the merge semi-joins against the batch's
        // own partition set, so the staged output holds exactly the
        // TOUCHED partitions and untouched directories never rewrite —
        // the copy-on-write economics. (A separate driver-side
        // touched-partition probe job was A/B'd and removed: its 4 extra
        // job launches cost more than the full-table scan it pruned at
        // this table size; at 100 TB the read side prunes from table
        // metadata — here the table fits the page cache and the WRITE
        // pruning is where the win is.)
        val current = s.read.option("basePath", table).parquet(table)
          // partition-dir values read back inferred; restore the
          // written long type so upsert's schema contract holds
          .withColumn("__p", col("__p").cast("long"))
        val merged = graft.ops.Lake.upsert(current, b, Seq("event_id"))
          .join(b.select("__p").distinct(), Seq("__p"), "left_semi")
        // stage-then-rename commit: the merge job reads the live dirs
        // and writes to a staging path (no read/overwrite conflict, no
        // checkpoint materialization), then the staged dirs swap in as
        // metadata renames — the Delta/Iceberg commit shape reduced to
        // directories. Which dirs were touched is read off the staging
        // listing: no extra Spark job.
        val staging = s"$state/stage"
        // hash-partitioned on __p at the table's own partition count:
        // each touched dir gets exactly one file (a dir's rows land in
        // one task), untouched candidates resolve to empty tasks
        merged.repartition(nTableParts, col("__p"))
          .write.mode("overwrite").partitionBy("__p").parquet(staging)
        for (st <- fs.listStatus(new org.apache.hadoop.fs.Path(staging))
             if st.getPath.getName.startsWith("__p=")) {
          val dst = new org.apache.hadoop.fs.Path(table, st.getPath.getName)
          if (fs.exists(dst)) fs.delete(dst, true)
          fs.rename(st.getPath, dst)
        }
    }.start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(table)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy("event_type")
  }

  /** STREAMING GEOFENCE — the live form of `join_geo_polygon`: a
    * real file-source readStream of purchase events stream-static
    * hash-joins the BROADCAST cell-exploded triangle dim on the grid
    * cell ([[Common.fenceHits]]) with the exact containment sign tests as a
    * post-filter, emitting (event, fence) alerts in append mode. The
    * exactly-mirrorable batch replay IS the oracle (integer geometry,
    * stateless per event — replay order cannot matter). At scale this
    * is the canonical alerting shape: per-event work is
    * (fences-in-cell) integer tests against a broadcast dim, no state,
    * no shuffle.
    */
  private def q_stream_geo_fence(s: SparkSession, dir: String): DataFrame = {
    val root = Artifacts.materialize(s, "fencespool",
        s"fencespool-v1|$dir|${tableFingerprint(s, s"$dir/events.parquet")}") { out =>
      E(s, dir).filter(col("event_type") === "purchase")
        .select("event_id", "user_id")
        .repartition(4) // 4 spool files, one micro-batch
        .write.mode("overwrite").parquet(out)
    }
    val hits = fenceHits(s, dir, parquetStream(s, root))
      .select(col("event_id"), col("user_id"), col("tri_id"))
    val name = s"geo_fence_${registryKey(dir).take(8)}"
    Streams.replayToTable(hits, name, "append")
      .orderBy("event_id", "tri_id")
  }

  private def geoFenceOracle: String = {
    val (ula, ulo) = geoE4Sql("u", "user_id")
    fenceHitsOracle(
      s"""p AS (SELECT event_id, user_id, $ula AS py, $ulo AS px
         |  FROM events WHERE event_type = 'purchase')""".stripMargin,
      "event_id, user_id", "event_id, tri_id")
  }
}
