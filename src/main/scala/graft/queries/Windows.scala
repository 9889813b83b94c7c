package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{AnomalyMath, Timeseries}
import graft.queries.Common._
import graft.queries.Oracle.Sql

/** The window family over the fixture's event stream: per-user lookback,
  * lag and smoothing windows, gap filling on the 10-minute resample, and
  * the hourly integer-cents series' rolling statistics (EWMA, MACD,
  * Bollinger, rolling median, Hampel, drawdown, peaks, RSI, log returns,
  * rolling correlation), CUSUM, autocorrelation, seasonal decomposition
  * and winsorizing. Each query's body sits beside its oracle.
  */
object Windows {

  val queries: Seq[Query] = Seq(
    Query("win_smooth_time", q_win_smooth_time, Sql(smoothTimeOracle)),
    Query("win_lookback", q_win_lookback, Sql(lookbackOracle)),
    Query("win_shift_forecast", q_win_shift_forecast, Sql(shiftForecastOracle)),
    Query("win_smooth", q_win_smooth, Sql(smoothOracle)),
    Query("win_rank_topk", q_win_rank_topk, Sql(rankTopkOracle)),
    Query("win_ffill", q_win_ffill, Sql(ffillOracle)),
    Query("win_interpolate", q_win_interpolate, Sql(interpolateOracle)),
    Query("win_cusum", q_win_cusum, Sql(cusumOracle)),
    Query("win_autocorr", q_win_autocorr, Sql(autocorrOracle)),
    Query("win_ewma", q_win_ewma, Sql(ewmaOracle)),
    Query("win_bollinger", q_win_bollinger, Sql(bollingerOracle)),
    Query("win_rolling_median", q_win_rolling_median, Sql(rollingMedianOracle)),
    Query("win_hampel", q_win_hampel, Sql(hampelOracle)),
    Query("win_seasonal_decompose", q_win_seasonal_decompose, Sql(seasonalDecomposeOracle)),
    Query("win_seasonal_outliers", q_win_seasonal_outliers, Sql(seasonalOutliersOracle)),
    Query("win_drawdown", q_win_drawdown, Sql(drawdownOracle)),
    Query("win_peaks", q_win_peaks, Sql(peaksOracle)),
    Query("win_percent_rank", q_win_percent_rank, Sql(percentRankOracle)),
    Query("win_rsi", q_win_rsi, Sql(rsiOracle)),
    Query("win_log_return", q_win_log_return, Sql(logReturnOracle)),
    Query("win_rolling_corr", q_win_rolling_corr, Sql(rollingCorrOracle)),
    Query("win_winsorize", q_win_winsorize, Sql(winsorizeOracle)),
    Query("win_macd", q_win_macd, Sql(macdOracle)))

  /** Per-user event order, the frame of the lookback and lag windows. */
  private def evWindow = Window.partitionBy(col("user_id"))
    .orderBy(col("ts"), col("event_id"))

  private def q_win_smooth_time(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(graft.sources.Events.epochSeconds(col("ts"))) // defensive: NTZ fixture generations
      .rangeBetween(-600, 0) // trailing 10-minute TIME window (not rows)
    E(s, dir)
      .select(col("event_id"), col("user_id"),
        round(avg(col("value")).over(w), 6).as("smoothed_t"))
      .orderBy("event_id")
  }

  private def smoothTimeOracle: String =
    """SELECT event_id, user_id,
      |  round(avg(value) OVER (PARTITION BY user_id
      |    ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
      |    RANGE BETWEEN 600 PRECEDING AND CURRENT ROW), 6) AS smoothed_t
      |FROM events ORDER BY event_id""".stripMargin

  private def q_win_lookback(s: SparkSession, dir: String): DataFrame =
    E(s, dir)
      .select(col("event_id"), col("user_id"),
        collect_list(col("value")).over(evWindow.rowsBetween(-2, 0)).as("seq"))
      .filter(size(col("seq")) === 3)
      // serialize the window to a scalar: the oracle's pandas compare
      // cannot sort/hash a row containing a numpy array (round-1 failure).
      // Via DECIMAL(18,6) — fixed-scale rendering is identical across
      // engines, unlike double→string shortest-repr formatting.
      .select(col("event_id"), col("user_id"),
        concat_ws(",",
          expr("transform(seq, x -> cast(cast(x as decimal(18,6)) as string))")).as("seq_str"))
      .orderBy("event_id")

  private def lookbackOracle: String =
    """SELECT event_id, user_id,
      |  array_to_string(list_transform(seq,
      |    x -> CAST(CAST(x AS DECIMAL(18,6)) AS VARCHAR)), ',') AS seq_str
      |FROM (
      |  SELECT event_id, user_id,
      |    array_agg(value) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id
      |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS seq
      |  FROM events)
      |WHERE len(seq) = 3 ORDER BY event_id""".stripMargin

  private def q_win_shift_forecast(s: SparkSession, dir: String): DataFrame =
    E(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        lag(col("value"), 1).over(evWindow).as("prev_v"))
      .orderBy("event_id")

  private def shiftForecastOracle: String =
    """SELECT event_id, user_id, value,
      |  LAG(value) OVER (PARTITION BY user_id
      |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_v
      |FROM events ORDER BY event_id""".stripMargin

  private def q_win_smooth(s: SparkSession, dir: String): DataFrame =
    E(s, dir)
      .select(col("event_id"), col("user_id"),
        round(AnomalyMath.smooth(col("value"), Seq(col("user_id")),
          Seq(col("ts"), col("event_id")), 5), 6).as("smoothed"))
      .orderBy("event_id")

  private def smoothOracle: String =
    """SELECT event_id, user_id,
      |  round(avg(value) OVER (PARTITION BY user_id
      |    ORDER BY CAST(ts AS TIMESTAMP), event_id
      |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS smoothed
      |FROM events ORDER BY event_id""".stripMargin

  private def q_win_rank_topk(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        ).cast("long").as("rn"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")

  private def rankTopkOracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Forward-fill of resample gaps, windowed PER TAG on the long format —
    * no single-partition sort anywhere in the plan (round-1 scale audit).
    */
  private def q_win_ffill(s: SparkSession, dir: String): DataFrame = {
    val dense = Timeseries.densify(longResampled(s, dir), "bucket", "event_type",
      Seq("click", "view", "purchase"))
    Timeseries.ffill(dense, Seq("v"), Seq("event_type"), "bucket")
      .select(col("bucket"), col("event_type"), col("v").as("v_filled"))
      .orderBy("bucket", "event_type")
  }

  private def ffillOracle: String =
    s"""WITH $denseGridCte
       |SELECT bucket, event_type,
       |  last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
       |FROM d ORDER BY bucket, event_type""".stripMargin

  /** Linear interpolation of resample gaps, windowed PER TAG. */
  private def q_win_interpolate(s: SparkSession, dir: String): DataFrame = {
    val dense = Timeseries.densify(longResampled(s, dir), "bucket", "event_type",
      Seq("click", "view", "purchase"))
    Timeseries.interpolate(dense, Seq("v"), Seq("event_type"), "bucket")
      .select(col("bucket"), col("event_type"), round(col("v"), 6).as("v_interp"))
      .orderBy("bucket", "event_type")
  }

  private def interpolateOracle: String =
    s"""WITH $denseGridCte,
       |w AS (SELECT bucket, event_type, v,
       |        CAST(epoch_us(bucket) AS DOUBLE) AS t,
       |        last_value(v IGNORE NULLS) OVER back AS v_prev,
       |        first_value(v IGNORE NULLS) OVER fwd AS v_next,
       |        last_value(CASE WHEN v IS NOT NULL
       |          THEN CAST(epoch_us(bucket) AS DOUBLE) END IGNORE NULLS) OVER back AS t_prev,
       |        first_value(CASE WHEN v IS NOT NULL
       |          THEN CAST(epoch_us(bucket) AS DOUBLE) END IGNORE NULLS) OVER fwd AS t_next
       |      FROM d
       |      WINDOW back AS (PARTITION BY event_type ORDER BY bucket
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |             fwd AS (PARTITION BY event_type ORDER BY bucket
       |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |SELECT bucket, event_type,
       |  round(CASE WHEN v IS NOT NULL THEN v
       |             WHEN v_prev IS NOT NULL AND v_next IS NOT NULL
       |             THEN v_prev + (v_next - v_prev) * (t - t_prev) / (t_next - t_prev)
       |        END, 6) AS v_interp
       |FROM w ORDER BY bucket, event_type""".stripMargin

  /** Dense long-format 10-min resample grid — must stay formula-identical
    * to `longResampled` + `Timeseries.densify`.
    */
  private val denseGridCte =
    """l AS (SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS bucket,
      |         event_type, round(avg(value), 6) AS v
      |       FROM events WHERE event_type IN ('click','view','purchase')
      |       GROUP BY 1, 2),
      |g AS (SELECT b.bucket, t.event_type
      |      FROM (SELECT DISTINCT bucket FROM l) b
      |      CROSS JOIN (SELECT unnest(['click','view','purchase']) AS event_type) t),
      |d AS (SELECT g.bucket, g.event_type, l.v
      |      FROM g LEFT JOIN l USING (bucket, event_type))""".stripMargin

  /** Two-sided CUSUM drift detection per sensor stream (Page's test via
    * the running-min closed form — see AnomalyMath.cusum). Decimal-exact
    * windows make the running sums bit-stable across engines.
    */
  private def q_win_cusum(s: SparkSession, dir: String): DataFrame =
    AnomalyMath.cusum(E(s, dir), "value", Seq("event_type"),
        Seq(col("ts"), col("event_id")), target = 50.0, slack = 5.0, h = 200.0)
      // round(_, 6) is lossless (every CUSUM value is a scale-6 grid
      // point) and papers over DuckDB's reciprocal-multiply DECIMAL→
      // DOUBLE cast, which is off by an ulp from the correctly-rounded
      // Spark/IEEE-division result
      .select(col("event_id"), col("event_type"),
        round(col("cusum_up"), 6).as("cusum_up"),
        round(col("cusum_dn"), 6).as("cusum_dn"),
        col("alarm_up"), col("alarm_dn"))
      .orderBy("event_id")

  // CUSUM: deviations quantized to DECIMAL(18,6) once, then EVERY window
  // aggregate stays decimal — running sums are exact scaled integers, so
  // segment-tree vs sequential window evaluation cannot diverge. Cast to
  // DOUBLE only at the output (exact below 2^53 scaled).
  private def cusumOracle: String =
    """WITH e AS (SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS t,
      |    CAST(value AS DECIMAL(18,6)) - CAST(55.0 AS DECIMAL(18,6)) AS dev_up,
      |    CAST(45.0 AS DECIMAL(18,6)) - CAST(value AS DECIMAL(18,6)) AS dev_dn
      |  FROM events),
      |c AS (SELECT event_id, event_type, t,
      |    sum(dev_up) OVER w AS cu, sum(dev_dn) OVER w AS cd
      |  FROM e
      |  WINDOW w AS (PARTITION BY event_type ORDER BY t, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |m AS (SELECT event_id, event_type,
      |    cu - least(CAST(0 AS DECIMAL(18,6)), min(cu) OVER w) AS up,
      |    cd - least(CAST(0 AS DECIMAL(18,6)), min(cd) OVER w) AS dn
      |  FROM c
      |  WINDOW w AS (PARTITION BY event_type ORDER BY t, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, event_type,
      |  round(CAST(up AS DOUBLE), 6) AS cusum_up,
      |  round(CAST(dn AS DOUBLE), 6) AS cusum_dn,
      |  CAST(up > CAST(200.0 AS DECIMAL(18,6)) AS INT) AS alarm_up,
      |  CAST(dn > CAST(200.0 AS DECIMAL(18,6)) AS INT) AS alarm_dn
      |FROM m ORDER BY event_id""".stripMargin

  /** Rolling lag-1 autocorrelation per sensor stream over a trailing
    * 12-reading window — correlation-structure drift detection,
    * bit-exact via integer sufficient statistics (no rounding at all).
    */
  private def q_win_autocorr(s: SparkSession, dir: String): DataFrame =
    AnomalyMath.rollingAutocorr(E(s, dir), "value", Seq("event_type"),
        Seq(col("ts"), col("event_id")), k = 12)
      .select("event_id", "event_type", "autocorr")
      .orderBy("event_id")

  // Rolling autocorrelation: integer sufficient statistics (exact window
  // sums of scale-2 units, all < 2^53) + a verbatim-mirrored IEEE
  // combination — bit-identical, no rounding. CASTs AS BIGINT keep the
  // window sums off HUGEINT (the round-2 repr-hash lesson).
  private def autocorrOracle: String =
    """WITH e AS (SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS t,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS kx
      |  FROM events),
      |l AS (SELECT event_id, event_type, t, kx,
      |    lag(kx) OVER (PARTITION BY event_type ORDER BY t, event_id) AS ky
      |  FROM e),
      |s AS (SELECT event_id, event_type,
      |    CAST(count(ky) OVER w AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN ky IS NOT NULL THEN kx END) OVER w AS BIGINT) AS sx,
      |    CAST(sum(ky) OVER w AS BIGINT) AS sy,
      |    CAST(sum(kx * ky) OVER w AS BIGINT) AS sxy,
      |    CAST(sum(CASE WHEN ky IS NOT NULL THEN kx * kx END) OVER w AS BIGINT) AS sxx,
      |    CAST(sum(ky * ky) OVER w AS BIGINT) AS syy
      |  FROM l
      |  WINDOW w AS (PARTITION BY event_type ORDER BY t, event_id
      |    ROWS BETWEEN 11 PRECEDING AND CURRENT ROW))
      |SELECT event_id, event_type,
      |  CASE WHEN n >= 2 THEN
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / sqrt(NULLIF(
      |        (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0))
      |  END AS autocorr
      |FROM s ORDER BY event_id""".stripMargin

  /** Per-stream EWMA snapshot — s ← s + α·(x − s) folded over the hourly
    * integer-cents series in bucket order (α = 0.2). The fold is the
    * win_holt_winters discipline: Spark `aggregate` over the per-key
    * sorted array and DuckDB `list_reduce` replay the IDENTICAL
    * double-arithmetic association (init = first element, same literal,
    * same order), so the smoothed value is bit-exact before the
    * defensive round. Per-key state is the bounded bucket array
    * (|time range| / 1h), not the raw rows — the same per-key memory
    * bound every win_* fold query documents.
    */
  private def q_win_ewma(s: SparkSession, dir: String): DataFrame = {
    val h = hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
    h.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("bucket"), col("c")))).as("xs"))
      .select(col("event_type"), size(col("xs")).cast("long").as("n"),
        round(aggregate(expr("slice(xs, 2, size(xs) - 1)"),
          element_at(col("xs"), 1).getField("c").cast("double"),
          (acc, x) => acc + lit(0.2) * (x.getField("c").cast("double") - acc)),
          6).as("ewma"))
      .orderBy("event_type")
  }

  // list_reduce replays the identical fold (init = first element,
  // acc + 0.2*(x - acc), bucket order) — bit-exact before the round
  private def ewmaOracle: String =
    s"""WITH $hourlyCentsCte,
      |l AS (SELECT event_type,
      |    list_transform(list(c ORDER BY bucket),
      |      x -> CAST(x AS DOUBLE)) AS xs
      |  FROM h GROUP BY 1)
      |SELECT event_type, len(xs) AS n,
      |  round(list_reduce(xs, (acc, x) -> acc + 0.2 * (x - acc)), 6) AS ewma
      |FROM l ORDER BY 1""".stripMargin

  /** Bollinger bands per stream — trailing-24 mean ± 2σ over the hourly
    * cents series, the volatility-aware envelope beside win_hampel's
    * median/MAD one. The exactness trick: the band test never touches a
    * float — |c − mean| > 2σ  ⟺  (24c − S)² > 4·(24·SS − S²), all exact
    * BIGINTs from the two windowed integer sums (bounded ~10²× under
    * overflow at 10⁷-cent hourly levels). mean and σ are display-only
    * doubles (σ via the correctly-rounded sqrt, the sample_temperature
    * precedent). Full windows only; one per-stream window shuffle.
    */
  private def q_win_bollinger(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(-23, 0)
    hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
      .select(col("event_type"), col("bucket"), col("c"),
        count(lit(1)).over(w).as("wn"),
        sum(col("c")).over(w).as("s"),
        sum(col("c") * col("c")).over(w).as("ss"))
      .filter(col("wn") === 24)
      .withColumn("dev24", col("c") * lit(24L) - col("s"))
      .withColumn("var576", col("ss") * lit(24L) - col("s") * col("s"))
      .select(col("event_type"), col("bucket"), col("c"),
        round(col("s").cast("double") / lit(24.0), 6).as("mean"),
        round(sqrt(col("var576").cast("double")) / lit(24.0), 6).as("sigma"),
        when(col("dev24") * col("dev24") > col("var576") * lit(4L), 1L)
          .otherwise(0L).as("outside"))
      .orderBy("event_type", "bucket")
  }

  // the band flag is an all-integer comparison; mean/σ display-only
  private def bollingerOracle: String =
    s"""WITH $hourlyCentsCte,
      |w AS (SELECT event_type, bucket, c,
      |        count(*) OVER fr AS wn,
      |        CAST(sum(c) OVER fr AS BIGINT) AS s,
      |        CAST(sum(c*c) OVER fr AS BIGINT) AS ss
      |      FROM h WINDOW fr AS (PARTITION BY event_type ORDER BY bucket
      |        ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
      |f AS (SELECT *, c * 24 - s AS dev24, ss * 24 - s * s AS var576
      |      FROM w WHERE wn = 24)
      |SELECT event_type, bucket, c,
      |  round(CAST(s AS DOUBLE) / 24.0, 6) AS mean,
      |  round(sqrt(CAST(var576 AS DOUBLE)) / 24.0, 6) AS sigma,
      |  CASE WHEN dev24 * dev24 > var576 * 4 THEN 1 ELSE 0 END AS outside
      |FROM f ORDER BY event_type, bucket""".stripMargin

  /** Rolling 24-bucket MEDIAN of the hourly cents series — the robust
    * twin of win_smooth's trailing mean (one outlier hour cannot drag a
    * median baseline). Exactness: the window holds integers, and both
    * engines define even-count medians as the midpoint of the two middle
    * values — (a+b)/2 over cents is exact in a double, no rounding
    * needed. Emitted only for full windows (wn = 24), the rolling_corr
    * convention. O(w log w) per row at w = 24 is flat; the partition-key
    * window distributes per stream like every win_* query.
    */
  private def q_win_rolling_median(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(-23, 0)
    hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
      .select(col("event_type"), col("bucket"),
        count(lit(1)).over(w).as("wn"),
        // percentile (NOT median): Spark's median rejects window frames;
        // percentile(·, 0.5) is frame-legal and interpolates identically
        percentile(col("c"), lit(0.5)).over(w).as("med"))
      .filter(col("wn") === 24)
      .select("event_type", "bucket", "med")
      .orderBy("event_type", "bucket")
  }

  // both engines define the even-count median as the midpoint of the
  // two middle INTEGER cents — exact in a double, no rounding
  private def rollingMedianOracle: String =
    s"""WITH $hourlyCentsCte,
      |r AS (SELECT event_type, bucket, count(*) OVER pk AS wn,
      |    median(c) OVER pk AS med
      |  FROM h
      |  WINDOW pk AS (PARTITION BY event_type ORDER BY bucket
      |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
      |SELECT event_type, bucket, med FROM r WHERE wn = 24
      |ORDER BY 1, 2""".stripMargin

  /** Hampel outlier filter over the hourly cents series — the rolling
    * robust anomaly detector (flag where |x − med| > 3·MAD over the
    * trailing 24-bucket window): one outlier cannot inflate its own
    * rejection threshold, unlike z-scores on a rolling mean/stddev.
    * ALL-INTEGER exactness: with w = 24 and integer cents, twice-median
    * m2 = s₍₁₂₎+s₍₁₃₎ and quadruple-MAD mad4 = sd₍₁₂₎+sd₍₁₃₎ (sd sorts
    * |2c−m2|, which is 2·|c−med| kept integral) are exact BIGINTs, and
    * the flag |c−med| > 3·MAD rearranges to the pure-integer comparison
    * 2·|2c−m2| > 3·mad4 — no float enters until the final /2.0 and /4.0
    * display columns (exact halves/quarters in a double). Per-row cost
    * is two w·log w sorts at w = 24 — flat; windows partition per
    * stream like every win_* query.
    */
  private def q_win_hampel(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(-23, 0)
    hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
      .select(col("event_type"), col("bucket"), col("c"),
        count(lit(1)).over(w).as("wn"),
        sort_array(collect_list(col("c")).over(w)).as("arr"))
      .filter(col("wn") === 24)
      .withColumn("m2", element_at(col("arr"), 12) + element_at(col("arr"), 13))
      .withColumn("sd", sort_array(transform(col("arr"),
        x => abs(x * lit(2L) - col("m2")))))
      .withColumn("mad4", element_at(col("sd"), 12) + element_at(col("sd"), 13))
      .select(col("event_type"), col("bucket"), col("c"),
        (col("m2") / 2.0).as("med"), (col("mad4") / 4.0).as("mad"),
        when(abs(col("c") * 2 - col("m2")) * 2 > col("mad4") * 3, 1L)
          .otherwise(0L).as("outlier"))
      .orderBy("event_type", "bucket")
  }

  // pure-integer Hampel: m2 = 2*median, mad4 = 4*MAD, flag
  // 2*|2c-m2| > 3*mad4 — no float until the display /2.0, /4.0
  private def hampelOracle: String =
    s"""WITH $hourlyCentsCte,
      |r AS (SELECT event_type, bucket, c, count(*) OVER pk AS wn,
      |    list_sort(list(c) OVER pk) AS arr
      |  FROM h
      |  WINDOW pk AS (PARTITION BY event_type ORDER BY bucket
      |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
      |f AS (SELECT event_type, bucket, c, arr,
      |    arr[12] + arr[13] AS m2 FROM r WHERE wn = 24),
      |g AS (SELECT event_type, bucket, c, m2,
      |    list_sort(list_transform(arr, x -> abs(x * 2 - m2))) AS sd
      |  FROM f),
      |m AS (SELECT event_type, bucket, c, m2,
      |    sd[12] + sd[13] AS mad4 FROM g)
      |SELECT event_type, bucket, c, m2 / 2.0 AS med, mad4 / 4.0 AS mad,
      |  CASE WHEN abs(c * 2 - m2) * 2 > mad4 * 3 THEN 1 ELSE 0 END
      |    AS outlier
      |FROM m ORDER BY 1, 2""".stripMargin

  /** Additive seasonal decomposition of the hourly per-type series:
    * 25-hour centered-MA trend (FULL windows only — the statsmodels
    * edge-null semantic), hour-of-day seasonal means, residual. This is
    * the FIXED-POINT twin of [[Timeseries.seasonalDecompose]] (the
    * library op keeps clean double semantics; TimeseriesSpec pins it):
    * the first cut of this query emitted round(avg, 6) floats and
    * hash-flipped on a single half-way rounding at sf0.1 (engine window
    * accumulation order), so like win_cusum/agg_metrics the query works
    * in exact integer micro-units end to end — hourly mean = truncated
    * integer division, detrended ×25, seasonal sums over integers — and
    * every output is ONE exact integer divided by the same small exact
    * doubles in both engines: bit-identical with NO rounding anywhere.
    */
  private def q_win_seasonal_decompose(s: SparkSession, dir: String): DataFrame =
    seasonalGrid(s, dir)
      .select(col("event_type"), col("bucket"),
        (col("v6").cast("double") / lit(1000000.0)).as("v"),
        (col("sum25").cast("double") / lit(25.0) / lit(1000000.0)).as("trend"),
        (col("s_sum").cast("double") / (lit(25.0) * col("cnt")) / lit(1000000.0))
          .as("seasonal"),
        ((col("cnt") * col("detr25") - col("s_sum")).cast("double")
          / (lit(25.0) * col("cnt")) / lit(1000000.0)).as("resid"))
      .orderBy("event_type", "bucket")

  private def seasonalDecomposeOracle: String =
    s"""WITH $seasonalGridCtes
      |SELECT event_type, bucket,
      |  CAST(v6 AS DOUBLE) / 1000000.0 AS v,
      |  CAST(sum25 AS DOUBLE) / 25.0 / 1000000.0 AS trend,
      |  CAST(s_sum AS DOUBLE) / (25.0 * cnt) / 1000000.0 AS seasonal,
      |  CAST(cnt * detr25 - s_sum AS DOUBLE) / (25.0 * cnt) / 1000000.0 AS resid
      |FROM g ORDER BY event_type, bucket""".stripMargin

  /** SEASONAL-RESIDUAL OUTLIERS — buckets whose decomposition residual
    * breaks 3σ of the stream's residual distribution (the "this hour
    * was anomalous EVEN ACCOUNTING for trend and seasonality" alert —
    * the level detectors' blind spot). ALL-INTEGER: the residual
    * quantizes through agg_seasonal_strength's offset-protected half-up
    * division, and the 3σ gate compares n²·rq² > 9·(n·Σrq² − (Σrq)²)
    * over exact BIGINTs (the win_bollinger never-touch-a-float
    * discipline; all products ≤ ~1e15 ≪ 2⁵³).
    */
  private def q_win_seasonal_outliers(s: SparkSession, dir: String): DataFrame = {
    val d = seasonalGrid(s, dir)
      .withColumn("rq", expr(
        "(((cnt * detr25 - s_sum) + cnt * 2500000000000) * 2 + 250000 * cnt)" +
          " div (500000 * cnt) - 10000000"))
    val st = d.groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).as("sn"), sum(col("rq")).as("sr"),
        sum(col("rq") * col("rq")).as("srr"))
    d.join(broadcast(st), col("event_type") === col("et"))
      .filter(col("sn") * col("sn") * col("rq") * col("rq") >
        lit(9L) * (col("sn") * col("srr") - col("sr") * col("sr")))
      .select(col("event_type"), col("bucket"),
        (col("rq").cast("double") / lit(100.0)).as("resid"))
      .orderBy("event_type", "bucket")
  }

  private def seasonalOutliersOracle: String =
    s"""WITH $seasonalGridCtes,
      |q AS (SELECT event_type, bucket,
      |    (((cnt * detr25 - s_sum) + cnt * 2500000000000) * 2
      |       + 250000 * cnt) // (500000 * cnt) - 10000000 AS rq
      |  FROM g),
      |st AS (SELECT event_type AS et, count(*) AS n,
      |    CAST(sum(rq) AS BIGINT) AS sr,
      |    CAST(sum(rq * rq) AS BIGINT) AS srr
      |  FROM q GROUP BY 1)
      |SELECT event_type, bucket, CAST(rq AS DOUBLE) / 100.0 AS resid
      |FROM q JOIN st ON event_type = et
      |WHERE n * n * rq * rq > 9 * (n * srr - sr * sr)
      |ORDER BY 1, 2""".stripMargin

  /** Running MAXIMUM DRAWDOWN per stream — the finance/SRE classic
    * ("how far below its best has this series fallen"): running max and
    * drawdown = runmax − value over the hourly integer-cents series.
    * ALL-INTEGER (exact cents, no floats anywhere), one per-stream
    * window shuffle — never global.
    */
  private def q_win_drawdown(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
      .withColumn("runmax", max(col("c")).over(w))
      .select(col("event_type"), col("bucket"), col("c"), col("runmax"),
        (col("runmax") - col("c")).as("drawdown"))
      .orderBy("event_type", "bucket")
  }

  private def drawdownOracle: String =
    s"""WITH $hourlyCentsCte,
      |r AS (SELECT event_type, bucket, c,
      |    max(c) OVER (PARTITION BY event_type ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
      |  FROM h)
      |SELECT event_type, bucket, c, runmax, runmax - c AS drawdown
      |FROM r ORDER BY 1, 2""".stripMargin

  /** PEAK detection per stream — strict local maxima over the hourly
    * cents series with a minimum PROMINENCE over the trailing/leading
    * 6-bucket neighborhood (c must exceed both immediate neighbors AND
    * clear the neighborhood minimum by ≥ 500 cents) — the alerting
    * primitive behind "spike at 14:00" dashboards. ALL-INTEGER: lag/
    * lead/min windows over exact cents, no floats anywhere; one
    * per-stream window shuffle shared by every frame.
    */
  private def q_win_peaks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("bucket")
    val nb = w.rowsBetween(-6, 6)
    hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
      .withColumn("prev", lag(col("c"), 1).over(w))
      .withColumn("nxt", lead(col("c"), 1).over(w))
      .withColumn("nbmin", min(col("c")).over(nb))
      .filter(col("prev").isNotNull && col("nxt").isNotNull)
      .filter(col("c") > col("prev") && col("c") > col("nxt") &&
        col("c") - col("nbmin") >= 500)
      .select(col("event_type"), col("bucket"), col("c"),
        (col("c") - col("nbmin")).as("prominence"))
      .orderBy("event_type", "bucket")
  }

  private def peaksOracle: String =
    s"""WITH $hourlyCentsCte,
      |l AS (SELECT event_type, bucket, c,
      |    lag(c) OVER w AS prev, lead(c) OVER w AS nxt,
      |    min(c) OVER (PARTITION BY event_type ORDER BY bucket
      |      ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS nbmin
      |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY bucket))
      |SELECT event_type, bucket, c, c - nbmin AS prominence
      |FROM l WHERE prev IS NOT NULL AND nxt IS NOT NULL
      |  AND c > prev AND c > nxt AND c - nbmin >= 500
      |ORDER BY 1, 2""".stripMargin

  /** PERCENT-RANK transform per stream — the rank-normalization
    * feature-engineering staple (maps any value distribution to [0,1]
    * uniformly, robust to outliers where min-max scaling is not): SQL
    * `percent_rank` over the stream-keyed order on exact cents.
    * Tie-safe by construction: tied values share a rank, so the output
    * is independent of within-tie order (no id tie-break needed —
    * unlike row_number transforms). One keyed window; round(6) because
    * (rank−1)/(n−1) is one division — identical, but defensive.
    */
  private def q_win_percent_rank(s: SparkSession, dir: String): DataFrame = {
    E(s, dir).filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), valueCents.as("c"))
      .withColumn("pr", round(percent_rank().over(
        Window.partitionBy("event_type").orderBy("c")), 6))
      .orderBy("event_id")
  }

  private def percentRankOracle: String =
    s"""WITH e AS (SELECT event_id, event_type,
      |    ($valueCentsSql) AS c
      |  FROM events WHERE value IS NOT NULL)
      |SELECT event_id, event_type, c,
      |  round(percent_rank() OVER (PARTITION BY event_type ORDER BY c), 6)
      |    AS pr
      |FROM e ORDER BY event_id""".stripMargin

  /** RSI-14 per stream (Wilder's relative strength index, simple-average
    * form over the hourly cents series): gains/losses are exact integer
    * lag differences, trailing-14 sums exact BIGINTs (full windows
    * only), and RSI = 100·SG/(SG+SL) needs ONE mirrored IEEE division —
    * the flat-window case (SG=SL=0) nulls out via nullif, matching
    * DuckDB's x/0. One per-stream window shuffle shared by the lag and
    * both sums.
    */
  private def q_win_rsi(s: SparkSession, dir: String): DataFrame = {
    val lagW = Window.partitionBy("event_type").orderBy("bucket")
    val sumW = lagW.rowsBetween(-13, 0)
    hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
      .withColumn("prev", lag(col("c"), 1).over(lagW))
      .filter(col("prev").isNotNull)
      .withColumn("gain", greatest(col("c") - col("prev"), lit(0L)))
      .withColumn("loss", greatest(col("prev") - col("c"), lit(0L)))
      .withColumn("wn", count(lit(1)).over(sumW))
      .withColumn("sg", sum(col("gain")).over(sumW))
      .withColumn("sl", sum(col("loss")).over(sumW))
      .filter(col("wn") === 14)
      .select(col("event_type"), col("bucket"),
        round(lit(100.0) * col("sg").cast("double")
          / nullif((col("sg") + col("sl")).cast("double"), lit(0.0)), 6)
          .as("rsi"))
      .orderBy("event_type", "bucket")
  }

  private def rsiOracle: String =
    s"""WITH $hourlyCentsCte,
      |l AS (SELECT event_type, bucket, c,
      |    lag(c) OVER (PARTITION BY event_type ORDER BY bucket) AS prev
      |  FROM h),
      |d AS (SELECT event_type, bucket,
      |    greatest(c - prev, 0) AS gain, greatest(prev - c, 0) AS loss
      |  FROM l WHERE prev IS NOT NULL),
      |w AS (SELECT event_type, bucket, count(*) OVER ww AS wn,
      |    sum(gain) OVER ww AS sg, sum(loss) OVER ww AS sl
      |  FROM d WINDOW ww AS (PARTITION BY event_type ORDER BY bucket
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT event_type, bucket,
      |  round(100.0 * CAST(sg AS DOUBLE)
      |    / NULLIF(CAST(sg + sl AS DOUBLE), 0), 6) AS rsi
      |FROM w WHERE wn = 14 ORDER BY 1, 2""".stripMargin

  /** LOG RETURNS per stream — ln(c_t) − ln(c_{t−1}) over hourly cents
    * (the additive, symmetric change measure of quantitative series
    * analysis): each ln is over an exact positive integer (the portable-
    * ln discipline), the difference is one mirrored IEEE op. Pure lag
    * window, one per-stream shuffle.
    */
  private def q_win_log_return(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("bucket")
    hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
      .filter(col("c") > 0)
      .withColumn("prev", lag(col("c"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), col("bucket"), col("c"),
        round(log(col("c").cast("double")) - log(col("prev").cast("double")), 6)
          .as("log_return"))
      .orderBy("event_type", "bucket")
  }

  private def logReturnOracle: String =
    s"""WITH $hourlyCentsCte,
      |p AS (SELECT event_type, bucket, c,
      |    lag(c) OVER (PARTITION BY event_type ORDER BY bucket) AS prev
      |  FROM h WHERE c > 0)
      |SELECT event_type, bucket, c,
      |  round(ln(CAST(c AS DOUBLE)) - ln(CAST(prev AS DOUBLE)), 6)
      |    AS log_return
      |FROM p WHERE prev IS NOT NULL ORDER BY 1, 2""".stripMargin

  /** ROLLING pairwise correlation — correlation-STRUCTURE drift between
    * streams (the pairs-trading / co-moving-sensors primitive): Pearson r
    * over the trailing 24 aligned hourly buckets for every stream pair,
    * emitted per bucket once the window is full. Same exactness
    * discipline as agg_corr_matrix (integer cents, exact window sums,
    * one verbatim-mirrored IEEE combination — unrounded bit-exact) and
    * the win_autocorr plan shape: all six sufficient sums share ONE
    * (pair, bucket) window spec, partitioned by pair — never a global
    * window.
    */
  private def q_win_rolling_corr(s: SparkSession, dir: String): DataFrame = {
    // bounded frame (hourly buckets × |types| cents columns) referenced
    // by all 10 per-pair legs — materialize ONCE (round 14): each leg
    // replayed the events scan + two aggregations through the union
    val wide = hourlyCentsWide(s, dir).localCheckpoint()
    val long = corrPairs.map { case (a, b) =>
      wide.filter(col(s"c_$a").isNotNull && col(s"c_$b").isNotNull)
        .select(lit(s"${a}_$b").as("pair"), col("bucket"),
          col(s"c_$a").as("ca"), col(s"c_$b").as("cb"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy("pair").orderBy("bucket").rowsBetween(-23, 0)
    long
      .withColumn("wn", count(lit(1)).over(w))
      .withColumn("sa", sum(col("ca")).over(w))
      .withColumn("sb", sum(col("cb")).over(w))
      .withColumn("saa", sum(col("ca") * col("ca")).over(w))
      .withColumn("sbb", sum(col("cb") * col("cb")).over(w))
      .withColumn("sab", sum(col("ca") * col("cb")).over(w))
      .filter(col("wn") === 24)
      .select(col("pair"), col("bucket"),
        ((col("wn") * col("sab") - col("sa") * col("sb")).cast("double") /
          nullif(sqrt((col("wn") * col("saa") - col("sa") * col("sa")).cast("double"))
            * sqrt((col("wn") * col("sbb") - col("sb") * col("sb")).cast("double")),
            lit(0.0))).as("r"))
      .orderBy("pair", "bucket")
  }

  /** Rolling-correlation oracle (mirrors q_win_rolling_corr): the same
    * cents/wide CTEs, a per-pair long unpivot, one windowed pass for all
    * six sufficient sums, the identical IEEE combination. Generated over
    * the same pair list as the Spark side.
    */
  private def rollingCorrOracle: String = {
    val wideCols = corrTypes.map(t =>
      s"max(CASE WHEN event_type = '$t' THEN c END) AS c_$t").mkString(",\n|    ")
    val unpivot = corrPairs.map { case (a, b) =>
      s"""SELECT '${a}_$b' AS pair, bucket, c_$a AS ca, c_$b AS cb
         |FROM wide WHERE c_$a IS NOT NULL AND c_$b IS NOT NULL"""
    }.mkString("\n|UNION ALL\n|")
    s"""WITH $hourlyCentsCte,
       |wide AS (
       |  SELECT bucket,
       |    $wideCols
       |  FROM h GROUP BY 1),
       |long AS (
       |$unpivot
       |),
       |roll AS (
       |  SELECT pair, bucket,
       |    count(*) OVER pk AS wn, sum(ca) OVER pk AS sa, sum(cb) OVER pk AS sb,
       |    sum(ca * ca) OVER pk AS saa, sum(cb * cb) OVER pk AS sbb,
       |    sum(ca * cb) OVER pk AS sab
       |  FROM long
       |  WINDOW pk AS (PARTITION BY pair ORDER BY bucket
       |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
       |SELECT pair, bucket,
       |  CAST(wn * sab - sa * sb AS DOUBLE)
       |    / NULLIF(sqrt(CAST(wn * saa - sa * sa AS DOUBLE))
       |       * sqrt(CAST(wn * sbb - sb * sb AS DOUBLE)), 0) AS r
       |FROM roll WHERE wn = 24 ORDER BY 1, 2""".stripMargin
  }

  /** Per-stream winsorization at [p05, p95] — the robust-stats
    * pre-clamp before scaler fits. Exact interpolated percentiles per
    * key (2 values/key: model-sized), broadcast back, pure column
    * clamp: one shuffle for the percentiles, zero for the clamp.
    */
  private def q_win_winsorize(s: SparkSession, dir: String): DataFrame = {
    val ev = E(s, dir).filter(col("value").isNotNull)
    val pct = ev.groupBy("event_type").agg(
      percentile(col("value"), lit(0.05)).as("p05"),
      percentile(col("value"), lit(0.95)).as("p95"))
    ev.join(broadcast(pct), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        round(least(greatest(col("value"), col("p05")), col("p95")), 6)
          .as("value_w"))
      .orderBy("event_id")
  }

  private def winsorizeOracle: String =
    """WITH p AS (SELECT event_type,
      |    quantile_cont(value, 0.05) AS p05,
      |    quantile_cont(value, 0.95) AS p95
      |  FROM events WHERE value IS NOT NULL GROUP BY 1)
      |SELECT e.event_id, e.event_type, e.value,
      |  round(least(greatest(e.value, p.p05), p.p95), 6) AS value_w
      |FROM events e JOIN p USING (event_type)
      |WHERE e.value IS NOT NULL ORDER BY e.event_id""".stripMargin

  /** MACD on the hourly cents series — the two-constant EMA composition
    * (fast 12, slow 26, the Appel trading defaults) over win_ewma's
    * exact-fold machinery: per-key sorted array, one engine-internal
    * fold per constant, zero window exchanges. The fold replays
    * IDENTICALLY in the oracle's list_reduce, so even the recurrence is
    * hash-checked.
    */
  private def q_win_macd(s: SparkSession, dir: String): DataFrame = {
    val h = hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
    val xs = col("xs")
    def ema(alpha: Double): Column =
      aggregate(expr("slice(xs, 2, size(xs) - 1)"),
        element_at(xs, 1).getField("c").cast("double"),
        (acc, x) => acc + lit(alpha) * (x.getField("c").cast("double") - acc))
    h.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("bucket"), col("c")))).as("xs"))
      .select(col("event_type"), size(xs).cast("long").as("n"),
        ema(2.0 / 13.0).as("ef"), ema(2.0 / 27.0).as("es"))
      .select(col("event_type"), col("n"),
        round(col("ef"), 6).as("ema_fast"), round(col("es"), 6).as("ema_slow"),
        round(col("ef") - col("es"), 6).as("macd"))
      .orderBy("event_type")
  }

  private def macdOracle: String =
    s"""WITH $hourlyCentsCte,
      |l AS (SELECT event_type,
      |    list_transform(list(c ORDER BY bucket),
      |      x -> CAST(x AS DOUBLE)) AS xs
      |  FROM h GROUP BY 1),
      |e AS (SELECT event_type, len(xs) AS n,
      |    list_reduce(xs, (acc, x) -> acc + (2.0 / 13.0) * (x - acc)) AS ef,
      |    list_reduce(xs, (acc, x) -> acc + (2.0 / 27.0) * (x - acc)) AS es
      |  FROM l)
      |SELECT event_type, n, round(ef, 6) AS ema_fast, round(es, 6) AS ema_slow,
      |  round(ef - es, 6) AS macd
      |FROM e ORDER BY event_type""".stripMargin
}
