package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift detection between two cohorts of the same metric —
  * the monitoring primitive behind "has this sensor/feature/corpus
  * shifted since the model was trained?" (the reference's model-watchman
  * concern re-expressed as data math; a training-data pipeline runs the
  * same test between crawl snapshots before retraining).
  *
  * Both statistics are computed on a FIXED-WIDTH BINNED histogram, not the
  * raw sample:
  *   - exact KS needs a full sort of both samples; at 100 TB that is a
  *     total order over the corpus. 100 equi-width bins give a KS estimate
  *     with bin-width resolution via ONE groupBy — the classic
  *     streaming/OLAP trade, and the error is bounded by the max density
  *     within a bin.
  *   - PSI is DEFINED on binned data (the industry form: 10–100 bins).
  *
  * One aggregation computes both cohorts' histograms simultaneously
  * (conditional count, no second scan); cumulative fractions are integer
  * cumsums over bin counts divided as doubles — exact and engine-portable,
  * so the whole statistic is oracle-checkable to 6 decimals.
  */
object Drift {

  /** Finite-value gate shared by every histogram path: one NaN in a key
    * makes the bin width NaN and ANSI mode turns `floor(NaN).cast(long)`
    * into a job-killing exception; one ±Inf collapses every finite value
    * into an end bin (width = Inf) — silent "no drift". Non-finite
    * readings are excluded from the distribution, like NULLs.
    */
  private def finite(v: Column): Column =
    v.isNotNull && !isnan(v) &&
      v > Double.NegativeInfinity && v < Double.PositiveInfinity

  /** Per-key binned histogram of `valueCol` split into cohorts A/B by
    * `isA`: one row per (key, bin) with both cohorts' counts. Bin ranges
    * are the PER-KEY [min, max] — computed in the same scan's sibling
    * aggregate and re-joined (broadcast: |keys| rows).
    */
  private def binned(df: DataFrame, keyCol: String, valueCol: String,
      isA: Column, bins: Int): DataFrame = {
    val v = col(valueCol)
    val ranged = df.filter(finite(v))
      .join(broadcast(
        df.filter(finite(v)).groupBy(keyCol)
          .agg(min(v).as("__mn"), max(v).as("__mx"))),
        Seq(keyCol))
    ranged
      // constant-valued key (mn == mx): everything in bin 0, not NULL via
      // 0/0 — NULL bins would sort differently across engines.
      .withColumn("__bin",
        when(col("__mx") === col("__mn"), lit(0L))
          .otherwise(least(
            floor((v - col("__mn")) / ((col("__mx") - col("__mn")) / bins))
              .cast("long"), lit(bins - 1L))))
      .withColumn("__isa", isA)
      .groupBy(col(keyCol), col("__bin"))
      .agg(count(when(col("__isa"), 1)).as("__na"),
        count(when(!col("__isa"), 1)).as("__nb"))
  }

  /** KS epilogue over a joint histogram `(key, __bin, __na, __nb)`:
    * integer cumsums → ECDF fractions → max gap. Shared by the one-scan
    * batch form and the streaming reference-vs-live form.
    */
  def ksOfCounts(h: DataFrame, keyCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy("__bin")
    val tot = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
    // nullif on the totals: an EMPTY cohort yields a NULL ks (undefined —
    // a silent 0.0 would read as "no drift"), matching DuckDB's x/0 →
    // NULL; under Spark's default ANSI mode a bare division would THROW.
    h.withColumn("__fa", sum(col("__na")).over(w).cast("double")
        / nullif(sum(col("__na")).over(tot), lit(0L)))
      .withColumn("__fb", sum(col("__nb")).over(w).cast("double")
        / nullif(sum(col("__nb")).over(tot), lit(0L)))
      .groupBy(keyCol)
      .agg(round(max(abs(col("__fa") - col("__fb"))), 6).as("ks"))
  }

  /** Two-sample KS statistic per key (binned): max over bins of
    * |ECDF_A − ECDF_B|. Output: (key, ks). */
  def ksStatistic(df: DataFrame, keyCol: String, valueCol: String,
      isA: Column, bins: Int = 100): DataFrame =
    ksOfCounts(binned(df, keyCol, valueCol, isA, bins), keyCol)

  /** Per-key bin ranges of a REFERENCE cohort — the frozen-at-train-time
    * bin edges a production monitor scores live data against (the
    * combined-range form above rebins on every evaluation; frozen edges
    * are what makes the statistic comparable across days and what a
    * stream, which cannot rescan history, requires). Output:
    * `(key, __mn, __mx)`.
    */
  def referenceRanges(ref: DataFrame, keyCol: String, valueCol: String): DataFrame =
    ref.filter(finite(col(valueCol)))
      .groupBy(keyCol)
      .agg(min(col(valueCol)).as("__mn"), max(col(valueCol)).as("__mx"))

  /** Bin assignment against frozen reference edges: out-of-range live
    * values clamp into the end bins (the standard monitoring treatment —
    * mass beyond the training range piles up visibly at the edges).
    * Streaming-legal: pure column math after a broadcast range join.
    */
  def binAgainst(df: DataFrame, keyCol: String, valueCol: String,
      ranges: DataFrame, bins: Int = 100): DataFrame = {
    val v = col(valueCol)
    // clamp in DOUBLE space BEFORE the long cast: a live spike far beyond
    // the frozen reference range produces a floor() result past
    // Long.MaxValue, and the ANSI cast would throw instead of clamping
    // into the end bin — the exact out-of-range case this function
    // advertises it handles.
    df.filter(finite(v))
      .join(broadcast(ranges), Seq(keyCol))
      .withColumn("__bin",
        when(col("__mx") === col("__mn"), lit(0L))
          .otherwise(greatest(least(
            floor((v - col("__mn")) / ((col("__mx") - col("__mn")) / bins)),
            lit((bins - 1).toDouble)), lit(0.0)).cast("long")))
  }

  /** Population Stability Index per key (binned, 0.5-count smoothing so an
    * empty bin cannot produce ±∞): Σ (pa − pb)·ln(pa/pb). The standard
    * alert bands apply (<0.1 stable, 0.1–0.25 drifting, >0.25 shifted).
    * Output: (key, psi).
    */
  def psi(df: DataFrame, keyCol: String, valueCol: String,
      isA: Column, bins: Int = 100): DataFrame = {
    val h = binned(df, keyCol, valueCol, isA, bins)
    val tot = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
    val pa = (col("__na") + lit(0.5)) /
      (sum(col("__na")).over(tot) + lit(0.5) * count(lit(1)).over(tot))
    val pb = (col("__nb") + lit(0.5)) /
      (sum(col("__nb")).over(tot) + lit(0.5) * count(lit(1)).over(tot))
    h.withColumn("__term", (pa - pb) * log(pa / pb))
      .groupBy(keyCol)
      .agg(round(sum(col("__term")), 6).as("psi"))
  }
}
