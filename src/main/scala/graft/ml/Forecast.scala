package graft.ml

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TRAINABLE one-step-ahead forecaster over lookback sequences — the
  * `model/models.py::KerasLSTMForecast` analogue (public repo; mount empty,
  * SURVEY.md §0) as a vector-autoregressive linear model:
  *
  *   ŷ_tag[t] = b_tag + w_tag · flatten(X[t−lb … t−1])
  *
  * `Sequences.forecastTarget` provides the exact Keras tensor layout
  * (X strictly before y — no target leakage); one MLlib linear regression
  * per target tag, solved with the exact normal-equations solver
  * (deterministic, no SGD seed sensitivity). A linear AR model is the
  * honest Spark-native stand-in for the LSTM: same data contract, same
  * anomaly semantics — round 1 shipped the tensor layout with nothing
  * training on it.
  *
  * Scale design: fitting aggregates through MLlib's distributed least
  * squares (one pass per target over the sequence frame); SCORING is pure
  * column math over coefficient LITERALS — like `Similarity.IvfModel`, no
  * MLlib object at serve time, whole-stage codegen end to end.
  */
object Forecast {

  final case class ForecastModel(lb: Int, featureCols: Seq[String],
      coefs: Seq[(String, Seq[Double], Double)]) {

    /** ŷ for one target tag from the flattened lookback features. */
    def predictExpr(flatX: Column, target: String): Column = {
      val (_, w, b) = coefs.find(_._1 == target).getOrElse(
        throw new IllegalArgumentException(s"no fitted model for tag '$target'"))
      graft.ops.Similarity.dot(flatX.cast("array<double>"), typedLit(w)) + lit(b)
    }

    /** Score a frame: every full-window row gains `<tag>_hat` and
      * `<tag>_anomaly` = |y − ŷ| per target (the diff-detector contract).
      */
    def forecast(frame: DataFrame, orderCol: String, partitionBy: Seq[String]): DataFrame = {
      val seqs = Sequences.forecastTarget(frame, featureCols, lb, orderCol, partitionBy)
        .withColumn("__x", flatten(col("x_sequence")))
      val scored = featureCols.zipWithIndex.foldLeft(seqs) { case (d, (t, j)) =>
        d.withColumn(s"${t}_hat", predictExpr(col("__x"), t))
          .withColumn(s"${t}_anomaly",
            graft.ops.AnomalyMath.tagAnomaly(element_at(col("y"), j + 1), col(s"${t}_hat")))
      }
      scored.drop("x_sequence", "y", "__x")
    }
  }

  /** Fit one AR model per feature column (targets = features, the
    * multi-output forecast shape). `regParam` keeps the normal solver
    * well-posed on collinear lags.
    */
  def fit(frame: DataFrame, featureCols: Seq[String], lb: Int,
      orderCol: String, partitionBy: Seq[String],
      regParam: Double = 1e-6): ForecastModel = {
    val seqs = Sequences.forecastTarget(frame, featureCols, lb, orderCol, partitionBy)
      .withColumn("__features", array_to_vector(flatten(col("x_sequence")).cast("array<double>")))
    val models = featureCols.zipWithIndex.map { case (t, j) =>
      val train = seqs
        .select(col("__features").as("features"), element_at(col("y"), j + 1).as("label"))
        .na.drop()
      val lr = new LinearRegression().setSolver("normal").setRegParam(regParam)
      val m = lr.fit(train)
      (t, m.coefficients.toArray.toSeq, m.intercept)
    }
    ForecastModel(lb, featureCols, models)
  }

  /** Per-key univariate AR models over a keyed LONG frame — the fleet
    * shape (one model per machine/tag, like the reference's per-machine
    * builds). The sequence frame is built ONCE for all keys (one keyed
    * window pass, cached across the per-key fits); scoring is a single
    * pass with the key's coefficients selected by a CASE over key
    * literals. The per-key fit loop is driver-sequenced like
    * `WorkflowGenerator.buildFleet` — each fit is a distributed MLlib job.
    */
  final case class KeyedForecastModel(lb: Int, keyCol: String, valueCol: String,
      coefs: Seq[(String, Seq[Double], Double)]) {

    def forecast(frame: DataFrame, orderCol: String): DataFrame = {
      val seqs = Sequences.forecastTarget(frame, Seq(valueCol), lb, orderCol, Seq(keyCol))
        .withColumn("__x", flatten(col("x_sequence")))
      val pred = coefs.foldLeft(lit(null).cast("double")) { case (acc, (k, w, b)) =>
        when(col(keyCol) === k,
          graft.ops.Similarity.dot(col("__x").cast("array<double>"), typedLit(w)) + lit(b))
          .otherwise(acc)
      }
      seqs.withColumn(s"${valueCol}_hat", pred)
        .withColumn(s"${valueCol}_anomaly",
          graft.ops.AnomalyMath.tagAnomaly(element_at(col("y"), 1), col(s"${valueCol}_hat")))
        .drop("x_sequence", "y", "__x")
    }

    /** Persistable coefficient table (one row per key + model params). */
    def toDF(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      coefs.toDF("tag", "w", "b")
        .withColumn("lb", lit(lb))
        .withColumn("key_col", lit(keyCol))
        .withColumn("value_col", lit(valueCol))
    }
  }

  object KeyedForecastModel {
    /** Rehydrate from a persisted coefficient frame. */
    def fromDF(df: DataFrame): KeyedForecastModel = {
      val rows = df.select("tag", "w", "b", "lb", "key_col", "value_col").collect()
      require(rows.nonEmpty, "empty forecast model frame")
      val h = rows.head
      KeyedForecastModel(h.getAs[Int]("lb"), h.getAs[String]("key_col"),
        h.getAs[String]("value_col"),
        rows.toSeq.map(r => (r.getString(0), r.getSeq[Double](1), r.getDouble(2)))
          .sortBy(_._1))
    }
  }

  /** One row of per-key normal-equation sums → that key's (w, b). Shared
    * by the driver-side and distributed fit paths, so both produce
    * bit-identical coefficients from the same aggregated row.
    */
  private def solveSumRow(r: org.apache.spark.sql.Row, lb: Int,
      regParam: Double): (Seq[Double], Double) = {
    val d = lb + 1
    val m = Array.ofDim[Double](d, d)
    val v = new Array[Double](d)
    for (i <- 0 until lb; j <- i until lb) {
      val s = r.getAs[Double](s"m_${i}_$j"); m(i)(j) = s; m(j)(i) = s
    }
    for (i <- 0 until lb) {
      m(i)(lb) = r.getAs[Double](s"sx_$i"); m(lb)(i) = m(i)(lb)
      v(i) = r.getAs[Double](s"sxy_$i")
      m(i)(i) += regParam // ridge on the lag terms, not the intercept
    }
    m(lb)(lb) = r.getAs[Double]("n")
    v(lb) = r.getAs[Double]("sy")
    val w = solve(m, v)
    (w.take(lb).toSeq, w(lb))
  }

  /** Per-key normal-equation sums: ONE groupBy(key) aggregation computes
    * every machine's XᵀX and Xᵀy simultaneously — the whole fleet trains
    * in one shuffle (MLlib would schedule one fit job per machine:
    * gordo's N-pod problem re-created inside Spark).
    */
  private def perKeySums(frame: DataFrame, keyCol: String, valueCol: String,
      lb: Int, orderCol: String): DataFrame = {
    val seqs = Sequences.forecastTarget(frame, Seq(valueCol), lb, orderCol, Seq(keyCol))
      .select(col(keyCol).as("__k"),
        flatten(col("x_sequence")).cast("array<double>").as("__x"),
        element_at(col("y"), 1).as("__y"))
      .na.drop()
      // na.drop only catches a NULL array; a gap-null ELEMENT (what
      // densify produces) would silently skip some moment sums while
      // count still counts the row — an inconsistent XᵀX. Drop the row.
      .filter(!exists(col("__x"), x => x.isNull))
    def x(i: Int) = element_at(col("__x"), i + 1)
    val aggs =
      (for (i <- 0 until lb; j <- i until lb) yield sum(x(i) * x(j)).as(s"m_${i}_$j")) ++
        (0 until lb).map(i => sum(x(i)).as(s"sx_$i")) ++
        (0 until lb).map(i => sum(x(i) * col("__y")).as(s"sxy_$i")) ++
        Seq(sum(col("__y")).as("sy"), count(lit(1)).cast("double").as("n"))
    seqs.groupBy("__k").agg(aggs.head, aggs.tail: _*)
  }

  def fitPerKey(frame: DataFrame, keyCol: String, valueCol: String, lb: Int,
      orderCol: String, regParam: Double = 1e-6): KeyedForecastModel = {
    // Driver-side solve: O(machines) scalar rows pulled back, same class
    // as ModelBuilder's fold metadata. Sized for fleets of thousands of
    // machines (gordo's reality); at MILLIONS of keys use
    // `fitPerKeyDistributed`, which never collects.
    val models = perKeySums(frame, keyCol, valueCol, lb, orderCol)
      .collect().toSeq
      .map(r => { val (w, b) = solveSumRow(r, lb, regParam); (r.getString(0), w, b) })
      .sortBy(_._1)
    KeyedForecastModel(lb, keyCol, valueCol, models)
  }

  /** Millions-of-keys fork: the SAME one-shuffle sufficient-sum
    * aggregation, but each key's (lb+1)×(lb+1) solve runs on the
    * EXECUTORS (a map over the one-row-per-key aggregate) and the result
    * stays distributed as a coefficient table `(tag, w array<double>,
    * b)`. Nothing is proportional to key count on the driver. Score with
    * [[forecastJoined]], which joins coefficients by key instead of
    * compiling CASE literals (a million-branch CASE would break codegen).
    * Coefficients are bit-identical to `fitPerKey`'s: same sums, same
    * solver, IEEE-deterministic either side of the shuffle.
    */
  def fitPerKeyDistributed(frame: DataFrame, keyCol: String, valueCol: String,
      lb: Int, orderCol: String, regParam: Double = 1e-6): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    perKeySums(frame, keyCol, valueCol, lb, orderCol)
      .map { r =>
        val (w, b) = solveSumRow(r, lb, regParam)
        (r.getString(0), w, b)
      }.toDF("tag", "w", "b")
      .withColumn("lb", lit(lb))
      .withColumn("key_col", lit(keyCol))
      .withColumn("value_col", lit(valueCol))
  }

  /** Score a keyed frame against a distributed coefficient table: join on
    * the key (AQE picks broadcast vs shuffle by coefficient-table size —
    * do NOT force broadcast, at 1M keys the table is ~100 MB), then
    * ŷ = w·x + b as array-column math. Output shape matches
    * `KeyedForecastModel.forecast` exactly.
    */
  def forecastJoined(frame: DataFrame, coefs: DataFrame, keyCol: String,
      valueCol: String, lb: Int, orderCol: String): DataFrame = {
    val seqs = Sequences.forecastTarget(frame, Seq(valueCol), lb, orderCol, Seq(keyCol))
      .withColumn("__x", flatten(col("x_sequence")).cast("array<double>"))
    seqs.join(coefs.select(col("tag").as(keyCol), col("w").as("__w"), col("b").as("__b")),
        Seq(keyCol), "left")
      .withColumn(s"${valueCol}_hat",
        graft.ops.Similarity.dot(col("__x"), col("__w")) + col("__b"))
      .withColumn(s"${valueCol}_anomaly",
        graft.ops.AnomalyMath.tagAnomaly(element_at(col("y"), 1), col(s"${valueCol}_hat")))
      .drop("x_sequence", "y", "__x", "__w", "__b")
  }

  /** NONLINEAR sequence forecaster — closes the gap between the linear AR
    * model above and the reference's `KerasLSTMForecast`: a random tanh
    * layer over the flattened lookback window with a ridge-trained output
    * layer (same construction as [[AutoEncoder]], same one-shuffle fit
    * via [[RandomFeatures.ridgeBeta]]). Captures nonlinear dynamics a
    * linear AR cannot (spec'd on the logistic map, where linear AR is
    * structurally unable to fit v·(1−v)). Scoring is coefficient-literal
    * column math: standardize lags → h tanh features → ŷ per target.
    */
  final case class NlForecastModel(lb: Int, featureCols: Seq[String], hidden: Int,
      means: Array[Double], stds: Array[Double], // per feature column
      w: Array[Array[Double]], b: Array[Double], // h×(lb·d), h
      beta: Array[Array[Double]]) { // (h+1)×d

    private def d = featureCols.length

    /** Project standardized-lag then hidden columns — each layer
      * MATERIALIZED before the next references it (the N-references
      * re-evaluation trap). Shared by scoring and the training pass.
      */
    private[ml] def withLayers(seqs: DataFrame): DataFrame = {
      val xs = seqs.select(col("*") +: (0 until lb * d).map { p =>
        ((element_at(col("__x"), p + 1) - lit(means(p % d))) / lit(stds(p % d)))
          .as(s"__xs$p")
      }: _*)
      xs.select(col("*") +: (0 until hidden).map { i =>
        tanh((0 until lb * d).map(p => col(s"__xs$p") * lit(w(i)(p))).reduce(_ + _)
          + lit(b(i))).as(s"__z$i")
      }: _*)
    }

    def forecast(frame: DataFrame, orderCol: String, partitionBy: Seq[String]): DataFrame = {
      val seqs = Sequences.forecastTarget(frame, featureCols, lb, orderCol, partitionBy)
        .withColumn("__x", flatten(col("x_sequence")).cast("array<double>"))
      val layered = withLayers(seqs)
      val scored = featureCols.zipWithIndex.foldLeft(layered) { case (df, (t, j)) =>
        df.withColumn(s"${t}_hat",
            (0 until hidden).map(i => col(s"__z$i") * lit(beta(i)(j))).reduce(_ + _)
              + lit(beta(hidden)(j)))
          .withColumn(s"${t}_anomaly",
            graft.ops.AnomalyMath.tagAnomaly(element_at(col("y"), j + 1), col(s"${t}_hat")))
      }
      val scratch = (0 until lb * d).map(p => s"__xs$p") ++
        (0 until hidden).map(i => s"__z$i")
      scored.drop(("x_sequence" +: "y" +: "__x" +: scratch): _*)
    }
  }

  def fitNonlinear(frame: DataFrame, featureCols: Seq[String], lb: Int,
      orderCol: String, partitionBy: Seq[String], hidden: Int = 32,
      ridge: Double = 1e-3, seed: Long = 42L): NlForecastModel = {
    val d = featureCols.length
    // per-feature standardization stats from the source frame (stationary
    // series ⇒ per-lag-position stats equal per-feature stats, so d
    // numbers cover all lb·d positions)
    val (means, stds) =
      RandomFeatures.standardStats(frame.na.drop("any", featureCols), featureCols)

    val flat = RandomFeatures.randn(seed, hidden * lb * d)
    val w = Array.tabulate(hidden, lb * d)((i, p) =>
      flat(i * lb * d + p) / math.sqrt((lb * d).toDouble))
    val b = RandomFeatures.randn(seed + 1, hidden).map(_ * 0.5)

    val prelim = NlForecastModel(lb, featureCols, hidden, means, stds, w, b,
      Array.ofDim[Double](hidden + 1, d))
    val seqs = Sequences.forecastTarget(frame, featureCols, lb, orderCol, partitionBy)
      .withColumn("__x", flatten(col("x_sequence")).cast("array<double>"))
      .filter(!exists(col("__x"), x => x.isNull))
    // reuse the scoring projections to build the training H matrix, then
    // append the raw targets
    val hidCols = {
      val layered = prelim.withLayers(seqs)
      featureCols.zipWithIndex.foldLeft(layered) { case (df, (_, j)) =>
        df.withColumn(s"__y$j", element_at(col("y"), j + 1))
      }.na.drop("any", featureCols.indices.map(j => s"__y$j"))
    }
    val beta = RandomFeatures.ridgeBeta(hidCols, hidden,
      featureCols.indices.map(j => s"__y$j"), ridge)
    prelim.copy(beta = beta)
  }

  /** In-place Gaussian elimination with partial pivoting — the systems are
    * (lb+1)×(lb+1), driver-side, deterministic.
    */
  private[ml] def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    for (p <- 0 until n) {
      var best = p
      for (r <- p + 1 until n) if (math.abs(a(r)(p)) > math.abs(a(best)(p))) best = r
      val tmpRow = a(p); a(p) = a(best); a(best) = tmpRow
      val tmpB = b(p); b(p) = b(best); b(best) = tmpB
      require(math.abs(a(p)(p)) > 1e-300, "singular normal-equation matrix")
      for (r <- p + 1 until n) {
        val f = a(r)(p) / a(p)(p)
        for (c <- p until n) a(r)(c) -= f * a(p)(c)
        b(r) -= f * b(p)
      }
    }
    val w = new Array[Double](n)
    for (p <- n - 1 to 0 by -1) {
      var s = b(p)
      for (c <- p + 1 until n) s -= a(p)(c) * w(c)
      w(p) = s / a(p)(p)
    }
    w
  }
}
