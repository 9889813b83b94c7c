package graft.ml

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PCA-reconstruction anomaly detector — the native MLlib analogue of the
  * reference's Keras autoencoder + DiffBasedAnomalyDetector
  * (`model/anomaly/diff.py::DiffBasedAnomalyDetector`, public repo; mount
  * empty, SURVEY.md §0): project the standardized feature vector onto k
  * principal components and score each row by the reconstruction error.
  *
  * With an orthonormal component matrix W and standardized input x, the
  * reconstruction error collapses to a column expression —
  * ||x - W·Wᵀx||² = ||x||² − ||Wᵀx||² — so scoring is pure codegen'd math
  * on top of MLlib's PCA transform (no per-row matrix multiply, no UDF).
  *
  * Threshold discipline mirrors the reference: a high exact percentile of
  * the training-fold scores (default 0.99; the exact reference value is
  * unverifiable offline — kept as a parameter).
  */
case class PcaAnomalyModel(pipeline: PipelineModel, threshold: Double)
  extends TagAnomalyScorer {

  override def scoreWithTags(df: DataFrame, tags: Seq[String]): DataFrame =
    PcaAnomaly.perTagScores(this, df, tags)

  /** Score = sqrt(max(0, ||x_scaled||² − ||z||²)) per row. */
  def score(df: DataFrame): DataFrame =
    PcaAnomaly.withScore(pipeline.transform(df))

  /** Score + boolean flag against the fitted threshold. */
  def anomaly(df: DataFrame): DataFrame =
    score(df).withColumn("anomalous", col("anomaly_score") > lit(threshold))

  /** Sum of the top-k explained-variance proportions from the fitted PCA
    * stage — the fit-side number the serving-side projection must
    * reproduce (Σ‖z‖²/Σ‖x‖² on the training fold).
    */
  def explainedTopK: Double = {
    import org.apache.spark.ml.feature.PCAModel
    val pca = pipeline.stages.collectFirst { case p: PCAModel => p }
      .getOrElse(throw new IllegalStateException("pipeline has no PCA stage"))
    pca.explainedVariance.toArray.sum
  }

  /** One-row variance accounting over a serving pass: n, Σ‖x‖², Σ‖z‖²,
    * Σ score², and the anomalous count. These are the exact quantities
    * behind the guarantee flags q_ml_pca_anomaly pins for its oracle:
    * on standardized data Σ‖x‖² = (n−1)·d, the serving projection must
    * reproduce the fit's explained-variance ratio Σ‖z‖²/Σ‖x‖², the
    * score definition forces Σ score² = Σ‖x‖² − Σ‖z‖² (up to the ≥0
    * clamp), and the 0.99-percentile threshold bounds the anomalous
    * count by the order-statistic pigeonhole. Model-sized collect: one
    * aggregate row.
    */
  def accounting(df: DataFrame): PcaAccounting = {
    val x = vector_to_array(col(PipelineFactory.ScaledCol))
    val z = vector_to_array(col("pca_features"))
    val r = anomaly(df)
      .select(PcaAnomaly.sumSq(x).as("x2"), PcaAnomaly.sumSq(z).as("z2"),
        (col("anomaly_score") * col("anomaly_score")).as("s2"),
        col("anomalous"))
      .agg(count(lit(1)).as("n"), sum(col("x2")).as("sx2"),
        sum(col("z2")).as("sz2"), sum(col("s2")).as("ss2"),
        sum(col("anomalous").cast("long")).as("n_anom"))
      .head()
    PcaAccounting(r.getLong(0), r.getDouble(1), r.getDouble(2),
      r.getDouble(3), r.getLong(4))
  }
}

/** See [[PcaAnomalyModel.accounting]]. */
case class PcaAccounting(n: Long, sumX2: Double, sumZ2: Double,
    sumScore2: Double, nAnom: Long)

object PcaAnomaly {

  private[ml] def sumSq(arr: Column): Column =
    aggregate(transform(arr, x => x * x), lit(0.0), (acc, v) => acc + v)

  private[ml] def withScore(transformed: DataFrame): DataFrame = {
    val x = vector_to_array(col(PipelineFactory.ScaledCol))
    val z = vector_to_array(col("pca_features"))
    transformed.withColumn("anomaly_score",
      sqrt(greatest(sumSq(x) - sumSq(z), lit(0.0))))
  }

  /** Per-tag anomaly decomposition — the reference's `tag-anomaly-scaled`
    * columns: |x_j − x̂_j| where x̂ = W·Wᵀx is the PCA reconstruction of
    * the standardized input. W is k×d and tiny (gordo tag lists are tens
    * of columns), so the reconstruction is d·k multiply-adds of LITERAL
    * coefficients per row — pure codegen'd column math, no matrix library
    * in the row path.
    */
  def perTagScores(model: PcaAnomalyModel, df: DataFrame, tags: Seq[String]): DataFrame = {
    import org.apache.spark.ml.feature.PCAModel
    val pcaModel = model.pipeline.stages.collectFirst { case p: PCAModel => p }
      .getOrElse(throw new IllegalStateException("pipeline has no PCA stage"))
    val pc = pcaModel.pc // d x k, column-major principal components
    val d = pc.numRows
    val k = pc.numCols
    // withScore first: the per-tag frame also carries the total
    // anomaly_score (the serving response needs both in one pass)
    val transformed = withScore(model.pipeline.transform(df))
    val x = vector_to_array(col(PipelineFactory.ScaledCol))
    val z = vector_to_array(col("pca_features"))
    val perTag = tags.zipWithIndex.map { case (tag, j) =>
      require(j < d, s"tag index $j out of range for ${d}x$k component matrix")
      val reconstructed = (0 until k)
        .map(c => element_at(z, c + 1) * lit(pc(j, c)))
        .reduce(_ + _)
      abs(element_at(x, j + 1) - reconstructed).as(s"tag_anomaly_$tag")
    }
    // one projection for every tag: a withColumn per tag re-analyzes the
    // growing plan once per tag, on every request
    transformed.select(col("*") +: perTag: _*)
      .drop(PipelineFactory.FeaturesCol, PipelineFactory.ScaledCol, "pca_features")
  }

  /** Fit scaler+PCA on `train`, then fit the anomaly threshold as the
    * `pctl` exact percentile of the training scores. Two jobs total: one
    * MLlib fit, one percentile aggregate — nothing collects except the
    * single threshold value.
    */
  def fit(train: DataFrame, featureCols: Seq[String], k: Int,
      pctl: Double = 0.99): PcaAnomalyModel = {
    val pipeline = PipelineFactory.fromDefinition(Map(
      "steps" -> Seq(
        Map("type" -> "assembler", "inputCols" -> featureCols),
        Map("type" -> "standard_scaler"),
        Map("type" -> "pca", "k" -> k))))
    val model = pipeline.fit(train)
    val thr = withScore(model.transform(train))
      .agg(percentile(col("anomaly_score"), lit(pctl)).as("thr"))
      .head().getDouble(0)
    PcaAnomalyModel(model, thr)
  }
}
