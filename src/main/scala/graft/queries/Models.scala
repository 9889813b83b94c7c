package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Artifacts
import graft.Artifacts.tableFingerprint
import graft.ops.{Calibration, Similarity, TextAnalysis}
import graft.queries.Common._
import graft.queries.Oracle.{Published, Sql, publishOracle}

/** The model family: anomaly detectors fitted on the aligned hourly tag
  * matrix (PCA, isolation forest, the three autoencoders, the recurrent
  * autoencoder and their consensus ensemble), forecasters (AR, echo
  * state, Holt-Winters) and their baselines, the per-stream trend,
  * change-point and outlier scores, and the classifiers with their
  * evaluation metrics. Each query's body sits beside its oracle; a
  * fitted model publishes its oracle from its fitted parameters when the
  * query runs.
  */
object Models {

  val queries: Seq[Query] = Seq(
    Query("ml_pca_anomaly", q_ml_pca_anomaly, Sql(pcaAnomalyOracle)),
    Query("ml_isolation_forest", q_ml_isolation_forest, Published()),
    Query("ml_autoencoder", q_ml_autoencoder, Published()),
    Query("ml_autoencoder_sgd", q_ml_autoencoder_sgd, Published()),
    Query("ml_autoencoder_seq", q_ml_autoencoder_seq, Published()),
    Query("ml_rnn_autoencoder", q_ml_rnn_autoencoder, Published()),
    Query("ml_anomaly_ensemble", q_ml_anomaly_ensemble, Published()),
    Query("ml_ar_forecast", q_ml_ar_forecast, Published()),
    Query("esn_forecast", q_esn_forecast, Published()),
    Query("ml_mase_baselines", q_ml_mase_baselines, Sql(maseBaselinesOracle)),
    Query("ml_ols_trend", q_ml_ols_trend, Sql(olsTrendOracle)),
    Query("ml_changepoint", q_ml_changepoint, Sql(changepointOracle)),
    Query("ml_holt_winters", q_ml_holt_winters, Sql(holtWintersOracle)),
    Query("ml_ecod", q_ml_ecod, Sql(ecodOracle)),
    Query("ml_gmm", q_ml_gmm, Sql(gmmOracle)),
    Query("ml_adaboost", q_ml_adaboost, Published()),
    Query("ml_isotonic", q_ml_isotonic, Sql(isotonicOracle)),
    Query("ml_ols_multi", q_ml_ols_multi, Sql(olsMultiOracle)),
    Query("ml_dbscan", q_ml_dbscan, Sql(dbscanOracle)),
    Query("ml_knn_classify", q_ml_knn_classify, Sql(knnClassifyOracle)),
    Query("ml_confusion_prf", q_ml_confusion_prf, Sql(confusionPrfOracle)),
    Query("ml_auc_roc", q_ml_auc_roc, Sql(aucRocOracle)),
    Query("ml_calibration", q_ml_calibration, Sql(calibrationOracle)))

  /** A fitted double as an exact oracle literal: its shortest decimal
    * form, which the oracle engine parses back to the same double.
    */
  private def dlit(x: Double): String = s"CAST('$x' AS DOUBLE)"

  /** tanh of the SQL expression `a`: the oracle engine has none, and
    * 1 − 2/(e^{2a}+1) is the stable identity.
    */
  private def tnh(a: String) = s"(1.0 - 2.0 / (exp(2.0 * ($a)) + 1.0))"

  /** The oracle's [[hourlyWide]]: `pts(bucket, click, view, purchase, x)`
    * over [[wide1h]], incomplete buckets dropped, `x` the feature list.
    */
  private val alignedPtsCtes =
    s"""al AS ($wide1h),
       |pts AS (SELECT bucket, click, view, purchase,
       |    [click, view, purchase] AS x FROM al
       |  WHERE click IS NOT NULL AND view IS NOT NULL
       |    AND purchase IS NOT NULL)""".stripMargin

  /** A detector's rows `(bucket, anomaly_score, anomalous)`, the score
    * rounded to 6; the oracle form is [[scoredRowsSql]].
    */
  private def scoredRows(scored: DataFrame): DataFrame =
    scored.select(col("bucket"), round(col("anomaly_score"), 6).as("anomaly_score"),
        col("anomalous"))
      .orderBy("bucket")

  /** The oracle twin of [[scoredRows]] over the CTE `from(bucket, score)`,
    * the unrounded score flagged against the SQL literal `threshold`.
    */
  private def scoredRowsSql(from: String, threshold: String): String =
    s"""SELECT bucket, round(score, 6) AS anomaly_score,
       |  score > $threshold AS anomalous
       |FROM $from ORDER BY bucket""".stripMargin

  /** PCA-reconstruction anomaly scoring over the aligned hourly matrix.
    *
    * ORACLE-CHECKED (round 11, the round-10 sketch-guarantee pattern):
    * the MLlib scores are float linear algebra (not SQL), so the driver
    * row carries what SQL CAN recompute — the aligned click/view/
    * purchase means — plus four guarantee flags over the exact
    * variance-accounting identities ([[graft.ml.PcaAnomalyModel
    * .accounting]]): `scale_ok` (standardized data: Σ‖x‖² = (n−1)·d),
    * `pca_ok` (serving projections reproduce the fit's explained-
    * variance ratio: Σ‖z‖²/Σ‖x‖² = Σ topk explainedVariance),
    * `var_ok` (score definition: Σ score² = Σ‖x‖² − Σ‖z‖²), and
    * `rank_ok` (the 0.99-percentile threshold admits at most
    * n−1−⌊0.99(n−1)⌋ anomalies — order-statistic pigeonhole, no
    * slack). A scaler, PCA, projection, scoring, or threshold
    * regression flips a flag and hash-fails; score VALUES stay pinned
    * in PcaAnomalySpec.
    */
  private def q_ml_pca_anomaly(s: SparkSession, dir: String): DataFrame = {
    val wide = hourlyWide(s, dir)
    val model = graft.ml.PcaAnomaly.fit(wide, hourlyTags, k = 2)
    val a = model.accounting(wide)
    val d = hourlyTags.length
    def closeRel(x: Double, y: Double): Boolean =
      math.abs(x - y) <= 1e-6 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    val scaleOk = closeRel(a.sumX2, (a.n - 1).toDouble * d)
    val pcaOk = closeRel(a.sumZ2 / a.sumX2, model.explainedTopK)
    val varOk = closeRel(a.sumScore2, a.sumX2 - a.sumZ2)
    val rankOk = a.nAnom <= a.n - 1 - math.floor(0.99 * (a.n - 1)).toLong
    wide.select(col("bucket"),
        round(col("click"), 6).as("click"),
        round(col("view"), 6).as("view"),
        round(col("purchase"), 6).as("purchase"),
        lit(scaleOk).as("scale_ok"), lit(pcaOk).as("pca_ok"),
        lit(varOk).as("var_ok"), lit(rankOk).as("rank_ok"))
      .orderBy("bucket")
  }

  // PCA variance-accounting guarantee (round 11): the SQL side is the
  // exact aligned means; the four flags assert the identities listed
  // in q_ml_pca_anomaly's scaladoc — deterministic facts on fixed
  // data, so a pipeline regression hash-fails the whole row set
  private def pcaAnomalyOracle: String =
    s"""WITH w AS ($wide1h)
       |SELECT bucket, round(click, 6) AS click, round(view, 6) AS view,
       |  round(purchase, 6) AS purchase,
       |  TRUE AS scale_ok, TRUE AS pca_ok, TRUE AS var_ok, TRUE AS rank_ok
       |FROM w
       |WHERE click IS NOT NULL AND view IS NOT NULL
       |  AND purchase IS NOT NULL
       |ORDER BY bucket""".stripMargin

  /** ISOLATION FOREST anomaly detection (Liu et al. 2008) over the
    * aligned hourly streams — the ensemble detector beside the
    * reconstruction-error family: no distributional assumption, catches
    * isolated joint positions the covariance models average away. Fit is
    * bounded by construction (ψ-subsample trees over one md5-ordered
    * ≤4096-row pool — driver state O(t·ψ), the vocab/centroid-collect
    * precedent) and memoized per dir (deterministic md5-derived splits
    * make the memo ≡ a refit); scoring is a broadcast-tree mapPartitions
    * scan — map-side only, no shuffle, no Janino literal-tree blowup.
    * ORACLE-CHECKED (round 11, fitted-params-as-oracle-input — the
    * adaboost/IVF lifecycle): the fitted node arrays publish as exact
    * VALUES literals and the oracle REPLAYS the whole serving path in
    * SQL — hourly align, a recursive-CTE walk of every (bucket, tree)
    * pair down the split comparisons, per-leaf c(size) terms
    * precomputed in Scala, score = 2^(−E[h]/c(ψ)) against the published
    * threshold. Split comparisons are stable cross-engine: split points
    * are u01-random within each feature range, so no fixture value sits
    * within avg()'s ~1e-13 engine skew of one; the fit stays spec'd.
    */
  private def q_ml_isolation_forest(s: SparkSession, dir: String): DataFrame = {
    val wide = hourlyWide(s, dir)
    val model = Artifacts.remember(s"iforest/$dir") {
      graft.ml.IsolationForest.fit(wide, hourlyTags, "bucket")
    }
    publishOracle("ml_isolation_forest", isoForestOracleSqlFor(model))
    scoredRows(model.anomaly(wide, "bucket"))
  }

  /** Flatten a fitted isolation forest into oracle-input literals: one
    * VALUES row per node `(tree, node, feature, split, left, right,
    * c_leaf)` — split/c_leaf as strings for the exact VARCHAR→DOUBLE
    * parse; c_leaf precomputed in Scala so the oracle never needs ln.
    */
  private def isoForestBits(
      m: graft.ml.IsolationForestModel): (String, Int, String, String) = {
    val rows = m.trees.zipWithIndex.flatMap { case (tr, t) =>
      tr.feature.indices.map { n =>
        val cl =
          if (tr.left(n) < 0) graft.ml.IsolationForest.c(tr.size(n)) else 0.0
        s"($t,$n,${tr.feature(n)},'${tr.split(n)}',${tr.left(n)},${tr.right(n)},'$cl')"
      }
    }.mkString(",")
    (rows, m.trees.length, graft.ml.IsolationForest.c(m.psi).toString,
      m.threshold.toString)
  }

  /** Shared iforest-walk CTE fragment: published node table → recursive
    * per-(bucket, tree) descent → `sif(bucket, score)`. Callers must
    * define a `pts(bucket, …, x)` CTE first and open WITH RECURSIVE.
    */
  private def isoWalkSql(rows: String, nTrees: Int, cPsi: String): String =
    s"""nodes0(t, n, f, s0, l, r, cl0) AS (VALUES $rows),
       |nd AS (SELECT t, n, f, CAST(s0 AS DOUBLE) AS s, l, r,
       |    CAST(cl0 AS DOUBLE) AS cl FROM nodes0),
       |walk(bucket, x, t, n, depth) AS (
       |  SELECT p.bucket, p.x, r0.t, 0, 0
       |  FROM pts p CROSS JOIN (SELECT DISTINCT t FROM nd) r0
       |  UNION ALL
       |  SELECT w2.bucket, w2.x, w2.t,
       |    CASE WHEN w2.x[d.f + 1] < d.s THEN d.l ELSE d.r END,
       |    w2.depth + 1
       |  FROM walk w2 JOIN nd d ON d.t = w2.t AND d.n = w2.n
       |  WHERE d.f >= 0),
       |term AS (SELECT w3.bucket, w3.depth + d.cl AS plen
       |  FROM walk w3 JOIN nd d ON d.t = w3.t AND d.n = w3.n
       |  WHERE d.f < 0),
       |sif AS (SELECT bucket,
       |    pow(2.0, -(sum(plen) / $nTrees.0) / CAST('$cPsi' AS DOUBLE))
       |      AS score FROM term GROUP BY 1)""".stripMargin

  /** ml_isolation_forest oracle (round 11): with the fitted node arrays
    * as exact VALUES literals, the oracle re-walks every (bucket, tree)
    * pair by recursive CTE — at each step the row moves to the left or
    * right child by the same `x[f] < split` comparison the Scala
    * traversal makes — then adds the precomputed per-leaf c(size)
    * term, averages path lengths per bucket, and maps through
    * 2^(−E[h]/c(ψ)). Tree-order vs hash-order float summation differ
    * ~1e-14 relative (64 bounded terms), far inside the round-6
    * contract; the anomalous flag compares the unrounded score to the
    * published exact-percentile threshold, which interpolates strictly
    * between training scores on every fixture (verified per SF), so no
    * row sits at the flag boundary.
    */
  private def isoForestOracleSqlFor(m: graft.ml.IsolationForestModel): String = {
    val (rows, nTrees, cPsi, thr) = isoForestBits(m)
    s"""WITH RECURSIVE
       |$alignedPtsCtes,
       |${isoWalkSql(rows, nTrees, cPsi)}
       |${scoredRowsSql("sif", s"CAST('$thr' AS DOUBLE)")}""".stripMargin
  }

  /** NONLINEAR trainable autoencoder (KerasAutoEncoder analogue) —
    * random tanh encoder + ridge-trained decoder fitted in one
    * shuffle-free aggregation pass; scoring is coefficient-literal
    * column math. ORACLE-CHECKED (round 11, fitted-params-as-oracle-
    * input): the fitted (μ, σ, W, b, β, threshold) publish as exact
    * literals and [[rfaeForwardSql]] replays the whole serving pass —
    * standardize, 16 tanh units, linear decode, L2 error — in the same
    * ascending accumulation order; the ridge SOLVE stays spec'd.
    */
  private def q_ml_autoencoder(s: SparkSession, dir: String): DataFrame = {
    val wide = hourlyWide(s, dir)
    val model = graft.ml.AutoEncoder.fit(wide, hourlyTags, hidden = 16)
    publishOracle("ml_autoencoder", rfaeOracleSqlFor(alignedEmbCte, hourlyTags, model))
    scoredRows(model.anomaly(wide))
  }

  /** Generated RFAE forward pass from fitted literals: standardize →
    * h tanh units → linear decode → L2 reconstruction error, each layer
    * a chained CTE (mirroring the materialized-layer Spark plan), every
    * accumulation in the same ascending index order as the Scala
    * `reduce(_ + _)`. Callers define an `emb` CTE holding `bucket` plus
    * the feature columns named in `feats` (fit order).
    */
  private def rfaeForwardSql(m: graft.ml.AutoEncoder.RfaeModel,
      feats: Seq[String]): String = {
    val d = feats.length
    val h = m.b.length
    val xs = feats.zipWithIndex.map { case (f, j) =>
      s"($f - ${dlit(m.means(j))}) / ${dlit(m.stds(j))} AS x$j"
    }.mkString(",\n    ")
    // the oracle engine has no tanh: 1 − 2/(e^{2a}+1) is the stable
    // identity (exact at ±∞ via overflow/underflow, ~1e-16 relative
    // elsewhere — the linear decode amplifies it nowhere near round-6)
    val zs = (0 until h).map { i =>
      val acc = (0 until d).map(j => s"x$j * ${dlit(m.w(i)(j))}")
        .mkString(" + ")
      s"1.0 - 2.0 / (exp(2.0 * ($acc + ${dlit(m.b(i))})) + 1.0) AS z$i"
    }.mkString(",\n    ")
    val xh = (0 until d).map { j =>
      val acc = (0 until h).map(i => s"z$i * ${dlit(m.beta(i)(j))}")
        .mkString(" + ")
      s"$acc + ${dlit(m.beta(h)(j))} AS xh$j"
    }.mkString(",\n    ")
    val err = (0 until d).map(j => s"(x$j - xh$j) * (x$j - xh$j)")
      .mkString(" + ")
    s"""px AS (SELECT bucket, $xs FROM emb),
       |hz AS (SELECT *, $zs FROM px),
       |xr AS (SELECT *, $xh FROM hz),
       |sc AS (SELECT bucket, sqrt($err) AS score FROM xr)""".stripMargin
  }

  /** One RFAE oracle (the three autoencoder-serving queries, round 11;
    * published at fit time via [[publishOracle]]) over the caller's
    * `emb` CTE and its feature columns: base random-feature AE and the
    * SGD-trained AE score the aligned columns directly
    * ([[alignedEmbCte]]); the sequence AE first delay-embeds lb=4
    * windows ([[lagEmbedCtes]]) — the oracle's plain
    * `lag() OVER (ORDER BY bucket)` is output-identical to the Spark
    * plan's chunk-carried embed whenever every 30-day chunk holds
    * ≥ lb−1 rows (the fixture's near-hourly series holds ~720). All
    * three serve through the SAME [[graft.ml.AutoEncoder.RfaeModel]]
    * column math, so one generator ([[rfaeForwardSql]]) replays every
    * forward pass from the fitted arrays.
    */
  private def rfaeOracleSqlFor(embCte: String, feats: Seq[String],
      m: graft.ml.AutoEncoder.RfaeModel): String =
    s"""WITH $alignedPtsCtes,
       |$embCte,
       |${rfaeForwardSql(m, feats)}
       |${scoredRowsSql("sc", dlit(m.threshold))}""".stripMargin

  /** The `emb` CTE of the detectors that score the aligned columns
    * themselves.
    */
  private val alignedEmbCte = "emb AS (SELECT bucket, click, view, purchase FROM pts)"

  /** The `emb` CTE of the sequence detectors: each bucket's trailing
    * `lb`-step window of `tags` as lag columns `<tag>__m<l>` (oldest
    * first), windows reaching before the first bucket dropped — the
    * oracle's plain `lag() OVER (ORDER BY bucket)` over `pts`.
    */
  private def lagEmbedCtes(tags: Seq[String], lb: Int): String = {
    val lagSelect = (for (l <- (lb - 1) to 0 by -1; t <- tags)
      yield if (l == 0) s"$t AS ${t}__m0"
        else s"lag($t, $l) OVER wnd AS ${t}__m$l").mkString(", ")
    val notNull = graft.ml.SequenceAE.lagCols(tags, lb)
      .map(c => s"$c IS NOT NULL").mkString(" AND ")
    s"""emb0 AS (SELECT bucket, $lagSelect
       |  FROM pts WINDOW wnd AS (ORDER BY bucket)),
       |emb AS (SELECT * FROM emb0 WHERE $notNull)""".stripMargin
  }

  /** GRADIENT-trained autoencoder (the KerasAutoEncoder
    * backprop analogue) — both layers trained by distributed mini-batch
    * gradient descent (per-epoch treeAggregate gradients over a cached
    * standardized RDD; only O(h·d) gradient vectors move, never data
    * rows). Fit-once per process (the esn/ivf discipline — the seeded
    * fit is deterministic, so the memoized model equals a refit); the
    * scoring pass is the same coefficient-literal codegen column math as
    * ml_autoencoder. ORACLE-CHECKED (round 11): the DESCENT stays
    * spec'd, but the fitted weights publish as exact literals and the
    * serving pass replays in SQL via [[rfaeForwardSql]].
    */
  private def q_ml_autoencoder_sgd(s: SparkSession, dir: String): DataFrame = {
    val wide = hourlyWide(s, dir)
    val model = Artifacts.remember(s"aesgd|$dir") {
      graft.ml.AutoEncoderSGD.fit(wide, hourlyTags, hidden = 8, epochs = 60)
    }
    publishOracle("ml_autoencoder_sgd",
      rfaeOracleSqlFor(alignedEmbCte, hourlyTags, model))
    scoredRows(model.anomaly(wide))
  }

  /** SEQUENCE autoencoder (the KerasLSTMAutoEncoder slot) —
    * lag-embeds each hour's trailing lb=4 window into flat columns via
    * ONE chunk-keyed window sort (30-day chunks with an lb−1-row carry —
    * no single-partition window; PlanAuditSpec holds), then trains the
    * gradient AE over the embedded space, so temporal shape (how the
    * three channels move together across steps) joins the learned
    * manifold; a per-row AE is blind to it by construction
    * (SequenceAeSpec separates a scrambled-order segment whose marginals
    * are clean). Fit-once per process (seeded + deterministic, the
    * esn/ivf discipline); scoring is the same coefficient-literal
    * codegen column math. ORACLE-CHECKED (round 11): the descent
    * stays spec'd, but the fitted weights publish as exact literals and
    * the serving pass — plain-lag embed + forward pass — replays in SQL
    * via [[rfaeForwardSql]] (the chunk-carried embed is output-identical
    * to the oracle's global lag on any ≥lb−1-rows-per-chunk series).
    */
  private def q_ml_autoencoder_seq(s: SparkSession, dir: String): DataFrame = {
    val wide = hourlyWide(s, dir)
    // epochs=40: the warm start IS the ELM optimum, so the descent only
    // refines — and each epoch is one Spark job over the small embedded
    // series, so epoch count ≈ cold seconds here
    val model = Artifacts.remember(s"aeseq|$dir") {
      graft.ml.SequenceAE.fit(wide, hourlyTags, lb = 4, orderCol = "bucket",
        hidden = 12, epochs = 40)
    }
    publishOracle("ml_autoencoder_seq",
      rfaeOracleSqlFor(lagEmbedCtes(hourlyTags, 4),
        graft.ml.SequenceAE.lagCols(hourlyTags, 4), model.inner))
    scoredRows(model.anomaly(wide))
  }

  /** TRUE BPTT recurrent sequence autoencoder (the faithful
    * KerasLSTMAutoEncoder slot, closing SURVEY §7.4 item 9) — a GRU
    * encoder walks each hour's trailing lb=4 window step by step, its
    * final state is the code, a zero-input GRU decoder unrolls it back
    * against the reversed window (Srivastava et al. 2015's seq2seq-AE),
    * and EVERY weight trains by full backpropagation through time via
    * [[graft.ml.AutoEncoderSGD]]'s distributed-gradient shape (partition-
    * ordered merge, driver Adam, restore-best). The BPTT gradients are
    * finite-difference-verified to 1e-6 relative (RnnAutoEncoderSpec).
    * Fit-once per process (seeded + deterministic); scoring is one
    * forward pass per independent window in mapPartitions — the genuine-
    * recurrence escape hatch, embarrassingly parallel at any width.
    * ORACLE-CHECKED (round 11): the BPTT descent stays spec'd, but the
    * fitted θ publishes as exact literals and [[gruOracleSqlFor]]
    * unrolls the whole recurrent serving pass — lb GRU encoder steps,
    * the zero-input decoder, reversed-window targets — as generated
    * chained CTEs in the Scala accumulation order.
    */
  private def q_ml_rnn_autoencoder(s: SparkSession, dir: String): DataFrame = {
    val wide = hourlyWide(s, dir)
    // epochs=25: each epoch is one job over the small embedded series;
    // the restore-best guard makes more epochs refinement, not risk.
    // Persisted via the fingerprinted registry (the simsearch_ivf
    // discipline) so a cold process pays a file read, not 25 jobs.
    val fp = tableFingerprint(s, s"$dir/events.parquet")
    val path = Artifacts.path("gruae", s"gruae-v1|$dir|$fp|lb=4|h=8|ep=25|seed=42", ".txt")
    val model = Artifacts.remember(path) {
      graft.ml.RnnAutoEncoder.fitOrLoad(path,
        wide, hourlyTags, lb = 4, orderCol = "bucket", hidden = 8, epochs = 25)
    }
    publishOracle("ml_rnn_autoencoder", gruOracleSqlFor(model))
    scoredRows(model.score(wide))
  }

  /** Generated oracle for ml_rnn_autoencoder: the lb-step GRU encoder
    * and zero-input decoder UNROLLED as chained CTEs from the published
    * θ (531 exact literals at h=8, d=3) — every gate in the Scala
    * accumulation order (bias, then x terms j-ascending, then
    * recurrent terms k-ascending), σ spelled as the identical
    * 1/(1+e^{−a}), tanh via the stable exp identity, the reversed-
    * window targets, and Σe²/(lb·d). Step-0 simplifications are
    * float-exact (h₋₁ = 0: adding Σ U·0 and (1−z)·0 are identities),
    * so the unroll computes the same doubles the mapPartitions forward
    * pass does, modulo ~ulp exp/tanh skew — five orders inside the
    * round-6 contract.
    */
  private def gruOracleSqlFor(m: graft.ml.RnnAutoEncoder.GruAeModel): String = {
    val lo = graft.ml.RnnAutoEncoder.Layout(m.hidden, m.baseTags.length)
    import lo._
    val lb = m.lb
    val th = m.theta
    val tags = m.baseTags
    def T(i: Int) = dlit(th(i))
    def sig(a: String) = s"1.0 / (1.0 + exp(-($a)))"
    // x{t}j{j} = standardized lag column of step t (oldest first)
    val stdCols = (for (t <- 0 until lb; j <- 0 until d) yield
      s"(${tags(j)}__m${lb - 1 - t} - ${dlit(m.means(j))}) / ${dlit(m.stds(j))} AS x${t}j$j")
      .mkString(",\n    ")
    def encGate(t: Int, i: Int, offW: Int, offU: Int, offB: Int): String = {
      val xTerms = (0 until d)
        .map(j => s" + ${T(offW + i * d + j)} * x${t}j$j").mkString
      val uTerms = if (t == 0) ""
        else (0 until h)
          .map(k => s" + ${T(offU + i * h + k)} * eh${t - 1}_$k").mkString
      s"${T(offB + i)}$xTerms$uTerms"
    }
    val encCtes = (0 until lb).flatMap { t =>
      val gates = (0 until h).flatMap { i =>
        Seq(s"${sig(encGate(t, i, offWz, offUz, offbz))} AS ez${t}_$i",
          s"${sig(encGate(t, i, offWr, offUr, offbr))} AS er${t}_$i")
      }.mkString(",\n    ")
      val hs = (0 until h).map { i =>
        val xTerms = (0 until d)
          .map(j => s" + ${T(offWh + i * d + j)} * x${t}j$j").mkString
        val uTerms = if (t == 0) ""
          else (0 until h).map(k =>
            s" + ${T(offUh + i * h + k)} * (er${t}_$k * eh${t - 1}_$k)")
            .mkString
        val cand = tnh(s"${T(offbh + i)}$xTerms$uTerms")
        if (t == 0) s"ez${t}_$i * $cand AS eh${t}_$i"
        else s"(1.0 - ez${t}_$i) * eh${t - 1}_$i + ez${t}_$i * $cand AS eh${t}_$i"
      }.mkString(",\n    ")
      Seq(s"eg$t AS (SELECT *, $gates FROM ${if (t == 0) "std" else s"eh${t - 1}"})",
        s"eh$t AS (SELECT *, $hs FROM eg$t)")
    }
    def sPrev(t: Int, k: Int) = if (t == 0) s"eh${lb - 1}_$k" else s"ds${t - 1}_$k"
    val decCtes = (0 until lb).flatMap { t =>
      val gates = (0 until h).flatMap { i =>
        def acc(offG: Int, offC: Int) = s"${T(offC + i)}" + (0 until h)
          .map(k => s" + ${T(offG + i * h + k)} * ${sPrev(t, k)}").mkString
        Seq(s"${sig(acc(offGz, offcz))} AS dz${t}_$i",
          s"${sig(acc(offGr, offcr))} AS dr${t}_$i")
      }.mkString(",\n    ")
      val ss = (0 until h).map { i =>
        val uTerms = (0 until h).map(k =>
          s" + ${T(offGh + i * h + k)} * (dr${t}_$k * ${sPrev(t, k)})")
          .mkString
        s"(1.0 - dz${t}_$i) * ${sPrev(t, i)} + dz${t}_$i * ${tnh(s"${T(offch + i)}$uTerms")} AS ds${t}_$i"
      }.mkString(",\n    ")
      val xh = (0 until d).map { j =>
        s"${T(offco + j)}" + (0 until h)
          .map(k => s" + ${T(offV + j * h + k)} * ds${t}_$k").mkString +
          s" AS xh${t}j$j"
      }.mkString(",\n    ")
      Seq(
        s"dg$t AS (SELECT *, $gates FROM ${if (t == 0) s"eh${lb - 1}" else s"dx${t - 1}"})",
        s"ds$t AS (SELECT *, $ss FROM dg$t)",
        s"dx$t AS (SELECT *, $xh FROM ds$t)")
    }
    val sse = (for (t <- 0 until lb; j <- 0 until d) yield
      s"(xh${t}j$j - x${lb - 1 - t}j$j) * (xh${t}j$j - x${lb - 1 - t}j$j)")
      .mkString(" + ")
    s"""WITH $alignedPtsCtes,
       |${lagEmbedCtes(tags, lb)},
       |std AS (SELECT bucket, $stdCols FROM emb),
       |${(encCtes ++ decCtes).mkString(",\n")},
       |sc AS (SELECT bucket, ($sse) / ${lb * d}.0 AS score FROM dx${lb - 1})
       |${scoredRowsSql("sc", dlit(m.threshold))}""".stripMargin
  }

  /** CONSENSUS anomaly ensemble — the practitioner's move when no single
    * detector is trusted: PCA reconstruction error, isolation-forest
    * depth score, and Mahalanobis d² per hourly bucket, each
    * z-standardized via broadcast global stats (deliberately NOT a rank
    * window — ranking all buckets is a single-partition window, the
    * PlanAudit scale-killer; standardization is one tiny agg), averaged,
    * top-20 consensus buckets via TakeOrdered. ORACLE-CHECKED (round
    * 11, fitted-params-as-oracle-input): the scaler μ / 1/σ factors and
    * the k=2 component matrix publish as exact literals ([[pcaBits]]),
    * the isolation forest rides the same published node table as
    * ml_isolation_forest (same memoized fit), and the Mahalanobis leg
    * was SQL-exact all along (agg_mahalanobis) — so the oracle replays
    * ALL THREE serving paths, the join, the global standardization, and
    * the top-20 cut. Engine float skew (~1e-13 on avg'd features) is
    * five orders inside round-6, and the rank-20/21 consensus gap is
    * ~1e-3 at every SF, so the cut is stable; both fits stay spec'd.
    */
  private def q_ml_anomaly_ensemble(s: SparkSession, dir: String): DataFrame = {
    // materialize the shared hourly-aligned frame ONCE (round 14): it
    // feeds the PCA fit, the PCA scoring pass, and the forest scoring
    // pass — three references that each re-ran the events scan +
    // resample-align aggregation (no exchange reuse across the
    // differently-pruned subtrees). One hourly frame is model-sized
    // (buckets × 3 tags); values unchanged.
    val wide = hourlyWide(s, dir).localCheckpoint()
    val pcaModel = graft.ml.PcaAnomaly.fit(wide, hourlyTags, k = 2)
    val pca = pcaModel.score(wide)
      .select(col("bucket"), col("anomaly_score").as("s_pca"))
    val forestModel = Artifacts.remember(s"iforest/$dir") {
      graft.ml.IsolationForest.fit(wide, hourlyTags, "bucket")
    }
    publishOracle("ml_anomaly_ensemble", ensembleOracleSqlFor(forestModel, pcaModel))
    val forest = forestModel.score(wide, "bucket")
      .select(col("bucket"), col("anomaly_score").as("s_if"))
    val maha = mahalanobisD2(s, dir).select(col("bucket"), col("d2").as("s_mh"))
    val j = pca.join(forest, "bucket").join(maha, "bucket")
    val st = j.agg(
      avg(col("s_pca")).as("m1"), stddev_samp(col("s_pca")).as("d1"),
      avg(col("s_if")).as("m2"), stddev_samp(col("s_if")).as("d2"),
      avg(col("s_mh")).as("m3"), stddev_samp(col("s_mh")).as("d3"))
    j.crossJoin(broadcast(st))
      .select(col("bucket"),
        (((col("s_pca") - col("m1")) / nullif(col("d1"), lit(0.0)) +
          (col("s_if") - col("m2")) / nullif(col("d2"), lit(0.0)) +
          (col("s_mh") - col("m3")) / nullif(col("d3"), lit(0.0))) / lit(3.0))
          .as("consensus"),
        round(col("s_pca"), 6).as("s_pca"), round(col("s_if"), 6).as("s_if"),
        round(col("s_mh"), 6).as("s_mh"))
      .orderBy(col("consensus").desc, col("bucket")).limit(20)
      .withColumn("consensus", round(col("consensus"), 6))
  }

  /** (μ, 1/σ factors, principal components) of the fitted scaler+PCA
    * pipeline — oracle-input literals for q_ml_anomaly_ensemble. The
    * factor is the scaler's own precomputed reciprocal (MLlib
    * multiplies by 1/σ, it does not divide), so the SQL replay is
    * arithmetic-identical.
    */
  private def pcaBits(m: graft.ml.PcaAnomalyModel)
      : (Seq[Double], Seq[Double], Seq[Seq[Double]]) = {
    import org.apache.spark.ml.feature.{PCAModel, StandardScalerModel}
    val sc = m.pipeline.stages
      .collectFirst { case s: StandardScalerModel => s }
      .getOrElse(throw new IllegalStateException("pipeline has no scaler"))
    val pca = m.pipeline.stages.collectFirst { case p: PCAModel => p }
      .getOrElse(throw new IllegalStateException("pipeline has no PCA"))
    val mu = sc.mean.toArray.toSeq
    val factor = sc.std.toArray.toSeq
      .map(s => if (s != 0.0) 1.0 / s else 0.0)
    val pc = (0 until pca.getK).map(i =>
      (0 until pca.pc.numRows).map(j => pca.pc(j, i)))
    (mu, factor, pc)
  }

  /** ml_anomaly_ensemble oracle (round 11): replays all three serving
    * paths from published literals — PCA reconstruction error from the
    * scaler μ / 1/σ factors and the k=2 component matrix (same
    * multiply-by-reciprocal and j-ascending dot order as MLlib), the
    * isolation-forest walk over the shared node table, and the
    * cents-exact Mahalanobis d² (the agg_mahalanobis algebra verbatim,
    * rounded to 6 BEFORE the consensus exactly as the Spark side does)
    * — then the bucket join, global z-standardization, consensus
    * average, and the top-20 cut on the UNROUNDED consensus.
    */
  private def ensembleOracleSqlFor(forest: graft.ml.IsolationForestModel,
      pca: graft.ml.PcaAnomalyModel): String = {
    val (rows, nTrees, cPsi, _) = isoForestBits(forest)
    val (mu, fac, pc) = pcaBits(pca)
    def xs(j: Int) = s"(${hourlyTags(j)} - ${dlit(mu(j))}) * ${dlit(fac(j))}"
    def z(i: Int) = (0 until 3)
      .map(j => s"${dlit(pc(i)(j))} * x${j + 1}").mkString(" + ")
    s"""WITH RECURSIVE
         |$alignedPtsCtes,
         |${isoWalkSql(rows, nTrees, cPsi)},
         |px AS (SELECT bucket, ${xs(0)} AS x1, ${xs(1)} AS x2,
         |    ${xs(2)} AS x3 FROM pts),
         |pz AS (SELECT bucket, x1, x2, x3, ${z(0)} AS z1, ${z(1)} AS z2
         |  FROM px),
         |spca AS (SELECT bucket, sqrt(greatest(0.0,
         |    x1*x1 + x2*x2 + x3*x3 - z1*z1 - z2*z2)) AS s_pca FROM pz),
         |$hourlyCentsCte,
         |wm AS (
         |  SELECT bucket,
         |    max(CASE WHEN event_type = 'click' THEN c END) AS mx,
         |    max(CASE WHEN event_type = 'view' THEN c END) AS my
         |  FROM h GROUP BY 1
         |  HAVING max(CASE WHEN event_type = 'click' THEN c END) IS NOT NULL
         |     AND max(CASE WHEN event_type = 'view' THEN c END) IS NOT NULL),
         |stm AS (SELECT count(*) AS mn,
         |    CAST(sum(mx) AS BIGINT) AS sx, CAST(sum(my) AS BIGINT) AS sy,
         |    CAST(sum(mx * mx) AS BIGINT) AS sxx,
         |    CAST(sum(my * my) AS BIGINT) AS syy,
         |    CAST(sum(mx * my) AS BIGINT) AS sxy FROM wm),
         |mm AS (SELECT bucket, mn,
         |    CAST(mn * mx - sx AS DOUBLE) AS ax,
         |    CAST(mn * my - sy AS DOUBLE) AS ay,
         |    CAST(mn * sxx - sx * sx AS DOUBLE) AS vxx,
         |    CAST(mn * syy - sy * sy AS DOUBLE) AS vyy,
         |    CAST(mn * sxy - sx * sy AS DOUBLE) AS vxy
         |  FROM wm CROSS JOIN stm),
         |dd AS (SELECT bucket, round(
         |    CAST(mn - 1 AS DOUBLE)
         |      * (ax * ax * vyy - ax * ay * vxy * 2.0 + ay * ay * vxx)
         |      / NULLIF(CAST(mn AS DOUBLE) * (vxx * vyy - vxy * vxy), 0),
         |    6) AS s_mh FROM mm),
         |j AS (SELECT p.bucket, p.s_pca, f.score AS s_if, m.s_mh
         |  FROM spca p JOIN sif f USING (bucket) JOIN dd m USING (bucket)),
         |gs AS (SELECT avg(s_pca) AS m1, stddev_samp(s_pca) AS d1,
         |    avg(s_if) AS m2, stddev_samp(s_if) AS d2,
         |    avg(s_mh) AS m3, stddev_samp(s_mh) AS d3 FROM j),
         |cns AS (SELECT bucket,
         |    ((s_pca - m1) / NULLIF(d1, 0.0) + (s_if - m2) / NULLIF(d2, 0.0)
         |      + (s_mh - m3) / NULLIF(d3, 0.0)) / 3.0 AS consensus,
         |    s_pca, s_if, s_mh FROM j CROSS JOIN gs),
         |top AS (SELECT * FROM cns ORDER BY consensus DESC, bucket LIMIT 20)
         |SELECT bucket, round(consensus, 6) AS consensus,
         |  round(s_pca, 6) AS s_pca, round(s_if, 6) AS s_if, s_mh
         |FROM top ORDER BY consensus DESC, bucket""".stripMargin
  }

  /** Per-key AR(6) one-step forecast over the resampled series (the
    * KerasLSTMForecast analogue) — per-tag univariate models on the
    * keyed long format; windows partition by event_type, no global
    * sort.
    *
    * ORACLE-CHECKED (round 11, the simsearch_ivf fitted-params-as-input
    * trick): the normal-equation FIT (one sufficient-sum shuffle + a
    * 7×7 driver solve — not SQL) stays spec'd in ForecastSpec; the
    * fitted (w, b) per key are published as exact VALUES literals and
    * DuckDB re-derives the whole SERVING path — the rounded resample,
    * the strictly-before lag window, ŷ = w·x + b term for term in the
    * dot's left-to-right order, and |y − ŷ|.
    */
  private def q_ml_ar_forecast(s: SparkSession, dir: String): DataFrame = {
    val long = longResampled(s, dir)
    val m = graft.ml.Forecast.fitPerKey(long, "event_type", "v", lb = 6, "bucket")
    publishOracle("ml_ar_forecast", arOracleSqlFor(m))
    m.forecast(long, "bucket")
      .select(col("bucket"), col("event_type"),
        round(col("v"), 6).as("v"), round(col("v_hat"), 6).as("v_hat"),
        round(col("v_anomaly"), 6).as("abs_err"))
      .orderBy("bucket", "event_type")
  }

  /** A per-key AR fit as oracle VALUES rows `('<key>', w₀, …, b)`, each
    * coefficient a [[dlit]].
    */
  private def arCoefRows(m: graft.ml.Forecast.KeyedForecastModel): String =
    m.coefs.map { case (k, w, b) =>
      (Seq(s"'$k'") ++ (w :+ b).map(dlit)).mkString("(", ", ", ")")
    }.mkString(", ")

  /** ml_ar_forecast oracle (round 11): the fitted coefficients as exact
    * literal inputs ([[arCoefRows]]); the serving path — rounded
    * 10-minute resample, strictly-before 6-lag window (rows, not
    * buckets; first 6 rows per key dropped), ŷ = ((((((w₀x₀ + w₁x₁) + w₂x₂) + w₃x₃) + w₄x₄) +
    * w₅x₅) + b) in the native dot's left-to-right order, |y − ŷ| — is
    * re-derived independently. x₀ is the OLDEST lag (collect_list over
    * rowsBetween(-6,-1) is bucket-ascending).
    */
  private def arOracleSqlFor(m: graft.ml.Forecast.KeyedForecastModel): String =
    s"""WITH r AS (SELECT
         |    time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS bucket,
         |    event_type, round(avg(value), 6) AS v
         |  FROM events WHERE event_type IN ('click', 'view', 'purchase')
         |  GROUP BY 1, 2),
         |l AS (SELECT bucket, event_type, v,
         |    lag(v, 6) OVER w AS x0, lag(v, 5) OVER w AS x1,
         |    lag(v, 4) OVER w AS x2, lag(v, 3) OVER w AS x3,
         |    lag(v, 2) OVER w AS x4, lag(v, 1) OVER w AS x5,
         |    row_number() OVER w AS rn
         |  FROM r WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
         |co AS (SELECT * FROM (VALUES ${arCoefRows(m)})
         |  AS t(event_type, w0, w1, w2, w3, w4, w5, b)),
         |p AS (SELECT bucket, l.event_type, v,
         |    (((((w0 * x0 + w1 * x1) + w2 * x2) + w3 * x3) + w4 * x4)
         |      + w5 * x5) + b AS v_hat
         |  FROM l JOIN co USING (event_type) WHERE rn > 6)
         |SELECT bucket, event_type, round(v, 6) AS v,
         |  round(v_hat, 6) AS v_hat, round(abs(v - v_hat), 6) AS abs_err
         |FROM p ORDER BY bucket, event_type""".stripMargin

  /** RECURRENT one-step-ahead forecast — the echo-state network
    * (KerasLSTMForecast's honest analogue: true cross-step state, only
    * the linear readout trained). Head-to-head per key against the lb=3
    * feedforward AR on the same resampled series, emitted as scalar
    * rows (event_type, n, mse_esn, mse_ar); the recurrence's value on a
    * task needing long memory is spec'd (~4× MSE on NARMA-10,
    * EchoStateSpec). ORACLE-CHECKED (round 11): both fitted models
    * publish as exact literals and [[esnOracleSqlFor]] replays the
    * reservoir recurrence itself as a recursive CTE (32 state columns,
    * one iteration per series row) plus the AR(3) lag fold — the whole
    * serving surface, including the emit-before-update state contract
    * and the shared rn > 10 washout filter; the ridge fits stay spec'd.
    */
  private def q_esn_forecast(s: SparkSession, dir: String): DataFrame = {
    // bounded resampled frame (10-min buckets × 3 types) referenced three
    // times on the warm path (the keep-window, both forecast scans) —
    // materialize ONCE (round 14, the agg_basket_lift finding: each
    // reference replayed the events scan + resample aggregation)
    val long = longResampled(s, dir).na.drop("any", Seq("v")).localCheckpoint()
    // fit-once, forecast-many (the simsearch_ivf discipline): both fits
    // are seeded and deterministic, so the memoized model is identical to
    // a refit — later executions pay only the forecast scans
    val esn = Artifacts.remember(s"esn|$dir") {
      graft.ml.EchoState.fit(long, Seq("v"), "bucket", Seq("event_type"),
        reservoir = 32, washout = 10)
    }
    val ar = Artifacts.remember(s"ar3|$dir") {
      graft.ml.Forecast.fitPerKey(long, "event_type", "v", lb = 3, "bucket")
    }
    publishOracle("esn_forecast", esnOracleSqlFor(esn, ar))
    // fair head-to-head: both MSEs over the IDENTICAL row set. The ESN
    // emits a prediction for every row (zero-state transient included)
    // while the AR drops the first lb rows per key — so rank the SHARED
    // input per key (a keyed window, no global sort) and restrict both
    // outputs to rows past the larger warm-up (washout=10) by joining
    // the kept (key, bucket) pairs.
    val wk = Window.partitionBy("event_type").orderBy("bucket")
    val keep = long.withColumn("__rn", row_number().over(wk))
      .filter(col("__rn") > 10).select("event_type", "bucket")
    def tail(df: DataFrame): DataFrame = df.join(keep, Seq("event_type", "bucket"))
    val esnErr = tail(esn.forecast(long, "bucket", Seq("event_type")))
      .select(col("event_type"), (col("v_anomaly") * col("v_anomaly")).as("se"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(avg("se"), 6).as("mse_esn"))
    val arErr = tail(ar.forecast(long, "bucket"))
      .select(col("event_type"), (col("v_anomaly") * col("v_anomaly")).as("se"))
      .groupBy("event_type")
      .agg(round(avg("se"), 6).as("mse_ar"))
    esnErr.join(arErr, Seq("event_type")).orderBy("event_type")
  }

  /** Generated oracle for esn_forecast: the leaky reservoir recurrence
    * replayed as a RECURSIVE CTE carrying the 32 state values as
    * columns — iteration t joins the per-tag series row rn = t+1 and
    * computes h_t from h_{t−1} in the Scala accumulation order (bias,
    * input term, recurrent terms k-ascending; tanh via the stable exp
    * identity; the prediction for row rn reads the state BEFORE that
    * row's update, exactly the statePass emit-then-step contract). The
    * AR(3) baseline replays from its published per-tag (w, b) with the
    * ascending dot fold, and both MSEs aggregate over the identical
    * washout-filtered (rn > 10) row set.
    */
  private def esnOracleSqlFor(m: graft.ml.EchoState.EsnModel,
      ar: graft.ml.Forecast.KeyedForecastModel): String = {
    val r = m.reservoir
    val leak = dlit(m.leak)
    val oneMinusLeak = dlit(1.0 - m.leak)
    // CAST the base-case zeros: a bare 0.0 literal types the recursive
    // CTE's state columns DECIMAL(2,1), and every iteration then ROUNDS
    // the state to one decimal place (measured: mse 2571 vs the true
    // 2288) — the recursion's column types come from the base case.
    val zeroState = (0 until r)
      .map(i => s"CAST(0.0 AS DOUBLE) AS s$i").mkString(", ")
    val nextState = (0 until r).map { i =>
      val acc = s"${dlit(m.b(i))} + ${dlit(m.wIn(i)(0))} * r.xs" +
        (0 until r).map(k => s" + ${dlit(m.wRes(i)(k))} * w.s$k").mkString
      s"$oneMinusLeak * w.s$i + $leak * ${tnh(acc)} AS s$i"
    }.mkString(",\n    ")
    val readout = s"${dlit(m.beta(r)(0))}" +
      (0 until r).map(i => s" + ${dlit(m.beta(i)(0))} * w.s$i").mkString
    s"""WITH RECURSIVE ser AS (
         |  SELECT * FROM (
         |    SELECT event_type,
         |      time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))
         |        AS bucket,
         |      round(avg(value), 6) AS v
         |    FROM events WHERE event_type IN ('click', 'view', 'purchase')
         |    GROUP BY 1, 2) t0 WHERE v IS NOT NULL),
         |sr AS MATERIALIZED (SELECT event_type, bucket, v,
         |    (v - ${dlit(m.means(0))}) / ${dlit(m.stds(0))} AS xs,
         |    row_number() OVER
         |      (PARTITION BY event_type ORDER BY bucket) AS rn
         |  FROM ser),
         |walk(tag, t, ${(0 until r).map("s" + _).mkString(", ")}) AS (
         |  SELECT event_type, 0, $zeroState
         |  FROM (SELECT DISTINCT event_type FROM sr)
         |  UNION ALL
         |  SELECT w.tag, w.t + 1,
         |    $nextState
         |  FROM walk w JOIN sr r ON r.event_type = w.tag AND r.rn = w.t + 1),
         |pe AS (SELECT r.event_type, r.rn,
         |    abs(r.v - ($readout)) AS an
         |  FROM sr r JOIN walk w ON w.tag = r.event_type AND w.t = r.rn - 1),
         |ee AS (SELECT event_type, count(*) AS n,
         |    round(avg(an * an), 6) AS mse_esn
         |  FROM pe WHERE rn > 10 GROUP BY 1),
         |arl AS (SELECT event_type, rn, v,
         |    lag(v, 3) OVER w2 AS x0, lag(v, 2) OVER w2 AS x1,
         |    lag(v, 1) OVER w2 AS x2
         |  FROM sr WINDOW w2 AS (PARTITION BY event_type ORDER BY bucket)),
         |arco AS (SELECT * FROM (VALUES ${arCoefRows(ar)})
         |  AS t(event_type, w0, w1, w2, b)),
         |arp AS (SELECT l.event_type, rn,
         |    abs(v - (((w0 * x0 + w1 * x1) + w2 * x2) + b)) AS an
         |  FROM arl l JOIN arco USING (event_type)),
         |ae AS (SELECT event_type, round(avg(an * an), 6) AS mse_ar
         |  FROM arp WHERE rn > 10 GROUP BY 1)
         |SELECT ee.event_type, ee.n, ee.mse_esn, ae.mse_ar
         |FROM ee JOIN ae USING (event_type) ORDER BY event_type""".stripMargin
  }

  /** MASE BASELINES per stream — the forecast-evaluation yardstick
    * (Hyndman & Koehler's scale): in-sample one-step MAE of the naive
    * (lag-1) and seasonal-naive (lag-24) forecasters over hourly cents,
    * plus their ratio ("does this stream even have exploitable
    * seasonality?"). Every model query quotes against these. Exact
    * integer absolute errors; one mirrored division per output.
    */
  private def q_ml_mase_baselines(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("bucket")
    val d = hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
      .withColumn("l1", lag(col("c"), 1).over(w))
      .withColumn("l24", lag(col("c"), 24).over(w))
      .filter(col("l24").isNotNull) // same support for both baselines
    d.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(abs(col("c") - col("l1"))).as("se1"),
        sum(abs(col("c") - col("l24"))).as("se24"))
      .select(col("event_type"), col("n"),
        round(col("se1").cast("double") / col("n"), 6).as("mae_naive"),
        round(col("se24").cast("double") / col("n"), 6).as("mae_seasonal"),
        round(col("se24").cast("double") /
          nullif(col("se1").cast("double"), lit(0.0)), 6)
          .as("seasonal_vs_naive"))
      .orderBy("event_type")
  }

  private def maseBaselinesOracle: String =
    s"""WITH $hourlyCentsCte,
      |l AS (SELECT event_type, bucket, c,
      |    lag(c, 1) OVER w AS l1, lag(c, 24) OVER w AS l24
      |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
      |d AS (SELECT * FROM l WHERE l24 IS NOT NULL),
      |g AS (SELECT event_type, count(*) AS n,
      |    CAST(sum(abs(c - l1)) AS BIGINT) AS se1,
      |    CAST(sum(abs(c - l24)) AS BIGINT) AS se24
      |  FROM d GROUP BY 1)
      |SELECT event_type, n,
      |  round(CAST(se1 AS DOUBLE) / n, 6) AS mae_naive,
      |  round(CAST(se24 AS DOUBLE) / n, 6) AS mae_seasonal,
      |  round(CAST(se24 AS DOUBLE) / NULLIF(CAST(se1 AS DOUBLE), 0), 6)
      |    AS seasonal_vs_naive
      |FROM g ORDER BY event_type""".stripMargin

  /** Per-stream OLS trend fit (slope, intercept, R²) over the hourly
    * cents series — the parametric companion of the Theil-Sen /
    * Mann-Kendall pair: one pass of BIGINT sufficient statistics
    * (n, Σt, Σc, Σt², Σc², Σtc). `t` is the hour index SHIFTED to each
    * stream's own origin (window min over the same partition key the
    * aggregate shuffles on — one exchange total), which caps every
    * BIGINT product at ~10⁶× below overflow regardless of the epoch.
    * All algebra is exact until three IEEE divisions (slope, intercept,
    * R²) on exact-BIGINT-derived doubles, then round(6); zero-variance
    * streams NULL out via nullif.
    */
  private def q_ml_ols_trend(s: SparkSession, dir: String): DataFrame = {
    val wmin = Window.partitionBy("event_type")
    hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
      .withColumn("es", graft.sources.Events.epochSeconds(col("bucket")))
      .withColumn("t0", expr("es div 3600"))
      .withColumn("t", col("t0") - min(col("t0")).over(wmin))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("t")).as("st"), sum(col("c")).as("sc"),
        sum(col("t") * col("t")).as("stt"),
        sum(col("c") * col("c")).as("scc"),
        sum(col("t") * col("c")).as("stc"))
      .withColumn("num", (col("n") * col("stc") - col("st") * col("sc")))
      .withColumn("dent", (col("n") * col("stt") - col("st") * col("st")))
      .withColumn("denc", (col("n") * col("scc") - col("sc") * col("sc")))
      .withColumn("slope_raw", col("num").cast("double") /
        expr("nullif(CAST(dent AS DOUBLE), 0.0D)"))
      .select(col("event_type"), col("n"),
        round(col("slope_raw"), 6).as("slope"),
        round((col("sc").cast("double") - col("slope_raw") *
          col("st").cast("double")) / col("n").cast("double"), 6)
          .as("intercept"),
        round(col("num").cast("double") * col("num").cast("double") /
          expr("nullif(CAST(dent AS DOUBLE) * CAST(denc AS DOUBLE), 0.0D)"), 6)
          .as("r2"))
      .orderBy("event_type")
  }

  // exact BIGINT sufficient statistics; three mirrored IEEE divisions
  private def olsTrendOracle: String =
    s"""WITH $hourlyCentsCte,
      |t AS (SELECT event_type,
      |        CAST(floor(epoch(bucket)) AS BIGINT) // 3600 AS t0, c
      |      FROM h),
      |sh AS (SELECT event_type,
      |        t0 - min(t0) OVER (PARTITION BY event_type) AS t, c FROM t),
      |g AS (SELECT event_type, count(*) AS n,
      |        CAST(sum(t) AS BIGINT) AS st, CAST(sum(c) AS BIGINT) AS sc,
      |        CAST(sum(t*t) AS BIGINT) AS stt,
      |        CAST(sum(c*c) AS BIGINT) AS scc,
      |        CAST(sum(t*c) AS BIGINT) AS stc
      |      FROM sh GROUP BY 1),
      |d AS (SELECT event_type, n, st, sc,
      |        n*stc - st*sc AS num, n*stt - st*st AS dent,
      |        n*scc - sc*sc AS denc
      |      FROM g),
      |sl AS (SELECT *,
      |        CAST(num AS DOUBLE) / nullif(CAST(dent AS DOUBLE), 0.0)
      |          AS slope_raw
      |      FROM d)
      |SELECT event_type, n, round(slope_raw, 6) AS slope,
      |  round((CAST(sc AS DOUBLE) - slope_raw * CAST(st AS DOUBLE))
      |    / CAST(n AS DOUBLE), 6) AS intercept,
      |  round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
      |    / nullif(CAST(dent AS DOUBLE) * CAST(denc AS DOUBLE), 0.0), 6)
      |    AS r2
      |FROM sl ORDER BY 1""".stripMargin

  /** Single change-point detection per stream — the offline CUSUM
    * estimator (Page/Hinkley form): over the hourly cents series, pick
    * the split k maximizing the standardized between-segment statistic
    * G(k) = (k·S − n·S_k)² / (k·(n−k)·n) — equivalently the k
    * minimizing two-segment SSE. Prefix sums via one ordered window on
    * the same key the final argmax partitions on (hour buckets are
    * unique per stream, so the running frame is deterministic);
    * everything integer until the one score expression (exact BIGINTs
    * cast to double, squared in IEEE), ties broken toward the earliest
    * k — bit-reproducible in any engine. O(n) per stream, one shuffle.
    */
  private def q_ml_changepoint(s: SparkSession, dir: String): DataFrame = {
    val wo = Window.partitionBy("event_type").orderBy("t")
    val wa = Window.partitionBy("event_type")
    val wr = Window.partitionBy("event_type").orderBy(col("score").desc, col("k"))
    hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
      .withColumn("es", graft.sources.Events.epochSeconds(col("bucket")))
      .withColumn("t", expr("es div 3600"))
      .withColumn("k", row_number().over(wo))
      .withColumn("sk", sum(col("c")).over(wo))
      .withColumn("change_bucket", lead(col("bucket"), 1).over(wo))
      .withColumn("nn", count(lit(1)).over(wa))
      .withColumn("stot", sum(col("c")).over(wa))
      .filter(col("k") < col("nn"))
      .withColumn("numd",
        (col("k") * col("stot") - col("nn") * col("sk")).cast("double"))
      .withColumn("score", col("numd") * col("numd") /
        (col("k") * (col("nn") - col("k")) * col("nn")).cast("double"))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") === 1)
      .select(col("event_type"), col("nn").as("n"), col("k").as("split_k"),
        col("change_bucket"), round(col("score"), 6).as("score"),
        round(col("sk").cast("double") / col("k").cast("double"), 6)
          .as("mean_left"),
        round((col("stot") - col("sk")).cast("double") /
          (col("nn") - col("k")).cast("double"), 6).as("mean_right"))
      .orderBy("event_type")
  }

  // integer prefix sums; the one score division mirrored in IEEE
  private def changepointOracle: String =
    s"""WITH $hourlyCentsCte,
      |t AS (SELECT event_type, bucket,
      |        CAST(floor(epoch(bucket)) AS BIGINT) // 3600 AS t, c
      |      FROM h),
      |w AS (SELECT event_type, bucket, t, c,
      |        row_number() OVER (PARTITION BY event_type ORDER BY t) AS k,
      |        CAST(sum(c) OVER (PARTITION BY event_type ORDER BY t)
      |          AS BIGINT) AS sk,
      |        lead(bucket) OVER (PARTITION BY event_type ORDER BY t)
      |          AS change_bucket,
      |        count(*) OVER (PARTITION BY event_type) AS nn,
      |        CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS stot
      |      FROM t),
      |sc AS (SELECT *, CAST(k*stot - nn*sk AS DOUBLE) AS numd
      |       FROM w WHERE k < nn),
      |g AS (SELECT *, numd*numd / CAST(k*(nn-k)*nn AS DOUBLE) AS score
      |      FROM sc),
      |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
      |        ORDER BY score DESC, k) AS rnk FROM g)
      |SELECT event_type, nn AS n, k AS split_k, change_bucket,
      |  round(score, 6) AS score,
      |  round(CAST(sk AS DOUBLE) / CAST(k AS DOUBLE), 6) AS mean_left,
      |  round(CAST(stot - sk AS DOUBLE) / CAST(nn - k AS DOUBLE), 6)
      |    AS mean_right
      |FROM r WHERE rnk = 1 ORDER BY 1""".stripMargin

  /** Holt-Winters 24-hour-ahead forecast per event_type over the hourly
    * series ([[graft.ml.HoltWinters]]) — ORACLE-CHECKED, bit-exact and
    * unrounded: the input series is the fixed-point hourly mean (exact
    * integer micro-units, the win_seasonal_decompose discipline), and the
    * DuckDB oracle replays the ENTIRE triple-smoothing recursion as a
    * `list_reduce` fold whose every float op mirrors `HoltWinters.smooth`
    * verbatim (same literals, same association — even `(1 − 0.3)`, which
    * is NOT the double `0.7`). A recursive stateful ML fit that
    * hash-matches SQL exactly, like stream_cusum.
    */
  private def q_ml_holt_winters(s: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyMicroMeans(E(s, dir).filter(col("value").isNotNull))
      .select(col("event_type"), col("bucket"),
        (microMean.cast("double") / lit(1000000.0)).as("v"))
    graft.ml.HoltWinters.forecast(hourly, "event_type", "bucket", "v",
        horizon = 24)
      .select(col("event_type"), col("step").cast("long").as("step"),
        col("yhat"), col("level"), col("trend"))
      .orderBy("event_type", "step")
  }

  // the FULL Holt-Winters recursion replayed as a list_reduce fold —
  // every float op mirrors HoltWinters.smooth verbatim (literals,
  // association, the (1 - 0.3)-is-not-0.7 trap), state = 27-double list
  // [t, level, trend, s0..s23]; input is the fixed-point hourly mean.
  // Unrounded output: the doubles are bit-identical by construction.
  private def holtWintersOracle: String =
    s"""WITH $hourlyMeanListCtes,
      |init AS (SELECT event_type, ys, len(ys) AS n,
      |    list_sum(ys[1:24]) / 24 AS mean1,
      |    list_sum(ys[25:48]) / 24 AS mean2
      |  FROM ser),
      |st0 AS (SELECT event_type, ys, n,
      |    ([CAST(24 AS DOUBLE), mean1, (mean2 - mean1) / 24] ||
      |     list_transform(range(1, 25),
      |       i -> ys[CAST(i AS INTEGER)] - mean1)) AS s0
      |  FROM init),
      |fin AS (SELECT event_type, n,
      |    list_reduce(
      |      [s0] || list_transform(ys[25:CAST(n AS INTEGER)], y -> [y]),
      |      (acc, x) -> [
      |        acc[1] + 1,
      |        0.3 * (x[1] - acc[4 + CAST(CAST(acc[1] AS BIGINT) % 24 AS INTEGER)])
      |          + (1 - 0.3) * (acc[2] + acc[3]),
      |        0.05 * ((0.3 * (x[1]
      |            - acc[4 + CAST(CAST(acc[1] AS BIGINT) % 24 AS INTEGER)])
      |          + (1 - 0.3) * (acc[2] + acc[3])) - acc[2])
      |          + (1 - 0.05) * acc[3]
      |      ] || list_transform(range(0, 24), i ->
      |        CASE WHEN i = CAST(acc[1] AS BIGINT) % 24
      |          THEN 0.2 * (x[1] - (0.3 * (x[1]
      |              - acc[4 + CAST(CAST(acc[1] AS BIGINT) % 24 AS INTEGER)])
      |            + (1 - 0.3) * (acc[2] + acc[3])))
      |            + (1 - 0.2) * acc[4 + CAST(i AS INTEGER)]
      |          ELSE acc[4 + CAST(i AS INTEGER)] END)
      |    ) AS st
      |  FROM st0)
      |SELECT event_type, CAST(k AS BIGINT) AS step,
      |  st[2] + k * st[3]
      |    + st[4 + CAST((n + k - 1) % 24 AS INTEGER)] AS yhat,
      |  st[2] AS level, st[3] AS trend
      |FROM fin, unnest(range(1, 25)) AS t(k)
      |ORDER BY event_type, step""".stripMargin

  /** ECOD-style unsupervised outlier scoring (Li et al. 2022, TKDE —
    * "ECOD: Unsupervised Outlier Detection Using Empirical Cumulative
    * Distribution Functions"): per stream, each hourly value's tail
    * probability is its empirical CDF from BOTH sides (cume_dist
    * ascending and descending — exact rationals from integer ranks, no
    * parametric fit, no training); the per-bucket score sums
    * −ln(min(left tail, right tail)) across streams. Windows partition
    * BY STREAM over the hour-bounded resampled frame — never global —
    * and the heavy input stays the one resample groupBy. Top-20 by
    * score with a total tie order.
    */
  private def q_ml_ecod(s: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
    val wUp = Window.partitionBy("event_type").orderBy(col("c"))
    val wDn = Window.partitionBy("event_type").orderBy(col("c").desc)
    val scored = hourly
      .withColumn("fl", cume_dist().over(wUp))
      .withColumn("fr", cume_dist().over(wDn))
      .withColumn("o", -log(least(col("fl"), col("fr"))))
    scored.groupBy("bucket")
      .agg(round(sum(col("o")), 6).as("ecod_score"),
        count(lit(1)).as("n_streams"))
      .orderBy(col("ecod_score").desc, col("bucket"))
      .limit(20)
  }

  private def ecodOracle: String =
    s"""WITH $hourlyCentsCte,
      |sc AS (SELECT bucket,
      |    -ln(least(
      |      cume_dist() OVER (PARTITION BY event_type ORDER BY c),
      |      cume_dist() OVER (PARTITION BY event_type ORDER BY c DESC)))
      |      AS o
      |  FROM h)
      |SELECT bucket, round(sum(o), 6) AS ecod_score,
      |  count(*) AS n_streams
      |FROM sc GROUP BY bucket
      |ORDER BY ecod_score DESC, bucket LIMIT 20""".stripMargin

  /** Per-stream 3-component GMM via EM (12 iterations of DECIMAL-exact
    * sufficient statistics — partitioning-bit-invariant, GmmEmSpec).
    *
    * ORACLE-CHECKED (round 11, the sketch-guarantee pattern): the fitted
    * parameters are iterative float training (not SQL — values stay
    * pinned in GmmEmSpec), so the driver row carries the SQL-exact
    * structure — (stream, component) grid + the fit's row count — plus
    * three guarantee flags over the EM contract: `em_monotone` (total
    * log-likelihood non-decreasing across iterations, up to the
    * variance-floor clamp's tolerance), `em_weights_ok` (mixture weights
    * sum to 1 per stream), `var_floor_ok` (every σ respects the
    * degenerate-component floor). A broken E/M step flips a flag and
    * hash-fails every row.
    */
  private def q_ml_gmm(s: SparkSession, dir: String): DataFrame = {
    val ev = E(s, dir).filter(col("value").isNotNull && !isnan(col("value")))
    val fit = Artifacts.remember(s"gmm3|$dir") {
      graft.ml.GmmEm.fit(ev, "event_type", "value", k = 3, iters = 12)
    }
    val lls = fit.logLik
    val monotone = lls.indices.drop(1).forall(i =>
      lls(i) >= lls(i - 1) - 1e-6 * (1.0 + math.abs(lls(i - 1))))
    val weightsOk = fit.params.values.forall(c =>
      math.abs(c.map(_._1).sum - 1.0) <= 1e-6)
    val floorOk = fit.params.values.forall(_.forall(
      _._3 >= math.sqrt(1e-6) - 1e-12))
    ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(
        s.range(3).select(col("id").cast("int").as("component"))))
      .select(col("event_type"), col("component"), col("n"),
        lit(monotone).as("em_monotone"), lit(weightsOk).as("em_weights_ok"),
        lit(floorOk).as("var_floor_ok"))
      .orderBy("event_type", "component")
  }

  // EM guarantee flags (round 11): SQL-exact (stream, component) grid
  // + fit row count; the three flags assert the EM contract
  private def gmmOracle: String =
    """WITH g AS (SELECT event_type, count(*) AS n FROM events
      |  WHERE value IS NOT NULL AND NOT isnan(value) GROUP BY 1),
      |c AS (SELECT CAST(unnest(range(0, 3)) AS INTEGER) AS component)
      |SELECT event_type, component, n,
      |  TRUE AS em_monotone, TRUE AS em_weights_ok, TRUE AS var_floor_ok
      |FROM g CROSS JOIN c ORDER BY event_type, component""".stripMargin

  /** ADABOOST over decision stumps (Freund & Schapire) — the second
    * trained classifier family beside Naive Bayes, fitted with the
    * histogram trick (binned stump search: one tiny hash-agg per round,
    * NO sort, NO weight table — weights recomputed as a column from the
    * accumulated stump literals). Task: is this doc English, from five
    * integer surface features. Deterministic (no RNG; refit
    * bit-identical, spec'd); memoized per dir. Output: per-lang
    * confusion counts. The LEARNING guarantee (boosted stumps carve an
    * interval a single stump cannot, >97% on a separable corpus) lives
    * in AdaBoostSpec.
    *
    * ORACLE-CHECKED (round 11, the ml_ar_forecast fitted-params trick):
    * the iterative reweighted FIT is not SQL, but the fitted stumps are
    * 10 (feature, threshold, polarity, α) literals and every feature is
    * an exact integer count — so the oracle re-derives the margin term
    * for term in the same fold order, the sign predictions, and the
    * confusion counts independently ([[adaboostOracleSqlFor]]).
    */
  private def q_ml_adaboost(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.ops.Dedup.words(col("text"))
    val feats = T(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("double").as("f_chars"),
        size(toks).cast("double").as("f_words"),
        size(array_distinct(toks)).cast("double").as("f_distinct"),
        size(filter(toks, w =>
          w.isInCollection(Seq("the", "a", "of", "to", "and"))))
          .cast("double").as("f_stop"),
        length(regexp_replace(col("text"), "\\s+", ""))
          .cast("double").as("f_nospace"),
        when(col("lang") === "en", 1).otherwise(-1).as("y"))
    val fcols = Seq("f_chars", "f_words", "f_distinct", "f_stop", "f_nospace")
    val model = Artifacts.remember(s"adaboost/$dir") {
      graft.ml.AdaBoost.fit(feats, fcols, "y", rounds = 10, bins = 32)
    }
    // publish the fitted stump literals for the oracle dump: the margin
    // is a left-assoc sum of CASE terms in stump order, mirrored exactly
    publishOracle("ml_adaboost", adaboostOracleSqlFor(model.stumps.map { st =>
      val f = model.features(st.feature)
      s"(CASE WHEN $f > ${dlit(st.threshold)} " +
        s"THEN CAST('${st.polarity}' AS DOUBLE) " +
        s"ELSE CAST('${-st.polarity}' AS DOUBLE) END) " +
        s"* ${dlit(st.alpha)}"
    }.mkString(" + ")))
    model.score(feats)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("prediction") === 1, 1L).otherwise(0L)).as("pred_en"),
        sum(when(col("prediction") === col("y"), 1L).otherwise(0L))
          .as("correct"))
      .orderBy("lang")
  }

  /** ml_adaboost oracle (round 11): with the 10 fitted stumps as exact
    * literals, the oracle recomputes the five integer surface features,
    * the additive margin in the same left-to-right stump order, the
    * sign predictions (margin ≥ 0 → en), and the per-lang confusion
    * counts — integer-exact end to end.
    */
  private def adaboostOracleSqlFor(margin: String): String =
    s"""WITH f AS (SELECT lang,
         |    CAST(n_chars AS DOUBLE) AS f_chars,
         |    CAST(len(ws) AS DOUBLE) AS f_words,
         |    CAST(len(list_distinct(ws)) AS DOUBLE) AS f_distinct,
         |    CAST(len(list_filter(ws,
         |      w -> w IN ('the', 'a', 'of', 'to', 'and'))) AS DOUBLE) AS f_stop,
         |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
         |      AS f_nospace,
         |    CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
         |  FROM (SELECT *,
         |      string_split_regex(lower(trim(text)), '\\s+') AS ws
         |    FROM documents)),
         |p AS (SELECT lang, y,
         |    CASE WHEN ($margin) >= 0 THEN 1 ELSE -1 END AS pred
         |  FROM f)
         |SELECT lang, count(*) AS n,
         |  CAST(sum(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS pred_en,
         |  CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT)
         |    AS correct
         |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  /** Isotonic (PAVA) calibration of the en-stopword-ratio score into a
    * monotone P(lang = en): one binned groupBy over the corpus (the
    * sufficient statistics), pool-adjacent-violators on the driver over
    * the 20-bin table. ORACLE-CHECKED since round 10 via the minimax
    * characterization of isotonic regression — `fit(i) = max_{j≤i}
    * min_{k≥i} avg(j..k)` — which IS SQL over the 20-row bin table
    * (O(bins³), trivial); Calibration.pavaCounts makes the Spark side
    * bit-compatible (exact integer block sums, one double division per
    * value — see its scaladoc). CalibrationSpec additionally pins
    * monotonicity, weighted-mean preservation, and a hand pooling.
    */
  private def q_ml_isotonic(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").filter(col("text").isNotNull)
    val scored = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), (col("lang") === "en").as("is_en")), "doc_id")
    Calibration.isotonicBins(scored, "stopword_ratio", "is_en",
        nBins = 20, lo = 0.0, hi = 1.0)
      .orderBy("bin")
  }

  // isotonic regression by its minimax characterization over the bin
  // table: fit(i) = max_{j<=i} min_{k>=i} avg(j..k), every candidate
  // one double division of exact integer sums (see q_ml_isotonic)
  private def isotonicOracle: String =
    """WITH sc AS (SELECT
      |    round(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |        w -> w IN ('the','a','of','to','and'))) * 1.0
      |      / len(string_split_regex(lower(trim(text)), '\s+')), 6) AS score,
      |    CAST(lang = 'en' AS BIGINT) AS pos
      |  FROM documents WHERE text IS NOT NULL),
      |stats AS (SELECT CAST(least(greatest(floor(score / 0.05), 0), 19) AS INT) AS bin,
      |    count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos
      |  FROM sc GROUP BY 1),
      |a AS (SELECT j.bin AS jb, k.bin AS kb,
      |    CAST((SELECT sum(s.n_pos) FROM stats s WHERE s.bin BETWEEN j.bin AND k.bin) AS DOUBLE)
      |  / CAST((SELECT sum(s.n) FROM stats s WHERE s.bin BETWEEN j.bin AND k.bin) AS DOUBLE)
      |    AS avgjk
      |  FROM stats j, stats k WHERE j.bin <= k.bin),
      |mm AS (SELECT i.bin AS bin, a.jb, min(a.avgjk) AS mn
      |  FROM stats i JOIN a ON a.jb <= i.bin AND a.kb >= i.bin
      |  GROUP BY i.bin, a.jb),
      |fit AS (SELECT bin, max(mn) AS calibrated FROM mm GROUP BY bin)
      |SELECT s.bin, round(s.bin * 0.05, 6) AS score_lo, s.n, s.n_pos,
      |  round(CAST(s.n_pos AS DOUBLE) / CAST(s.n AS DOUBLE), 6) AS rate,
      |  round(f.calibrated, 6) AS calibrated
      |FROM stats s JOIN fit f USING (bin) ORDER BY s.bin""".stripMargin

  /** Multivariate OLS per stream via EXACT normal equations — the
    * distributed-regression pattern: ONE aggregation pass collects the
    * sufficient statistics (Σx, Σxx, Σxy as DECIMAL(38) integers over
    * cent-units y, hour-of-day x₁, Monday-based weekday x₂), then the
    * 3×3 system solves by Cramer's rule in model-sized integer algebra —
    * the data is never revisited, the determinants are exact integers
    * (< 10³⁰ at sf1-per-stream, inside DECIMAL(38)/HUGEINT), and the
    * betas are three float divisions on exactly-known integers.
    * Weekday is Spark `weekday` (Mon = 0) ↔ DuckDB `isodow − 1` — the
    * one calendar convention the two engines share after shifting.
    */
  private def q_ml_ols_multi(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val base = E(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"),
        expr("cast(cast(value as decimal(18,6)) * 100 as bigint)").as("y"),
        weekday(col("ts")).cast("long").as("x2"),
        hour(col("ts")).cast("long").as("x1"))
    val g = base.groupBy("event_type").agg(
      count(lit(1)).cast(d38).as("n"),
      sum(col("x1").cast(d38)).as("sx1"),
      sum(col("x2").cast(d38)).as("sx2"),
      sum(col("y").cast(d38)).as("sy"),
      sum((col("x1") * col("x1")).cast(d38)).as("s11"),
      sum((col("x1") * col("x2")).cast(d38)).as("s12"),
      sum((col("x2") * col("x2")).cast(d38)).as("s22"),
      sum((col("x1") * col("y")).cast(d38)).as("s1y"),
      sum((col("x2") * col("y")).cast(d38)).as("s2y"))
    def det3(a11: Column, a12: Column, a13: Column, a21: Column, a22: Column,
        a23: Column, a31: Column, a32: Column, a33: Column): Column =
      a11 * (a22 * a33 - a23 * a32) - a12 * (a21 * a33 - a23 * a31) +
        a13 * (a21 * a32 - a22 * a31)
    val (n, sx1, sx2) = (col("n"), col("sx1"), col("sx2"))
    val (sy, s11, s12, s22, s1y, s2y) =
      (col("sy"), col("s11"), col("s12"), col("s22"), col("s1y"), col("s2y"))
    val det = det3(n, sx1, sx2, sx1, s11, s12, sx2, s12, s22)
    val det0 = det3(sy, sx1, sx2, s1y, s11, s12, s2y, s12, s22)
    val det1 = det3(n, sy, sx2, sx1, s1y, s12, sx2, s2y, s22)
    val det2 = det3(n, sx1, sy, sx1, s11, s1y, sx2, s12, s2y)
    g.select(col("event_type"), n.cast("long").as("n"),
        round(det0.cast("double") / det.cast("double") / 100.0, 6).as("beta0"),
        round(det1.cast("double") / det.cast("double") / 100.0, 6).as("beta1"),
        round(det2.cast("double") / det.cast("double") / 100.0, 6).as("beta2"))
      .orderBy("event_type")
  }

  private def olsMultiOracle: String = {
    def det3Sql(a: String*): String =
      s"${a(0)}*(${a(4)}*${a(8)} - ${a(5)}*${a(7)})" +
        s" - ${a(1)}*(${a(3)}*${a(8)} - ${a(5)}*${a(6)})" +
        s" + ${a(2)}*(${a(3)}*${a(7)} - ${a(4)}*${a(6)})"
    val det = det3Sql("n", "sx1", "sx2", "sx1", "s11", "s12", "sx2", "s12", "s22")
    val det0 = det3Sql("sy", "sx1", "sx2", "s1y", "s11", "s12", "s2y", "s12", "s22")
    val det1 = det3Sql("n", "sy", "sx2", "sx1", "s1y", "s12", "sx2", "s2y", "s22")
    val det2 = det3Sql("n", "sx1", "sy", "sx1", "s11", "s1y", "sx2", "s12", "s2y")
    s"""WITH b AS (SELECT event_type,
       |    CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT) AS y,
       |    CAST(isodow(ts) - 1 AS BIGINT) AS x2,
       |    CAST(hour(ts) AS BIGINT) AS x1
       |  FROM events WHERE value IS NOT NULL),
       |g AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
       |    sum(CAST(x1 AS HUGEINT)) AS sx1, sum(CAST(x2 AS HUGEINT)) AS sx2,
       |    sum(CAST(y AS HUGEINT)) AS sy,
       |    sum(CAST(x1 AS HUGEINT) * x1) AS s11,
       |    sum(CAST(x1 AS HUGEINT) * x2) AS s12,
       |    sum(CAST(x2 AS HUGEINT) * x2) AS s22,
       |    sum(CAST(x1 AS HUGEINT) * y) AS s1y,
       |    sum(CAST(x2 AS HUGEINT) * y) AS s2y
       |  FROM b GROUP BY 1)
       |SELECT event_type, CAST(n AS BIGINT) AS n,
       |  round(CAST(($det0) AS DOUBLE) / CAST(($det) AS DOUBLE) / 100.0, 6)
       |    AS beta0,
       |  round(CAST(($det1) AS DOUBLE) / CAST(($det) AS DOUBLE) / 100.0, 6)
       |    AS beta1,
       |  round(CAST(($det2) AS DOUBLE) / CAST(($det) AS DOUBLE) / 100.0, 6)
       |    AS beta2
       |FROM g ORDER BY event_type""".stripMargin
  }

  /** Grid-bucketed DBSCAN over hash-derived customer sites — density
    * clustering as a first-class operator (site clustering, hotspot
    * mining). ε = 280 km, minPts = 3 (neighbor counts INCLUDE the point
    * itself — the self-pair falls out of the grid join naturally).
    * Pipeline: (1) ε-neighbor pairs from [[graft.ops.Geo.radiusPairs]]'
    * 3×3 cell-neighborhood equi-join — O(n·density), never all-pairs;
    * (2) core test = one ids-only groupBy; (3) clusters = connected
    * components of the core-core ε-graph via the same convergence-checked
    * min-label propagation as dedup_clusters/graph_cc; (4) border points
    * attach to the min cluster among their core neighbors (the
    * deterministic tie rule — textbook DBSCAN leaves border assignment
    * order-dependent, which no hash-checked engine can tolerate);
    * (5) the rest is noise (cluster −1). ε is chosen subcritical for the
    * fixture density (avg ≈ 2.5 neighbors ≪ the ~4.5 continuum
    * percolation threshold), so components stay small and shallow — the
    * propagation converges in a few rounds. The point set is capped at
    * c_custkey ≤ 4500 SOLELY for the oracle's sake: the DuckDB mirror is
    * the brute-force all-pairs ε-graph plus a recursive-CTE closure,
    * whose reachability table is O(Σ component²) — the Spark path has no
    * such bound and is scale-stressed uncapped (ScaleStress op probe).
    */
  private def q_ml_dbscan(s: SparkSession, dir: String): DataFrame =
    graft.ops.Geo
      .dbscan(custSites(s, dir).filter(col("cust") <= 4500L), "cust",
        epsKm = 280.0, minPts = 3, dLatE4 = 25400L, dLonE4 = 60000L)
      .orderBy("cust")

  private def dbscanOracle: String = {
    val (cla, clo) = geoE4Sql("c", "c_custkey")
    s"""WITH RECURSIVE c AS (SELECT c_custkey AS cust, $cla AS lat_e4,
       |    $clo AS lon_e4 FROM customer WHERE c_custkey <= 4500),
       |nb AS (SELECT a.cust AS cust, b.cust AS nbr
       |  FROM c a, c b
       |  WHERE ${graft.ops.Geo.haversineSql("(a.lat_e4/10000.0)",
              "(a.lon_e4/10000.0)", "(b.lat_e4/10000.0)",
              "(b.lon_e4/10000.0)")} < 280.0),
       |cnt AS (SELECT cust, count(*) AS n_nbr FROM nb GROUP BY 1),
       |core AS (SELECT cust FROM cnt WHERE n_nbr >= 3),
       |ce AS (SELECT nb.cust AS src, nb.nbr AS dst FROM nb
       |  JOIN core x ON x.cust = nb.cust JOIN core y ON y.cust = nb.nbr
       |  WHERE nb.cust <> nb.nbr),
       |reach(node, label) AS (
       |  SELECT cust, cust FROM core
       |  UNION
       |  SELECT ce.dst, r2.label FROM reach r2 JOIN ce ON ce.src = r2.node),
       |comp AS (SELECT node AS cust, min(label) AS cluster
       |  FROM reach GROUP BY 1),
       |border AS (SELECT nb.cust, min(comp.cluster) AS cluster
       |  FROM nb JOIN comp ON comp.cust = nb.nbr
       |  WHERE nb.cust <> nb.nbr
       |    AND nb.cust NOT IN (SELECT cust FROM core)
       |  GROUP BY 1)
       |SELECT cust, 'core' AS role, cluster FROM comp
       |UNION ALL SELECT cust, 'border' AS role, cluster FROM border
       |UNION ALL SELECT cust, 'noise' AS role, CAST(-1 AS BIGINT) AS cluster
       |  FROM c WHERE cust NOT IN (SELECT cust FROM comp)
       |    AND cust NOT IN (SELECT cust FROM border)
       |ORDER BY cust""".stripMargin
  }

  /** k-NN label classification over the embedding corpus: hold out every
    * 20th vector, classify by majority label of its 5 nearest training
    * neighbors (cosine), ties → fewer-votes-first broken by label text.
    * The query side is broadcast (test sets are model-sized); the
    * corpus-side scan is the same single pass as simsearch_topk, so the
    * plan scales exactly like the ANN baseline it reuses. The neighbor
    * set (|test|·k rows — model-sized) is then BROADCAST back against
    * the corpus to pick up labels: the big table is only ever scanned,
    * never shuffled.
    */
  private def q_ml_knn_classify(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings")
    // the held-out set is BOUNDED (id < 10⁵), not a corpus fraction: eval
    // sets are fixed-size in practice, and a %-of-corpus test side would
    // turn the broadcast brute-force leg quadratic at scale — the 10×
    // ScaleStress probe measured exactly that (e 0.68 and climbing)
    // before the bound. No testdata fixture reaches the bound, so the
    // oracle results are unchanged; only scaled corpora are affected.
    val test = e.filter(col("vec_id") % 20 === 0 && col("vec_id") < 100000L)
    val train = e.filter(col("vec_id") % 20 =!= 0 || col("vec_id") >= 100000L)
    val nbrs = Similarity.bruteForceTopK(test, train, "vec_id", "embedding", 5)
    val votes = e.select(col("vec_id").as("nid"), col("label").as("nlabel"))
      .join(broadcast(nbrs), "nid")
      .groupBy("qid", "nlabel").agg(count(lit(1)).as("v"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("v").desc, col("nlabel"))))
      .filter(col("rn") === 1)
      .select(col("qid"), col("nlabel").as("label_pred"))
    test.select(col("vec_id").as("qid"), col("label").as("label_true"))
      .join(votes, "qid")
      .orderBy("qid")
  }

  private def knnClassifyOracle: String =
    s"""WITH $knnPredCtes
       |SELECT qid, label_true, label_pred FROM predk ORDER BY qid""".stripMargin

  /** k-NN classifier prediction CTE chain (ends in
    * `predk(qid, label_true, label_pred)`) — shared verbatim by the
    * `ml_knn_classify` oracle and the eval-family oracles built on its
    * predictions (`ml_confusion_prf`).
    */
  private def knnPredCtes: String =
    s"""q AS (SELECT * FROM embeddings WHERE vec_id % 20 = 0
       |  AND vec_id < 100000),
       |t AS (SELECT * FROM embeddings WHERE vec_id % 20 <> 0
       |  OR vec_id >= 100000),
       |dots AS (SELECT q.vec_id AS qid, t.vec_id AS nid, t.label AS nlabel,
       |    ${dotSql("q.embedding", "t.embedding")}
       |      / sqrt(${normSqSql("q.embedding")} * ${normSqSql("t.embedding")})
       |      AS cos_sim
       |  FROM q, t),
       |ranked AS (SELECT qid, nid, nlabel,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid)
       |      AS rnk
       |  FROM dots),
       |votes AS (SELECT qid, nlabel, count(*) AS v
       |  FROM ranked WHERE rnk <= 5 GROUP BY 1, 2),
       |pick AS (SELECT qid, nlabel,
       |    row_number() OVER (PARTITION BY qid ORDER BY v DESC, nlabel) AS rn
       |  FROM votes),
       |predk AS (SELECT q.vec_id AS qid, q.label AS label_true,
       |    p.nlabel AS label_pred
       |  FROM q JOIN pick p ON q.vec_id = p.qid AND p.rn = 1)""".stripMargin

  /** Per-class confusion matrix + precision/recall/F1 over the k-NN
    * classifier's predictions — the model-eval primitive every training
    * pipeline runs after scoring. The prediction table is the
    * oracle-checked [[q_ml_knn_classify]] plan verbatim; the confusion
    * pairs table (≤ |classes|² rows — model-sized) is localCheckpoint'd
    * once so the three marginal legs (tp / fp / fn) don't re-run the
    * k-NN scan. All counts are exact integers; the three ratios are
    * single float divisions on exactly-known integers (F1 in the
    * 2tp/(2tp+fp+fn) integer-denominator form — no compounding), so the
    * output is bit-identical in any engine. At 100 TB the eval reduces
    * to ONE groupBy of the predictions table; everything after is
    * |classes|-sized algebra.
    */
  private def q_ml_confusion_prf(s: SparkSession, dir: String): DataFrame = {
    val pairs = q_ml_knn_classify(s, dir)
      .groupBy("label_true", "label_pred").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val mis = pairs.filter(col("label_true") =!= col("label_pred"))
    val tpa = pairs.filter(col("label_true") === col("label_pred"))
      .select(col("label_true").as("cls"), col("n").as("tp"))
    val fpa = mis.groupBy(col("label_pred").as("cls")).agg(sum("n").as("fp"))
    val fna = mis.groupBy(col("label_true").as("cls")).agg(sum("n").as("fn"))
    val classes = pairs.select(col("label_true").as("cls"))
      .unionByName(pairs.select(col("label_pred").as("cls"))).distinct()
    val tp = coalesce(col("tp"), lit(0L))
    val fp = coalesce(col("fp"), lit(0L))
    val fn = coalesce(col("fn"), lit(0L))
    classes.join(tpa, Seq("cls"), "left_outer")
      .join(fpa, Seq("cls"), "left_outer")
      .join(fna, Seq("cls"), "left_outer")
      .select(col("cls"), tp.as("tp"), fp.as("fp"), fn.as("fn"),
        round(tp.cast("double") / nullif((tp + fp).cast("double"), lit(0.0)), 6)
          .as("prec"),
        round(tp.cast("double") / nullif((tp + fn).cast("double"), lit(0.0)), 6)
          .as("rec"),
        round(lit(2.0) * tp.cast("double")
          / nullif((lit(2L) * tp + fp + fn).cast("double"), lit(0.0)), 6)
          .as("f1"))
      .orderBy("cls")
  }

  private def confusionPrfOracle: String =
    s"""WITH $knnPredCtes,
       |cp AS (SELECT label_true, label_pred, count(*) AS n
       |  FROM predk GROUP BY 1, 2),
       |cls AS (SELECT label_true AS cls FROM cp
       |  UNION SELECT label_pred FROM cp),
       |tpa AS (SELECT label_true AS cls, CAST(sum(n) AS BIGINT) AS tp
       |  FROM cp WHERE label_true = label_pred GROUP BY 1),
       |fpa AS (SELECT label_pred AS cls, CAST(sum(n) AS BIGINT) AS fp
       |  FROM cp WHERE label_true <> label_pred GROUP BY 1),
       |fna AS (SELECT label_true AS cls, CAST(sum(n) AS BIGINT) AS fn
       |  FROM cp WHERE label_true <> label_pred GROUP BY 1)
       |SELECT c.cls, coalesce(tp, 0) AS tp, coalesce(fp, 0) AS fp,
       |  coalesce(fn, 0) AS fn,
       |  round(CAST(coalesce(tp, 0) AS DOUBLE)
       |    / nullif(CAST(coalesce(tp, 0) + coalesce(fp, 0) AS DOUBLE), 0), 6)
       |    AS prec,
       |  round(CAST(coalesce(tp, 0) AS DOUBLE)
       |    / nullif(CAST(coalesce(tp, 0) + coalesce(fn, 0) AS DOUBLE), 0), 6)
       |    AS rec,
       |  round(2.0 * CAST(coalesce(tp, 0) AS DOUBLE)
       |    / nullif(CAST(2 * coalesce(tp, 0) + coalesce(fp, 0)
       |        + coalesce(fn, 0) AS DOUBLE), 0), 6) AS f1
       |FROM cls c LEFT JOIN tpa USING (cls) LEFT JOIN fpa USING (cls)
       |LEFT JOIN fna USING (cls)
       |ORDER BY cls""".stripMargin

  /** Exact one-vs-rest ROC-AUC + average precision per class — ranking
    * metrics for retrieval/classifier eval. AUC via the rank identity
    * (the Mann-Whitney U this registry already ships): with a TOTAL
    * deterministic order (score, vec_id), AUC = (Σ ranks₊ −
    * n₊(n₊+1)/2)/(n₊·n₋) — all integers until one final division.
    * Average precision avoids the order-dependent float sum by flooring
    * each precision@i to ppm: (10⁶·cum₊) div i is an exact integer in
    * both engines, summed exactly. Scale: ranks come from per-class sort
    * windows (the classic 2-pass distributed rank if a single class
    * outgrows a partition); one corpus scan feeds everything.
    */
  private def q_ml_auc_roc(s: SparkSession, dir: String): DataFrame = {
    val wAsc = Window.partitionBy("cls").orderBy(col("score"), col("vec_id"))
    val wDesc = Window.partitionBy("cls")
      .orderBy(col("score").desc, col("vec_id"))
    val r = probeScored(s, dir)
      .withColumn("rk", row_number().over(wAsc).cast("long"))
      .withColumn("rn", row_number().over(wDesc).cast("long"))
      .withColumn("cum", sum(when(col("pos"), 1L).otherwise(0L)).over(
        wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prec_ppm",
        when(col("pos"), expr("(1000000 * cum) div rn")).otherwise(lit(0L)))
    val np = col("np").cast("double"); val nn = col("nn").cast("double")
    r.groupBy("cls").agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("nn"),
        sum(when(col("pos"), col("rk")).otherwise(0L)).as("srk"),
        sum(col("prec_ppm")).as("sppm"))
      .select(col("cls"), col("np").as("n_pos"), col("nn").as("n_neg"),
        round((col("srk").cast("double") - np * (np + 1.0) / 2.0) / (np * nn), 6)
          .as("auc"),
        round(col("sppm").cast("double") / np / 1000000.0, 6).as("avg_prec"))
      .orderBy("cls")
  }

  private def aucRocOracle: String =
    s"""WITH $probeScoredCtes,
       |r AS (SELECT cls, pos,
       |    row_number() OVER (PARTITION BY cls ORDER BY score, vec_id)
       |      AS rk,
       |    row_number() OVER (PARTITION BY cls ORDER BY score DESC, vec_id)
       |      AS rn,
       |    sum(CASE WHEN pos THEN 1 ELSE 0 END) OVER (PARTITION BY cls
       |      ORDER BY score DESC, vec_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM sc),
       |g AS (SELECT cls,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn,
       |    CAST(sum(CASE WHEN pos THEN rk ELSE 0 END) AS BIGINT) AS srk,
       |    CAST(sum(CASE WHEN pos THEN (1000000 * cum) // rn ELSE 0 END)
       |      AS BIGINT) AS sppm
       |  FROM r GROUP BY 1)
       |SELECT cls, np AS n_pos, nn AS n_neg,
       |  round((CAST(srk AS DOUBLE) - CAST(np AS DOUBLE)
       |      * (CAST(np AS DOUBLE) + 1.0) / 2.0)
       |    / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 6) AS auc,
       |  round(CAST(sppm AS DOUBLE) / CAST(np AS DOUBLE) / 1000000.0, 6)
       |    AS avg_prec
       |FROM g ORDER BY cls""".stripMargin

  /** One-vs-rest scored frame shared by [[q_ml_auc_roc]] /
    * [[q_ml_calibration]]: per class, the anchor is the class member
    * with the MIN vec_id (a |classes|-row table — model-sized at any
    * corpus scale — broadcast against the one corpus scan), score =
    * cosine to the anchor, positive ⇔ the row carries the class label.
    * Every (row, class) score is per-row arithmetic on the broadcast
    * anchor — the corpus is scanned once and never shuffled here; the
    * downstream rank/bin windows partition BY CLASS.
    */
  private def probeScored(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings")
    val probes = e.withColumn("rn", row_number().over(
        Window.partitionBy("label").orderBy("vec_id")))
      .filter(col("rn") === 1)
      .select(col("label").as("cls"), col("vec_id").as("pid"),
        col("embedding").as("pv"))
    e.crossJoin(broadcast(probes)).filter(col("vec_id") =!= col("pid"))
      .select(col("cls"), col("vec_id"),
        (col("label") === col("cls")).as("pos"),
        (Similarity.dot(col("embedding"), col("pv")) /
          sqrt(Similarity.dot(col("embedding"), col("embedding")) *
            Similarity.dot(col("pv"), col("pv")))).as("score"))
  }

  /** One-vs-rest scored-frame CTE chain (ends in
    * `sc(cls, vec_id, pos, score)`) — the SQL mirror of
    * [[probeScored]], shared by `ml_auc_roc` / `ml_calibration`.
    */
  private def probeScoredCtes: String =
    s"""probes AS (SELECT label AS cls, vec_id AS pid, embedding AS pv
       |  FROM (SELECT label, vec_id, embedding,
       |      row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
       |    FROM embeddings) WHERE rn = 1),
       |sc AS (SELECT p.cls, e.vec_id, (e.label = p.cls) AS pos,
       |    ${dotSql("e.embedding", "p.pv")}
       |      / sqrt(${normSqSql("e.embedding")} * ${normSqSql("p.pv")})
       |      AS score
       |  FROM embeddings e JOIN probes p ON e.vec_id <> p.pid)""".stripMargin

  /** Calibration/reliability bins per class: pseudo-probability
    * p = (cos+1)/2 into ten fixed bins; per bin the exact count,
    * positive fraction (exact integer ratio) and mean score (per-row
    * ppm floor then integer sum — the same order-independence discipline
    * as [[q_ml_auc_roc]]'s AP). ONE groupBy of the scored frame; at
    * 100 TB this is a map-side-combinable aggregation, no sort anywhere.
    */
  private def q_ml_calibration(s: SparkSession, dir: String): DataFrame = {
    val p = (col("score") + lit(1.0)) / 2.0
    probeScored(s, dir)
      .withColumn("bin", least(floor(p * 10.0).cast("long"), lit(9L)))
      .withColumn("p_ppm", floor(p * 1000000.0).cast("long"))
      .groupBy("cls", "bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("npos"),
        sum(col("p_ppm")).as("sppm"))
      .select(col("cls"), col("bin"), col("n"),
        round(col("sppm").cast("double") / col("n").cast("double") / 1000000.0, 6)
          .as("mean_score"),
        round(col("npos").cast("double") / col("n").cast("double"), 6)
          .as("frac_pos"))
      .orderBy("cls", "bin")
  }

  private def calibrationOracle: String =
    s"""WITH $probeScoredCtes,
       |b AS (SELECT cls, pos,
       |    least(CAST(floor(((score + 1.0) / 2.0) * 10.0) AS BIGINT), 9)
       |      AS bin,
       |    CAST(floor(((score + 1.0) / 2.0) * 1000000.0) AS BIGINT) AS p_ppm
       |  FROM sc)
       |SELECT cls, bin, count(*) AS n,
       |  round(CAST(sum(p_ppm) AS DOUBLE) / count(*) / 1000000.0, 6)
       |    AS mean_score,
       |  round(CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS frac_pos
       |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
