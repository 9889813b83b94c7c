package graft.ml

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Filters, Timeseries}

import JsonConfig.{double, int, long, obj, str, strList, Conf}

/** The `gordo-components build` analogue (reference trace SURVEY.md §3.1:
  * `cli/cli.py::build` → `builder/build_model.py::build_model` →
  * `TimeSeriesDataset.get_data` → pipeline fit → CV → metadata dump;
  * public repo, mount empty §0) — re-expressed as ONE SparkSession job:
  *
  *   long scan → resample+align (one shuffle) → row filter → CV folds
  *   (ts-range filters) → MLlib fit → threshold agg → artifact + metadata.
  *
  * The reference's per-machine pod, ThreadPool tag downloads, and chunked
  * client loop all collapse into Spark task scheduling. The md5 build
  * cache (`provide_saved_model`) survives as DiskRegistry.
  *
  * Every model type goes through the one lifecycle in [[build]]; a
  * [[Kind]] in the [[kinds]] table declares only what differs (training
  * frame, hyperparameters, fit, fold stats, persistence, metadata fields).
  *
  * Machine config (JSON; YAML parses to the same tree):
  * {{{
  * { "name": "m1",
  *   "dataset": { "tags": ["click","view"], "resolution": "10 minutes",
  *                "row_filter": "`click` > 0" },
  *   "model": { "type": "pca_anomaly", "k": 2, "threshold_pctl": 0.99 },
  *   "evaluation": { "n_splits": 3 } }
  * }}}
  */
object ModelBuilder {

  /** A built machine: its artifact dir, the model reloaded from it, and
    * its metadata.json.
    */
  case class Built[M](path: String, model: M, metadata: String)

  /** The `dataset` block of a machine config: the tags, the resolution,
    * and the long frame's `ts_col`/`tag_col`/`value_col` (default `ts`,
    * `tag`, `value`).
    */
  private[ml] case class Source(ds: Conf) {
    val tags: Seq[String] = strList(ds, "tags")
    val resolution: String = str(ds, "resolution", "10 minutes")
    def column(c: String): String = str(ds, s"${c}_col", c)
  }

  /** Build the wide feature matrix from a long-format frame per the
    * dataset config — the `TimeSeriesDataset.get_data` analogue.
    */
  def dataset(longDf: DataFrame, cfg: Conf): (DataFrame, Seq[String]) = {
    val src = Source(obj(cfg, "dataset"))
    (wide(longDf, src), src.tags)
  }

  private def wide(longDf: DataFrame, src: Source): DataFrame = {
    val aligned = Timeseries.align(longDf, src.column("ts"), src.column("tag"),
      src.column("value"), src.tags, src.resolution)
    src.ds.get("row_filter").fold(aligned)(f => Filters.rowFilter(aligned, f.toString))
  }

  /** One machine's training under its kind's hyperparameters: `fit`
    * returns the model and its per-epoch training loss (empty for a
    * one-pass fit), `validate` scores a strictly-later CV fold, and
    * `fields` renders the `"model"` metadata after its `type`, one entry
    * per metadata line.
    */
  private[ml] case class Trainer[M](fit: DataFrame => (M, Array[Double]),
      validate: (M, DataFrame) => DataFrame, fields: (M, Array[Double]) => Seq[String])

  /** One `model.type`: what its build does differently. [[build]] owns
    * everything the kinds share.
    */
  sealed abstract class Kind[M](val name: String) {
    /** The training frame, built lazily: no Spark job runs here. */
    private[ml] def frame(longDf: DataFrame, src: Source): DataFrame
    /** Reads the kind's hyperparameters, with their defaults. */
    private[ml] def trainer(model: Conf, src: Source): Trainer[M]
    /** A CV fold's JSON fields after `"fold"`, from its validation scores. */
    private[ml] def foldStats(m: M, scored: DataFrame): String
    /** Rejects a final model before anything is written or registered. */
    private[ml] def check(m: M): Unit = ()
    /** Whether metadata.json records the training frame's row count. */
    private[ml] def recordsRows: Boolean = false
    private[ml] def save(spark: SparkSession, m: M, dir: Path): Unit
    private[ml] def load(spark: SparkSession, dir: Path): M
    /** The model as a prediction-endpoint scorer; None if not servable. */
    def scorer(spark: SparkSession, dir: Path): Option[TagAnomalyScorer] = None
  }

  /** Anomaly kinds train on the wide [[dataset]], validate on
    * `anomaly_score` and serve on the prediction endpoint.
    */
  sealed abstract class AnomalyKind[M <: TagAnomalyScorer](name: String)
      extends Kind[M](name) {
    private[ml] def frame(longDf: DataFrame, src: Source) = wide(longDf, src)
    private[ml] def foldStats(m: M, scored: DataFrame) =
      s""""threshold": ${jnum(m.threshold)}, ${valStats(scored, "anomaly_score", "score")}"""
    override def scorer(spark: SparkSession, dir: Path) = Some(load(spark, dir))
  }

  /** Forecast kinds train on the keyed long resample `(bucket, <tag_col>,
    * v)`, validate on the absolute error `v_anomaly`, and serve forecasts,
    * not anomaly requests.
    */
  sealed abstract class ForecastKind[M](name: String) extends Kind[M](name) {
    private[ml] def frame(longDf: DataFrame, src: Source) = longDf
      .filter(col(src.column("tag")).isin(src.tags: _*))
      .groupBy(Timeseries.bucket(col(src.column("ts")), src.resolution).as("bucket"),
        col(src.column("tag")))
      .agg(avg(col(src.column("value"))).as("v"))
    private[ml] def foldStats(m: M, scored: DataFrame) =
      valStats(scored, "v_anomaly", "abs_err")
  }

  // -- the kind table: one entry per model.type -----------------------------

  /** `model.type: "pca_anomaly"` (the default): scaler + PCA pipeline,
    * reconstruction-error threshold. Config: `{"k": 2, "threshold_pctl":
    * 0.99}`.
    */
  val pcaAnomaly: Kind[PcaAnomalyModel] = new AnomalyKind[PcaAnomalyModel]("pca_anomaly") {
    override private[ml] def recordsRows = true
    private[ml] def trainer(p: Conf, src: Source) = {
      val k = int(p, "k", 2)
      val pctl = double(p, "threshold_pctl", 0.99)
      Trainer[PcaAnomalyModel](f => (PcaAnomaly.fit(f, src.tags, k, pctl), NoLoss),
        (m, valid) => m.score(valid),
        (m, _) => Seq(s""""k": $k, "threshold": ${jnum(m.threshold)}""",
          s""""threshold_pctl": $pctl"""))
    }
    private[ml] def save(spark: SparkSession, m: PcaAnomalyModel, dir: Path) = {
      m.pipeline.write.overwrite().save(dir.resolve("model").toString)
      Files.writeString(dir.resolve("threshold.txt"), m.threshold.toString)
    }
    private[ml] def load(spark: SparkSession, dir: Path) = PcaAnomalyModel(
      PipelineModel.load(dir.resolve("model").toString),
      Files.readString(dir.resolve("threshold.txt")).trim.toDouble)
  }

  /** `model.type: "ar_forecast"`: the trainable per-tag linear forecaster
    * (one-shuffle fleet fit). Config: `{"lookback": 6}`.
    */
  val arForecast: Kind[Forecast.KeyedForecastModel] =
    new ForecastKind[Forecast.KeyedForecastModel]("ar_forecast") {
      private[ml] def trainer(p: Conf, src: Source) = {
        val lb = int(p, "lookback", 6)
        Trainer[Forecast.KeyedForecastModel](
          f => (Forecast.fitPerKey(f, src.column("tag"), "v", lb, "bucket"), NoLoss),
          (m, valid) => m.forecast(valid, "bucket"),
          (_, _) => Seq(s""""lookback": $lb"""))
      }
      // an empty model (too few buckets per tag for the lookback) must
      // not poison the cache
      override private[ml] def check(m: Forecast.KeyedForecastModel) =
        require(m.coefs.nonEmpty,
          s"no tag had enough buckets for lookback=${m.lb} — nothing to fit")
      private[ml] def save(spark: SparkSession, m: Forecast.KeyedForecastModel, dir: Path) =
        saveFrame(m.toDF(spark), dir)
      private[ml] def load(spark: SparkSession, dir: Path) =
        Forecast.KeyedForecastModel.fromDF(loadFrame(spark, dir))
    }

  /** `model.type: "esn_forecast"`: the [[EchoState]] reservoir in place of
    * the linear AR fleet. The validation scan restarts the state from
    * zero, so the first `washout` validation steps carry the same
    * transient the fit excludes. Config: `{"reservoir": 64,
    * "spectral_radius": 0.9, "leak": 0.5, "washout": 10, "input_scale":
    * 0.5, "ridge": 1e-4}`.
    */
  val esnForecast: Kind[EchoState.EsnModel] =
    new ForecastKind[EchoState.EsnModel]("esn_forecast") {
      private[ml] def trainer(p: Conf, src: Source) = {
        val reservoir = int(p, "reservoir", 64)
        val rho = double(p, "spectral_radius", 0.9)
        val leak = double(p, "leak", 0.5)
        val washout = int(p, "washout", 10)
        val inScale = double(p, "input_scale", 0.5)
        val ridge = double(p, "ridge", 1e-4)
        val keys = Seq(src.column("tag"))
        Trainer[EchoState.EsnModel](
          f => (EchoState.fit(f, Seq("v"), "bucket", keys, reservoir = reservoir,
            ridge = ridge, spectralRadius = rho, leak = leak, washout = washout,
            inputScale = inScale), NoLoss),
          (m, valid) => m.forecast(valid, "bucket", keys),
          (_, _) => Seq(s""""reservoir": $reservoir""",
            s""""spectral_radius": $rho, "leak": $leak""",
            s""""washout": $washout, "input_scale": $inScale"""))
      }
      private[ml] def save(spark: SparkSession, m: EchoState.EsnModel, dir: Path) =
        saveFrame(m.toDF(spark), dir)
      private[ml] def load(spark: SparkSession, dir: Path) =
        EchoState.EsnModel.fromDF(loadFrame(spark, dir))
    }

  /** `model.type: "autoencoder"`: the NONLINEAR random-feature
    * [[AutoEncoder]] (one-pass ridge fit). Config: `{"hidden": 16,
    * "ridge": 1e-3, "threshold_pctl": 0.99, "seed": 42}`.
    */
  val autoencoder: Kind[AutoEncoder.RfaeModel] =
    new AnomalyKind[AutoEncoder.RfaeModel]("autoencoder") {
      private[ml] def trainer(p: Conf, src: Source) = {
        val hidden = int(p, "hidden", 16)
        val ridge = double(p, "ridge", 1e-3)
        val pctl = double(p, "threshold_pctl", 0.99)
        val seed = long(p, "seed", 42L)
        Trainer[AutoEncoder.RfaeModel](
          f => (AutoEncoder.fit(f, src.tags, hidden, ridge, pctl, seed), NoLoss),
          (m, valid) => m.score(valid.na.drop("any", src.tags)),
          (m, _) => Seq(s""""hidden": $hidden, "ridge": $ridge""", thresholdField(m, pctl)))
      }
      private[ml] def save(spark: SparkSession, m: AutoEncoder.RfaeModel, dir: Path) =
        saveFrame(m.toDF(spark), dir)
      private[ml] def load(spark: SparkSession, dir: Path) =
        AutoEncoder.RfaeModel.fromDF(loadFrame(spark, dir))
    }

  /** `model.type: "autoencoder_sgd"`: the GRADIENT-trained counterpart of
    * [[autoencoder]] ([[AutoEncoderSGD]]'s distributed mini-batch
    * descent). It persists the same coefficient-frame format (RfaeModel),
    * so serving is type-agnostic. Config: `{"hidden": 8, "epochs": 120,
    * "lr": 0.05, "batch_fraction": 0.5, "threshold_pctl": 0.99, "seed":
    * 42}`.
    */
  val autoencoderSgd: Kind[AutoEncoder.RfaeModel] =
    new AnomalyKind[AutoEncoder.RfaeModel]("autoencoder_sgd") {
      private[ml] def trainer(p: Conf, src: Source) = {
        val hidden = int(p, "hidden", 8)
        val epochs = int(p, "epochs", 120)
        val lr = double(p, "lr", 0.05)
        val batchFraction = double(p, "batch_fraction", 0.5)
        val pctl = double(p, "threshold_pctl", 0.99)
        val seed = long(p, "seed", 42L)
        Trainer[AutoEncoder.RfaeModel](
          f => AutoEncoderSGD.fitWithHistory(f, src.tags, hidden, epochs, lr,
            batchFraction = batchFraction, pctl = pctl, seed = seed),
          (m, valid) => m.score(valid.na.drop("any", src.tags)),
          (m, losses) => Seq(s""""hidden": $hidden""", s""""epochs": $epochs, "lr": $lr""",
            thresholdField(m, pctl)) ++ lossFields(losses))
      }
      private[ml] def save(spark: SparkSession, m: AutoEncoder.RfaeModel, dir: Path) =
        saveFrame(m.toDF(spark), dir)
      private[ml] def load(spark: SparkSession, dir: Path) =
        AutoEncoder.RfaeModel.fromDF(loadFrame(spark, dir))
    }

  /** `model.type: "autoencoder_seq"`: the KerasLSTMAutoEncoder slot —
    * [[SequenceAE]]'s lag-embedded window model. The CV folds split the
    * WIDE frame by time exactly as the dense kinds do; each fold embeds
    * its own slice, so no window ever straddles the train/validation cut
    * (the embed drops rows without lb in-slice predecessors — the same
    * boundary discipline the Keras generator gets from batching within a
    * split). Config: `{"lookback": 4, "hidden": 12, "epochs": 120, "lr":
    * 0.02, "batch_fraction": 0.5, "threshold_pctl": 0.99, "seed": 42}`.
    */
  val autoencoderSeq: Kind[SequenceAE.SeqAeModel] =
    new AnomalyKind[SequenceAE.SeqAeModel]("autoencoder_seq") {
      private[ml] def trainer(p: Conf, src: Source) = {
        val lb = int(p, "lookback", 4)
        val hidden = int(p, "hidden", 12)
        val epochs = int(p, "epochs", 120)
        val lr = double(p, "lr", 0.02)
        val batchFraction = double(p, "batch_fraction", 0.5)
        val pctl = double(p, "threshold_pctl", 0.99)
        val seed = long(p, "seed", 42L)
        Trainer[SequenceAE.SeqAeModel](
          f => SequenceAE.fitWithHistory(f.na.drop("any", src.tags), src.tags, lb, "bucket",
            hidden = hidden, epochs = epochs, lr = lr,
            batchFraction = batchFraction, pctl = pctl, seed = seed),
          (m, valid) => m.score(valid.na.drop("any", src.tags)),
          (m, losses) => Seq(s""""lookback": $lb""",
            s""""hidden": $hidden, "epochs": $epochs, "lr": $lr""",
            thresholdField(m, pctl)) ++ lossFields(losses))
      }
      private[ml] def save(spark: SparkSession, m: SequenceAE.SeqAeModel, dir: Path) =
        saveFrame(m.toDF(spark), dir)
      private[ml] def load(spark: SparkSession, dir: Path) =
        SequenceAE.SeqAeModel.fromDF(loadFrame(spark, dir))
    }

  /** Every kind by its `model.type`. */
  val kinds: Map[String, Kind[_]] =
    Seq(pcaAnomaly, arForecast, esnForecast, autoencoder, autoencoderSgd, autoencoderSeq)
      .map(k => k.name -> k).toMap

  // -- the lifecycle --------------------------------------------------------

  /** Full build of one machine as `kind`: training frame → expanding-
    * window CV (per-fold fit + stats on strictly-later validation data) →
    * final fit on all data → model + metadata.json under
    * `outDir/<name>-<key8>/`, registered in the content-addressed cache (a
    * config re-build is a registry hit and does no Spark work; it only
    * reloads the model).
    */
  def build[M](spark: SparkSession, kind: Kind[M], configJson: String, longDf: DataFrame,
      outDir: String): Built[M] = {
    val cfg = JsonConfig.parse(configJson)
    val name = str(cfg, "name", "machine")
    val registry = DiskRegistry(s"$outDir/registry")
    // the registry key carries the kind: the same config built as another
    // kind must never hit this kind's artifact
    val regKey = s"${kind.name}\n$configJson"
    val key = registry.key(regKey)
    // the artifact dir carries the config key: two configs sharing a
    // `name` must not overwrite (and then serve) each other's artifacts;
    // a name like "../x" would put it outside outDir, so reject it first
    val dir = Paths.get(outDir, s"$name-${key.take(8)}")
    require(dir.getParent == Paths.get(outDir),
      s"machine name '$name' is not a single path segment")

    val path = registry.getOrBuild(regKey) {
      val src = Source(obj(cfg, "dataset"))
      val frame = kind.frame(longDf, src)
      val trainer = kind.trainer(obj(cfg, "model"), src)
      val nSplits = int(obj(cfg, "evaluation"), "n_splits", 3)
      val cv = TimeSeriesCV.folds(frame, "bucket", nSplits).zipWithIndex.map {
        case ((train, valid), i) =>
          val m = trainer.fit(train)._1
          s"""{"fold": $i, ${kind.foldStats(m, trainer.validate(m, valid))}}"""
      }
      val (model, losses) = trainer.fit(frame)
      kind.check(model)
      Files.createDirectories(dir)
      kind.save(spark, model, dir)
      val rows = if (kind.recordsRows) s"""\n "rows": ${frame.count()},""" else ""
      val modelFields = trainer.fields(model, losses).mkString(",\n           ")
      val metadata =
        s"""{"name": ${jstr(name)},
           | "tags": [${src.tags.map(jstr).mkString(", ")}],
           | "resolution": ${jstr(src.resolution)},$rows
           | "model": {"type": ${jstr(kind.name)}, $modelFields},
           | "cv": [${cv.mkString(", ")}],
           | "config_key": "$key"}""".stripMargin
      Files.writeString(dir.resolve("metadata.json"), metadata)
      dir.toString
    }

    Built(path, kind.load(spark, Paths.get(path)),
      Files.readString(Paths.get(path, "metadata.json")))
  }

  /** Bulk scoring over a time range — the `client predict` analogue
    * (SURVEY.md §3.3): one lazy plan, no chunking/retry loop.
    */
  def predict(result: Built[PcaAnomalyModel], longDf: DataFrame, cfg: String): DataFrame = {
    val (wide, _) = dataset(longDf, JsonConfig.parse(cfg))
    result.model.anomaly(wide)
  }

  // -- persistence and metadata JSON ---------------------------------------

  private val NoLoss = Array.empty[Double]

  private def saveFrame(df: DataFrame, dir: Path): Unit =
    df.write.mode("overwrite").parquet(dir.resolve("model").toString)

  private def loadFrame(spark: SparkSession, dir: Path): DataFrame =
    spark.read.parquet(dir.resolve("model").toString)

  /** A CV fold's validation rows and the mean/max of `scoreCol`. */
  private def valStats(scored: DataFrame, scoreCol: String, stat: String): String = {
    val r = scored.agg(count(lit(1)).as("n"), avg(col(scoreCol)).as("mean"),
      max(col(scoreCol)).as("max")).head()
    s""""val_rows": ${r.getLong(0)}, "val_mean_$stat": ${jnumAt(r, "mean")}, """ +
      s""""val_max_$stat": ${jnumAt(r, "max")}"""
  }

  private def thresholdField(m: TagAnomalyScorer, pctl: Double): String =
    s""""threshold": ${jnum(m.threshold)}, "threshold_pctl": $pctl"""

  private def lossFields(losses: Array[Double]): Seq[String] =
    Seq(s""""train_mse_first": ${jnum(losses.head)}""",
      s""""train_mse_last": ${jnum(losses.last)}""")

  /** JSON string literal with full escaping — a machine name containing a
    * quote must not produce an unparseable metadata.json AFTER the
    * artifact is already registered.
    */
  private def jstr(s: String): String = Serve.jsonString(s)

  /** JSON number: NaN/Infinity (possible in degenerate CV stats) → null. */
  private def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** Aggregate field → JSON number; SQL NULL (empty validation fold) →
    * JSON null. `getAs[Double]` alone would unbox NULL to 0.0 and record
    * a fabricated score.
    */
  private def jnumAt(r: org.apache.spark.sql.Row, field: String): String =
    if (r.isNullAt(r.fieldIndex(field))) "null" else jnum(r.getAs[Double](field))
}
