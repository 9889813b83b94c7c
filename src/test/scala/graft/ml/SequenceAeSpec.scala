package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SequenceAeSpec extends SparkSpec {
  import spark.implicits._

  // A smooth deterministic sine: every VALUE is ordinary (marginals are
  // just the sine's range), so only the order of values across a window
  // carries signal. This is exactly the case a per-row autoencoder is
  // blind to and a sequence model exists for.
  private def sine(i: Int): Double = math.sin(2 * math.Pi * i / 24.0)

  private def ts(i: Int) =
    new java.sql.Timestamp(1704067200000L + i * 3600L * 1000L)

  private lazy val train = (0 until 400).map(i => (ts(i), sine(i)))
    .toDF("bucket", "v")

  private lazy val model = SequenceAE.fit(train, Seq("v"), lb = 4,
    orderCol = "bucket", hidden = 8, epochs = 80)

  test("embed flattens the trailing window and drops short windows per key") {
    val df = Seq(("a", 1, 10.0), ("a", 2, 11.0), ("a", 3, 12.0),
      ("b", 1, 20.0), ("b", 2, 21.0), ("b", 3, 22.0))
      .toDF("k", "t", "v")
    val emb = SequenceAE.embed(df, Seq("v"), lb = 3, orderCol = "t",
      partitionBy = Seq("k"))
    // only the third row of each key has a full 3-step window
    val rows = emb.orderBy("k").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("k")).toSeq == Seq("a", "b"))
    // layout oldest-first: v__m2, v__m1, v__m0 — and never across keys
    assert(rows(0).getAs[Double]("v__m2") == 10.0 &&
      rows(0).getAs[Double]("v__m0") == 12.0)
    assert(rows(1).getAs[Double]("v__m2") == 20.0 &&
      rows(1).getAs[Double]("v__m0") == 22.0)
  }

  test("keyless embed chunks by time: matches the single-partition result, no global window") {
    // Hourly series with holes (mid-chunk AND at a chunk boundary), tiny
    // 2-day chunks so the 400 rows span ~9 chunk borders — every border
    // exercises the lb−1-row carry. Ground truth = the keyed path on a
    // constant key (a genuine single-partition window).
    val holey = (0 until 400).filter(i => i % 37 != 0 && i % 48 != 47)
      .map(i => (ts(i), sine(i))).toDF("bucket", "v")
    val chunked = SequenceAE.embed(holey, Seq("v"), lb = 4, orderCol = "bucket",
      chunkSeconds = 2L * 86400)
    val global = SequenceAE.embed(holey.withColumn("k", lit(1)), Seq("v"),
      lb = 4, orderCol = "bucket", partitionBy = Seq("k")).drop("k")
    assert(chunked.columns.toSeq == global.columns.toSeq)
    val a = chunked.orderBy("bucket").collect().map(_.toSeq)
    val b = global.orderBy("bucket").collect().map(_.toSeq)
    assert(a.length == b.length && a.toSeq == b.toSeq,
      s"chunked embed must equal the global embed: ${a.length} vs ${b.length} rows")

    // and the plan must never funnel through a single-partition window
    import org.apache.spark.sql.execution.window.WindowExec
    val bad = chunked.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, "keyless embed planned an empty-partitionSpec window")
  }

  test("flags scrambled temporal order that a per-row autoencoder cannot see") {
    // Test frame: the same sine, but one 24-row block has its values
    // PERMUTED in place (seeded shuffle) — identical value multiset,
    // broken dynamics. The sequence model must separate the block; the
    // row model (d=1, same marginals) must not.
    val rnd = new scala.util.Random(7)
    val block = rnd.shuffle((200 until 224).map(sine).toVector)
    val vals = (0 until 400).map(i =>
      if (i >= 200 && i < 224) block(i - 200) else sine(i))
    val test = vals.zipWithIndex.map { case (v, i) => (ts(i), v, i >= 200 && i < 224) }
      .toDF("bucket", "v", "scrambled")

    val seqScored = model.score(test)
      .groupBy("scrambled").agg(avg("anomaly_score").as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(seqScored(true) > 5 * seqScored(false),
      s"sequence AE should separate scrambled windows: $seqScored")

    val rowModel = AutoEncoderSGD.fit(train, Seq("v"), hidden = 8, epochs = 80)
    val rowScored = rowModel.score(test)
      .groupBy("scrambled").agg(avg("anomaly_score").as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(rowScored(true) < 2 * rowScored(false),
      s"row AE sees identical marginals — no separation expected: $rowScored")
  }

  test("clean continuation scores below threshold; rollup keeps one column per base tag") {
    val scored = model.anomaly(train)
    val cols = scored.columns.toSeq
    assert(cols.contains("tag_anomaly_v") && !cols.exists(_.contains("__m")),
      s"embedded scratch must not leak into the output: $cols")
    // threshold was the 99th percentile of train scores, so ~1% exceed it
    val frac = scored.agg(avg(col("anomalous").cast("double"))).head().getDouble(0)
    assert(frac <= 0.02, s"clean data should rarely exceed the threshold: $frac")
  }

  test("same seed is bit-deterministic; parquet round trip scores identically") {
    val m2 = SequenceAE.fit(train, Seq("v"), lb = 4, orderCol = "bucket",
      hidden = 8, epochs = 80)
    assert(m2.threshold == model.threshold)
    assert(m2.inner.beta.flatten.toSeq == model.inner.beta.flatten.toSeq)

    val dir = java.nio.file.Files.createTempDirectory("graft-aeseq").toString
    model.toDF(spark).write.mode("overwrite").parquet(s"$dir/model")
    val back = SequenceAE.SeqAeModel.fromDF(spark.read.parquet(s"$dir/model"))
    assert(back.baseTags == Seq("v") && back.lb == 4 && back.orderCol == "bucket")
    val a = model.score(train).select("anomaly_score").collect().map(_.getDouble(0))
    val b = back.score(train).select("anomaly_score").collect().map(_.getDouble(0))
    assert(a.toSeq == b.toSeq)
  }

  test("serves through the request path: one aligned row per record, NULL-scored cold head") {
    // A clean continuation of the training sine, posted in payload order
    // — the posted window IS the sequence (req_idx, not ts, orders the
    // embed, so a ts-less payload also works: next test).
    val recs = (400 until 408).map(i =>
      s"""{"ts": "${ts(i)}", "v": ${sine(i)}}""").mkString("[", ",", "]")
    val resp = Serve.scoreRequest(spark, model, recs, Seq("v"))
    val rows = resp.orderBy("req_idx").collect()
    assert(rows.length == 8, "one response row per request record")
    assert(rows.map(_.getAs[Long]("req_idx")).toSeq == (0L until 8L).toSeq)
    val scores = rows.map(r => Option(r.getAs[java.lang.Double]("anomaly_score")))
    // the first lb−1 = 3 rows of a cold window cannot embed: NULL score
    // (and NULL verdict), never a dropped row
    assert(scores.take(3).forall(_.isEmpty), s"cold head must be NULL: ${scores.toSeq}")
    assert(scores.drop(3).forall(_.isDefined), s"warm tail must score: ${scores.toSeq}")
    assert(rows.take(3).forall(_.isNullAt(rows(0).fieldIndex("anomalous"))))
    // a clean continuation stays under the fitted threshold
    assert(scores.drop(3).flatten.forall(_ < model.threshold))
    assert(resp.columns.contains("tag_anomaly_v"))
  }

  test("a built autoencoder_seq artifact routes through the CLI scorer loader") {
    val out = java.nio.file.Files.createTempDirectory("graft-aeseq-serve").toString
    val long = (0 until 200).map(i => ("v", ts(i), sine(i))).toDF("tag", "ts", "value")
    val cfg =
      """{"name": "seq-served",
        | "dataset": {"tags": ["v"], "resolution": "1 hour"},
        | "model": {"type": "autoencoder_seq", "lookback": 3, "hidden": 6, "epochs": 10},
        | "evaluation": {"n_splits": 2}}""".stripMargin
    val built = ModelBuilder.build(spark, ModelBuilder.autoencoderSeq, cfg, long, out)
    val (scorer, tags) = graft.Main.loadScorer(spark, built.path)
    assert(tags == Seq("v") && scorer.isInstanceOf[SequenceAE.SeqAeModel])
    // ts-less payload: req_idx alone orders the embed
    val resp = Serve.scoreRequest(spark, scorer,
      (0 until 5).map(i => s"""{"v": ${sine(i)}}""").mkString("[", ",", "]"), tags)
    assert(resp.count() == 5)
  }

  test("builder lifecycle: config-driven build with CV metadata, fleet routing") {
    val out = java.nio.file.Files.createTempDirectory("graft-aeseq-build").toString
    val long = (0 until 300).flatMap { i =>
      Seq(("t1", ts(i), sine(i)), ("t2", ts(i), sine(i + 6)))
    }.toDF("tag", "ts", "value")
    val cfg =
      """{"name": "seq-machine",
        | "dataset": {"tags": ["t1", "t2"], "resolution": "1 hour"},
        | "model": {"type": "autoencoder_seq", "lookback": 3, "hidden": 6, "epochs": 30},
        | "evaluation": {"n_splits": 2}}""".stripMargin
    val r1 = ModelBuilder.build(spark, ModelBuilder.autoencoderSeq, cfg, long, out)
    assert(r1.metadata.contains("\"type\": \"autoencoder_seq\""))
    assert(r1.metadata.contains("\"lookback\": 3"))
    assert(r1.metadata.contains("train_mse_last"))
    assert(r1.metadata.contains("\"fold\": 1"))
    assert(r1.model.lb == 3 && r1.model.baseTags == Seq("t1", "t2"))
    // registry hit: second build returns the same artifact, no refit
    val r2 = ModelBuilder.build(spark, ModelBuilder.autoencoderSeq, cfg, long, out)
    assert(r1.path == r2.path)
    // fleet routing by model.type
    val fleet =
      s"""{"machines": [{"name": "m-seq",
         |  "dataset": {"tags": ["t1", "t2"], "resolution": "1 hour"},
         |  "model": {"type": "autoencoder_seq", "lookback": 3, "hidden": 6, "epochs": 10},
         |  "evaluation": {"n_splits": 2}}]}""".stripMargin
    val fr = WorkflowGenerator.buildFleet(spark, fleet, long,
      java.nio.file.Files.createTempDirectory("graft-aeseq-fleet").toString)
    assert(fr.failed.isEmpty && fr.built.map(_.modelType) == Seq("autoencoder_seq"))
  }
}
