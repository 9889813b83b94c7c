package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AutoEncoderSgdSpec extends SparkSpec {
  import spark.implicits._

  // curved manifold: t2 = sin(t1), t3 = t1·t2 — no linear subspace holds
  // it, and at small width a RANDOM tanh encoder can't place its features
  // where the curvature is; a trained one can.
  private lazy val train = (1 to 400).map { i =>
    val a = (i % 100) / 100.0 * 6 - 3
    (a, math.sin(a), a * math.sin(a))
  }.toDF("t1", "t2", "t3")

  private val cols = Seq("t1", "t2", "t3")

  private lazy val model = AutoEncoderSGD.fit(train, cols,
    hidden = 8, epochs = 120, pctl = 0.99)

  test("training loss decreases and converges (cold start)") {
    val (_, losses) = AutoEncoderSGD.fitWithHistory(train, cols,
      hidden = 8, epochs = 120, warmStart = false)
    assert(losses.last < losses.head / 4,
      s"descent should cut the reconstruction MSE: first=${losses.head} last=${losses.last}")
    // late-training loss must not blow up (lr/momentum stable)
    assert(losses.takeRight(10).max < losses.head,
      "late epochs should stay below the initial loss")
  }

  test("beats the ELM autoencoder at equal width on the curved manifold") {
    // Identical hidden width, identical data: the ELM's encoder is frozen
    // random features, the SGD encoder adapts by backprop. Held-out
    // on-manifold reconstruction error decides.
    val heldOut = Seq.tabulate(60) { i =>
      val a = (i / 60.0) * 6 - 3 + 0.027 // offset off the train grid
      (a, math.sin(a), a * math.sin(a))
    }.toDF("t1", "t2", "t3")
    val elm = AutoEncoder.fit(train, cols, hidden = 8, pctl = 0.99)
    def mse(m: AutoEncoder.RfaeModel) = m.score(heldOut)
      .agg(avg(col("anomaly_score") * col("anomaly_score"))).head().getDouble(0)
    val (sgdMse, elmMse) = (mse(model), mse(elm))
    assert(sgdMse < elmMse,
      s"trained encoder should beat random features at equal width: sgd=$sgdMse elm=$elmMse")
  }

  test("on-manifold points score below threshold, off-manifold far above") {
    val test = Seq(
      (1.0, math.sin(1.0), math.sin(1.0)),
      (-2.0, math.sin(-2.0), -2 * math.sin(-2.0)),
      (1.0, 5.0, -7.0)
    ).toDF("t1", "t2", "t3")
    val rows = model.anomaly(test).select("anomaly_score", "anomalous").collect()
    assert(!rows(0).getBoolean(1) && !rows(1).getBoolean(1))
    assert(rows(2).getBoolean(1))
    assert(rows(2).getDouble(0) > 5 * rows(0).getDouble(0))
  }

  test("distributed gradient matches a driver-side backprop epoch") {
    // one full-batch epoch, beta1 = 0: after bias correction the Adam
    // step collapses to lr·g/(|g|+eps), so theta after the update must
    // equal the locally computed gradient step from the same init
    val (m, losses) = AutoEncoderSGD.fitWithHistory(train, cols, hidden = 4,
      epochs = 1, lr = 0.05, beta1 = 0.0, batchFraction = 1.0, l2 = 0.0,
      seed = 7L, warmStart = false)
    val d = 3; val h = 4
    val rows = train.collect().map(r => Array(r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    val xs = rows.map(x => Array.tabulate(d)(j => (x(j) - m.means(j)) / m.stds(j)))
    // reconstruct the seeded init exactly as fit does
    val w0 = RandomFeatures.randn(7L, h * d)
    val w = Array.tabulate(h, d)((i, j) => w0(i * d + j) / math.sqrt(d.toDouble))
    val b = RandomFeatures.randn(8L, h).map(_ * 0.5)
    val v0 = RandomFeatures.randn(9L, d * h)
    val v = Array.tabulate(d, h)((j, i) => v0(j * h + i) / math.sqrt(h.toDouble))
    val c = Array.fill(d)(0.0)
    val (dW, dB, dV, dC) = (Array.ofDim[Double](h, d), new Array[Double](h),
      Array.ofDim[Double](d, h), new Array[Double](d))
    var loss = 0.0
    for (x <- xs) {
      val z = Array.tabulate(h)(i => math.tanh((0 until d).map(j => w(i)(j) * x(j)).sum + b(i)))
      val e = Array.tabulate(d)(j => (0 until h).map(i => v(j)(i) * z(i)).sum + c(j) - x(j))
      loss += e.map(t => t * t).sum
      for (j <- 0 until d; i <- 0 until h) dV(j)(i) += e(j) * z(i)
      for (j <- 0 until d) dC(j) += e(j)
      for (i <- 0 until h) {
        val dz = (0 until d).map(j => v(j)(i) * e(j)).sum * (1 - z(i) * z(i))
        for (j <- 0 until d) dW(i)(j) += dz * x(j)
        dB(i) += dz
      }
    }
    val n = xs.length.toDouble
    assert(math.abs(losses(0) - loss / n) < 1e-9)
    // Adam with beta1=0 at t=1: m̂ = g, v̂ = g² → step = lr·g/(|g|+eps)
    def step(g: Double): Double = 0.05 * g / (math.abs(g) + 1e-8)
    for (i <- 0 until h; j <- 0 until d)
      assert(math.abs(m.w(i)(j) - (w(i)(j) - step(dW(i)(j) / n))) < 1e-9,
        s"w($i)($j)")
    for (j <- 0 until d; i <- 0 until h)
      assert(math.abs(m.beta(i)(j) - (v(j)(i) - step(dV(j)(i) / n))) < 1e-9,
        s"beta($i)($j)")
    for (j <- 0 until d)
      assert(math.abs(m.beta(h)(j) - (c(j) - step(dC(j) / n))) < 1e-9,
        s"intercept($j)")
  }

  test("same seed reproduces the same model; different seed does not") {
    val a = AutoEncoderSGD.fit(train, cols, hidden = 4, epochs = 20, seed = 1L)
    val b = AutoEncoderSGD.fit(train, cols, hidden = 4, epochs = 20, seed = 1L)
    val c = AutoEncoderSGD.fit(train, cols, hidden = 4, epochs = 20, seed = 2L)
    assert(a.beta.flatten.toSeq == b.beta.flatten.toSeq)
    assert(a.w.flatten.toSeq == b.w.flatten.toSeq)
    assert(a.threshold == b.threshold)
    assert(a.beta.flatten.toSeq != c.beta.flatten.toSeq)
  }

  test("model round-trips through parquet and scores bit-identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-aesgd").toString
    model.toDF(spark).write.parquet(s"$dir/model")
    val back = AutoEncoder.RfaeModel.fromDF(spark.read.parquet(s"$dir/model"))
    assert(back.beta.flatten.toSeq == model.beta.flatten.toSeq)
    assert(back.w.flatten.toSeq == model.w.flatten.toSeq)
    val a = model.score(train).select("anomaly_score").collect().map(_.getDouble(0))
    val b = back.score(train).select("anomaly_score").collect().map(_.getDouble(0))
    assert(a.toSeq == b.toSeq)
  }

  test("builder lifecycle: config-driven build with CV metadata, registry cache hit") {
    val out = java.nio.file.Files.createTempDirectory("graft-aesgd-build").toString
    val long = (1 to 200).flatMap { i =>
      val ts = java.sql.Timestamp.valueOf(f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00")
      val a = (i % 100) / 100.0 * 6 - 3
      Seq(("t1", ts, a), ("t2", ts, math.sin(a)), ("t3", ts, a * math.sin(a)))
    }.toDF("tag", "ts", "value")
    val cfg =
      """{"name": "sgd-machine",
        | "dataset": {"tags": ["t1", "t2", "t3"], "resolution": "10 minutes"},
        | "model": {"type": "autoencoder_sgd", "hidden": 4, "epochs": 30},
        | "evaluation": {"n_splits": 2}}""".stripMargin
    val r1 = ModelBuilder.build(spark, ModelBuilder.autoencoderSgd, cfg, long, out)
    assert(r1.metadata.contains("\"type\": \"autoencoder_sgd\""))
    assert(r1.metadata.contains("train_mse_last"))
    assert(r1.metadata.contains("\"fold\": 1"))
    // registry hit: second build returns the same artifact path, no refit
    val r2 = ModelBuilder.build(spark, ModelBuilder.autoencoderSgd, cfg, long, out)
    assert(r1.path == r2.path)
    // fleet routing by model.type
    val fleet =
      s"""{"machines": [{"name": "m-sgd",
         |  "dataset": {"tags": ["t1", "t2", "t3"], "resolution": "10 minutes"},
         |  "model": {"type": "autoencoder_sgd", "hidden": 4, "epochs": 10},
         |  "evaluation": {"n_splits": 2}}]}""".stripMargin
    val fr = WorkflowGenerator.buildFleet(spark, fleet, long,
      java.nio.file.Files.createTempDirectory("graft-aesgd-fleet").toString)
    assert(fr.failed.isEmpty && fr.built.map(_.modelType) == Seq("autoencoder_sgd"))
  }
}
