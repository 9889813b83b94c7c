package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The reservoir must demonstrate MEMORY: NARMA-10 (the standard
  * recurrent-benchmark series) makes y_t depend on inputs ten steps back,
  * so a feedforward model over a 3-step window is structurally blind to
  * most of the signal while the echo state carries it.
  */
class EchoStateSpec extends SparkSpec {
  import spark.implicits._

  // NARMA-10: y_{t+1} = 0.3 y_t + 0.05 y_t Σ_{i=0..9} y_{t−i}
  //                     + 1.5 u_{t−9} u_t + 0.1,  u ~ U(0, 0.5)
  private lazy val series: Seq[(String, Int, Double, Double)] = {
    val n = 1000
    val rnd = new java.util.SplittableRandom(7)
    val u = Array.fill(n)(rnd.nextDouble() * 0.5)
    val y = new Array[Double](n)
    for (t <- 9 until n - 1) {
      val s = (0 to 9).map(i => y(t - i)).sum
      y(t + 1) = 0.3 * y(t) + 0.05 * y(t) * s + 1.5 * u(t - 9) * u(t) + 0.1
    }
    (0 until n).map(t => ("k", t, u(t), y(t)))
  }

  private lazy val full = series.toDF("k", "t", "u", "y")
  private lazy val train = full.filter(col("t") < 800)

  private def testMse(scored: org.apache.spark.sql.DataFrame): Double =
    scored.filter(col("t") >= 800)
      .agg(avg(col("y_anomaly") * col("y_anomaly"))).head().getDouble(0)

  test("echo state beats the windowed feedforward forecaster on NARMA-10") {
    val esn = EchoState.fit(train, Seq("u", "y"), "t", Seq("k"),
      reservoir = 128, ridge = 1e-6, spectralRadius = 0.95, leak = 1.0,
      washout = 20, inputScale = 0.1)
    val esnMse = testMse(esn.forecast(full, "t", Seq("k")))

    val ff = Forecast.fitNonlinear(train, Seq("u", "y"), lb = 3, "t", Seq("k"),
      hidden = 64)
    val ffMse = testMse(ff.forecast(full, "t", Seq("k")))

    // the memoryless-beyond-3-steps model must lose by a clear margin
    assert(esnMse < 0.7 * ffMse, s"esn=$esnMse ff=$ffMse")

    // and the reservoir must beat the trivial predict-the-previous-value
    val naive = full.withColumn("y_prev",
        lag(col("y"), 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy("t")))
      .filter(col("t") >= 800)
      .agg(avg(pow(col("y") - col("y_prev"), 2))).head().getDouble(0)
    assert(esnMse < naive, s"esn=$esnMse naive=$naive")
  }

  test("fits are bit-deterministic and state resets per key") {
    val a = EchoState.fit(train, Seq("u", "y"), "t", Seq("k"), reservoir = 16)
    val b = EchoState.fit(train, Seq("u", "y"), "t", Seq("k"), reservoir = 16)
    assert(a.beta.flatten.toSeq == b.beta.flatten.toSeq)
    assert(a.wRes.flatten.toSeq == b.wRes.flatten.toSeq)

    // two keys with identical series → identical per-key predictions
    // (state must NOT leak across the key boundary in the sorted scan)
    val two = series.toDF("k", "t", "u", "y")
      .unionByName(series.map { case (_, t, u, y) => ("k2", t, u, y) }
        .toDF("k", "t", "u", "y"))
    val scored = a.forecast(two, "t", Seq("k"))
    val byKey = scored.filter(col("t") === 900)
      .select(col("k"), col("y_hat")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byKey("k") == byKey("k2"))
  }

  test("buildEsn lifecycle: persist, registry-hit rebuild, bit-exact reload") {
    val events = graft.sources.Events.read(spark, "/root/testdata/sf0.001/events.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft-esn").toString
    val cfg =
      """{"name": "esn-events",
        |  "dataset": {"tags": ["click", "view"], "resolution": "1 hour",
        |              "tag_col": "event_type", "value_col": "value"},
        |  "model": {"type": "esn_forecast", "reservoir": 16, "washout": 4},
        |  "evaluation": {"n_splits": 2}}""".stripMargin
    val r = ModelBuilder.build(spark, ModelBuilder.esnForecast, cfg, events, out)
    assert(r.metadata.contains("\"type\": \"esn_forecast\""))
    assert(r.metadata.contains("val_mean_abs_err"))
    assert(r.model.reservoir == 16 && r.model.featureCols == Seq("v"))

    // reload is bit-exact
    val reloaded = EchoState.EsnModel.fromDF(
      spark.read.parquet(java.nio.file.Paths.get(r.path, "model").toString))
    assert(reloaded.beta.flatten.toSeq == r.model.beta.flatten.toSeq)
    assert(reloaded.wRes.flatten.toSeq == r.model.wRes.flatten.toSeq)

    // rebuild against an empty frame: only a registry hit can succeed
    val again = ModelBuilder.build(spark, ModelBuilder.esnForecast, cfg,
      events.filter(lit(false)), out)
    assert(again.path == r.path)
  }

  test("spectral radius scaling holds the echo-state property") {
    val raw = Array.tabulate(16, 16)((i, j) =>
      RandomFeatures.randn(5L, 256)(i * 16 + j))
    val rho = EchoState.spectralRadiusOf(raw)
    assert(rho > 0)
    val scaled = raw.map(_.map(_ * (0.9 / rho)))
    assert(math.abs(EchoState.spectralRadiusOf(scaled) - 0.9) < 1e-6)
  }
}
