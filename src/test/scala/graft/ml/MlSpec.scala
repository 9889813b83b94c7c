package graft.ml

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MlSpec extends SparkSpec {
  import spark.implicits._

  test("PipelineFactory builds assembler → scaler → pca from a definition") {
    val p = PipelineFactory.fromJson(
      """{"steps": [
        |  {"type": "assembler", "inputCols": ["x", "y"]},
        |  {"type": "standard_scaler"},
        |  {"type": "pca", "k": 1}
        |]}""".stripMargin)
    assert(p.getStages.length == 3)
    val df = Seq((1.0, 2.0), (2.0, 4.1), (3.0, 5.9), (4.0, 8.2)).toDF("x", "y")
    val out = p.fit(df).transform(df)
    assert(out.columns.contains("pca_features"))
    assert(out.count() == 4)
  }

  test("PipelineFactory rejects unknown stage types with the registry listed") {
    val e = intercept[IllegalArgumentException] {
      PipelineFactory.fromJson("""{"steps": [{"type": "quantum_flux"}]}""")
    }
    assert(e.getMessage.contains("quantum_flux"))
    assert(e.getMessage.contains("assembler"))
  }

  test("PcaAnomaly scores correlated data low and an injected outlier high") {
    // x2 ~ 2*x1: one principal component explains the data; an off-axis
    // point reconstructs badly.
    val base = (1 to 50).map(i => (i.toDouble, 2.0 * i + (i % 3) * 0.01))
    val train = base.toDF("t1", "t2")
    val model = PcaAnomaly.fit(train, Seq("t1", "t2"), k = 1, pctl = 0.95)
    val test = (base :+ ((25.0, -50.0))).toDF("t1", "t2")
    val scored = model.anomaly(test).orderBy(desc("anomaly_score")).collect()
    val top = scored.head
    assert(top.getAs[Double]("t2") == -50.0, "outlier should have the top score")
    assert(top.getAs[Boolean]("anomalous"))
    // on-manifold rows score below the outlier by a wide margin
    assert(top.getAs[Double]("anomaly_score") > 10 * scored(1).getAs[Double]("anomaly_score"))
  }

  test("TimeSeriesCV folds: validation strictly after training, expanding windows") {
    val df = (1 to 100).map(i =>
      (new Timestamp(1700000000000L + i * 60000L), i.toDouble)).toDF("ts", "v")
    val folds = TimeSeriesCV.folds(df, "ts", nSplits = 3)
    assert(folds.length == 3)
    val sizes = folds.map { case (tr, va) => (tr.count(), va.count()) }
    // expanding train sizes
    assert(sizes(0)._1 < sizes(1)._1 && sizes(1)._1 < sizes(2)._1)
    // every row lands in exactly one validation fold
    assert(sizes.map(_._2).sum == 100 - sizes(0)._1)
    folds.foreach { case (tr, va) =>
      val maxTrain = tr.agg(max("ts")).head().getTimestamp(0)
      val minVal = va.agg(min("ts")).head().getTimestamp(0)
      assert(minVal.after(maxTrain))
    }
  }

  test("foldsWithGap embargoes the rows straddling each cut") {
    val df = (1 to 100).map(i =>
      (new Timestamp(1700000000000L + i * 60000L), i.toDouble)).toDF("ts", "v")
    // 10-minute embargo on a 1-minute grid: 10 rows after each cut belong
    // to neither train nor validation
    val gapped = TimeSeriesCV.foldsWithGap(df, "ts", nSplits = 3, gapSeconds = 600L)
    val plain = TimeSeriesCV.folds(df, "ts", nSplits = 3)
    gapped.zip(plain).foreach { case ((gtr, gva), (ptr, pva)) =>
      // train side identical; validation loses exactly the embargo rows
      assert(gtr.count() == ptr.count())
      assert(pva.count() - gva.count() == 10L,
        s"expected a 10-row embargo, got ${pva.count() - gva.count()}")
      val maxTrain = gtr.agg(max("ts")).head().getTimestamp(0)
      val minVal = gva.agg(min("ts")).head().getTimestamp(0)
      assert(minVal.getTime - maxTrain.getTime > 600000L)
    }
    // gap 0 degrades to the plain folds
    TimeSeriesCV.foldsWithGap(df, "ts", 3, 0L).zip(plain).foreach {
      case ((gtr, gva), (ptr, pva)) =>
        assert(gtr.count() == ptr.count() && gva.count() == pva.count())
    }
  }

  test("DiskRegistry caches builds by config digest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-registry").toString
    val reg = DiskRegistry(dir)
    var builds = 0
    val a1 = reg.getOrBuild("""{"model": 1}""") { builds += 1; "/models/a" }
    val a2 = reg.getOrBuild("""{"model": 1}""") { builds += 1; "/models/SHOULD_NOT_BUILD" }
    val b = reg.getOrBuild("""{"model": 2}""") { builds += 1; "/models/b" }
    assert(builds == 2)
    assert(a1 == "/models/a" && a2 == "/models/a" && b == "/models/b")
  }

  test("a leftover temp file from an interrupted write is ignored by lookup, entries and fitOrLoad") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-registry")
    val reg = DiskRegistry(dir.toString)
    val cfg = """{"model": 1}"""
    // what a writer killed mid-write leaves behind: a truncated temp
    // sibling of the pointer file, never the pointer file itself
    Files.writeString(dir.resolve(s".${reg.key(cfg)}.killed.tmp"), "/models/tr")
    assert(reg.lookup(cfg).isEmpty)
    assert(reg.entries.isEmpty)
    assert(reg.getOrBuild(cfg)("/models/a") == "/models/a")
    assert(reg.entries == Seq(reg.key(cfg) -> "/models/a"))

    // the same for a model file: the truncated temp must not load
    val model = dir.resolve("gruae.txt")
    Files.writeString(dir.resolve(".gruae.txt.killed.tmp"), "v\n4 bucket")
    val train = (0 until 40).map(i =>
      (new Timestamp(1704067200000L + i * 3600000L), math.sin(i / 4.0)))
      .toDF("bucket", "v")
    val fitted = RnnAutoEncoder.fitOrLoad(model.toString, train, Seq("v"),
      lb = 3, hidden = 2, epochs = 1)
    assert(RnnAutoEncoder.load(model.toString).theta.sameElements(fitted.theta))
  }

}
