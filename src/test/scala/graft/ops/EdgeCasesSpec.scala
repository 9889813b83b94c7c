package graft.ops

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Degenerate-input behavior: empty frames, all-null columns, unicode
  * text, zero vectors. These pin down semantics so a 100 TB run can't be
  * surprised by a weird partition.
  */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** A shingle index of `docs` built onto a fresh temp dir. */
  private def shingleIndex(docs: org.apache.spark.sql.DataFrame): Dedup.ShingleIndex =
    Dedup.buildAndSaveShingleIndex(docs, "doc_id", "text",
      java.nio.file.Files.createTempDirectory("shidx").toString)

  test("align on an empty frame yields an empty wide matrix with the right schema") {
    val empty = Seq.empty[(Timestamp, String, Double)].toDF("ts", "tag", "value")
    val wide = Timeseries.align(empty, "ts", "tag", "value", Seq("a", "b"), "10 minutes")
    assert(wide.columns.toSeq == Seq("bucket", "a", "b"))
    assert(wide.count() == 0)
  }

  test("align drops buckets where a tag has only null values") {
    val df = Seq(
      (ts("2024-01-01 00:01:00"), "a", Some(1.0)),
      (ts("2024-01-01 00:02:00"), "b", Option.empty[Double])
    ).toDF("ts", "tag", "value")
    assert(Timeseries.align(df, "ts", "tag", "value", Seq("a", "b"), "10 minutes").count() == 0)
  }

  test("dedup handles unicode text: CJK, emoji, combining marks") {
    val docs = Seq(
      (1L, "机器 学习 模型 训练 数据 处理"),
      (2L, "机器 学习 模型 训练 数据 处理"),
      (3L, "héllo wörld ñice 🎉 done today yes")
    ).toDF("doc_id", "text")
    val exact = Dedup.exact(docs, "doc_id", "text").collect()
    assert(exact.length == 2)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    val sig = Dedup.simhash(docs, "doc_id", "text").collect()
    assert(sig.length == 3)
  }

  test("empty documents produce no shingles and vanish from pair ops, not errors") {
    val docs = Seq((1L, ""), (2L, "one two three four"), (3L, "   ")).toDF("doc_id", "text")
    val sh = Dedup.shingleTable(docs, "doc_id", "text")
    assert(sh.select("doc_id").distinct().as[Long].collect().toSeq == Seq(2L))
    assert(Dedup.ngramJaccardPairsFromIndex(shingleIndex(docs), 0.1).count() == 0)
  }

  test("cosine of a zero vector is null (not an ANSI crash); filters exclude it") {
    // ANSI mode (Spark 4 default) throws DIVIDE_BY_ZERO on 0-divisors —
    // one zero embedding must not kill a 100 TB job, hence the nullif guard.
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val all = vecs.as("a").join(vecs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .as[Option[Double]].collect()
    assert(all.count(_.isEmpty) == 2) // the two pairs involving the zero vector
    val kept = Similarity.cosinePairs(vecs, "vec_id", "embedding", 0.5).collect()
    assert(kept.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 3L)))
  }

  test("rowFilter keeps pandas == spelling and imputeInf is a no-op without infs") {
    val df = Seq((1, 2.0), (2, 3.0)).toDF("k", "v")
    assert(Filters.rowFilter(df, "`k` == 2").count() == 1)
    val out = Filters.imputeInf(df, Seq("v")).orderBy("k").select("v").as[Double].collect()
    assert(out.toSeq == Seq(2.0, 3.0))
  }

  test("imputeInf nulls a column that is ALL inf (no finite bound exists)") {
    val df = Seq(Double.PositiveInfinity, Double.PositiveInfinity).toDF("v")
    val out = Filters.imputeInf(df, Seq("v")).select("v").as[Option[Double]].collect()
    // documented behavior: the finite max is null, so inf imputes to null —
    // the sklearn InfImputer analogue of filling with NaN when no finite
    // bound exists
    assert(out.forall(_.isEmpty))
  }

  test("bucket is epoch-aligned across day boundaries") {
    val df = Seq(ts("2024-03-10 23:55:00"), ts("2024-03-11 00:04:00")).toDF("ts")
    val buckets = df.select(Timeseries.bucket(col("ts"), "10 minutes").as("b"))
      .as[Timestamp].collect().toSeq
    assert(buckets == Seq(ts("2024-03-10 23:50:00"), ts("2024-03-11 00:00:00")))
  }

  test("bucketWithOffset shifts the boundary grid, inclusive at the shifted start") {
    val df = Seq(ts("2024-03-10 23:55:00"), ts("2024-03-11 00:04:00"),
      ts("2024-03-11 00:05:00")).toDF("ts")
    val buckets = df.select(
        Timeseries.bucketWithOffset(col("ts"), "10 minutes", "5 minutes").as("b"))
      .as[Timestamp].collect().toSeq
    // boundaries at :05/:15/…: 23:55 starts its own bucket, 00:04 still
    // belongs to it, and 00:05 opens the next one
    assert(buckets == Seq(ts("2024-03-10 23:55:00"), ts("2024-03-10 23:55:00"),
      ts("2024-03-11 00:05:00")))
  }

  test("decontaminationMatches with an empty benchmark finds nothing, not an error") {
    val corpus = Seq((1L, "some perfectly ordinary text here today")).toDF("doc_id", "text")
    val bench = Seq.empty[(Long, String)].toDF("bench_id", "text")
    assert(Dedup.decontaminationMatches(corpus, "doc_id", "text",
      bench, "bench_id", "text", shingleN = 3).count() == 0)
  }

  test("capPerKey with cap above every stratum size is the identity") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "k")
    val out = Sampling.capPerKey(df, "id", "k", 100)
    assert(out.exceptAll(df).isEmpty && df.exceptAll(out).isEmpty)
  }

  test("targetMix over a single stratum keeps (approximately) everything") {
    val df = (1L to 500L).map(i => (i, "only")).toDF("id", "k")
    val out = Sampling.targetMix(df, "id", "k", Map("only" -> 1.0))
    // rate = 1.0 exactly (n/1.0 feasible total); threshold 1e6 keeps all
    assert(out.count() == 500)
  }

  test("densify on an empty long frame yields an empty grid, keyed ffill no-ops") {
    val empty = Seq.empty[(Timestamp, String, Option[Double])].toDF("bucket", "k", "v")
    val dense = Timeseries.densify(empty, "bucket", "k", Seq("a", "b"))
    assert(dense.columns.toSeq == Seq("bucket", "k", "v"))
    assert(dense.count() == 0)
    assert(Timeseries.ffill(dense, Seq("v"), Seq("k"), "bucket").count() == 0)
  }

  test("duplicateClusters of an empty pair set is empty; self-contained pair is its own cluster") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.duplicateClusters(empty).count() == 0)
    val one = Seq((42L, 7L)).toDF("doc_a", "doc_b") // unordered pair still converges
    val out = Dedup.duplicateClusters(one).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(42L -> 7L, 7L -> 7L))
  }

  test("ngramJaccardPairs on single-doc and empty corpora returns no pairs") {
    val one = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairsFromIndex(shingleIndex(one), 0.1).count() == 0)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairsFromIndex(shingleIndex(empty), 0.1).count() == 0)
  }

  test("randomSeries with n=0 or no tags is empty but schema-stable") {
    val noRows = graft.sources.TagSources.randomSeries(spark, Seq("a"), 0L, 0L, 60L)
    assert(noRows.columns.toSeq == Seq("tag", "i", "ts", "value"))
    assert(noRows.count() == 0)
    assert(graft.sources.TagSources.randomSeries(spark, Seq.empty, 10L, 0L, 60L).count() == 0)
  }

  test("bm25 with query terms absent from the corpus is empty, not an error") {
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    assert(Search.bm25(docs, "doc_id", "text", Seq("zzz", "qqq")).count() == 0)
    // and an empty query list is empty output too
    assert(Search.bm25(docs, "doc_id", "text", Seq.empty).count() == 0)
  }

  test("upsert keeps EVERY row of a duplicate-keyed update batch (the " +
      "documented divergence from SQL MERGE, which errors)") {
    val base = Seq((1L, 10.0)).toDF("id", "v")
    val dup = Seq((1L, 1.0), (1L, 2.0)).toDF("id", "v")
    val out = Lake.upsert(base, dup, Seq("id")).collect()
    assert(out.length == 2) // base row replaced; both update rows kept
    assert(out.map(_.getDouble(1)).toSet == Set(1.0, 2.0))
  }

  test("drift on a single-cohort frame yields ks=1 (all mass on one side), " +
      "never NaN") {
    val onlyA = (0 until 100).map(i => ("k", i * 1.0, true)).toDF("k", "v", "is_a")
    val ks = Drift.ksStatistic(onlyA, "k", "v", col("is_a")).head()
    // fb = 0/0 -> NULL in both engines; max(abs(fa - NULL)) skips nulls ->
    // the row is NULL, not NaN — pin that the result is NULL (undefined),
    // because a silent 0.0 would read as "no drift"
    assert(ks.isNullAt(1))
  }

  test("duplicatedSpans on an empty corpus and a whitespace-only doc " +
      "returns no rows, not an error") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(empty, "doc_id", "text").count() == 0)
    val blank = Seq((1L, "   "), (2L, "other words here")).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(blank, "doc_id", "text").count() == 0)
  }

  test("HoltWinters.forecast drops null buckets before smoothing and the " +
      "horizon-0 case is empty") {
    val rows = (0 until 20).map(i => ("k", i, if (i == 7) None else Some(5.0)))
    val df = rows.toDF("k", "bucket", "v")
    val p = graft.ml.HoltWinters.HwParams(period = 4)
    val out = graft.ml.HoltWinters.forecast(df, "k", "bucket", "v", 4, p)
    assert(out.count() == 4) // 19 non-null points >= 2 seasons of 4
    assert(graft.ml.HoltWinters.forecast(df, "k", "bucket", "v", 0, p).count() == 0)
  }
}
