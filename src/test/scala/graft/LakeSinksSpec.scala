package graft

import org.apache.spark.sql.functions._

/** Lake-maintenance sinks: compaction layout (file count + disjoint ts
  * ranges per file — the property that makes parquet min/max stats prune
  * time-range scans) and the JSONL text round trip under hostile payloads.
  */
class LakeSinksSpec extends SparkSpec {
  import spark.implicits._

  test("sink_compact lays out size-targeted files with disjoint ts ranges") {
    SparkEntry.queries("sink_compact")(spark, "/root/testdata/sf0.001").count()
    val root = graft.queries.Common.compactRoot(spark, "/root/testdata/sf0.001")
    val perFile = spark.read.parquet(root)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .orderBy("lo")
      .collect()
    // file count derives from input bytes (one file per ~32 MB, min 2) —
    // the fixture is far below one target so the floor applies
    assert(perFile.length == 2, s"expected 2 compacted files, got ${perFile.length}")
    perFile.sliding(2).foreach { case Array(a, b) =>
      assert(!b.getTimestamp(1).before(a.getTimestamp(2)),
        s"file ranges overlap: ${a.toSeq} vs ${b.toSeq}")
    case _ => ()
    }
  }

  test("sink_zorder files are local in BOTH dimensions — ts-sorted layout is not") {
    SparkEntry.queries("sink_zorder")(spark, "/root/testdata/sf0.001").count()
    val root = SparkEntry.zorderRoot(spark, "/root/testdata/sf0.001")
    def spans(dir: String): Seq[(Double, Double)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
            .cast("double").as("tsSpan"),
          (max(col("user_id")) - min(col("user_id"))).cast("double").as("uidSpan"))
        .collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    val full = spark.read.parquet(root)
      .agg((max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).cast("double"),
        (max(col("user_id")) - min(col("user_id"))).cast("double")).head()
    val (fullTs, fullUid) = (full.getDouble(0), full.getDouble(1))
    val z = spans(root)
    assert(z.size == 8, s"expected 8 z-ordered files, got ${z.size}")
    // The locality guarantee of a range-partitioned z-curve is
    // STATISTICAL, not per-file: quantile boundaries cut mid-tile, so a
    // file straddling a major-bit transition spans most of the minor
    // dimension (observed; Delta/Iceberg OPTIMIZE ZORDER behaves the
    // same). Assert the averages: both dimensions' mean per-file span
    // must shrink well below the full domain...
    val avgTs = z.map(_._1).sum / z.size
    val avgUid = z.map(_._2).sum / z.size
    assert(avgTs <= 0.75 * fullTs, s"avg ts span $avgTs vs full $fullTs — no ts locality")
    assert(avgUid <= 0.75 * fullUid, s"avg uid span $avgUid vs full $fullUid — no uid locality")
    // ...while the ts-sorted compaction of the SAME data leaves every
    // file spanning ~the whole user domain — the pruning z-order buys
    SparkEntry.queries("sink_compact")(spark, "/root/testdata/sf0.001").count()
    val sorted = spans(graft.queries.Common.compactRoot(spark, "/root/testdata/sf0.001"))
    val avgSortedUid = sorted.map(_._2).sum / sorted.size
    assert(avgUid < 0.75 * avgSortedUid,
      s"z-order avg uid span ($avgUid) not clearly better than ts-sorted ($avgSortedUid)")
  }

  test("JSONL round trip is lossless for quotes, newlines, tabs, unicode, and nulls") {
    val rows = Seq(
      (1L, "plain ascii"),
      (2L, "line\nbreak and \"quotes\" and \\backslash"),
      (3L, "tab\there, controlchar"),
      (4L, "unicodé — 中文 🚀 ligature ﬁ"),
      (5L, null.asInstanceOf[String]))
    val out = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    rows.toDF("doc_id", "text")
      .select(to_json(struct(col("doc_id"), col("text"))).as("value"))
      .write.mode("overwrite").text(out)
    val back = spark.read.schema("doc_id BIGINT, text STRING").json(out)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[String]("text")))
    assert(back.toSeq == rows)
  }
}
