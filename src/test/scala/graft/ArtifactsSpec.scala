package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

/** The fit-once memo ([[Artifacts.remember]]) and the registry artifacts
  * built through it ([[Artifacts.materialize]]).
  */
class ArtifactsSpec extends SparkSpec {

  test("a remembered compute may remember another key in the same hash bin") {
    // equal String.hashCode: a nested computeIfAbsent on such keys throws
    // IllegalStateException("Recursive update")
    val (outer, inner) = ("ArtifactsSpec|nest|Aa", "ArtifactsSpec|nest|BB")
    assert(outer.hashCode == inner.hashCode)
    val got = Artifacts.remember(outer) {
      Artifacts.remember(inner)("inner") + "+outer"
    }
    assert(got == "inner+outer")
    assert(Artifacts.remember(inner)("recomputed") == "inner")
  }

  test("two threads remembering one key run the compute once") {
    val runs = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val results = (1 to 2).map { _ =>
        pool.submit(() => {
          start.await()
          Artifacts.remember("ArtifactsSpec|once") {
            runs.incrementAndGet()
            Thread.sleep(200) // the second caller arrives mid-compute
            new Object
          }
        })
      }
      start.countDown()
      val values = results.map(_.get(30, TimeUnit.SECONDS))
      assert(runs.get == 1, s"compute ran ${runs.get} times")
      assert(values(0) eq values(1))
    } finally pool.shutdownNow()
  }

  test("a compute that throws leaves the key free for the next caller") {
    val key = "ArtifactsSpec|throws"
    intercept[IllegalStateException] {
      Artifacts.remember[String](key)(throw new IllegalStateException("fit failed"))
    }
    assert(Artifacts.remember(key)("second") == "second")
  }

  test("a memoized artifact follows an in-place rewrite of its source table") {
    // stream_dedup's spool is a registry artifact keyed on events; the
    // memo must key on the fingerprinted path, not on the dir alone
    val dir = java.nio.file.Files.createTempDirectory("graft-stale").toString
    def gen(n: Int): Unit =
      spark.range(n).select(col("id").as("event_id"),
          timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L).as("ts"),
          lit("click").as("event_type"), (col("id") * 0.5).as("value"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    gen(20)
    assert(SparkEntry.queries("stream_dedup")(spark, dir).count() == 20)
    gen(30)
    assert(SparkEntry.queries("stream_dedup")(spark, dir).count() == 30,
      "stream_dedup served the spool built from the table before its rewrite")
  }
}
