package graft
object Bench {

  /** Load the committed per-query warm pins (medians from a known-good
    * local run of the SAME build, `bench_pins.json`). The pins are the
    * reference the contention guard compares against: the driver's
    * shared-box window has repeatedly inflated single queries 9–14×
    * (r6 simsearch_lsh, r7 ngram, r9 dedup_minhash_lsh) in ways no
    * local shape reproduces, and a min-of-2 guard cannot catch a window
    * where BOTH reps are inflated. A pin mismatch (> 2× the pin)
    * triggers a median-of-3, making the artifact self-adjudicating:
    * the per-rep arrays are recorded either way.
    */
  private def loadPins(): Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get("bench_pins.json")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        JsonMethods.parse(java.nio.file.Files.readString(p)) \ "queries" match {
          case JObject(fields) => fields.collect {
            case (k, JDouble(v)) => k -> v
            case (k, JInt(v)) => k -> v.toDouble
          }.toMap
          case _ => Map.empty
        }
      }
    } catch { case _: Exception => Map.empty }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // canonical graft session — bench numbers reflect deployment config
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val pins = loadPins()
    // Warm the JVM + file system once so per-query timings measure the
    // queries, not session bring-up.
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // Per-query warm-up: the first execution of a query pays JIT + codegen
    // compilation (measured 3-5s of the cold time on the heaviest queries);
    // the steady-state run is the throughput number. Cold totals are still
    // reported as "cold_total" for transparency.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // a broken query must surface, not get timed as a fast success;
      // its first failure is kept so the summary can name the cause
      var cause: Option[Throwable] = None
      def once(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
          if (cause.isEmpty) cause = Some(e)
          false
        }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val (cold, okCold) = once()
      val (warm1, okWarm1) = once()
      val pin = pins.get(name)
      // Three escalation triggers, all against one failure mode — a
      // contended execution window inflating the recorded number:
      //   - pin divergence (warm1 > 2× the committed same-build local
      //     median): the strongest signal; BOTH earlier guards missed
      //     r9's dedup_minhash_lsh because cold and warm1 were inflated
      //     together and agreed. Escalate to THREE warm reps and record
      //     the MEDIAN — one clean rep cannot be outvoted by two
      //     contended ones unless the contention is persistent, in
      //     which case the per-rep array documents exactly that.
      //   - cold/warm1 disagreement > 2× — JIT-heavy query OR one
      //     contended rep, indistinguishable from one sample.
      //   - heavy query (warm1 > 2 s) — cheap insurance (round 7).
      // For the latter two, MIN of two warm reps remains the recorded
      // steady-state estimator (a single contended rep cannot set it).
      val pinDiverge = pin.exists(p => warm1 > 2.0 * p)
      val disagree = math.max(cold, warm1) > 2.0 * math.min(cold, warm1)
      val (warmReps0, okWarm0) =
        if (pinDiverge) {
          val (w2, ok2) = once()
          val (w3, ok3) = once()
          (Seq(warm1, w2, w3), okWarm1 && ok2 && ok3)
        } else if (disagree || warm1 > 2.0) {
          val (w2, ok2) = once()
          (Seq(warm1, w2), okWarm1 && ok2)
        } else (Seq(warm1), okWarm1)
      // second escalation (round 11): a median-of-3 still > 3× its pin
      // is either REAL (a regression the pins must catch) or a window
      // where ≥2 of 3 reps were contended (r10: agg_active_users medianed
      // 5× its pin from scheduler noise mid-run) — two more reps make one
      // clean rep per contended pair decisive, and the summary line NAMES
      // whatever still diverges so the artifact never silently over- or
      // under-reports.
      val (warmReps, okWarm) =
        if (pinDiverge && pin.exists(p => median(warmReps0) > 3.0 * p)) {
          val (w4, ok4) = once()
          val (w5, ok5) = once()
          (warmReps0 ++ Seq(w4, w5), okWarm0 && ok4 && ok5)
        } else (warmReps0, okWarm0)
      val warm =
        if (pinDiverge) median(warmReps)
        else warmReps.min
      val stillDiverged = pin.exists(p => warm > 3.0 * p)
      // per-query progress on stderr: partial evidence survives even if the
      // final artifact line is lost to a log-tail capture window
      System.err.println(f"[bench] $name%-28s cold=$cold%.3f warm=$warm%.3f" +
        (if (warmReps.size == 5) s" (median of 5; pin=${pin.get})"
         else if (pinDiverge) s" (median of 3; pin=${pin.get})"
         else if (warmReps.size > 1) " (min of 2 warm reps)" else ""))
      (name, cold, warm, warmReps, okCold && okWarm, stillDiverged, cause)
    }
    // Locale.ROOT: the default-locale formatter writes a comma
    // decimal separator under e.g. de_DE, corrupting the JSON
    def s3(x: Double): String = String.format(java.util.Locale.ROOT, "%.3f", x)
    val qs = results.map { case (k, _, w, _, _, _, _) => s"\"" + k + "\":" + s3(w) }
      .mkString("{", ",", "}")
    val reps = results.map { case (k, c, _, ws, _, _, _) =>
      s"\"" + k + "\":[" + (c +: ws).map(s3).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, _, _, false, _, _) => "\"" + k + "\"" }
    // queries whose final recorded median STILL exceeds 3× the committed
    // pin after the median-of-5 escalation — named so a reader of the
    // artifact can separate "persistently contended window" from "real"
    // without re-deriving anything
    val diverged = results.collect { case (k, _, _, _, _, true, _) => "\"" + k + "\"" }
    val total = results.map(_._3).sum
    val coldTotal = results.map(_._2).sum
    // The recorded warm values are per-query medians/mins (above); the
    // band is the same sum under the most and least favorable rep choice
    // — the honest spread of this run. Round-over-round comparison
    // should be per-query-median based (BASELINE.md's own rule); the
    // band says how much of any delta is within one run's own noise.
    val bandLo = results.map(_._4.min).sum
    val bandHi = results.map(_._4.max).sum
    val summary = s""""value":${s3(total)},"unit":"sec","cold_total":${s3(coldTotal)},""" +
      s""""warm_band":[${s3(bandLo)},${s3(bandHi)}],""" +
      s""""failed":[${failed.mkString(",")}],""" +
      s""""pin_diverged":[${diverged.mkString(",")}],"n_queries":${results.size}"""
    val json = s"""{"metric":"total",$summary,"queries":$qs,"reps":$reps,"sf":"$sfDir"}"""
    // The driver captures only the LAST ~2000 chars of stdout (measured:
    // every BENCH_r*.json has tail len 2000 and parsed:null — the full
    // 200+-query map is ~5 KB, so a head-anchored line is always cut off
    // and the driver has never parsed a bench line; it falls back to the
    // committed bench.json). Print a line that actually FITS: same
    // metric/value/cold_total/band/failed/sf plus the SLOWEST queries
    // only, budgeted so the whole line sits inside the capture window.
    // The complete per-query map still goes to bench.json.
    val budget = 1400
    val head = s"""{"metric":"total",$summary,"queries_full":"bench.json","queries":{"""
    val tail = s"""},"sf":"$sfDir"}"""
    val slowest = results.sortBy(-_._3).iterator
      .map { case (k, _, w, _, _, _, _) => s"\"" + k + "\":" + s3(w) }
    val picked = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = head.length + tail.length
    slowest.foreach { e =>
      if (used + e.length + 1 <= budget) { picked += e; used += e.length + 1 }
    }
    val line = head + picked.mkString(",") + tail
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench.json"), json + "\n")
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] could not write bench.json: $e") }
    results.foreach { case (k, _, _, _, _, _, c) =>
      c.foreach(e => System.err.println(
        s"[bench] $k failed: ${e.getClass.getName}: ${e.getMessage}"))
    }
    if (failed.nonEmpty)
      System.err.println(s"[bench] FAILED queries: ${failed.mkString(", ")}")
    // Round 15 (the r14 verdict's #2): the summary line is the LAST thing
    // on stdout — printed after spark.stop() so no shutdown logging can
    // land below it, mirrored to stderr FIRST so that whichever stream
    // the capture window ends on, its final line is this valid JSON
    // (build.sbt suppresses sbt's own "[success] ..." trailer and strips
    // the "[info] " run-output prefix for the same reason). A throwing
    // stop() must not cost the summary line. The timing methodology,
    // per-query escalation, and recorded values above are byte-identical
    // to rounds 2-14 — only the output plumbing moved.
    try spark.stop() catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop() failed: $e") }
    System.err.println(line)
    println(line)
    if (failed.nonEmpty) sys.exit(1)
  }
}
