package graftbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

object Queries {
  /** Short relational, time-series and streaming queries over `events`:
    * construction (the schema-inference job) and per-job driver cost are
    * a large share of each one's wall time.
    */
  val light: Seq[String] = Seq(
    "agg_resample_mean", "join_align", "join_asof", "win_lookback", "fn_ts",
    "filter_timerange", "stream_session", "stream_heavyhitters")

  /** Execution-heavy queries: task time, not construction, dominates. */
  val heavy: Seq[String] = Seq(
    "text_tfidf", "text_textrank", "dedup_near_duplicates", "dedup_incremental",
    "dedup_containment_incr", "simsearch_recall_audit", "simsearch_mmr",
    "agg_spearman", "graph_pagerank", "stream_upsert")

  /** Expected row counts, recorded from an oracle-matched run at sf0.1. */
  def expected(data: String): Map[String, Long] = {
    import org.json4s._
    val text = Files.readString(Paths.get(data).resolveSibling("expected_counts.json"))
    org.json4s.jackson.JsonMethods.parse(text) \ "counts" match {
      case JObject(fs) => fs.collect { case (k, JInt(v)) => k -> v.toLong }.toMap
      case _ => Map.empty
    }
  }
}

/** A closed loop with one client over a query list: one cold pass, then
  * warm passes for the run's seconds. Each query is construction plus
  * `count()`, and every count is checked.
  */
object QueryWorkload {

  private final case class Timed(name: String, trace: Long, t0: Double, t1: Double,
      t2: Double, ok: Boolean) {
    def seconds: Double = (t2 - t0) / 1000
  }

  def run(a: Args, names: Seq[String], ops: Ops, report: Report): SparkSession = {
    val expected = Queries.expected(a.data)
    names.filterNot(expected.contains).foreach(n =>
      throw new IllegalStateException(s"no expected row count for $n"))
    val (spark, setupS) = Bench.setUp(a, _ => ())
    val all = graft.SparkEntry.queries
    val rnd = new Random(a.seed)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None

    def query(name: String, traced: Boolean): Timed = {
      val tr = tracer.filter(_ => traced)
      val trace = tr.fold(0L)(_.newTrace())
      var t1 = 0.0
      val t0 = Clock.now()
      val ok = ops.check(s"query $name") {
        tr.foreach(_.tag(trace, "entry"))
        val df: DataFrame = all(name)(spark, a.data)
        t1 = Clock.now()
        tr.foreach(_.tag(trace, "exec"))
        val n = try df.count() finally tr.foreach(_.untag())
        if (n != expected(name))
          System.err.println(s"[graftbench] $name returned $n rows, expected ${expected(name)}")
        n == expected(name)
      }
      val q = Timed(name, trace, t0, if (t1 == 0.0) Clock.now() else t1, Clock.now(), ok)
      System.err.println(f"[graftbench] $name%-24s ${q.seconds}%.3f s (construction ${(q.t1 - q.t0) / 1000}%.3f s)")
      q
    }

    // the cold pass runs in declaration order, so which query pays the
    // first-use costs does not change with the seed; warm passes shuffle
    def pass(order: Seq[String], traced: Boolean): Seq[Timed] = order.map(query(_, traced))

    val cold = pass(names, traced = false)
    val coldS = cold.map(_.seconds).sum
    // one settling pass lets the JIT finish before warm passes are timed
    pass(rnd.shuffle(names), traced = false)
    tracer.foreach(_.attach())
    val warm = Seq.newBuilder[(Boolean, Seq[Timed])]
    val w0 = System.nanoTime()
    var n = 0
    // four untraced warm passes put the tail at p68; traced runs
    // alternate untraced and traced passes, two of each, to measure the
    // tracing overhead
    val minPasses = 4
    while (n < minPasses || System.nanoTime() - w0 < a.seconds * 1e9) {
      val traced = a.trace && n % 2 == 1
      if (a.trace && !traced) tracer.get.detach()
      warm += traced -> pass(rnd.shuffle(names), traced)
      if (a.trace && !traced) tracer.get.attach()
      n += 1
    }
    val passes = warm.result()
    val plain = passes.filterNot(_._1).map(_._2)
    val passS = plain.map(_.map(_.seconds).sum)
    val perQuery = plain.flatten.map(_.seconds)

    if (!a.trace) {
      val warmS = Stats.median(passS)
      val (tail, pct, count) = Stats.tail(perQuery)
      report.put("setup_s", setupS, "s")
      report.put("cold_s", coldS, "s")
      report.put("warm_s", warmS, "s")
      report.put("op_p50_ms", Stats.median(perQuery) * 1000, "ms")
      report.put("op_tail_ms", tail * 1000, "ms")
      report.put("ops_per_s", perQuery.size / passS.sum, "1/s")
      report.line(s"workload ${a.workload}: ${names.size} queries, seed ${a.seed}, " +
        s"${plain.size} timed warm passes after one settling pass")
      report.line(f"setup_s = $setupS%.3f s")
      report.line(f"cold_pass_s = $coldS%.3f s")
      report.line(f"warm_pass_s = $warmS%.3f s (passes ${passS.map(s => f"$s%.3f").mkString(", ")})")
      report.line(f"query_p50_s = ${Stats.median(perQuery)}%.4f s")
      report.line(f"query_tail_s = $tail%.4f s (p$pct of $count samples)")
      report.line(f"peak_rss_mb = ${Bench.peakRssMb()}%.1f MB")
    } else {
      val tr = tracer.get
      tr.detach()
      val traced = passes.filter(_._1).map(_._2)
      val layers = traced.map(p => Bench.derive(Stats.sum(p.map(layersOf(tr, _))), a.cores))
      val m = Stats.medians(layers)
      val overhead = 100 * (Stats.median(traced.map(_.map(_.seconds).sum)) /
        Stats.median(passS) - 1)
      Bench.putLayers(report, m + ("trace.overhead_pct" -> overhead))
      report.line(f"tracing overhead = $overhead%.2f%% of warm_pass_s " +
        f"(traced ${Stats.median(traced.map(_.map(_.seconds).sum))}%.3f s, " +
        f"untraced ${Stats.median(passS)}%.3f s)")
      val out = Paths.get(a.traceDir, s"${a.workload}-seed${a.seed}.jsonl")
      tr.write(out)
      report.line(s"spans written to $out")
    }
    spark
  }

  /** Per-layer figures of one traced query, recorded as spans too. */
  private def layersOf(tr: Tracer, q: Timed): Map[String, Double] = {
    val entry = tr.jobsTagged(q.trace, "entry")
    val exec = tr.jobsTagged(q.trace, "exec")
    val reads = entry.filter(tr.isRead)
    val plans = tr.plansBetween(q.t1, q.t2)
    val batches = tr.batchesBetween(q.t0, q.t2)
    val root = tr.span(q.trace, 0, s"query:${q.name}", q.t0, q.t2)
    val e = tr.span(q.trace, root, "entry", q.t0, q.t1)
    val x = tr.span(q.trace, root, "exec", q.t1, q.t2)
    tr.jobSpans(q.trace, e, entry)
    tr.jobSpans(q.trace, x, exec)
    tr.planSpans(q.trace, x, plans)
    tr.batchSpans(q.trace, root, batches)
    Map(
      "sources.resolve_jobs" -> reads.size.toDouble,
      "sources.resolve_ms" -> reads.map(j => (j.end - j.start).toDouble).sum,
      "entry.build_ms" -> (q.t1 - q.t0),
      "entry.build_jobs" -> entry.size.toDouble) ++
      tr.catalystLayer(plans) ++ tr.execLayer(exec, q.t1, q.t2) ++
      tr.streamingLayer(batches)
  }
}
