package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line arguments; `run.py` supplies all of them. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, runDir: String, traceDir: String, cores: Int, startMs: Long)

/** Operation counts: every failure is printed with its cause, never
  * swallowed, and counts against `error_rate`.
  */
final class Ops {
  @volatile var attempted = 0L
  @volatile var failed = 0L

  def fail(op: String, cause: String): Unit = synchronized {
    failed += 1
    System.err.println(s"[graftbench] FAILED $op: $cause")
  }

  def fail(op: String, e: Throwable): Unit =
    fail(op, s"${e.getClass.getName}: ${e.getMessage}")

  /** Runs one operation; it fails if it throws or returns false. */
  def check(op: String)(body: => Boolean): Boolean = {
    synchronized(attempted += 1)
    try { val ok = body; if (!ok) fail(op, "wrong result"); ok }
    catch { case e: Throwable => fail(op, e); false }
  }

  def errorRate: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
}

/** Metrics of one run, printed as human-readable lines and as the
  * final JSON line.
  */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def line(s: String): Unit = println(s"[graftbench] $s")

  def json(ops: Ops): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${ops.failed == 0}, "attempted": ${ops.attempted}, """ +
      s""""failed": ${ops.failed}, "metrics": {$ms}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * (n-10)-th smallest of n samples. Returns (value, percentile, n);
    * with fewer than eleven samples it is the maximum.
    */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    val k = math.max(1, s.size - 10)
    (s(k - 1), (100L * k / s.size).toInt, s.size)
  }

  /** Key-wise median of several metric maps. */
  def medians(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k => k -> median(ms.map(_.getOrElse(k, 0.0)))).toMap

  def sum(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k => k -> ms.map(_.getOrElse(k, 0.0)).sum).toMap
}

object Bench {
  /** Every per-layer metric, in print order, with its unit. */
  val layerMetrics: Seq[(String, String)] = Seq(
    "sources.resolve_jobs" -> "count", "sources.resolve_ms" -> "ms",
    "entry.build_ms" -> "ms", "entry.build_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "exec.action_ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_ms" -> "ms", "exec.core_util" -> "ratio",
    "exec.max_task_share" -> "ratio", "exec.shuffle_read_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.gc_ms" -> "ms", "exec.driver_gap_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.trigger_ms" -> "ms",
    "streaming.wal_ms" -> "ms", "streaming.planning_ms" -> "ms") ++
    Lifecycle.modelTypes.flatMap(t =>
      Seq(s"ml.machine_build_ms.$t" -> "ms", s"ml.machine_jobs.$t" -> "count")) ++
    Seq("ml.artifact_bytes" -> "bytes", "ml.registry_hit_ratio" -> "ratio",
      "serve.parse_ms" -> "ms", "serve.score_ms" -> "ms", "serve.render_ms" -> "ms",
      "serve.jobs_per_request" -> "count", "serve.http_ms" -> "ms",
      "serve.gen_lag_ms" -> "ms") ++
    Lifecycle.mixShare.keys.toSeq.sorted.map(rows => s"serve.open_p50_ms.${rows}_rows" -> "ms") :+
    ("trace.overhead_pct" -> "%")

  /** Ratios derived from summed execution figures. */
  def derive(m: Map[String, Double], cores: Int): Map[String, Double] = {
    val task = m.getOrElse("exec.task_ms", 0.0)
    val wall = m.getOrElse("exec.action_ms", 0.0)
    m ++ Map(
      "exec.core_util" -> (if (wall > 0) task / (wall * cores) else 0.0),
      "exec.max_task_share" -> (if (task > 0) m.getOrElse("exec.max_task_ms", 0.0) / task else 0.0))
  }

  def putLayers(report: Report, m: Map[String, Double]): Unit =
    layerMetrics.foreach { case (k, u) => report.put(k, m.getOrElse(k, 0.0), u) }

  def newSession(cores: Int): SparkSession = {
    val s = graft.Sessions.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Sets up once: builds the session, does the warm-up read of `events`
    * and the workload's own preparation. Returns the session and the
    * set-up time in seconds, from the JVM's launch by `run.py` to ready.
    */
  def setUp(a: Args, prepare: SparkSession => Unit): (SparkSession, Double) = {
    val spark = newSession(a.cores)
    graft.sources.Events.read(spark, s"${a.data}/events.parquet").count()
    prepare(spark)
    (spark, (System.currentTimeMillis() - a.startMs) / 1000.0)
  }

  def peakRssMb(): Double = {
    val status = Files.readAllLines(Paths.get("/proc/self/status"))
    import scala.jdk.CollectionConverters._
    status.asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("data"), kv("run-dir"), kv("trace-dir"),
      kv("cores").toInt, kv("start-ms").toLong)
    val ops = new Ops
    val report = new Report
    val spark = a.workload match {
      case "queries_light" => QueryWorkload.run(a, Queries.light, ops, report)
      case "queries_heavy" => QueryWorkload.run(a, Queries.heavy, ops, report)
      case "model_lifecycle" => Lifecycle.run(a, ops, report)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    report.line(f"error_rate = ${ops.errorRate}%.6f (${ops.failed} of ${ops.attempted} operations failed)")
    report.line(s"box: nproc=${a.cores} heap=${sys.env.getOrElse("SPARK_DRIVER_MEM", "?")} " +
      s"spark=${spark.version} java=${System.getProperty("java.version")}")
    spark.stop()
    println(report.json(ops))
  }
}
