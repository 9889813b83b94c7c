package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A finished span. Times are epoch milliseconds. */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
    start: Double, end: Double, attrs: Map[String, Double])

/** One Spark job as the listener bus reported it. `tag` is the
  * `graftbench.span` local property of the thread that launched it.
  */
final class JobRec(val id: Int, val start: Long, val callSite: String,
    val tag: String, val stageIds: Seq[Int]) {
  @volatile var end: Long = start
}

final case class StageRec(tasks: Int, taskMs: Long, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long)

/** Catalyst phase timings of one action's QueryExecution. */
final case class PlanRec(phases: Map[String, (Long, Long)]) {
  def start: Long = phases.values.map(_._1).minOption.getOrElse(0L)
  def ms(phase: String): Double = phases.get(phase).fold(0.0)(p => (p._2 - p._1).toDouble)
}

/** One micro-batch as its StreamingQueryProgress reported it. */
final case class BatchRec(start: Long, durations: Map[String, Long]) {
  def ms(keys: String*): Double = keys.map(k => durations.getOrElse(k, 0L)).sum.toDouble
}

object Clock {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble

  /** Epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
}

/** Spans around the calls into each layer, plus the listener records
  * they are cut from. Listeners are attached only while tracing, so an
  * untraced pass runs the program exactly as a user would. Everything
  * stays in memory until [[write]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val tagKey = "graftbench.span"

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val maxTask = new ConcurrentHashMap[Int, java.lang.Long]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the result stage is named after the job's call site
      val callSite = e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name)
      val j = new JobRec(e.jobId, e.time, callSite,
        Option(e.properties).flatMap(x => Option(x.getProperty(tagKey))).orNull, e.stageIds)
      jobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null)
        maxTask.merge(e.stageId, e.taskMetrics.executorRunTime,
          (a, b) => math.max(a, b))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      stages.put(e.stageInfo.stageId, StageRec(e.stageInfo.numTasks,
        m.executorRunTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      plans.add(PlanRec(qe.tracker.phases.map { case (k, v) =>
        k -> (v.startTimeMs, v.endTimeMs) }))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  def newTrace(): Long = { nextId += 1; nextId }

  /** Jobs launched from this thread (and threads it starts) carry `phase`. */
  def tag(trace: Long, phase: String): Unit = sc.setLocalProperty(tagKey, s"$trace:$phase")
  def untag(): Unit = sc.setLocalProperty(tagKey, null)

  def span(trace: Long, parent: Long, name: String, start: Double, end: Double,
      attrs: Map[String, Double] = Map.empty): Long = {
    nextId += 1
    spans += Span(trace, nextId, parent, name, start, end, attrs)
    nextId
  }

  def jobsTagged(trace: Long, phase: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.tag == s"$trace:$phase").toSeq.sortBy(_.id)

  // Listener times are whole epoch milliseconds: widen the window to the
  // enclosing milliseconds so an event at its very edge is not lost.
  private def within(t: Long, from: Double, to: Double): Boolean =
    t >= math.floor(from) && t <= math.ceil(to)

  def jobsBetween(from: Double, to: Double): Seq[JobRec] =
    jobs.values.asScala.filter(j => within(j.start, from, to)).toSeq.sortBy(_.id)

  def plansBetween(from: Double, to: Double): Seq[PlanRec] =
    plans.asScala.filter(p => within(p.start, from, to)).toSeq

  def batchesBetween(from: Double, to: Double): Seq[BatchRec] =
    batches.asScala.filter(b => within(b.start, from, to)).toSeq

  private def stagesOf(js: Seq[JobRec]): Seq[(Int, StageRec)] =
    js.flatMap(_.stageIds).distinct.flatMap(s => Option(stages.get(s)).map(s -> _))

  /** Execution figures of `js`, whose action ran over [from, to]. */
  def execLayer(js: Seq[JobRec], from: Double, to: Double): Map[String, Double] = {
    val st = stagesOf(js)
    val taskMs = st.map(_._2.taskMs).sum.toDouble
    val maxTaskMs = st.map { case (id, _) => Option(maxTask.get(id)).fold(0L)(_.longValue) }.sum
    val wall = to - from
    Map(
      "exec.action_ms" -> wall,
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> st.size.toDouble,
      "exec.tasks" -> st.map(_._2.tasks).sum.toDouble,
      "exec.task_ms" -> taskMs,
      "exec.max_task_ms" -> maxTaskMs.toDouble,
      "exec.shuffle_read_bytes" -> st.map(_._2.shuffleRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> st.map(_._2.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> st.map(_._2.spill).sum.toDouble,
      "exec.gc_ms" -> st.map(_._2.gcMs).sum.toDouble,
      "exec.driver_gap_ms" -> math.max(0.0, wall - covered(js, from, to)))
  }

  /** Wall time within [from, to] that at least one of `js` covers. */
  private def covered(js: Seq[JobRec], from: Double, to: Double): Double = {
    val iv = js.map(j => (math.max(from, j.start.toDouble), math.min(to, j.end.toDouble)))
      .filter(i => i._2 > i._1).sortBy(_._1)
    var total = 0.0
    var cur = Double.NegativeInfinity
    for ((s, e) <- iv) {
      val s1 = math.max(s, cur)
      if (e > s1) { total += e - s1; cur = e }
    }
    total
  }

  def catalystLayer(ps: Seq[PlanRec]): Map[String, Double] = Map(
    "catalyst.analysis_ms" -> ps.map(_.ms("analysis")).sum,
    "catalyst.optimization_ms" -> ps.map(_.ms("optimization")).sum,
    "catalyst.planning_ms" -> ps.map(_.ms("planning")).sum)

  def streamingLayer(bs: Seq[BatchRec]): Map[String, Double] = Map(
    "streaming.batches" -> bs.size.toDouble,
    "streaming.trigger_ms" -> bs.map(_.ms("triggerExecution")).sum,
    "streaming.wal_ms" -> bs.map(_.ms("walCommit", "commitOffsets")).sum,
    "streaming.planning_ms" -> bs.map(_.ms("queryPlanning")).sum)

  /** Spans for jobs under `parent`; parquet-read jobs are `sources.resolve`. */
  def jobSpans(trace: Long, parent: Long, js: Seq[JobRec]): Unit =
    js.foreach { j =>
      val st = stagesOf(Seq(j))
      span(trace, parent, if (isRead(j)) "sources.resolve" else "exec.job",
        j.start.toDouble, j.end.toDouble, Map("job_id" -> j.id.toDouble,
          "stages" -> st.size.toDouble, "tasks" -> st.map(_._2.tasks).sum.toDouble,
          "task_ms" -> st.map(_._2.taskMs).sum.toDouble))
    }

  def planSpans(trace: Long, parent: Long, ps: Seq[PlanRec]): Unit =
    for (p <- ps; (phase, (s, e)) <- p.phases)
      span(trace, parent, s"catalyst.$phase", s.toDouble, e.toDouble)

  def batchSpans(trace: Long, parent: Long, bs: Seq[BatchRec]): Unit =
    bs.foreach(b => span(trace, parent, "streaming.batch", b.start.toDouble,
      b.start + b.ms("triggerExecution"), b.durations.map { case (k, v) => k -> v.toDouble }))

  /** The schema-inference job a schema-less parquet read launches. */
  def isRead(j: JobRec): Boolean = j.callSite.startsWith("parquet at")

  /** Writes every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    val lines = spans.map { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"$k\":${num(v)}" }.mkString("{", ",", "}")
      s"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ms":${num(s.start)},"end_ms":${num(s.end)},""" +
        s""""attrs":$attrs}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
