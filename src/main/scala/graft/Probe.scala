package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query probes over the canonical graft session (the one Bench runs,
  * so a probe measures the deployment plan, not an ad-hoc session's) and
  * the `SparkEntry.queries` lookup. One mode per run:
  *
  *   - `runMain graft.Probe time <sfDir> <query>...` runs each named query
  *     3 times and prints per-rep seconds (`QBENCH <name> rep<i> <s>`):
  *     separates JIT/codegen cold cost (rep1) from steady-state
  *     throughput (rep3), which `Bench`'s single JSON line cannot show.
  *   - `runMain graft.Probe trace <sfDir> <query>` runs the query once
  *     cold and once traced, and prints each Spark job's wall span, the
  *     DRIVER GAPS between jobs, a line per completed stage and samples
  *     of the stream-execution threads — for fixed-cost-bound queries
  *     (streaming start/stop, planning, driver loops) where the total
  *     says "1 s" but no stage shows it.
  *   - `runMain graft.Probe plan <sfDir> <outDir> <suffix> <query>...`
  *     writes each query's `.explain("formatted")` text to
  *     `<outDir>/<query>_<suffix>.txt` (Exchange count, join strategy,
  *     PushedFilters/ReadSchema, WholeStageCodegen spans). The plan is
  *     the pre-execution one (AQE `isFinalPlan=false`): shape, not
  *     runtime statistics.
  */
object Probe {

  private val usage =
    "usage: graft.Probe time <sfDir> <query>... | trace <sfDir> <query> | " +
      "plan <sfDir> <outDir> <suffix> <query>..."

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(Set("time", "trace", "plan")(mode) && args.length >= 3 &&
      (mode != "plan" || args.length >= 5), usage)
    val sfDir = args(1)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
    try mode match {
      case "time" => time(spark, sfDir, args.drop(2).toSeq, query)
      case "trace" => trace(spark, args(2), query)
      case "plan" => plan(args(2), args(3), args.drop(4).toSeq, query)
    } finally spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String],
      query: String => DataFrame): Unit = {
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    for (name <- names; rep <- 1 to 3) {
      val t0 = System.nanoTime()
      query(name).count()
      println(f"QBENCH $name rep$rep ${(System.nanoTime() - t0) / 1e9}%.2f")
    }
  }

  private def trace(spark: SparkSession, name: String,
      query: String => DataFrame): Unit = {
    case class J(id: Int, var start: Long = 0L, var end: Long = 0L,
      var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val r = jobs.computeIfAbsent(j.jobId, J(_))
        r.start = j.time
        r.desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("").take(60)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobs.computeIfAbsent(j.jobId, J(_)).end = j.time
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val m = i.taskMetrics
        println(f"  stage${i.stageId}%-3d tasks=${i.numTasks}%-3d " +
          f"run=${m.executorRunTime}%5d deser=${m.executorDeserializeTime}%5d " +
          f"cpu=${m.executorCpuTime / 1000000}%5d gc=${m.jvmGCTime}%4d ms " +
          f"${i.name.take(50)}")
      }
    })
    // sample the driver-side stream-execution threads during the run:
    // the start gap (query planning, source listing, WAL) never appears
    // in any job, only in these stacks
    val sampler = new Thread(() => {
      while (!Thread.interrupted()) {
        try {
          Thread.getAllStackTraces.forEach { (t, st) =>
            if (t.getName.contains("stream execution") && st.nonEmpty)
              println(s"  [stack ${System.currentTimeMillis() % 100000}] " +
                st.take(6).mkString(" <- "))
          }
          Thread.sleep(50)
        } catch { case _: InterruptedException => return }
      }
    })
    sampler.setDaemon(true)
    query(name).count() // cold rep
    Thread.sleep(200) // let its listener events drain before the reset
    jobs.clear()
    sampler.start()
    val t0 = System.currentTimeMillis()
    query(name).count()
    val t1 = System.currentTimeMillis()
    Thread.sleep(200) // let listener events drain
    val js = jobs.values().toArray(Array.empty[J]).sortBy(_.start)
    println(f"TRACE $name total ${t1 - t0} ms, ${js.length} jobs")
    var cursor = t0
    for (j <- js) {
      val gap = j.start - cursor
      if (gap > 5) println(f"  gap   ${gap}%5d ms (driver)")
      println(f"  job${j.id}%-4d ${math.max(0L, j.end - j.start)}%5d ms  ${j.desc}")
      cursor = math.max(cursor, j.end)
    }
    if (t1 - cursor > 5) println(f"  gap   ${t1 - cursor}%5d ms (driver, tail)")
  }

  private def plan(outDir: String, suffix: String, names: Seq[String],
      query: String => DataFrame): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      try {
        val txt = query(name).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
        println(s"PLAN $name -> $outDir/${name}_$suffix.txt")
      } catch {
        case e: Exception =>
          System.err.println(s"PLAN $name FAILED: $e")
      }
    }
  }
}
