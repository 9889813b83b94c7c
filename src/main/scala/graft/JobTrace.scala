package graft
import org.apache.spark.scheduler._

/** Job-timeline probe: `runMain graft.JobTrace <sfDir> <query>` runs the
  * query once cold + once traced and prints each Spark job's wall span
  * plus the DRIVER GAPS between jobs — the tool for diagnosing fixed-
  * cost-bound queries (streaming start/stop, planning, driver loops)
  * where per-query totals say "1 s" but no stage shows it. Companion to
  * QBench (which separates cold vs steady-state) and the stage dump
  * (which finds 1-task stages).
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
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
    SparkEntry.queries(name)(spark, sfDir).count() // cold rep
    jobs.clear()
    sampler.start()
    val t0 = System.currentTimeMillis()
    SparkEntry.queries(name)(spark, sfDir).count()
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
    spark.stop()
  }
}
