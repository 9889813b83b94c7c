package graft

/** Plan capture for the optimization rounds:
  * `runMain graft.PlanDump <sfDir> <outDir> <suffix> <query>...` writes
  * each named query's `.explain("formatted")` text to
  * `<outDir>/<query>_<suffix>.txt` — the before/after plan evidence the
  * optimization deliverables require (Exchange count, join strategy,
  * PushedFilters/ReadSchema, WholeStageCodegen spans). The plan is the
  * pre-execution one (AQE `isFinalPlan=false`): shape, not runtime
  * statistics — runtime numbers come from Bench/QBench/JobTrace.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- args.drop(3)) {
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
        println(s"PLAN $name -> $outDir/${name}_$suffix.txt")
      } catch {
        case e: Exception =>
          System.err.println(s"PLAN $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
