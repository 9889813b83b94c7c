package graft
import org.apache.spark.sql.SparkSession

/** Per-query repeat-timing harness: `runMain graft.QBench <sfDir> <query>...`
  * runs each named query 3 times and prints per-rep seconds — separates
  * JIT/codegen cold cost (rep1) from steady-state throughput (rep3), which
  * `Bench`'s single JSON line cannot show.
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // canonical graft session (same config Bench runs — repeat timings
    // must measure the deployment plan, not an ad-hoc session's)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    for (name <- args.drop(1); rep <- 1 to 3) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      println(f"QBENCH $name rep$rep ${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    spark.stop()
  }
}
