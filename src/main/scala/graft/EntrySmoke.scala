package graft


/** Local stand-in for the driver's t1 smoke: run `SparkEntry.entry` on
  * sf0.001 and require rows > 0.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val rows = df.count()
    println(s"ENTRY_SMOKE rows=$rows sample=${df.limit(2).collect().mkString(" | ")}")
    require(rows > 0, "entry returned no rows")
    spark.stop()
  }
}
