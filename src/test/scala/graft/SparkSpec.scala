package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs started while `body` runs, counted by a listener. A marker
    * job after `body` flushes the (asynchronous) listener bus: once its
    * start is seen, every job `body` started has been counted.
    */
  protected def jobsDuring(tag: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription(tag)
      body
      sc.setJobDescription(s"$tag/end")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains(s"$tag/end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$tag/end"), "listener never saw the marker job")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    seen.toArray.count(_ == tag)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", // static conf — must be set here
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      // static conf, same value as Sessions.builder: the codegen-cache
      // tripwire in PlanAuditSpec asserts repeat executions recompile
      // nothing, which needs the deployment-sized cache
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // mirror the deployment session (Sessions.builder applies
    // GraftExtensions): native SQL functions + the geo-radius rewrite
    // rule, so ContractSpec/PlanAuditSpec analyze the same plans the
    // driver runs. getOrCreate can't apply withExtensions to an
    // already-built session, hence the imperative route.
    org.apache.spark.sql.graft.Bridge.registerFunctions(s)
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations :+ graft.plans.GeoRadiusJoinRule()
    s
  }
}
