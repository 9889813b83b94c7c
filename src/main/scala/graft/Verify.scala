package graft
import java.nio.file.{Files, Paths}
import graft.ml.Serve.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Fixture-key the generated-oracle fragments (see
    // SparkEntry.oracleFragmentFile): a query that fails here must
    // surface as a MISSING oracle, never as a stale one from a
    // different fixture's earlier run.
    System.setProperty("graft.oracle.fixture", sfDir)
    // optional trailing names: dump only those queries (and only their
    // oracle entries) — local iteration aid; the driver passes none.
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // canonical graft session (AQE, UTC, extensions, nanosAsLong) — the
    // correctness gate runs the same config a deployment would.
    // Keep the INT96 timestamp write default: readers see tz-NAIVE values,
    // matching the DuckDB oracle's TIMESTAMP; TIMESTAMP_MICROS would
    // surface as tz-aware (isAdjustedToUTC) and break naive compares.
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // full JSON string escape (ALL control chars < 0x20): a tab or CR in
    // oracle SQL would otherwise make a JSON reader of this file fail.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
