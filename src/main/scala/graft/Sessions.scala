package graft

import org.apache.spark.sql.SparkSession

/** Canonical session configuration for graft jobs — the settings every
  * deployment should start from, sized by `cores` (= executor-core total
  * on a cluster; on local[n], n).
  */
object Sessions {

  def builder(master: String, cores: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions) // graft_dot etc. in SQL
      .config("spark.sql.session.timeZone", "UTC") // tz-aware discipline
      // shuffle partitions ≈ core count at these scales; AQE coalesces
      // further down when partitions run small
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // events-style ns-timestamp parquet reads as long (see SparkEntry.E)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The default 100-entry generated-class cache thrashes on wide
      // pipelines: one dedup_incremental execution emits 130 distinct
      // codegen units, so EVERY execution recompiled all of them (~1.7 s
      // of Janino per run, measured via CodegenMetrics — 130 new compiles
      // per repetition, 0 with the larger cache). Static conf, so it must
      // be set at session build; sized to hold the whole query fleet's
      // sources (a few thousand × ~KB-sized class = tens of MB, cheap
      // against a multi-GB driver).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
    // Local streaming checkpoints through java.nio instead of Hadoop's
    // LocalFileSystem: without the native Hadoop library every
    // checkpoint file (offsets, commits, one state delta per store per
    // batch) pays a FORKED `chmod` via RawLocalFileSystem.setPermission
    // plus a .crc sibling — measured ~0.6 s of stream_ohlc's 1.0 s
    // (`Probe trace` stack sampler). SCOPED to local masters: a cluster
    // deployment's checkpoints live on HDFS/S3, which this manager
    // rejects by scheme — it never silently takes over a remote path;
    // a local session that must checkpoint remotely can still reset
    // spark.sql.streaming.checkpointFileManagerClass explicitly.
    if (master.startsWith("local"))
      b.config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.LocalNioCheckpointFileManager")
    else b
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
