package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Artifacts.{registryKey, tableFingerprint}
import graft.sources.Tables
import graft.queries.{Deduplication, Models, Query, SimilarityGraph, Streaming, Windows}
import graft.queries.Common._
import graft.queries.Oracle.{Published, Sql, publishOracle}
import graft.multimodal.Multimodal
import graft.ops.{AnomalyMath, Dedup, Filters, Linkage, Scalers, Skew, Survival, TextAnalysis, Timeseries}
import graft.expressions.{CountMinEstimates, DtwDistance}

/** Driver contract — `queries` and `oracleSql`, both derived from the
  * declared [[graft.queries.Query]] tables: this file's (every query not
  * yet moved to a family file) and each family file's
  * ([[graft.queries.SimilarityGraph]], [[graft.queries.Windows]],
  * [[graft.queries.Deduplication]], [[graft.queries.Streaming]],
  * [[graft.queries.Models]]).
  * Every query has a DuckDB oracle, static or published by the query when
  * it runs.
  *
  * Hash-match discipline (SURVEY.md §2, FIXTURES.md):
  *   - deterministic ORDER BY on a unique key in both engines;
  *   - float sums go through DECIMAL(18,6) then back to DOUBLE (exact,
  *     order-independent); averages are round(x, 6);
  *   - events.ts is ns in parquet: Spark truncates to µs on read, so every
  *     oracle use of ts goes through CAST(ts AS TIMESTAMP) (µs) too;
  *   - timestamps in output are µs in both engines;
  *   - counts / row_number cast to BIGINT on the Spark side (DuckDB emits
  *     BIGINT for both).
  */
object SparkEntry {

  /** Time-bounded events scan with the range applied to the column AS
    * STORED, so the predicate lands in PushedFilters (row-group pruning
    * at 100 TB) — see [[graft.sources.Events.readBetween]].
    */
  private def Ebetween(s: SparkSession, dir: String, fromDate: String, toDate: String): DataFrame =
    graft.sources.Events.readBetween(s, s"$dir/events.parquet", fromDate, toDate)

  // ---------------------------------------------------------------------
  // Flagship: the gordo essence — per-event_type streams resampled to
  // 10-minute mean buckets, aligned (inner join on bucket), with a
  // diff-based anomaly-style score. Driver smoke-checks rows > 0 at sf0.001.
  // ---------------------------------------------------------------------
  def entry(spark: SparkSession): DataFrame =
    flagship(spark, "/root/testdata/sf0.001")

  private def flagship(s: SparkSession, dir: String): DataFrame = {
    val wide = Timeseries.align(
      E(s, dir), "ts", "event_type", "value",
      tags = Seq("click", "view"), resolution = "10 minutes")
    wide.select(
      col("bucket"),
      round(col("click"), 6).as("click_v"),
      round(col("view"), 6).as("view_v"),
      round(abs(col("click") - col("view")), 6).as("diff_score")
    ).orderBy("bucket")
  }

  // ---------------------------------------------------------------------
  // §2.1 scans
  // ---------------------------------------------------------------------
  private def q_scan_parquet(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem").orderBy("l_orderkey", "l_linenumber")

  /** RandomDataProvider analogue: md5-derived uniforms — deterministic AND
    * cross-engine portable, so even the "random" source is oracle-checked.
    */
  private def q_scan_random(s: SparkSession, dir: String): DataFrame =
    graft.sources.TagSources.randomSeries(s, Seq("click", "view"), 1000L,
        startEpochSec = 1704067200L, stepSeconds = 600L)
      .orderBy("tag", "i")

  /** Influx line-protocol round trip: events → line protocol text → parse
    * back to the long format. Proves the forwarder's wire codec
    * (escaping, ns timestamps, double text round-trip) against the
    * identity oracle — every byte that would cross the wire is rendered
    * and re-parsed inside the plan.
    */
  private def q_sink_influx_lines(s: SparkSession, dir: String): DataFrame = {
    val long = E(s, dir)
      .filter(col("value").isNotNull)
      .select(col("ts"), col("event_type").as("tag"), col("value"))
    graft.sources.LineProtocol.parseLines(
        graft.sources.LineProtocol.toLines(long, "events"), "events")
      .orderBy("ts", "tag", "value")
  }

  /** Small-files compaction — the lake-maintenance sink every long-lived
    * 100 TB table needs: `repartitionByRange` on the time column packs
    * the table into a fixed number of target-size files, and the
    * within-partition sort gives each file a tight ts min/max so later
    * time-range scans skip whole row groups via parquet statistics. The
    * compacted copy is registry-gated (one layout pass per dir, the
    * production cadence); the query reads it BACK and aggregates, with
    * the oracle on the ORIGINAL table — a lossy compaction (dropped or
    * duplicated rows at partition boundaries) hash-fails.
    */
  private def q_sink_compact(s: SparkSession, dir: String): DataFrame = {
    val root = compactRoot(s, dir)
    Tables.resolve(s, root)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
      .orderBy("event_type")
  }

  /** The Z-ORDERED events copy (see [[graft.ops.ZOrder]]) —
    * fingerprint-keyed like compactRoot; package-private so
    * LakeSinksSpec audits the per-file dual-dimension locality of the
    * exact artifact this query serves.
    */
  private[graft] def zorderRoot(s: SparkSession, dir: String): String =
    Artifacts.materialize(s, "zorder",
        s"zorder-v1|$dir|${tableFingerprint(s, s"$dir/events.parquet")}") { out =>
      graft.ops.ZOrder.layout(E(s, dir),
          graft.sources.Events.epochMicros(col("ts")), col("user_id"), nFiles = 8)
        .write.mode("overwrite").parquet(out)
    }

  /** Z-order compaction — multi-dimensional lake maintenance: files tiled
    * by the Morton interleave of (ts, user_id), so parquet min/max stats
    * prune scans filtering on EITHER dimension (a ts-sorted layout leaves
    * every file spanning the whole user domain). Same registry-gated
    * write-once discipline as sink_compact; the query reads the layout
    * BACK and aggregates per event_type with BOTH dimensions' extrema in
    * the output, with the oracle on the ORIGINAL table — a lossy or
    * row-corrupting layout pass hash-fails.
    */
  private def q_sink_zorder(s: SparkSession, dir: String): DataFrame = {
    Tables.resolve(s, zorderRoot(s, dir))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        min(col("user_id")).as("min_uid"), max(col("user_id")).as("max_uid"),
        min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
      .orderBy("event_type")
  }

  /** Hive-style PARTITIONED lake layout — the fourth sink beside
    * compaction (file size), z-order (multi-dim locality), and upsert
    * (merge): events written `partitionBy(event_date)` (registry-gated,
    * fingerprint-keyed), read BACK with a partition-column predicate so
    * the listing itself prunes non-matching date directories (cheaper
    * than row-group pruning: pruned partitions are never even listed as
    * splits — the dominant scan-reduction lever for time-partitioned
    * 100 TB tables), then aggregated. The oracle computes the same
    * date-bounded aggregate from the UNPARTITIONED original, so a
    * partition-key derivation or pruning bug hash-fails. PlanAuditSpec
    * asserts the shipped query's scan carries only in-range partitions.
    */
  private[graft] def partitionedRoot(s: SparkSession, dir: String): String =
    Artifacts.materialize(s, "part",
        s"part-v1|$dir|${tableFingerprint(s, s"$dir/events.parquet")}") { out =>
      E(s, dir).withColumn("event_date", to_date(col("ts")))
        .write.partitionBy("event_date").mode("overwrite").parquet(out)
    }

  /** DATA-SKIPPING MANIFEST scan (zone maps — the Iceberg/Delta file-stats
    * pattern): the corpus materializes ONCE into a range-clustered
    * multi-file layout plus a per-file (min_ts, max_ts, rows) manifest;
    * a time-range query then consults only the MODEL-SIZED manifest to
    * pick files, reads just those, and re-applies the exact predicate
    * (stats prune IO, the residual filter guarantees exactness — the
    * zone-map contract). The oracle is the plain full-scan SQL: pruning
    * must be invisible in the result; the spec asserts the skip actually
    * happens. At 100 TB this is THE scan economics — O(manifest)
    * planning + O(matching files) IO instead of O(corpus).
    */
  private def manifestMaterialized(s: SparkSession, dir: String): String =
    Artifacts.materialize(s, "manifest",
        s"manifest-v1|$dir|${tableFingerprint(s, s"$dir/events.parquet")}", "manifest") { out =>
      E(s, dir).repartitionByRange(16, col("ts"))
        .write.mode("overwrite").parquet(s"$out/data")
      s.read.parquet(s"$out/data")
        .groupBy(input_file_name().as("file"))
        .agg(min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
          count(lit(1)).as("n_rows"))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/manifest")
    }

  private[graft] def manifestPrunedFiles(s: SparkSession, dir: String,
      lo: java.sql.Timestamp, hi: java.sql.Timestamp): (Array[String], Long) = {
    val root = manifestMaterialized(s, dir)
    val m = Tables.resolve(s, s"$root/manifest")
    val total = m.count()
    val files = m.filter(col("max_ts") >= lit(lo) && col("min_ts") < lit(hi))
      .select("file").collect().map(_.getString(0))
    (files, total)
  }

  private def q_scan_pruned_manifest(s: SparkSession, dir: String): DataFrame = {
    val lo = java.sql.Timestamp.valueOf("2024-01-08 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val (files, _) = manifestPrunedFiles(s, dir, lo, hi)
    val root = manifestMaterialized(s, dir)
    val src =
      if (files.isEmpty) Tables.resolve(s, s"$root/data").filter(lit(false))
      else s.read.parquet(files.toIndexedSeq: _*)
    src.filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  private def q_sink_partitioned(s: SparkSession, dir: String): DataFrame = {
    val root = partitionedRoot(s, dir)
    Tables.resolve(s, root)
      .filter(col("event_date") >= lit(java.sql.Date.valueOf("2024-01-08")) &&
        col("event_date") < lit(java.sql.Date.valueOf("2024-01-15")))
      .groupBy("event_date", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      // DATE parquet surfaces as python `object` in the compare while
      // DuckDB DATE lands as datetime64 — emit midnight timestamps
      .select(col("event_date").cast("timestamp").as("event_date"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("event_date", "event_type")
  }

  /** The FULL Influx client↔server leg over a live loopback socket:
    * events → `InfluxStore.write` (line-protocol POST batches from
    * executor partitions) → [[graft.sources.InfluxEmulator]] (the real
    * HTTP API surface, in-process) → `InfluxStore.loadSeries` (per-tag
    * InfluxQL GETs, `from_json` response parse) — oracle-checked against
    * a plain time+tag-bounded SELECT. The localCheckpoint materializes
    * the result so the server can stop before the driver consumes the
    * frame.
    */
  private def q_scan_influx_http(s: SparkSession, dir: String): DataFrame = {
    val em = new graft.sources.InfluxEmulator().start()
    try {
      val store = new graft.sources.InfluxStore(
        s"http://127.0.0.1:${em.boundPort}", "graft", "events")
      store.write(E(s, dir)
        .filter(col("value").isNotNull)
        .select(col("ts"), col("event_type").as("tag"), col("value")))
      store.loadSeries(s, Seq("click", "view", "purchase"),
          java.sql.Timestamp.valueOf("2024-01-05 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
        .orderBy("ts", "tag", "value")
        .localCheckpoint()
    } finally em.stop()
  }

  // ---------------------------------------------------------------------
  // §2.2 projections / filters
  // ---------------------------------------------------------------------
  private def q_proj_tags(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  private def q_filter_rowexpr(s: SparkSession, dir: String): DataFrame =
    Filters.rowFilter(T(s, dir, "lineitem"), "`l_quantity` > 25 & `l_discount` < 0.05")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      .orderBy("l_orderkey", "l_linenumber")

  private def q_filter_timerange(s: SparkSession, dir: String): DataFrame =
    Ebetween(s, dir, "2024-01-10", "2024-01-20")
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")

  private def q_filter_dropna(s: SparkSession, dir: String): DataFrame =
    hourlyWide(s, dir)
      .select(col("bucket"),
        round(col("click"), 6).as("click_v"),
        round(col("view"), 6).as("view_v"),
        round(col("purchase"), 6).as("purchase_v"))
      .orderBy("bucket")

  private def q_filter_inf(s: SparkSession, dir: String): DataFrame = {
    // Deterministically inject +inf (every first line of an order), then
    // apply the InfImputer semantics: +inf -> max finite of the column.
    val withInf = T(s, dir, "lineitem").withColumn("v",
      when(col("l_linenumber") === 1, lit(Double.PositiveInfinity))
        .otherwise(col("l_extendedprice")))
    Filters.imputeInf(withInf, Seq("v"))
      .select(col("l_orderkey"), col("l_linenumber"), round(col("v"), 6).as("v_imputed"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ---------------------------------------------------------------------
  // §2.3 joins
  // ---------------------------------------------------------------------
  private def q_join_align(s: SparkSession, dir: String): DataFrame =
    flagship(s, dir)

  private def q_join_dim_broadcast(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    val part = T(s, dir, "part")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("p_brand")
  }

  private def q_join_multiway(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    val o = T(s, dir, "orders")
    val c = T(s, dir, "customer")
    val n = T(s, dir, "nation")
    val r = T(s, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy("r_name", "n_name")
  }

  private def q_join_pred_input(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
    val o = T(s, dir, "orders")
    o.join(li, o("o_orderkey") === li("l_orderkey"))
      .groupBy("o_orderkey", "o_totalprice")
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("line_rev"))
      .orderBy("o_orderkey")
  }

  private def q_join_semi(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
    val big = T(s, dir, "lineitem").filter(col("l_quantity") > 45)
    o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Each click enriched with a same-user view by an as-of join
    * ([[graft.ops.AsOf.join]]'s `direction` and `tolerance`): the shape
    * of every `join_asof*` query.
    */
  private def clickViewAsOf(s: SparkSession, dir: String,
      direction: String = "backward", tolerance: Option[String] = None): DataFrame = {
    val ev = E(s, dir)
    val l = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    // right side pre-aggregated to unique (user, ts) — as-of with duplicate
    // build timestamps is ambiguous in any engine
    val r = ev.filter(col("event_type") === "view")
      .groupBy("user_id", "ts").agg(avg(col("value")).as("vv"))
    graft.ops.AsOf.join(l, r, "ts", Seq("user_id"), Seq("vv"),
        tolerance = tolerance, direction = direction)
      .select(col("event_id"), col("user_id"), col("value"),
        round(col("asof_vv"), 6).as("asof_view"))
      .orderBy("event_id")
  }

  private def q_join_asof(s: SparkSession, dir: String): DataFrame =
    clickViewAsOf(s, dir)

  /** FORWARD as-of join (pandas merge_asof(direction="forward")): each
    * click matches the same user's EARLIEST view at-or-after it — the
    * "next scheduled state change" shape. DuckDB's ASOF JOIN with the
    * inequality flipped (l.t <= r.t) is the native oracle.
    */
  private def q_join_asof_fwd(s: SparkSession, dir: String): DataFrame =
    clickViewAsOf(s, dir, direction = "forward")

  /** NEAREST as-of join (pandas merge_asof(direction="nearest")): each
    * click matches the same user's closest view in time, distance ties
    * going backward. Oracle = both directional DuckDB ASOF LEFT JOINs
    * combined by the identical interval-distance rule.
    */
  private def q_join_asof_near(s: SparkSession, dir: String): DataFrame =
    clickViewAsOf(s, dir, direction = "nearest")

  /** Interval join: each click pairs with the same user's views in the
    * trailing 10 minutes — the batch form of `Streams.intervalJoin` (the
    * streaming variant is parity-spec'd against this exact expression).
    */
  private def q_join_interval(s: SparkSession, dir: String): DataFrame = {
    val ev = E(s, dir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("vuser"),
        col("ts").as("vts"), col("value").as("vvalue"))
    c.join(v, col("user_id") === col("vuser") &&
        col("vts") >= col("cts") - expr("INTERVAL 10 MINUTES") &&
        col("vts") <= col("cts"))
      .select(col("click_id"), col("user_id"), col("view_id"),
        round(col("vvalue"), 6).as("view_value"))
      .orderBy("click_id", "view_id")
  }

  /** As-of with tolerance: matches staler than 30 minutes are rejected
    * (pandas merge_asof tolerance semantics; oracle = ASOF JOIN + a
    * staleness filter, which is equivalent for the inner form).
    */
  private def q_join_asof_tol(s: SparkSession, dir: String): DataFrame =
    clickViewAsOf(s, dir, tolerance = Some("30 MINUTES"))

  private def q_join_anti(s: SparkSession, dir: String): DataFrame = {
    // "tags that yielded no rows" analogue; the urgent-order predicate keeps
    // the anti side non-empty at every sf (plain no-orders is empty at sf0.01).
    val c = T(s, dir, "customer")
    val o = T(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Salted skewed equi-join: the big side's hot keys spread over `salts`
    * sub-keys, the small side replicates per salt — the manual rewrite
    * for when a hot key overwhelms one join task and the small side is
    * too big to broadcast (AQE's skew split only rebalances partitions,
    * not a single hot key's sort run). Oracle = the PLAIN join: salting
    * is a physical rewrite, so any row drift (dropped salt, double
    * replication) hash-fails. (SkewSpec covers the unit parity; the
    * lineitem⋈supplier agg makes it driver-checkable end to end.)
    */
  private def q_join_salted_skew(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").select(col("l_suppkey"), col("l_extendedprice"))
    val supp = T(s, dir, "supplier")
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    Skew.saltedJoin(li, supp, "l_suppkey", salts = 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("s_nationkey")
  }

  /** Bucketed co-located join: both fact tables pre-bucketed on the join
    * key, so the join itself plans NO Exchange — the 100 TB answer to
    * repeated fact-fact joins (pay the layout shuffle once at write time,
    * never again at read time; BucketedJoinSpec pins the zero-Exchange
    * plan). Tables are created once per (dir, process) via a catalog
    * check; the catalog is in-memory, so a fresh process re-lays them out
    * — the cold/warm split the bench's registry discipline reports.
    */
  private def q_join_bucketed(s: SparkSession, dir: String): DataFrame = {
    val suffix = registryKey(s"bucketed-v1|$dir")
    val ot = s"orders_b_$suffix"
    val lt = s"lineitem_b_$suffix"
    // the catalog is per-process (in-memory) but the warehouse dir is not:
    // a fresh JVM must clear the previous run's location or the CREATE
    // path of saveAsTable fails with LOCATION_ALREADY_EXISTS
    def layOut(table: String, src: String, key: String): Unit =
      if (!s.catalog.tableExists(table)) {
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), table)
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
        T(s, dir, src).write.bucketBy(8, key)
          .sortBy(key).mode("overwrite").saveAsTable(table)
      }
    this.synchronized {
      layOut(ot, "orders", "o_orderkey")
      layOut(lt, "lineitem", "l_orderkey")
    }
    s.table(ot).join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  // ---------------------------------------------------------------------
  // §2.4 aggregations
  // ---------------------------------------------------------------------
  /** The NcsReader CSV branch, driver-visible with a FULL oracle: events
    * are materialized ONCE per dir as per-tag `;`-CSV files (micro-exact
    * timestamp rendering, shortest-repr doubles — a lossless text round
    * trip), read back through `TagSources.readTagCsv`, and resampled.
    * The oracle computes the same aggregate from the PARQUET table, so
    * any parse drift — separator, schema, fractional seconds, locale
    * decimals — hash-fails the query. Materialization is executor-
    * parallel text writes (nothing funnels through the driver; the
    * distinct-tag collect is a handful of strings).
    */
  private def q_scan_csv(s: SparkSession, dir: String): DataFrame = {
    val root = Artifacts.materialize(s, "csv",
        s"csv-v2|$dir|${tableFingerprint(s, s"$dir/events.parquet")}") { out =>
      // ONE scan: the partitioned text write splits per tag on the
      // executors (a per-tag driver loop would rescan events |tags| times)
      E(s, dir)
        // explicit concat, not concat_ws: concat_ws SKIPS nulls, so a null
        // value would emit a separator-less line that reparses as
        // (ts, null-value-of-wrong-field). coalesce-to-"" keeps the round
        // trip total: "ts;" reparses as (ts, null) — the value it had.
        .select(col("event_type"), concat(
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
          lit(";"),
          coalesce(col("value").cast("string"), lit(""))).as("value"))
        .write.partitionBy("event_type").mode("overwrite").text(out)
    }
    // Tag enumeration is data-sized in principle; the cap makes the
    // fixture-sized assumption explicit instead of silently collecting
    // an unbounded distinct if the fixture ever grows a high-cardinality
    // tag column. (A lake-scale reader enumerates tags from the catalog
    // or directory listing, not a corpus distinct.) Memoized with the
    // artifact's path, so a warm call runs no job.
    val types = Artifacts.remember(s"$root|tags") {
      val maxTags = 1000
      val ts = E(s, dir).select("event_type").distinct().limit(maxTags + 1)
        .collect().map(_.getString(0)).sorted
      require(ts.length <= maxTags,
        s"scan_csv fixture materializer expects <= $maxTags tags")
      ts
    }
    val long = graft.sources.TagSources.readTagCsv(s,
      types.map(t => t -> Seq(s"$root/event_type=$t")).toMap)
    long.groupBy(Timeseries.bucket(col("ts"), "10 minutes").as("bucket"),
        col("tag").as("event_type"))
      .agg(round(avg(col("value")), 6).as("avg_v"), count(lit(1)).as("n"))
      .orderBy("bucket", "event_type")
  }

  /** JSONL round trip — the dominant LLM-corpus interchange format. The
    * documents table is materialized ONCE per dir as line-delimited JSON
    * (`to_json` escapes newlines/quotes/unicode, so one record per line
    * holds for arbitrary text), then read back with an EXPLICIT schema:
    * schema-on-read without the inference pass, which at 100 TB would be
    * a full extra scan of the corpus. The oracle aggregates the PARQUET
    * table, so any escaping or parse drift in the text payload (the
    * length sum covers every character) hash-fails the round trip.
    */
  private def q_scan_jsonl(s: SparkSession, dir: String): DataFrame = {
    s.read.schema(jsonlSchema).json(jsonlRoot(s, dir))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(length(col("text"))).cast("long").as("sum_text_len"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("lang")
  }

  private def q_agg_resample_mean(s: SparkSession, dir: String): DataFrame =
    E(s, dir)
      .groupBy(Timeseries.bucket(col("ts"), "10 minutes").as("bucket"), col("event_type"))
      .agg(round(avg(col("value")), 6).as("avg_v"), count(lit(1)).as("n"))
      .orderBy("bucket", "event_type")

  /** Resample with a shifted bucket ORIGIN (pandas `resample(offset=)`):
    * 10-minute means cut at :05/:15/:25… — the semantic the SURVEY §7.4
    * risk register flagged for verification; the DuckDB `time_bucket`
    * offset form is the oracle.
    */
  private def q_agg_resample_origin(s: SparkSession, dir: String): DataFrame =
    E(s, dir)
      .groupBy(Timeseries.bucketWithOffset(col("ts"), "10 minutes", "5 minutes")
          .as("bucket"), col("event_type"))
      .agg(round(avg(col("value")), 6).as("avg_v"), count(lit(1)).as("n"))
      .orderBy("bucket", "event_type")

  private def q_agg_resample_multi(s: SparkSession, dir: String): DataFrame =
    E(s, dir)
      .groupBy(Timeseries.bucket(col("ts"), "10 minutes").as("bucket"), col("event_type"))
      .agg(
        round(avg(col("value")), 6).as("avg_v"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        count(lit(1)).as("n"))
      .orderBy("bucket", "event_type")

  private def q_agg_scaler_fit(s: SparkSession, dir: String): DataFrame =
    Scalers.minMax(T(s, dir, "lineitem"), Seq("l_extendedprice"))
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice_scaled"), 6).as("price_scaled"))
      .orderBy("l_orderkey", "l_linenumber")

  private def q_agg_metrics(s: SparkSession, dir: String): DataFrame =
    // Metrics of the naive "1000-per-unit" price model (ŷ = 1000·quantity)
    // against the actual price — a per-row fixed-point-exact predictor, so
    // every sufficient statistic is an integer sum bounded under 2^53 and
    // the output is the RAW double of one shared IEEE op sequence
    // (round-2/3 lessons: round(x, 6), double→decimal casts of derived
    // values, AND >2^53 wide-decimal→double casts are all engine
    // sensitive; sub-2^53 integer sums reassembled in doubles are not).
    AnomalyMath.fixedPointMetrics(T(s, dir, "lineitem"), "l_returnflag",
        col("l_extendedprice"), col("l_quantity") * 1000)
      .orderBy("l_returnflag")

  private def q_agg_threshold_pctl(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(AnomalyMath.threshold(col("l_extendedprice"), 0.99), 6).as("thr_p99"),
        round(AnomalyMath.threshold(col("l_extendedprice"), 0.95), 6).as("thr_p95"))
      .orderBy("l_returnflag")

  /** Native t-digest TypedImperativeAggregate next to the exact
    * percentile it approximates — the streaming/100 TB threshold path.
    *
    * ORACLE-CHECKED (round 10) via the countmin discipline: the sketch
    * VALUE depends on partial-aggregation merge order (not
    * hash-portable; it stays on the expression API, value accuracy
    * pinned in TDigestSpec), so the output row carries the SQL-exact
    * percentile + count plus `rank_ok`, the order-statistic bracket of
    * the t-digest estimate: with h = p·(n−1) the interpolated quantile
    * lies between order stats ⌊h⌋ and ⌈h⌉ (0-based), so
    * count(≤ est) ≥ ⌊h⌋+1 − ⌈ε·n⌉ and count(< est) ≤ ⌈h⌉ + ⌈ε·n⌉ with
    * ε = 0.02 (2× the spec'd <1% rank error; tails are tighter still).
    * A sketch regression flips the flag and hash-fails the row;
    * estimates are deterministic on fixed data, so the flag is a
    * reproducible fact.
    */
  private def q_agg_threshold_sketch(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem").select("l_returnflag", "l_extendedprice")
    val sk = li.groupBy("l_returnflag")
      .agg(AnomalyMath.thresholdSketch(col("l_extendedprice"), 0.99).as("est"),
        round(AnomalyMath.threshold(col("l_extendedprice"), 0.99), 6)
          .as("thr_exact"),
        count(lit(1)).as("n"))
    val h = col("n").cast("double") * lit(0.99) - lit(0.99) // p*(n-1)
    val slack = tdigestRankSlack(col("n"), 0.99)
    li.join(broadcast(sk), Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(first(col("thr_exact")).as("thr_exact"), first(col("n")).as("n"),
        sum((col("l_extendedprice") < col("est")).cast("long")).as("n_lt"),
        sum((col("l_extendedprice") <= col("est")).cast("long")).as("n_le"))
      .select(col("l_returnflag"), col("thr_exact"), col("n"),
        (col("n_le") >= floor(h).cast("long") + lit(1L) - slack &&
          col("n_lt") <= ceil(h).cast("long") + slack).as("rank_ok"))
      .orderBy("l_returnflag")
  }

  private def q_agg_distinct(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  private def q_agg_grouping_sets(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** Salted two-stage aggregation over a hot-key distribution (3 return
    * flags over the whole table — every key is hot): partials balance
    * over (key, salt), the combine is |keys|-sized. Values go through
    * DECIMAL so the two-stage sum is bit-identical to the direct one;
    * the oracle is the PLAIN GROUP BY, so the rewrite must be exact.
    * avg is derived as double(sum)/n in both engines (decimal division
    * scale rules differ between engines; double division of exact
    * operands does not).
    */
  private def q_agg_salted_skew(s: SparkSession, dir: String): DataFrame = {
    val qd = T(s, dir, "lineitem")
      .withColumn("qd", col("l_quantity").cast("decimal(18,6)"))
    Skew.saltedStats(qd, Seq("l_returnflag"), "qd", salts = 16)
      .select(col("l_returnflag"),
        col("sum").cast("double").as("sum_qty"),
        col("cnt").as("n"),
        col("min").cast("double").as("min_qty"),
        col("max").cast("double").as("max_qty"),
        (col("sum").cast("double") / col("cnt")).as("avg_qty"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------------
  // §2.6 sorts / limits / set ops
  // ---------------------------------------------------------------------
  private def q_sort_time(s: SparkSession, dir: String): DataFrame =
    E(s, dir)
      .select(graft.sources.Events.epochMicros(col("ts")).as("ts_us"), col("event_id"),
        col("event_type"), col("value"))
      .orderBy("ts_us", "event_id")

  /** (l_orderkey, l_linenumber) is NOT unique at sf0.1+, and Spark plans
    * orderBy+limit as a top-K heap (TakeOrdered) whose tie order differs
    * from DuckDB's sort — ordering by EVERY emitted column makes the
    * result deterministic up to fully-identical rows, which hash equal.
    */
  private def q_limit_head(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
      .limit(100)

  private def q_setop_union_years(s: SparkSession, dir: String): DataFrame = {
    val ev = E(s, dir)
    val a = ev.filter(col("event_type") === "click").select("event_id", "event_type", "value")
    val b = ev.filter(col("event_type") === "view").select("event_id", "event_type", "value")
    a.unionByName(b).orderBy("event_id")
  }

  private def q_setop_except_periods(s: SparkSession, dir: String): DataFrame = {
    val ev = E(s, dir).select("event_id", "user_id", "event_type")
    val bad = Filters.timeRange(E(s, dir), "ts", "2024-01-05", "2024-01-12")
      .select("event_id", "user_id", "event_type")
    ev.except(bad).orderBy("event_id")
  }

  private def q_setop_intersect(s: SparkSession, dir: String): DataFrame = {
    val o = T(s, dir, "orders")
    val h1 = o.filter(col("o_orderdate") >= lit("1995-01-01") && col("o_orderdate") < lit("1995-07-01"))
      .select("o_custkey")
    val h2 = o.filter(col("o_orderdate") >= lit("1995-07-01") && col("o_orderdate") < lit("1996-01-01"))
      .select("o_custkey")
    h1.intersect(h2).orderBy("o_custkey")
  }

  // ---------------------------------------------------------------------
  // §2.7 scalar functions
  // ---------------------------------------------------------------------
  private def q_fn_ts(s: SparkSession, dir: String): DataFrame =
    E(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("avg_v"))
      .orderBy("d")

  private def q_fn_math_anomaly(s: SparkSession, dir: String): DataFrame = {
    val wide = hourlyWide(s, dir)
    wide.select(
      col("bucket"),
      round(AnomalyMath.tagAnomaly(col("click"), col("view")), 6).as("tag_anomaly"),
      round(AnomalyMath.totalAnomaly(
        Seq((col("click"), col("view")), (col("purchase"), col("view")))), 6).as("total_anomaly"))
      .orderBy("bucket")
  }

  /** The detector's scaled variant: |scale(y) - scale(ŷ)| with min-max
    * parameters fitted on the y columns (click, purchase) and applied to
    * both sides; view is the prediction stand-in.
    */
  private def q_fn_math_anomaly_scaled(s: SparkSession, dir: String): DataFrame = {
    val wide = hourlyWide(s, dir)
    AnomalyMath.scaledTagAnomaly(wide, Seq("click" -> "view", "purchase" -> "view"))
      .select(col("bucket"),
        round(col("click_anomaly_scaled"), 6).as("click_anom_scaled"),
        round(col("purchase_anomaly_scaled"), 6).as("purchase_anom_scaled"))
      .orderBy("bucket")
  }

  private def q_fn_string_tag(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "part")
      .select(
        col("p_partkey"),
        upper(trim(col("p_name"))).as("tag_norm"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("asset_prefix"),
        length(col("p_name")).cast("long").as("name_len"),
        regexp_replace(col("p_name"), "\\s+", "_").as("name_snake"))
      .orderBy("p_partkey")

  private def q_fn_json_props(s: SparkSession, dir: String): DataFrame =
    E(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("prop_k"))
      .orderBy("event_id")

  /** The reference's `multiply_by` FunctionTransformer
    * (`model/transformer_funcs/general.py`): scale a matrix by a scalar.
    */
  private def q_fn_multiply_by(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity") * lit(2.5), 6).as("qty_x"),
        round(col("l_extendedprice") * lit(0.5), 6).as("price_x"))
      .orderBy("l_orderkey", "l_linenumber")

  // ---------------------------------------------------------------------
  // North-star extensions: text analysis over the documents table
  // (SURVEY.md §2 north-star rows; the dedup family lives in
  // graft.queries.Deduplication).
  // ---------------------------------------------------------------------

  private def q_text_langid(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents")
    d.join(TextAnalysis.langId(d, "doc_id", "text"), "doc_id")
      .select("doc_id", "lang", "lang_pred")
      .orderBy("doc_id")
  }

  private def q_text_quality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(T(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  private def q_text_tokens(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCounts(T(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  private def q_text_gopher_quality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRules(T(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  private def q_text_fingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(T(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** TRAINED language-ID — Cavnar-Trenkle ranked n-gram profiles with
    * integer out-of-place distance (the published method; integer ranks
    * make train+classify bit-identical across engines, which a
    * log-probability model could not guarantee). Self-classification over
    * the corpus; the fixture's text is language-independent so
    * predictions are noise BY CONSTRUCTION — the oracle checks that both
    * engines derive the identical trained model and distances. Quality on
    * separable data is spec'd (≥95% held-out accuracy, TextAnalysisSpec).
    *
    * Cavnar-Trenkle n-gram profiles are a pure function of the corpus, so
    * train-per-execution was pure waste in the bench signal (r4 verdict:
    * the most expensive query on every run). The profile frame is now
    * materialized once under the registry (content-fingerprint key, like
    * the IVF quantizer) and every later execution — including the bench's
    * warm rep — classifies against the persisted parquet: the train cost
    * shows up in cold_total only. Values are unchanged (same profiles,
    * same oracle).
    */
  private def q_text_langid_trained(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val fp = tableFingerprint(s, s"$dir/documents.parquet")
    val profPath = Artifacts.path("langid", s"langid-v1|$dir|$fp|k=100|n=3", ".parquet")
    // commit-gated like the IVF quantizer: a half-written dir from
    // a killed job does not count as a committed profile
    Artifacts.remember(profPath)(Artifacts.gated(s, profPath) {
      TextAnalysis.langProfiles(docs, "lang", "text", k = 100)
        .coalesce(1).write.mode("overwrite").parquet(profPath)
    })
    val profiles = Tables.resolve(s, profPath)
    TextAnalysis.classifyLang(docs, "doc_id", "text", profiles, k = 100)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("lang_pred"), col("dist"))
      .orderBy("doc_id")
  }

  /** Trained hashed-vocabulary Naive Bayes classifier — the corpus
    * quality-filter machinery (train good-vs-bad sources, score the
    * crawl) exercised here as 5-class language classification. Fit =
    * one (label, bucket) count shuffle; serving = (doc, bucket, cnt)
    * reduction → broadcast prob join → one (doc, label) Σ cnt·lp.
    *
    * ORACLE-CHECKED (round 11, the portable-ln discipline of
    * text_pmi/agg_entropy): every transcendental input is an exact
    * integer count — lp = ln((c+1)/(tot+1024)) with c/tot SQL-exact
    * (label, md5-bucket) counts, priors ln(n_l/total) over exact doc
    * counts — so DuckDB re-derives the whole model and the per-doc
    * argmax independently; the per-(doc,label) score sums ≤ ~31
    * distinct-bucket terms (the fixture vocabulary), far below the
    * float-accumulation scale where engine sum order could move
    * round(_, 6). Accuracy + persistence stay spec'd in
    * TextAnalysisSpec; the fit is deterministic and memoized per dir.
    */
  private def q_text_nb_classifier(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val model = Artifacts.remember(s"nb|$dir") {
      TextAnalysis.fitNaiveBayes(docs, "lang", "text", buckets = 1024)
    }
    model.classify(docs, "doc_id", "text")
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("label_pred"),
        round(col("score"), 6).as("score"))
      .orderBy("doc_id")
  }

  /** REAL trained BPE tokenization (Sennrich subword merges — the
    * published algorithm behind LLM tokenizers) beside text_tokens'
    * regex estimate. Train = one corpus word-count shuffle + a driver
    * merge loop on the bounded vocabulary (memoized per dir, seeded by
    * determinism of the tie-break); encode = once per DISTINCT word in
    * mapPartitions, joined back to occurrences.
    *
    * ORACLE-CHECKED since round 10 via the reconstruction identity: for
    * every occurrence, concat(emitted subword tokens) must equal
    * word + '</w>' — so `recon_hash` (md5 over the doc's sorted
    * reconstructed-word strings, computed FROM THE TOKEN LISTS) matches
    * DuckDB's hash computed from the raw words only if the real encoder
    * round-trips every word of every doc, and `bpe_in_bounds` pins
    * n_words ≤ Σtokens ≤ Σchars + n_words. The token COUNTS themselves
    * are the greedy merge-rank loop's output — inherently non-SQL; they
    * stay on the Bpe.tokenCounts API, spec-pinned in BpeSpec, and feed
    * pipeline_tokenize_pack.
    */
  private def q_text_bpe_tokens(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val tok = graft.ops.Bpe.tokenize(bpeModel(s, dir), docs, "doc_id", "text")
    val agg = tok.groupBy("doc_id").agg(
      count(lit(1)).as("n_words"),
      md5(concat_ws("", sort_array(collect_list(concat_ws("", col("toks"))))))
        .as("recon_hash"),
      (sum(size(col("toks"))) >= count(lit(1)) &&
        sum(size(col("toks"))) <= sum(length(col("w"))) + count(lit(1)))
        .as("bpe_in_bounds"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_words"), lit(0L)).as("n_words"),
        col("recon_hash"), coalesce(col("bpe_in_bounds"), lit(true)).as("bpe_in_bounds"))
      .orderBy("doc_id")
  }

  /** Perplexity-style quality gate (the CCNet shape) — mean token
    * log-probability under a unigram LM fitted single-class on a clean
    * reference slice (here: the corpus' own 'en' docs), scored over
    * EVERY doc. Junk/out-of-domain text lands far below the reference's
    * own range; exp(-avg) is the perplexity axis.
    *
    * ORACLE-CHECKED (round 11, the portable-ln discipline): the LM is
    * ln of exact integer-count ratios over md5 buckets — DuckDB refits
    * it from the same 'en' slice and recomputes each doc's
    * Σ cnt·ln((c+1)/(tot+1024)) / n term for term (see the
    * text_nb_classifier note on the bounded term count).
    */
  private def q_text_perplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val lm = Artifacts.remember(s"lm-en|$dir") {
      TextAnalysis.fitNaiveBayes(
        docs.filter(col("lang") === "en").withColumn("__c", lit("ref")),
        "__c", "text", buckets = 1024)
    }
    lm.logLikelihood(docs, "doc_id", "text", "ref")
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(col("avg_logprob"), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** The shared fitted tokenizer (fit-once memo). 90 merges against the
    * fixture's ~31-word vocabulary: the Zipf head collapses to single
    * tokens while rarer words stay multi-token, so outputs exhibit real
    * subword structure (~120 merges would merge every word whole and
    * emit the degenerate n_bpe_tokens == n_words).
    */
  private def bpeModel(s: SparkSession, dir: String): graft.ops.Bpe.BpeModel =
    Artifacts.remember(s"bpe|$dir|merges=90") {
      graft.ops.Bpe.train(T(s, dir, "documents"), "text", numMerges = 90)
    }

  /** The composed training-prep pipeline — REAL BPE token counts feeding
    * context-window sequence packing (the tokenizer-aware upgrade of
    * sample_pack's whitespace estimate). The per-doc count table is
    * localCheckpointed once (skinny: doc_id + two longs) and feeds both
    * the per-shard packing windows and the bound audit.
    *
    * ORACLE-CHECKED (round 10, the countmin discipline): BPE token
    * counts are the greedy merge loop's output (non-SQL — the values
    * stay on the Bpe API, round-trip-verified by text_bpe_tokens), so
    * the driver row carries what SQL CAN recompute — the md5 shard
    * assignment and the whitespace word count — plus two guarantee
    * flags: `bpe_in_bounds` (n_words ≤ Σtokens ≤ Σchars + n_words, the
    * text_bpe_tokens bound per doc) and `layout_ok` (the packing layout
    * re-derived row-over-row from the emitted (bin, offset): each doc
    * starts where its shard predecessor ended, offsets stay inside the
    * 512-token budget, end_bin matches the integer division). A
    * tokenizer or packing regression flips a flag / shifts a shard and
    * hash-fails the row; sample_pack keeps the full packing arithmetic
    * under an exact SQL mirror.
    */
  private def q_pipeline_tokenize_pack(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val counts = graft.ops.Bpe.tokenCounts(bpeModel(s, dir),
        docs, "doc_id", "text")
      .localCheckpoint()
    val packed = graft.ops.Sampling.packSequences(
      counts.select(col("doc_id"), col("n_bpe_tokens").as("n_tokens")),
      "doc_id", "n_tokens", budgetTokens = 512L, shards = 8)
    val w = Window.partitionBy("shard").orderBy("doc_id")
    val start = col("bin") * lit(512L) + col("offset")
    val layoutOk =
      start === coalesce(lag(start + col("n_tokens"), 1).over(w), lit(0L)) &&
        col("offset") >= lit(0L) && col("offset") < lit(512L) &&
        col("bin") >= lit(0L) &&
        col("end_bin") ===
          expr("(bin * 512L + offset + greatest(n_tokens, 1L) - 1L) div 512L")
    val chars = docs.select(col("doc_id"),
      length(regexp_replace(trim(col("text")), "\\s+", "")).cast("long")
        .as("n_chars"))
    packed.withColumn("layout_ok", layoutOk)
      .join(counts, Seq("doc_id"))
      .join(chars, Seq("doc_id"))
      .select(col("doc_id"), col("shard"), col("n_words"),
        (col("n_bpe_tokens") >= col("n_words") &&
          col("n_bpe_tokens") <= col("n_chars") + col("n_words"))
          .as("bpe_in_bounds"),
        col("layout_ok"))
      .orderBy("doc_id")
  }

  /** Sequence packing for training batches: whitespace token counts →
    * 512-token context windows across 8 independent md5-sharded streams.
    * All-integer (shard, bin, offset) assignment, stable under any
    * cluster layout.
    */
  private def q_sample_pack(s: SparkSession, dir: String): DataFrame = {
    val toks = T(s, dir, "documents")
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("n_tokens"))
    graft.ops.Sampling.packSequences(toks, "doc_id", "n_tokens",
        budgetTokens = 512L, shards = 8)
      .orderBy("doc_id")
  }

  /** End-to-end curation pipeline composed from the individual operators:
    * scrub → quality gate (word count + stopword ratio) → exact dedup
    * (keep the canonical min-id doc per normalized scrubbed text) →
    * deterministic stratified downsampling — ONE lazy plan, oracle-
    * mirrored stage by stage. The composition is the point: a real
    * training-data run chains exactly these stages, and the only
    * shuffles are the dedup groupBy and the quality/dedup id joins —
    * scrub, gate, and sample all stay scan-local projections/filters.
    */
  private def q_pipeline_curation(s: SparkSession, dir: String): DataFrame = {
    val scrubbed = T(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      TextAnalysis.scrub(col("text"), Seq(
        "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+" -> "<EMAIL>",
        "[0-9]+" -> "<NUM>",
        "\\s+" -> " ")).as("scrubbed"))
    // pass-through metrics: the gate filters in place — joining the
    // metric frame back on doc_id would shuffle and re-evaluate the scrub
    val kept = TextAnalysis.qualityScore(scrubbed, "doc_id", "scrubbed",
        passThrough = true)
      .filter(col("n_words") >= 8 && col("stopword_ratio") <= 0.4)
      .select("doc_id", "lang", "scrubbed", "n_words")
    // single-pass canonical filter (round 14): a row survives exact dedup
    // iff its id IS the min of its md5(lower(trim(scrubbed))) group (ids
    // are unique, so "doc_id ∈ {group minima}" ⟺ "doc_id = own group's
    // min") — one min-window over the content hash instead of
    // Dedup.exact + id join, which evaluated the 3-regex scrub subtree
    // once per join branch. Same rows, same oracle.
    val deduped = kept
      .withColumn("__cid", min(col("doc_id")).over(
        Window.partitionBy(md5(lower(trim(col("scrubbed")))))))
      .filter(col("doc_id") === col("__cid"))
      .drop("__cid")
    graft.ops.Sampling.stratifiedSample(deduped, "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 1.0), defaultFraction = 0.25)
      .select(col("doc_id"), col("lang"), col("n_words"), col("scrubbed"))
      .orderBy("doc_id")
  }

  /** Corpus vocabulary audit: top-10 terms per language by document
    * frequency (terms ≥ 3 chars), rank ties on the term.
    */
  private def q_text_topterms(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topTerms(T(s, dir, "documents"), "lang", "text", k = 10)
      .orderBy("lang", "rnk")

  /** PII-mask / digit-fold / whitespace-collapse scrub over documents. */
  private def q_text_scrub(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.scrub(col("text"), Seq(
          "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+" -> "<EMAIL>",
          "[0-9]+" -> "<NUM>",
          "\\s+" -> " ")).as("scrubbed"))
      .orderBy("doc_id")

  /** Deterministic hash-stratified sample: downsample dominant strata,
    * keep the tail — membership is a pure function of doc_id.
    */
  private def q_sample_stratified(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.stratifiedSample(T(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 1.0), defaultFraction = 0.25)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Quality-IMPORTANCE sampling ([[graft.ops.Sampling.importanceSample]]):
    * acceptance probability proportional to the doc's stopword ratio (a
    * prose-quality proxy — 20% stopwords ⇒ certain keep), deterministic
    * by doc_id. The weight is ALL-INTEGER — (nstop·5e6) div nwords,
    * clamped to 1e6 — so the acceptance threshold is exact in both
    * engines (no float ratio ever compared). Pure scan filter.
    */
  private def q_sample_importance(s: SparkSession, dir: String): DataFrame = {
    val toks = split(lower(trim(col("text"))), "\\s+")
    val base = T(s, dir, "documents").select(col("doc_id"), col("lang"),
      size(filter(toks, w =>
        w.isInCollection(Seq("the", "a", "of", "to", "and"))))
        .cast("long").as("nstop"),
      size(toks).cast("long").as("nw"))
    val withW = base.select(col("doc_id"), col("lang"),
      least(lit(1000000L), expr("(nstop * 5000000) div nw")).as("w"))
    graft.ops.Sampling.importanceSample(withW, "doc_id", col("w"))
      .select("doc_id", "lang", "w")
      .orderBy("doc_id")
  }

  /** Data-mixing rates: downsample languages to a 60/25/15 en/zh/de
    * target mix — the scarcest-relative-to-target stratum caps the
    * feasible total, everything else downsamples to match, untargeted
    * languages drop. Threshold arithmetic is mirrored op-for-op in SQL.
    */
  private def q_sample_target_mix(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.targetMix(T(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.6, "zh" -> 0.25, "de" -> 0.15))
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** DEFLATE compressibility gate (the Gopher/MassiveText junk signal).
    *
    * ORACLE-CHECKED (round 11, guarantee flags — DuckDB has no zlib
    * surface; ratio VALUES stay pinned in DeflateRatioSpec): the row
    * carries SQL-exact doc_id + n_chars plus two per-row codec
    * invariants computed from REAL deflate runs: `bounded`
    * (compressed ≤ raw + 64 and carries at least the 6-byte
    * zlib header+Adler32 envelope) and `dup_collapses` — deflate(text
    * ∥ text) ≤ deflate(text) + 64: the appended copy sits inside the
    * 32 KiB LZ77 window and must reduce to back-references, the
    * codec property the quality gate relies on. A broken encoder
    * (mis-framed stream, window bug, length miscount) flips a flag.
    */
  private def q_text_compressibility(s: SparkSession, dir: String): DataFrame = {
    val raw = octet_length(col("text")).cast("double")
    val clen = round(TextAnalysis.compressionRatio(col("text")) * raw)
    val clen2 = round(
      TextAnalysis.compressionRatio(concat(col("text"), col("text")))
        * raw * 2.0)
    T(s, dir, "documents")
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        (raw === 0.0 || (clen <= raw + 64.0 && clen >= 6.0)).as("bounded"),
        (raw === 0.0 || clen2 <= clen + 64.0).as("dup_collapses"))
      .orderBy("doc_id")
  }

  /** Per-source cap: at most 50 docs per language, kept in deterministic
    * md5(id) order (the "no more than N pages per site" curation rule —
    * a uniform draw without an RNG, nested across cap values).
    */
  private def q_sample_cap_per_key(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.capPerKey(T(s, dir, "documents"), "doc_id", "lang", 50)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Train/test decontamination over the duplicated-docs fixture: the
    * benchmark = every 50th base doc; the corpus = everything else
    * (including the case-mutated copies, whose lowercased 5-gram streams
    * match their benchmark originals exactly — guaranteed contamination
    * the scan must find). Integer overlap counts — hash-exact.
    */
  private def q_text_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val bench = T(s, dir, "documents").filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    val corpus = docsWithDups(s, dir)
      .join(bench.select(col("bench_id").as("doc_id")), Seq("doc_id"), "left_anti")
    Dedup.decontaminationMatches(corpus, "doc_id", "text",
        bench, "bench_id", "text", shingleN = 5, minShared = 3)
      .orderBy("doc_id", "bench_id")
  }

  // ---------------------------------------------------------------------
  // Round-3 session-2 additions: drift detection, robust outlier scoring,
  // repetition quality gates, semantic dedup, PII pseudonymization.
  // ---------------------------------------------------------------------

  /** MAD-based robust outlier score per sensor stream — the z-score whose
    * scale estimate outliers cannot drag (50% breakdown).
    */
  private def q_agg_robust_zscore(s: SparkSession, dir: String): DataFrame =
    AnomalyMath.robustZScore(E(s, dir), "value", Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        round(col("robust_z"), 6).as("robust_z"))
      .orderBy("event_id")

  /** Gopher-style repetition signals (top-/duplicate-n-gram fractions for
    * n=2,3) — the repetition quality gate of a training-data pipeline.
    */
  private def q_text_repetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionSignals(T(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** TextRank extractive summarization (Mihalcea & Tarau 2004): fixed
    * 10-word segments (the fixture has no sentence punctuation — the
    * dedup_paragraphs fixed-window precedent), edge weight = DISTINCT
    * shared-word count, damped PageRank in exact micro-units (8 rounds),
    * winner per doc by (score desc, segment). The per-document graph
    * iteration runs inside a typed map ([[TextAnalysis.textrankTop]]:
    * two skinny shuffles, no per-iteration exchanges — see the op's
    * scaladoc for the 100×-probe finding that retired the relational
    * form).
    */
  private def q_text_textrank(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.textrankTop(T(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** NOVELTY score per doc — the inverse of soft-dedup's duplication
    * weight: the share of a doc's DISTINCT word trigrams that occur in
    * no other document (corpus-unique). High novelty = fresh content;
    * near-zero = boilerplate. One shingle explode → df hash-agg → join
    * back (the soft-dedup plan shape); output an exact integer pair +
    * one mirrored division.
    */
  private def q_text_novelty(s: SparkSession, dir: String): DataFrame = {
    // shingles shuffle as md5-derived BIGINT keys, never as strings —
    // the ids-only-shuffle discipline (trigram volume is ~10× the
    // 5-gram queries'; string keys made this a 7 s outlier)
    // words materialize as a column FIRST: a split passed straight into
    // the shingle lambda re-evaluates the regex per element access
    val sh = T(s, dir, "documents")
      .select(col("doc_id"), Dedup.words(col("text")).as("ws"))
      .select(col("doc_id"),
        explode(Dedup.shingles(col("ws"), 3)).as("sh"))
      .select(col("doc_id"),
        conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
    // df as ONE count-window over h (round 14): the former shape
    // materialized the distinct table (a dedicated checkpoint job),
    // aggregated df per h, and shuffle-joined it back — two extra passes
    // of the shingle table through the exchange layer. A partition-wide
    // count window needs a single shuffle by h and, with rows already
    // distinct, computes the identical per-shingle doc-frequency.
    sh.withColumn("df", count(lit(1)).over(
        Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_shingles"), 6)
          .as("novelty"))
      .orderBy("doc_id")
  }

  /** WEEKLY GROWTH per stream — week-over-week value totals and percent
    * change (the simplest trend panel): exact integer cents totals per
    * ISO week start, lag window per stream, ONE mirrored division for
    * the growth rate.
    */
  private def q_agg_growth_rate(s: SparkSession, dir: String): DataFrame = {
    val wk = E(s, dir).filter(col("value").isNotNull)
      .groupBy(col("event_type"), date_trunc("week", col("ts")).as("week"))
      .agg(sum(valueCents).as("total_cents"), count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("week")
    wk.withColumn("prev", lag(col("total_cents"), 1).over(w))
      .select(col("event_type"), col("week"), col("n"), col("total_cents"),
        round((col("total_cents") - col("prev")).cast("double") /
          nullif(col("prev").cast("double"), lit(0.0)), 6).as("wow_growth"))
      .orderBy("event_type", "week")
  }

  /** PMI collocations over the corpus — top-50 significant adjacent word
    * pairs by pointwise mutual information (min count 5); exact-integer
    * ln inputs, total-order selection. See
    * [[graft.ops.TextAnalysis.pmiCollocations]].
    */
  private def q_text_pmi(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiCollocations(T(s, dir, "documents"), "text")

  /** PII pseudonymization over the customer dimension: stable md5
    * pseudonyms (joinable, irreversible), digit masking, and
    * k-anonymity-style numeric generalization.
    */
  private def q_text_pii_mask(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.pseudonymize(T(s, dir, "customer"),
        hashCols = Seq("c_name"), maskCols = Seq("c_name"),
        generalizeCols = Seq(("c_acctbal", 100.0)))
      .select("c_custkey", "c_name_pseud", "c_name_masked", "c_acctbal_bucket")
      .orderBy("c_custkey")

  /** Wide → long unpivot of lineitem's measure columns — the melt leg the
    * reference's pandas workflow uses to move model-I/O matrices back to
    * long series. stack() is row-local; the only exchange is the sink sort.
    */
  private def q_proj_unpivot(s: SparkSession, dir: String): DataFrame =
    Timeseries.melt(T(s, dir, "lineitem"),
        idCols = Seq("l_orderkey", "l_linenumber"),
        valueCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        tagName = "measure", valueName = "value")
      .orderBy("l_orderkey", "l_linenumber", "measure")

  /** Overlapping token-window chunking over documents (width 16, stride 8
    * — 50% overlap): the RAG / training-window prep step, exploded by
    * pure generator projections.
    */
  private def q_text_chunk(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkWindows(T(s, dir, "documents"), "doc_id", "text",
        width = 16, stride = 8)
      .orderBy("doc_id", "chunk_id")

  /** Language-diversity audit per source — Gini-Simpson index, exact
    * rational arithmetic (no ln), bit-identical across engines.
    */
  private def q_agg_diversity(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.diversity(T(s, dir, "documents"), "source", "lang")
      .orderBy("source")

  /** Blocked fuzzy entity-resolution join over customer names: candidates
    * share a 7-digit name-prefix block; exact Levenshtein keeps pairs
    * within 1 edit. The block equi-join bounds the quadratic (never an
    * all-pairs product) — record linkage's standard shape.
    */
  private def q_join_fuzzy(s: SparkSession, dir: String): DataFrame =
    Dedup.fuzzyPairs(T(s, dir, "customer"), "c_custkey", "c_name",
        blockCol = substring(col("c_name"), 10, 7), maxDist = 1)
      .orderBy("id_a", "id_b")

  /** Sketch-family distinct counts: HyperLogLog++ (approx_count_distinct)
    * beside agg_distinct's exact countDistinct. The exact form shuffles
    * every distinct (key, value) pair; the sketch shuffles O(1) registers
    * per key and merges — the 100 TB cardinality shape (same argument as
    * the t-digest threshold).
    *
    * ORACLE-CHECKED via the estimator's accuracy contract (round 10; the
    * register bits stay engine-specific, raw estimates on CardinalitySpec):
    * the driver row carries the exact per-key cardinalities plus booleans
    * asserting the HLL++ estimate lands within 3× its configured rsd
    * (default 0.05) of exact — a deterministic fact on fixed data, and a
    * sketch regression flips a flag into a hash mismatch.
    */
  private def q_agg_hll_distinct(s: SparkSession, dir: String): DataFrame = {
    def within(approx: Column, exact: Column): Column =
      abs(approx.cast("double") - exact.cast("double")) <=
        lit(0.15) * exact.cast("double")
    T(s, dir, "lineitem").groupBy("l_returnflag")
      .agg(approx_count_distinct("l_partkey").as("ap"),
        approx_count_distinct("l_suppkey").as("as_"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_suppkey")).as("exact_supps"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("exact_parts"), col("exact_supps"),
        col("n"), within(col("ap"), col("exact_parts")).as("parts_within_3rsd"),
        within(col("as_"), col("exact_supps")).as("supps_within_3rsd"))
      .orderBy("l_returnflag")
  }

  /** Sketch-based frequent terms per language — the Misra-Gries native
    * aggregate beside text_topterms' exact vocabulary groupBy. Output is
    * the top-10 of the k surviving counters, ranked by the aggregate's
    * deterministic (est desc, item asc) order.
    *
    * ORACLE-CHECKED by k-sizing (round 10): the MG error bound is
    * N/(k+1) with counters only ever decremented on eviction; at k = 40
    * against the fixture's 31-word per-language vocabulary no eviction
    * can occur, the bound collapses to zero DETERMINISTICALLY, and the
    * surviving counters are the exact word counts — so the DuckDB exact
    * top-10 is a full hash oracle for the sketch's merge + ranking
    * machinery (partial sketches still merge across partitions). The
    * eviction path (k < vocabulary) stays spec-pinned in
    * HeavyHittersSpec; sizing k to the resolution you need is exactly
    * how the sketch is deployed at 100 TB.
    */
  private def q_agg_heavyhitters(s: SparkSession, dir: String): DataFrame = {
    val words = T(s, dir, "documents").select(col("lang"),
      explode(graft.ops.Dedup.words(col("text"))).as("w"))
    heavyHittersTop10(words.groupBy("lang")
      .agg(TextAnalysis.heavyHitters(col("w"), 40).as("hh")))
  }

  /** Cohort retention — users grouped by their FIRST-seen day, activity
    * counted per (cohort, day-offset): the standard product-analytics
    * retention triangle. The per-user cohort frame is one row per user
    * (broadcast-sized vs the event stream); activity is day-distinct
    * before the join, so the shuffle carries |user-days|, not raw events.
    */
  private def q_agg_retention(s: SparkSession, dir: String): DataFrame = {
    val e = E(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .distinct()
    val cohort = e.groupBy("user_id").agg(min(col("d")).as("cohort"))
    e.join(cohort, "user_id")
      .withColumn("day_offset", datediff(col("d"), col("cohort")).cast("long"))
      .groupBy("cohort", "day_offset")
      .agg(count_distinct(col("user_id")).as("active_users"))
      .orderBy("cohort", "day_offset")
  }

  /** Temperature-scaled sampling weights over the corpus language mix —
    * the published multilingual recipe (sample language l with
    * probability ∝ (n_l/N)^α, α < 1, so low-resource languages are
    * up-weighted relative to their raw share). α is pinned to 0.5
    * DELIBERATELY: sqrt is correctly-rounded under IEEE-754 in every
    * engine, where a general pow(x, α) is not — the exponent choice is
    * what keeps this oracle-checkable bit-for-bit (before the defensive
    * round on the normalized share, whose 5-term sum is order-sensitive).
    * One groupBy + a broadcast scalar: nothing scales beyond |langs|.
    */
  private def q_sample_temperature(s: SparkSession, dir: String): DataFrame = {
    val counts = T(s, dir, "documents").groupBy("lang")
      .agg(count(lit(1)).as("n"))
    val z = counts.agg(sum(sqrt(col("n").cast("double"))).as("z"))
    counts.crossJoin(broadcast(z))
      .select(col("lang"), col("n"),
        round(sqrt(col("n").cast("double")) / col("z"), 6).as("w"))
      .orderBy("lang")
  }

  /** Hourly-grid gap detection per stream — the data-quality monitor a
    * sensor pipeline runs before trusting any resampled series: how many
    * expected buckets are MISSING, and how long is the worst outage?
    * Consecutive present buckets are diffed with one lag window per
    * stream (epoch-hour integer arithmetic — exact); the aggregate emits
    * missing-bucket count and max gap. O(present buckets) after the
    * resample-shaped distinct, windows partition per stream.
    */
  private def q_agg_gap_detect(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hb"))
    E(s, dir)
      .select(col("event_type"),
        graft.sources.Events.epochSeconds(date_trunc("hour", col("ts")))
          .as("es"))
      .select(col("event_type"), expr("es div 3600").as("hb")) // long, not /'s double
      .distinct()
      .withColumn("gap", col("hb") - lag(col("hb"), 1).over(w) - 1L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_buckets"),
        coalesce(sum(col("gap")), lit(0L)).cast("long").as("missing"),
        coalesce(max(col("gap")), lit(0L)).cast("long").as("max_gap"))
      .orderBy("event_type")
  }

  /** Longest consecutive-day activity streak per user — gaps-and-islands
    * over the distinct user-day grid: island anchor = daynum − rank
    * (consecutive days share one anchor), all-integer. The engagement
    * twin of [[q_agg_retention]]; per-user window over user-days only.
    */
  private def q_agg_streaks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("dn"))
    val ud = E(s, dir)
      .select(col("user_id"),
        datediff(date_trunc("day", col("ts")),
          to_date(lit("1970-01-01"))).cast("long").as("dn"))
      .distinct()
    ud.withColumn("anchor", col("dn") - row_number().over(w))
      .groupBy("user_id", "anchor")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).cast("long").as("active_days"))
      .orderBy("user_id")
  }

  /** Event-type Markov transition matrix — the behavioral-analytics
    * primitive (what follows what): consecutive pairs in each user's
    * event sequence (lag window ordered by event time, unique event id
    * as the total-order tiebreak), counted per (prev, next) and
    * normalized per source state. All-integer until the single
    * count/total division (two exact BIGINT→double casts, one IEEE
    * division, round 6). Two shuffles — by user for the sequence
    * window, by prev-state for the matrix — both on natural keys;
    * output is |event types|², never data-sized.
    */
  private def q_agg_transitions(s: SparkSession, dir: String): DataFrame =
    transitionMatrix(transitionPairs(E(s, dir)))

  /** STATIONARY distribution of the behavioral Markov chain — the
    * long-run fraction of time the user population spends in each event
    * state (power iteration over agg_transitions' matrix; the
    * steady-state companion of the transition feed). ALL-INTEGER in
    * micro-units (the graph_pagerank discipline): contrib =
    * (π(prev)·n(prev,next)) div rowsum(prev) — multiply-before-divide
    * keeps precision, truncating Long division ≡ // on the non-negative
    * domain; 12 rounds, bit-exact, zero floats. The counts matrix is
    * |event types|² — model-sized — so the iteration runs on the DRIVER
    * over the collected matrix (the targetMix bounded-scalars precedent;
    * 12 join jobs over a 5-row frame would be pure scheduler overhead).
    * States with no outgoing transitions leak their mass
    * (deterministic, mirrored).
    */
  private def q_agg_markov_stationary(s: SparkSession, dir: String): DataFrame = {
    val trans = transitionPairs(E(s, dir))
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    // the matrix is |event types|² — MODEL-sized: collect it and iterate
    // on the driver (the targetMix bounded-scalars precedent) instead of
    // paying 12 tiny-frame join jobs; identical integer arithmetic
    val mat = trans.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val rs = mat.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val states = mat.map(_._1).distinct.sorted
    var pi = states.map(st => st -> 1000000L).toMap
    for (_ <- 1 to 12) {
      val inflow = mat.groupBy(_._2).map { case (next, edges) =>
        next -> edges.map { case (prev, _, n) =>
          pi.getOrElse(prev, 0L) * n / rs(prev)
        }.sum
      }
      pi = states.map(st => st -> inflow.getOrElse(st, 0L)).toMap
    }
    import s.implicits._
    states.map(st => (st, pi(st))).toSeq.toDF("state", "pi").orderBy("state")
  }

  /** Rolling active users (DAU/WAU) — the engagement dashboard staple.
    * The WAU side REPLICATES each distinct user-day to the 7 window days
    * it contributes to (explode of a 7-element sequence) instead of
    * self-joining the day grid against the activity table: at 100 TB the
    * replicate-then-aggregate shape is one shuffle over 7·|user-days|
    * with map-side distinct, while a range self-join re-scans activity
    * once per window day. Inner join on the DAU frame restricts output
    * to days with actual activity.
    */
  private def q_agg_active_users(s: SparkSession, dir: String): DataFrame = {
    val ud = E(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val dau = ud.groupBy("day").agg(count_distinct(col("user_id")).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(sequence(col("day"),
        col("day") + expr("INTERVAL 6 DAYS"),
        expr("INTERVAL 1 DAY"))).as("day"))
      .groupBy("day").agg(count_distinct(col("user_id")).as("wau"))
    dau.join(wau, "day").orderBy("day")
  }

  /** Welch two-sample t statistic per event_type between the A/B user
    * split (`user_id % 2`) — the experimentation primitive. Exactness:
    * values quantize to integer CENTS through the micro-unit route
    * (DECIMAL·10⁶ → BIGINT, exact — then integer-divide by 10⁴, floor ≡
    * truncate on the non-negative domain ContractSpec pins), sufficient
    * sums Σc and Σc² stay in BIGINTs (≪ 2⁵³, so the cast to double is
    * value-preserving), and the t combination is ONE verbatim-mirrored
    * IEEE expression — bit-exact before the defensive round. One scan,
    * one groupBy; nothing scales past |event types|.
    */
  private def q_agg_ab_ttest(s: SparkSession, dir: String): DataFrame = {
    val g = E(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), (col("user_id") % 2 === 0).as("isa"),
        valueCents.as("c"))
      .groupBy("event_type")
      .agg(
        sum(when(col("isa"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("nb"),
        sum(when(col("isa"), col("c")).otherwise(0L)).as("s1a"),
        sum(when(!col("isa"), col("c")).otherwise(0L)).as("s1b"),
        sum(when(col("isa"), col("c") * col("c")).otherwise(0L)).as("s2a"),
        sum(when(!col("isa"), col("c") * col("c")).otherwise(0L)).as("s2b"))
    val ma = col("s1a").cast("double") / col("na")
    val mb = col("s1b").cast("double") / col("nb")
    val va = (col("s2a").cast("double") -
      col("s1a").cast("double") * col("s1a").cast("double") / col("na")) /
      (col("na") - 1)
    val vb = (col("s2b").cast("double") -
      col("s1b").cast("double") * col("s1b").cast("double") / col("nb")) /
      (col("nb") - 1)
    g.select(col("event_type"), col("na"), col("nb"),
        round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
        round((ma - mb) / sqrt(va / col("na") + vb / col("nb")), 6).as("t"))
      .orderBy("event_type")
  }

  /** Ordered conversion funnel click → view → purchase per user: each
    * stage takes the user's FIRST qualifying event strictly after the
    * previous stage's timestamp (the product-analytics staple). Stage
    * frames aggregate to one row per user BEFORE joining, so each join's
    * build side is |users|, broadcast-sized relative to the event
    * stream; timestamps compare as epoch-µs longs (exact, tz-free).
    */
  private def q_agg_funnel(s: SparkSession, dir: String): DataFrame = {
    val e = E(s, dir).select(col("user_id"), col("event_type"),
      graft.sources.Events.epochMicros(col("ts")).as("us"))
    // per-stage frames are one row per user and each feeds BOTH the next
    // stage and the final union - materialize each ONCE (round 14: the
    // unioned plan replayed the whole upstream stage chain per reference,
    // 12 scans of events for a 3-stage funnel)
    val c = e.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min(col("us")).as("c_us"))
      .localCheckpoint()
    val v = e.filter(col("event_type") === "view").join(c, "user_id")
      .filter(col("us") > col("c_us"))
      .groupBy("user_id").agg(min(col("us")).as("v_us"))
      .localCheckpoint()
    val p = e.filter(col("event_type") === "purchase").join(v, "user_id")
      .filter(col("us") > col("v_us"))
      .groupBy("user_id").agg(min(col("us")).as("p_us"))
    funnelStages(c, v, p)
  }

  /** Time-BOUNDED funnel (the ClickHouse `windowFunnel` shape): stages
    * click → view → purchase must each land strictly after the previous
    * stage AND within 24 h of the chain start (the user's first click).
    * Greedy-from-first-click chaining — deterministic and mirrorable —
    * is the documented contract (a later click could in principle seed a
    * deeper chain; the greedy form is what the published operator
    * computes). Output = users per MAX depth reached (exclusive — each
    * clicking user counted once). Same 100 TB shape as `agg_funnel`:
    * stage frames collapse to one row per user before joining, epoch-µs
    * integer comparisons throughout.
    */
  private def q_agg_window_funnel(s: SparkSession, dir: String): DataFrame = {
    val W = 86400000000L // 24 h in epoch-µs
    val e = E(s, dir).select(col("user_id"), col("event_type"),
      graft.sources.Events.epochMicros(col("ts")).as("us"))
    // one row per user per stage, each frame read by the next stage AND
    // the final depth join - materialize each ONCE (round 14, agg_funnel)
    val c = e.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min(col("us")).as("c_us"))
      .localCheckpoint()
    val v = e.filter(col("event_type") === "view").join(c, "user_id")
      .filter(col("us") > col("c_us") && col("us") <= col("c_us") + W)
      .groupBy("user_id")
      .agg(min(col("us")).as("v_us"), min(col("c_us")).as("c_us"))
      .localCheckpoint()
    val p = e.filter(col("event_type") === "purchase")
      .join(v.select(col("user_id"), col("v_us"), col("c_us")), "user_id")
      .filter(col("us") > col("v_us") && col("us") <= col("c_us") + W)
      .groupBy("user_id").agg(min(col("us")).as("p_us"))
    c.select(col("user_id"))
      .join(v.select(col("user_id"), col("v_us")), Seq("user_id"), "left_outer")
      .join(p, Seq("user_id"), "left_outer")
      .select(when(col("p_us").isNotNull, 3)
        .when(col("v_us").isNotNull, 2).otherwise(1).as("depth"))
      .groupBy("depth").agg(count(lit(1)).as("users"))
      .orderBy("depth")
  }

  /** Cohort VALUE triangle — the revenue companion of [[q_agg_retention]]:
    * total exact-integer cents and event count per (cohort day, day
    * offset), cohort = the user's first day with a non-null-value event.
    * The cohort frame is one row per user (broadcast-sized vs the event
    * stream); the only wide shuffle keys on user_id; output is
    * |days|·|offsets|. Cents via the micro-unit route (exact; the
    * ContractSpec non-negative domain makes `div` ≡ `//`), so sums are
    * BIGINT-exact in both engines — no rounding anywhere.
    */
  private def q_agg_cohort_value(s: SparkSession, dir: String): DataFrame = {
    val e = E(s, dir).filter(col("value").isNotNull)
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"),
        valueCents.as("c"))
    val coh = e.groupBy("user_id").agg(min(col("d")).as("cohort"))
    e.join(coh, "user_id")
      .groupBy(col("cohort"), datediff(col("d"), col("cohort")).as("day_offset"))
      .agg(count(lit(1)).as("n_events"), sum(col("c")).as("total_cents"))
      .orderBy("cohort", "day_offset")
  }

  /** TIME-TO-CONVERT per funnel transition — the funnel's companion
    * metric ("how long from click to view, view to purchase?"): exact
    * median / p90 / max over the integer epoch-µs stage gaps of
    * converting users (the agg_funnel min-chaining stages). Percentiles
    * are exact (the agg_threshold_pctl discipline); gaps are exact
    * BIGINTs; output is 2 rows.
    */
  private def q_agg_funnel_time(s: SparkSession, dir: String): DataFrame = {
    val e = E(s, dir).select(col("user_id"), col("event_type"),
      graft.sources.Events.epochMicros(col("ts")).as("us"))
    val c = e.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min(col("us")).as("c_us"))
    val v = e.filter(col("event_type") === "view").join(c, "user_id")
      .filter(col("us") > col("c_us"))
      .groupBy("user_id").agg(min(col("us")).as("v_us"), min(col("c_us")).as("c_us"))
      // one row per user, read by BOTH the click→view gap leg and the
      // purchase stage — materialize once (round 14, the agg_funnel
      // discipline: the union replayed the events→c→v chain per leg)
      .localCheckpoint()
    val p = e.filter(col("event_type") === "purchase")
      .join(v.select(col("user_id"), col("v_us")), "user_id")
      .filter(col("us") > col("v_us"))
      .groupBy("user_id").agg(min(col("us")).as("p_us"), min(col("v_us")).as("v_us2"))
    val g1 = v.select(lit("click_to_view").as("transition"),
      (col("v_us") - col("c_us")).as("gap_us"))
    val g2 = p.select(lit("view_to_purchase").as("transition"),
      (col("p_us") - col("v_us2")).as("gap_us"))
    g1.unionByName(g2).groupBy("transition")
      .agg(count(lit(1)).as("n_users"),
        round(expr("percentile(gap_us, 0.5)"), 6).as("median_us"),
        round(expr("percentile(gap_us, 0.9)"), 6).as("p90_us"),
        max(col("gap_us")).as("max_us"))
      .orderBy("transition")
  }

  /** NEW vs RETURNING daily split — the acquisition-vs-retention
    * dashboard staple: per activity day, users whose FIRST-seen day it
    * is vs users seen before. Cohort frame = one row per user; activity
    * day-distinct before the join (the agg_retention shuffle shape).
    */
  private def q_agg_new_returning(s: SparkSession, dir: String): DataFrame = {
    val ud = E(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .distinct()
    val coh = ud.groupBy("user_id").agg(min(col("d")).as("first_d"))
    ud.join(coh, "user_id")
      .groupBy(col("d").as("day"))
      .agg(sum(when(col("d") === col("first_d"), 1L).otherwise(0L)).as("new_users"),
        sum(when(col("d") =!= col("first_d"), 1L).otherwise(0L))
          .as("returning_users"))
      .orderBy("day")
  }

  /** PARETO concentration per stream — "what share of value do the top
    * 20% of users drive?": per-user cents totals ranked descending, the
    * cumulative share at the 20%-of-users cutoff (ceil). All-integer
    * until ONE mirrored share division; the per-stream user sort is the
    * agg_gini order-statistic trade (keyed, never global).
    */
  private def q_agg_pareto(s: SparkSession, dir: String): DataFrame = {
    val u = E(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), col("user_id"), valueCents.as("c"))
      .groupBy("event_type", "user_id").agg(sum(col("c")).as("uc"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("uc").desc, col("user_id"))
    val cum = Window.partitionBy("event_type")
      .orderBy(col("uc").desc, col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = u.withColumn("rnk", row_number().over(w))
      .withColumn("cumc", sum(col("uc")).over(cum))
    val tot = u.groupBy("event_type")
      .agg(count(lit(1)).as("nu"), sum(col("uc")).as("total"))
    r.join(broadcast(tot), "event_type")
      .filter(col("rnk") === expr("cast(ceil(nu / 5.0) as bigint)"))
      .select(col("event_type"), col("nu").as("n_users"),
        col("rnk").as("top_users"),
        round(col("cumc").cast("double") / col("total"), 6)
          .as("top20_value_share"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------------
  // Module-driven queries: multimodal drives its whole pipeline. A
  // decoded artifact publishes its oracle when the query runs.
  // ---------------------------------------------------------------------

  /** Feature extraction over the opaque binary column — the multimodal
    * PLUMBING query (schema, decode-width pin, bounded batches). The
    * payload here is text bytes, so decode falls through to the
    * deterministic md5 fallback: feature i = uint32 of the first 4
    * digest bytes of md5(payload ++ [i]) / 2³², truncated to float32.
    *
    * ORACLE-CHECKED (round 11, the multimodal_decode discipline): the
    * fallback is a pure function of md5, so DuckDB re-derives four
    * probed features from md5(text || chr(i)) — byte-appending i < 128
    * is the single UTF-8 byte chr(i) — and mirrors the /2³² float32
    * truncation with CAST(... AS REAL). Any batching, schema, or
    * row-alignment bug in the mapPartitions leg hash-fails.
    */
  private def q_multimodal_features(s: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.fromText(
      T(s, dir, "documents"), "doc_id", "text")
    graft.multimodal.Multimodal.extractFeatures(media, "bytes", dim = 16)
      .select(col("media_id"), col("kind"), size(col("features")).as("dim"),
        round(element_at(col("features"), 1).cast("double"), 6).as("f0"),
        round(element_at(col("features"), 6).cast("double"), 6).as("f5"),
        round(element_at(col("features"), 11).cast("double"), 6).as("f10"),
        round(element_at(col("features"), 16).cast("double"), 6).as("f15"))
      .orderBy("media_id")
  }

  /** REAL image decode, oracle-checked: each document gets a deterministic
    * 4×4 RGB PNG (pixel = md5 digest byte, MediaCodec.digestPng), the
    * header probe re-derives width/height from the actual PNG bytes, and
    * extractFeatures runs the real javax.imageio decode. Because pixel
    * (x,y) IS digest byte 4y+x, the decoded luminance grid is computable
    * in plain SQL — DuckDB re-derives every feature from md5(text) and
    * mirrors the Rec.601 double math + float truncation bit for bit.
    */
  private def q_multimodal_decode(s: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.fromDigestPng(
      T(s, dir, "documents"), "doc_id", "text")
    val probed = graft.multimodal.Multimodal.probeMeta(media, "bytes")
    val feats = graft.multimodal.Multimodal.extractFeatures(probed, "bytes", dim = 16)
    feats.select(
      col("media_id").as("doc_id"),
      col("meta.width").cast("long").as("w"),
      col("meta.height").cast("long").as("h"),
      round(element_at(col("features"), 1).cast("double"), 6).as("f0"),
      round(element_at(col("features"), 6).cast("double"), 6).as("f5"),
      round(element_at(col("features"), 11).cast("double"), 6).as("f10"),
      round(element_at(col("features"), 16).cast("double"), 6).as("f15"))
      .orderBy("doc_id")
  }

  /** REAL audio decode, oracle-checked BIT-EXACTLY — the WAV sibling of
    * q_multimodal_decode: each doc renders a standards-compliant 8-sample
    * PCM16 WAV from md5(text) ([[graft.multimodal.MediaCodec.digestWav]]),
    * the REAL javax.sound decoder reads it back, and the exact integer
    * sample statistics must equal the SQL oracle's re-derivation of the
    * same samples from `md5()` hex — any header, endianness, or sign
    * error in the codec leg hash-fails. Map-side only, no shuffle.
    */
  private def q_multimodal_wav_decode(s: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.fromDigestWav(
      T(s, dir, "documents").filter(col("text").isNotNull), "doc_id", "text")
    graft.multimodal.Multimodal.wavSampleStats(media, "media_id", "bytes")
      .select(col("media_id").as("doc_id"), col("n_samples"),
        col("s_sum"), col("s_sqsum"), col("s_min"), col("s_max"))
      .orderBy("doc_id")
  }

  /** Registry path of the materialized binary image corpus (originals +
    * every-10th-doc 64×64 twins) — shared by the batch and incremental
    * phash queries; see [[q_multimodal_phash_dedup]] for why it exists.
    */
  private def phashMediaMaterialized(s: SparkSession, dir: String): String =
    Artifacts.materialize(s, "phashmedia",
        s"phashmedia-v1|$dir|${tableFingerprint(s, s"$dir/documents.parquet")}") { out =>
      val media = Multimodal.fromDigestPng(
        T(s, dir, "documents"), "doc_id", "text")
      val originals = Multimodal.resizePayload(media, "bytes", 8.0)
      val twins = Multimodal.resizePayload(
        media.filter(col("media_id") % 10 === 0), "bytes", 16.0)
        .select((col("media_id") + 100000).as("media_id"), col("kind"),
          col("bytes"), col("meta"))
      originals.unionByName(twins).write.mode("overwrite").parquet(out)
    }

  /** Registry path of the FULL-corpus aHash table (the published decode
    * output both phash oracles replay from). Keyed on the documents table
    * the media derive from, not on the media artifact, whose part-file
    * names change with every write: the path both oracles embed is then
    * the same in every fresh registry.
    */
  private def phashHashesMaterialized(s: SparkSession, dir: String): String = {
    val mediaPath = phashMediaMaterialized(s, dir)
    Artifacts.materialize(s, "phashhash",
        s"phashhash-v1|$dir|${tableFingerprint(s, s"$dir/documents.parquet")}") { out =>
      Multimodal.averageHashes(Tables.resolve(s, mediaPath), "media_id", "bytes")
        .write.mode("overwrite").parquet(out)
    }
  }

  /** The full-rebuild phash-pair oracle over a persisted aHash table —
    * banding + bit_count(xor) rescore + threshold in plain SQL; shared
    * verbatim by `multimodal_phash_dedup` (batch path) and
    * `multimodal_phash_incr` (incremental path — the no-drift gate).
    */
  private def phashPairsOracle(hashPath: String): String =
    s"""WITH h AS (SELECT media_id, ahash FROM read_parquet('$hashPath/*.parquet')),
         |bands AS (SELECT media_id, ahash, band,
         |            (ahash >> (band * 16)) & 65535 AS bh
         |          FROM h CROSS JOIN (VALUES (0),(1),(2),(3)) AS bs(band)),
         |pairs AS (SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
         |            CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
         |          FROM bands a JOIN bands b
         |            ON a.band = b.band AND a.bh = b.bh
         |           AND a.media_id < b.media_id)
         |SELECT media_a, media_b, hamming FROM pairs
         |WHERE hamming <= 3 ORDER BY media_a, media_b""".stripMargin

  /** Image near-dup by perceptual hash over a corpus with REAL injected
    * image twins. Fixture: each doc's 4×4 digest PNG is bilinear-rendered
    * at 32×32 (the "original" photo); every 10th doc adds a 64×64 render
    * of the SAME base (different bytes, different dims, same content) —
    * the image analogue of docsWithDups' case-mutated text copies.
    * Smooth renders, not the raw 4×4 noise: aHash is a content
    * fingerprint, and measured twin distances are mean 1.2 / worst 4
    * bits on smooth images vs mean 6.4 on raw noise (the pathological
    * case for any perceptual hash). The pipeline aHashes every payload
    * and finds hamming ≤ 3 pairs by 4×16-bit banded equi-join +
    * bit_count rescore (the LSH band discipline in hamming space).
    * Oracle-checked from the decode boundary down: the per-image 64-bit
    * aHashes (the decode output) are persisted registry-keyed and the
    * published oracle replays banding + bit_count(xor) rescore +
    * threshold + min-id canonicalization in plain SQL over that table —
    * only the ImageIO decode itself stays spec-verified (MultimodalSpec
    * pins twin recall and determinism).
    */
  private def q_multimodal_phash_dedup(s: SparkSession, dir: String): DataFrame = {
    // The binary corpus is registry-materialized once (the scan_csv
    // fixture discipline): at a real lake the images already exist, so
    // the warm plan measures the OP — decode → aHash → banded hamming
    // join — not the synthetic fixture's double render+encode.
    assertTwinIdHeadroom(s, dir)
    // Publish the decode output: the aHash table is the artifact the
    // oracle replays from (the r11 fitted-params lifecycle — decode is
    // the only leg plain SQL can't express).
    val hashPath = phashHashesMaterialized(s, dir)
    publishOracle("multimodal_phash_dedup", phashPairsOracle(hashPath))
    Multimodal.phashPairsFromHashes(Tables.resolve(s, hashPath), 3)
      .orderBy("media_a", "media_b")
  }

  /** INCREMENTAL image-dedup maintenance, driver-gated against the
    * FULL-REBUILD oracle (the dedup_incremental / simsearch_knn_incr
    * discipline, r12 verdict #4): "yesterday's" aHash table + pair set
    * for the base corpus (media_id % 7 ≠ 3 — twins sit +100000 ≡ +5
    * (mod 7) from their originals, so twin pairs CROSS the split and
    * the step must find base↔delta pairs, not just delta-internal ones)
    * are registry-persisted; the query decodes ONLY today's delta and
    * runs one [[graft.multimodal.Multimodal.phashMergePairs]]. The
    * oracle is the batch query's full-rebuild SQL over the full-corpus
    * hash table, so drift between the merge algebra and a rebuild
    * hash-fails at the driver. At 100 TB this is the economics of image
    * dedup: the decode (the dominant cost) prices at O(delta), the join
    * at O(delta × band collisions) — never O(corpus²), never a
    * re-decode of the lake.
    */
  private def q_multimodal_phash_incr(s: SparkSession, dir: String): DataFrame = {
    assertTwinIdHeadroom(s, dir)
    val mediaPath = phashMediaMaterialized(s, dir)
    val statePath = Artifacts.materialize(s, "phashbase",
        s"phashbase-v1|mod7|$dir|${tableFingerprint(s, s"$dir/documents.parquet")}", "pairs") { out =>
      // pairs commit LAST so a half-written state never gates
      val baseHashes = Multimodal.averageHashes(
        Tables.resolve(s, mediaPath).filter(col("media_id") % 7 =!= 3),
        "media_id", "bytes").localCheckpoint()
      baseHashes.write.mode("overwrite").parquet(s"$out/hashes")
      Multimodal.phashPairsFromHashes(baseHashes, 3)
        .write.mode("overwrite").parquet(s"$out/pairs")
    }
    publishOracle("multimodal_phash_incr",
      phashPairsOracle(phashHashesMaterialized(s, dir)))
    val deltaHashes = Multimodal.averageHashes(
      Tables.resolve(s, mediaPath).filter(col("media_id") % 7 === 3),
      "media_id", "bytes")
    Multimodal.phashMergePairs(
        s.read.parquet(s"$statePath/hashes"),
        s.read.parquet(s"$statePath/pairs"),
        deltaHashes, 3)
      .orderBy("media_a", "media_b")
  }

  /** ORC round trip — the second columnar lake format (Spark ships the
    * reader/writer natively; Hive-heritage lakes are ORC end to end).
    * Events are materialized ONCE per dir as ORC (registry-gated,
    * fingerprint-keyed), read BACK, and aggregated; the oracle computes
    * the same aggregate from the PARQUET table, so any type drift in the
    * ORC round trip (timestamp precision, double payload, nulls)
    * hash-fails the query.
    */
  private def q_scan_orc(s: SparkSession, dir: String): DataFrame = {
    val root = Artifacts.materialize(s, "orc",
        s"orc-v1|$dir|${tableFingerprint(s, s"$dir/events.parquet")}") { out =>
      E(s, dir).write.mode("overwrite").orc(out)
    }
    s.read.orc(root)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
        sum(length(col("props"))).cast("long").as("sum_props_len"))
      .orderBy("event_type")
  }

  /** Copy-on-write MERGE ([[graft.ops.Lake.upsert]]): a CDC-shaped update
    * batch (every 7th event re-valued, every 97th re-keyed as a new
    * "backfill" insert) merged into the events snapshot, WRITTEN to the
    * lake (registry-gated), read BACK, and aggregated. The oracle derives
    * the same merge in SQL (anti-join ∪ updates), so a merge that drops,
    * duplicates, or fails to overwrite rows hash-fails — including at the
    * sink boundary, since the aggregate reads the persisted files.
    */
  private def q_sink_upsert(s: SparkSession, dir: String): DataFrame = {
    val root = Artifacts.materialize(s, "upsert",
        s"upsert-v1|$dir|${tableFingerprint(s, s"$dir/events.parquet")}") { out =>
      val base = E(s, dir)
      val updates = base.filter(col("event_id") % 7 === 0)
        .withColumn("value", col("value") + lit(1000.0))
        .unionByName(base.filter(col("event_id") % 97 === 0)
          .withColumn("event_id", col("event_id") + lit(1000000L))
          .withColumn("event_type", lit("backfill")))
      graft.ops.Lake.upsert(base, updates, Seq("event_id"))
        .write.mode("overwrite").parquet(out)
    }
    Tables.resolve(s, root)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy("event_type")
  }

  /** TIME TRAVEL over a versioned lake table: two committed snapshots
    * (v1 = the raw events table, v2 = v1 upserted with a deterministic
    * CDC batch — every (id % 11 == 3) value doubled, every
    * (id % 101 == 0) row re-ingested under a new id as 'lateload'),
    * both registry-persisted once per fixture fingerprint; the query
    * reads BOTH versions — the thing time travel is for — and emits the
    * per-type snapshot diff (added / changed / unchanged row counts +
    * the exact DECIMAL delta of changed values). Presence markers, not
    * value-null probes, classify added-vs-changed (the scd2Merge
    * discipline: a NULL old value is not "added"); null-safe equality
    * decides changed (a NULL→NULL or 0→0 "update" is no change). The
    * diff join keys on the snapshot's primary key only — at 100 TB both
    * sides shuffle once on id, or zero times if the snapshots are
    * written bucketed-by-key (sink_partitioned's layout note).
    */
  private def q_sink_time_travel(s: SparkSession, dir: String): DataFrame = {
    val root = Artifacts.materialize(s, "timetravel",
        s"timetravel-v1|$dir|${tableFingerprint(s, s"$dir/events.parquet")}", "v2") { out =>
      E(s, dir).select("event_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$out/v1")
      val v1 = s.read.parquet(s"$out/v1")
      val cdc = v1.filter(col("event_id") % 11 === 3)
          .withColumn("value", col("value") * 2.0)
        .unionByName(v1.filter(col("event_id") % 101 === 0)
          .withColumn("event_id", col("event_id") + lit(2000000L))
          .withColumn("event_type", lit("lateload")))
      graft.ops.Lake.upsert(v1, cdc, Seq("event_id"))
        .write.mode("overwrite").parquet(s"$out/v2")
    }
    val v1 = Tables.resolve(s, s"$root/v1")
      .select(col("event_id"), col("value").as("v_old"), lit(1).as("in_old"))
    val v2 = Tables.resolve(s, s"$root/v2")
      .select(col("event_id"), col("event_type"), col("value").as("v_new"))
    val changed = col("in_old").isNotNull && !(col("v_new") <=> col("v_old"))
    val same = col("in_old").isNotNull && (col("v_new") <=> col("v_old"))
    v2.join(v1, Seq("event_id"), "left_outer") // no deletes: v2 keys ⊇ v1
      .groupBy("event_type")
      .agg(sum(when(col("in_old").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_added"),
        sum(when(changed, 1L).otherwise(0L)).cast("long").as("n_changed"),
        sum(when(same, 1L).otherwise(0L)).cast("long").as("n_same"),
        coalesce(dsum(when(changed, col("v_new") - col("v_old"))), lit(0.0))
          .as("delta_sum"))
      .orderBy("event_type")
  }

  /** TEMPORAL DIMENSION JOIN — the data-warehouse classic the SCD2 sink
    * exists to serve: each fact row joins the dimension VERSION valid at
    * its event time (`valid_from ≤ ts < valid_to`), never the current
    * one. The versioned dimension derives from the data itself (per-user
    * modal event type per month half — deterministic argmax, count-desc
    * + type tie-break), facts join on (user, interval predicate), and
    * the output rolls up joined facts per (segment, version). All
    * integer epoch-µs bounds; the dimension frame is |users|-sized
    * (broadcast class).
    */
  private def q_join_scd2_asof(s: SparkSession, dir: String): DataFrame = {
    val splitUs = 1705363200000000L // 2024-01-16T00:00:00Z
    val ev = E(s, dir).select(col("user_id"),
      graft.sources.Events.epochMicros(col("ts")).as("us"),
      col("event_type"))
    def modal(df: DataFrame): DataFrame = df
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(Window.partitionBy("user_id")
        .orderBy(col("n").desc, col("event_type"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("seg"))
    val dim = modal(ev.filter(col("us") < splitUs))
      .withColumn("version", lit(1L))
      .withColumn("vfrom", lit(0L)).withColumn("vto", lit(splitUs))
      .unionByName(modal(ev.filter(col("us") >= splitUs))
        .withColumn("version", lit(2L))
        .withColumn("vfrom", lit(splitUs))
        .withColumn("vto", lit(Long.MaxValue)))
    ev.join(broadcast(dim), Seq("user_id"))
      .filter(col("us") >= col("vfrom") && col("us") < col("vto"))
      .groupBy("seg", "version")
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy("version", "seg")
  }

  /** SCD TYPE-2 dimension merge ([[graft.ops.Lake.scd2Merge]]) over the
    * customer dimension: one CDC batch carrying balance changes for
    * every 9th customer (close v1, open v2), a NO-OP re-statement of
    * every 9th-offset-7 customer (must produce zero version churn), and
    * net-new customer keys (first open row at v2). The emitted history
    * table is checked row-for-row against the SQL that states the SCD2
    * contract directly — a spurious close, a missed insert, or no-op
    * churn all change the row set. `v_to` is COALESCEd to 0 in the
    * emitted projection (nullable-int columns land as float64 in both
    * engines' pandas bridges, hashing "2.0" vs "2" — the round-2 repr
    * class; the operator itself keeps NULL-means-open semantics).
    */
  private def q_sink_scd2(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val current = cust
      .withColumn("v_from", lit(1L))
      .withColumn("v_to", lit(null).cast("long"))
    val updates = cust.filter(col("c_custkey") % 9 === 4)
        .withColumn("c_acctbal", col("c_acctbal") + lit(500.0))
      .unionByName(cust.filter(col("c_custkey") % 9 === 7)) // no-op batch
      .unionByName(cust.filter(col("c_custkey") % 13 === 6)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000L)))
    graft.ops.Lake.scd2Merge(current, updates, Seq("c_custkey"),
        "v_from", "v_to", version = 2L)
      .withColumn("v_to", coalesce(col("v_to"), lit(0L)))
      .orderBy("c_custkey", "v_from")
  }

  /** Corrupt-tolerant JSONL ingest — the PERMISSIVE-mode contract a
    * 100 TB crawl ingest lives by: a registry-materialized copy of the
    * documents JSONL with every 17th line TRUNCATED mid-record
    * (deterministically invalid JSON), read with
    * `columnNameOfCorruptRecord` so bad lines land in a quarantine
    * column instead of killing the job or silently vanishing
    * (FAILFAST/DROPMALFORMED respectively). The per-language aggregate
    * plus the `__corrupt` bucket must reconcile EXACTLY with the parquet
    * ground truth of which doc_ids were corrupted — a dropped bad line
    * or a half-parsed good line both break the counts.
    */
  private def q_scan_jsonl_corrupt(s: SparkSession, dir: String): DataFrame = {
    val root = Artifacts.materialize(s, "jsonlcorrupt",
        s"jsonlcorrupt-v1|$dir|${tableFingerprint(s, s"$dir/documents.parquet")}") { out =>
      T(s, dir, "documents")
        .select(col("doc_id"), to_json(struct(col("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))).as("j"))
        .select(when(col("doc_id") % 17 === 3, substring(col("j"), 1, 25))
          .otherwise(col("j")).as("value"))
        .write.mode("overwrite").text(out)
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      s"$jsonlSchema, _bad STRING")
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(root)
      .select(when(col("_bad").isNotNull, lit("__corrupt"))
        .otherwise(col("lang")).as("lang"), col("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("n_chars"), lit(0L))).cast("long").as("sum_chars"))
      .orderBy("lang")
  }

  /** MULTILINE JSON ingest — the "one big JSON array" file shape APIs
    * export (vs JSONL's record-per-line): documents materialized once as
    * 16 pretty-printed JSON ARRAY files (registry-gated), read back with
    * `multiLine=true`, aggregated against the parquet ground truth. THE
    * scale note this query carries: multiLine JSON is whole-file-parsed
    * — one task per file and the full file in memory (worse than gzip's
    * stream decode); a 100 TB feed must be converted to JSONL at the
    * edge or landed as many bounded files, exactly as materialized here.
    */
  private def q_scan_json_multiline(s: SparkSession, dir: String): DataFrame = {
    val root = Artifacts.materialize(s, "jsonml",
        s"jsonml-v1|$dir|${tableFingerprint(s, s"$dir/documents.parquet")}") { out =>
      T(s, dir, "documents")
        // one JSON array file per core: derived from defaultParallelism,
        // not a local[32] literal — on a 1000-executor cluster the file
        // count (= whole-file-parse task count) scales with the cluster
        .repartition(s.sparkContext.defaultParallelism)
        .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("j"))
        .mapPartitions { rows =>
          // one JSON ARRAY document per partition file
          Iterator(rows.map(_.getString(0)).mkString("[\n", ",\n", "\n]"))
        }(org.apache.spark.sql.Encoders.STRING)
        .write.mode("overwrite").text(out)
    }
    s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(jsonlSchema))
      .option("multiLine", "true")
      .json(root)
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy("source")
  }

  /** GZIP-compressed text ingest — the crawl-archive reality (WET/WARC
    * dumps, log shipping): documents materialized once as gzip JSONL
    * (registry-gated), read BACK through the codec, aggregated against
    * the parquet ground truth. THE scale note this query exists to
    * carry: gzip is NOT SPLITTABLE — each .gz file is one task, so
    * parallelism = file count, not bytes; the materialization
    * repartitions to 32 files to keep the read parallel (production:
    * many medium files, or zstd/bzip2, or decompress-on-ingest; a
    * single multi-GB .gz serializes the whole scan).
    */
  private def q_scan_jsonl_gz(s: SparkSession, dir: String): DataFrame = {
    val root = Artifacts.materialize(s, "jsonlgz",
        s"jsonlgz-v1|$dir|${tableFingerprint(s, s"$dir/documents.parquet")}") { out =>
      T(s, dir, "documents")
        .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("value"))
        // parallelism = .gz file count (non-splittable); derived from
        // defaultParallelism so a real cluster writes cluster-wide files
        .repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite")
        .option("compression", "gzip").text(out)
    }
    s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(jsonlSchema))
      .json(root)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("sum_chars"),
        count_distinct(col("doc_id")).as("n_docs"))
      .orderBy("lang")
  }

  /** SEASONAL/TREND STRENGTH per stream (Hyndman & Athanasopoulos, FPP:
    * F_seasonal = max(0, 1 − Var(resid)/Var(detrended)), F_trend the
    * same against the deseasonalized series) — the one-number summary
    * of the decomposition ("is this stream worth a seasonal model?").
    * Exactness: each component is an exact rational N/d over the grid's
    * BIGINTs (resid = (cnt·detr25 − s_sum)/(25e6·cnt), detrended =
    * detr25/25e6, deseasonalized − mean-free offset = (25·cnt·v6 −
    * s_sum)/(25e6·cnt)), quantized to centi-units by ALL-INTEGER
    * half-up division — ((N + d·OFF)·2 + d) div (2d) − OFF with the
    * offset keeping numerators non-negative so Spark's truncating `div`
    * ≡ DuckDB's flooring `//` (the ContractSpec rule) and NO double ever
    * meets a decimal cast (the sf0.001 repr trap a DECIMAL(18,2)
    * quantization hit). Variances from n·Σq² − (Σq)² (every product
    * ≪ 2⁵³, exact), one mirrored IEEE division at the end. One tiny
    * aggregation on top of the decompose plan.
    */
  private def q_agg_seasonal_strength(s: SparkSession, dir: String): DataFrame = {
    val d = seasonalGrid(s, dir)
      // N·100/(250000·cnt) and N·100/250000 rounded half-up, all-integer;
      // OFF = 1e7 centi (1e5 value units — far above any fixture value)
      .withColumn("rq", expr(
        "(((cnt * detr25 - s_sum) + cnt * 2500000000000) * 2 + 250000 * cnt)" +
          " div (500000 * cnt) - 10000000"))
      .withColumn("dq", expr(
        "((detr25 + 2500000000000) * 2 + 250000) div 500000 - 10000000"))
      .withColumn("tq", expr(
        "((25 * cnt * v6 - s_sum + cnt * 2500000000000) * 2 + 250000 * cnt)" +
          " div (500000 * cnt) - 10000000"))
    val g = d.groupBy("event_type").agg(count(lit(1)).as("n"),
      sum(col("rq")).as("sr"), sum(col("rq") * col("rq")).as("srr"),
      sum(col("dq")).as("sd"), sum(col("dq") * col("dq")).as("sdd"),
      sum(col("tq")).as("st"), sum(col("tq") * col("tq")).as("stt"))
    def strength(s2: Column, ss2: Column): Column = greatest(lit(0.0),
      lit(1.0) - (col("n") * col("srr") - col("sr") * col("sr")).cast("double")
        / nullif((col("n") * ss2 - s2 * s2).cast("double"), lit(0.0)))
    g.select(col("event_type"), col("n"),
        round(strength(col("sd"), col("sdd")), 6).as("seasonal_strength"),
        round(strength(col("st"), col("stt")), 6).as("trend_strength"))
      .orderBy("event_type")
  }

  /** BASKET LIFT between event types within sessions — the
    * association-rules primitive ("sessions with X also contain Y more
    * often than chance"): lift(A,B) = P(A∧B)/(P(A)·P(B)) over the
    * 30-minute-gap sessions, for every ordered type pair. Session
    * presence via conditional max aggregation (ONE pass over the
    * session frame — never a pair self-join); all counts exact
    * integers, lift = one mirrored IEEE expression ((nab·S)·S is NOT
    * formed — the association is (nab·S)/(na·nb) with the product kept
    * in BIGINTs ≪ 2⁵³); output |types|² rows.
    */
  private def q_agg_basket_lift(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val w = Window.partitionBy("user_id").orderBy("us")
    val sess = E(s, dir)
      .select(col("user_id"), col("event_type"),
        graft.sources.Events.epochMicros(col("ts")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull ||
          col("us") - col("prev") >= 1800000000L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(types.map(t =>
        max(when(col("event_type") === t, 1L).otherwise(0L)).as(s"has_$t")).head,
        types.tail.map(t =>
          max(when(col("event_type") === t, 1L).otherwise(0L)).as(s"has_$t")): _*)
    val aggs = count(lit(1)).as("n_sessions") +:
      (types.map(t => sum(col(s"has_$t")).as(s"n_$t")) ++
        (for { a <- types; b <- types if a != b }
          yield sum(col(s"has_$a") * col(s"has_$b")).as(s"n_${a}_$b")))
    // ONE row, 26 bounded columns — materialize it ONCE (round 14): the
    // 20 per-pair selects below each replayed the whole scan → session
    // window → presence agg pipeline through the union (plan audit: 80
    // Exchanges / 40 parquet scans for one query). Checkpointing the
    // model-sized aggregate leaves 20 selects over one cached row.
    val g = sess.agg(aggs.head, aggs.tail: _*).localCheckpoint()
    val rows = for { a <- types; b <- types if a != b } yield
      g.select(lit(a).as("type_a"), lit(b).as("type_b"),
        col(s"n_${a}_$b").as("n_both"),
        round((col(s"n_${a}_$b") * col("n_sessions")).cast("double") /
          nullif((col(s"n_$a") * col(s"n_$b")).cast("double"), lit(0.0)), 6)
          .as("lift"))
    rows.reduce(_ unionByName _).orderBy("type_a", "type_b")
  }

  /** Deterministic TRAIN/VAL/TEST split — the ML-pipeline staple with
    * the repo's RNG-free discipline: md5-bucket of doc_id → 80/10/10
    * split labels, reproducible across runs/engines/layouts and STABLE
    * under corpus growth (a doc's split never changes as others arrive
    * — the property `randomSplit` lacks). Output: per-(split, lang)
    * counts — the stratification audit.
    */
  private def q_sample_split(s: SparkSession, dir: String): DataFrame = {
    val b = graft.ops.Sampling.hashBucket(col("doc_id"))
    T(s, dir, "documents")
      .withColumn("split",
        when(b < 800000L, "train").when(b < 900000L, "val").otherwise("test"))
      .groupBy("split", "lang").agg(count(lit(1)).as("n"))
      .orderBy("split", "lang")
  }

  /** SESSION-LEVEL statistics — the layer above sessionization every
    * product dashboard wants (how long, how deep): per-stream-free
    * corpus stats over the 30-minute-gap sessions — session counts,
    * exact median/p90 of events-per-session, and of ACTIVE duration
    * (last − first event, exact epoch-µs; single-event sessions are 0).
    * Same lag+cumsum island SQL as stream_session's oracle; percentiles
    * exact (the threshold_pctl discipline); one (user)-keyed window +
    * one session hash-agg + one tiny final agg.
    */
  private def q_agg_session_stats(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us")
    val ev = E(s, dir)
      .select(col("user_id"),
        graft.sources.Events.epochMicros(col("ts")).as("us"))
    val marked = ev
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull ||
          col("us") - col("prev") >= 1800000000L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sessions = marked.groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("dur_us"))
    sessions.agg(count(lit(1)).as("n_sessions"),
        count_distinct(col("user_id")).as("n_users"),
        round(expr("percentile(n_events, 0.5)"), 6).as("median_events"),
        round(expr("percentile(n_events, 0.9)"), 6).as("p90_events"),
        round(expr("percentile(dur_us, 0.5)"), 6).as("median_dur_us"),
        round(expr("percentile(dur_us, 0.9)"), 6).as("p90_dur_us"))
  }

  /** JSON SCHEMA-DRIFT monitor over the event payloads — the
    * data-contract check run before trusting any semi-structured feed:
    * per day, the distinct top-level key set of `props` and how many
    * keys are NEW versus the previous day (a producer silently adding/
    * renaming fields is the classic silent breakage). The fixture's
    * payloads are single-key by construction, so the output here is the
    * all-clear baseline; the machinery (key explode → day-distinct →
    * prev-day anti-join) is what ships. All-integer counts + a sorted
    * key-list string — no floats.
    */
  private def q_agg_schema_drift(s: SparkSession, dir: String): DataFrame = {
    val keys = E(s, dir).filter(col("props").isNotNull)
      .select(date_trunc("day", col("ts")).as("day"),
        explode(json_object_keys(col("props"))).as("k"))
      .distinct()
    val perDay = keys.groupBy("day")
      .agg(count(lit(1)).as("n_keys"),
        array_join(sort_array(collect_set(col("k"))), ",").as("key_set"))
    val newKeys = keys.as("cur")
      .join(keys.as("prev"),
        col("prev.day") === col("cur.day") - expr("INTERVAL 1 DAY") &&
          col("prev.k") === col("cur.k"),
        "left_anti")
      .groupBy(col("day")).agg(count(lit(1)).as("new_keys"))
    perDay.join(newKeys, Seq("day"), "left_outer")
      .select(col("day"), col("n_keys"), col("key_set"),
        coalesce(col("new_keys"), lit(0L)).as("new_keys"))
      .orderBy("day")
  }

  /** COHEN'S D effect size for the A/B user split per stream — the
    * experimentation companion of agg_ab_ttest ("significant, but how
    * BIG?"): pooled-σ standardized mean difference from the SAME exact
    * integer sufficient sums, one mirrored IEEE combination with the
    * correctly-rounded sqrt.
    */
  private def q_agg_effect_size(s: SparkSession, dir: String): DataFrame = {
    val g = E(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), (col("user_id") % 2 === 0).as("isa"),
        valueCents.as("c"))
      .groupBy("event_type")
      .agg(
        sum(when(col("isa"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("nb"),
        sum(when(col("isa"), col("c")).otherwise(0L)).as("s1a"),
        sum(when(!col("isa"), col("c")).otherwise(0L)).as("s1b"),
        sum(when(col("isa"), col("c") * col("c")).otherwise(0L)).as("s2a"),
        sum(when(!col("isa"), col("c") * col("c")).otherwise(0L)).as("s2b"))
    val ma = col("s1a").cast("double") / col("na")
    val mb = col("s1b").cast("double") / col("nb")
    val ssa = col("s2a").cast("double") -
      col("s1a").cast("double") * col("s1a").cast("double") / col("na")
    val ssb = col("s2b").cast("double") -
      col("s1b").cast("double") * col("s1b").cast("double") / col("nb")
    val sp = sqrt((ssa + ssb) / (col("na") + col("nb") - 2).cast("double"))
    g.select(col("event_type"), col("na"), col("nb"),
        round((ma - mb) / nullif(sp, lit(0.0)), 6).as("cohens_d"))
      .orderBy("event_type")
  }

  /** BM25 corpus ranking ([[graft.ops.Search.bm25]]) against a fixed
    * 3-term topic query — every matching doc with its score, ordered by
    * id (deterministic under cross-engine float ties; top-k is a limit
    * away). Oracle: the full inverted-index algebra in SQL.
    */
  private def q_search_bm25(s: SparkSession, dir: String): DataFrame =
    graft.ops.Search.bm25(T(s, dir, "documents"), "doc_id", "text",
        Seq("data", "model", "training"))
      .orderBy("doc_id")

  /** DUPLICATION-AWARE sampling weight — the SoftDeDup idea (Xue et al.
    * 2024): instead of dropping duplicated documents outright, DOWN-WEIGHT
    * them by commonness. Per doc: mean corpus-wide occurrence count of its
    * 50-word segments (`mean_df`, 1.0 = fully unique) and the sampling
    * weight `1/mean_df`. Both are one exact integer sum divided by
    * another — bit-identical cross-engine, no rounding. Plan: the shared
    * segment explode + one df hash-agg (uniform keys) + one join back.
    */
  private def q_sample_soft_dedup(s: SparkSession, dir: String): DataFrame = {
    val segs = docSegments(s, dir).withColumn("h", md5(col("seg")))
    val df = segs.groupBy("h").agg(count(lit(1)).as("df"))
    segs.join(df, Seq("h"))
      .groupBy("doc_id")
      .agg(sum(col("df")).as("sum_df"), count(lit(1)).as("n"))
      .select(col("doc_id"),
        (col("sum_df").cast("double") / col("n")).as("mean_df"),
        (col("n").cast("double") / col("sum_df")).as("weight"))
      .orderBy("doc_id")
  }

  /** Cross-stream CORRELATION MATRIX — the feature-engineering staple
    * over the aligned wide matrix (which sensors co-move? what does a
    * model's input covariance look like?): pairwise Pearson r between
    * every pair of event-type hourly series, aligned on the bucket.
    *
    * Exactness discipline (the win_autocorr pattern): the hourly means
    * are quantized to integer CENTS via pure integer ops (micro-sum →
    * div n → div 10000 — never a fractional decimal→BIGINT cast, which
    * truncates in Spark but ROUNDS in DuckDB), all six sufficient sums
    * per pair are exact BIGINTs (bounded ≪ 2^53 by |buckets|·cents²),
    * and the Pearson combination is one verbatim-mirrored IEEE
    * expression — bit-identical output, no rounding.
    *
    * Plan: ONE resample shuffle → one conditional-aggregation pivot row
    * per bucket → one tiny aggregation computing all 10 pairs' sums
    * simultaneously (60 agg exprs, map-side combined) → literal unpivot.
    * Nothing is quadratic in rows; pairs are quadratic in TAGS only.
    */
  private def q_agg_corr_matrix(s: SparkSession, dir: String): DataFrame = {
    val wide = hourlyCentsWide(s, dir)
    val pairs = corrPairs
    val aggs = pairs.flatMap { case (a, b) =>
      val (ca, cb) = (col(s"c_$a"), col(s"c_$b"))
      val both = ca.isNotNull && cb.isNotNull
      Seq(
        count(when(both, 1)).as(s"n_${a}_$b"),
        sum(when(both, ca)).as(s"sa_${a}_$b"),
        sum(when(both, cb)).as(s"sb_${a}_$b"),
        sum(when(both, ca * ca)).as(s"saa_${a}_$b"),
        sum(when(both, cb * cb)).as(s"sbb_${a}_$b"),
        sum(when(both, ca * cb)).as(s"sab_${a}_$b"))
    }
    // ONE row of 60 sufficient statistics — materialize ONCE (round 14,
    // the agg_basket_lift finding): the 10 per-pair selects below each
    // replayed scan → hourly agg → wide agg → stats agg through the union.
    val stats = wide.agg(aggs.head, aggs.tail: _*).localCheckpoint()
    val rows = pairs.map { case (a, b) =>
      val (n, sa, sb) = (col(s"n_${a}_$b"), col(s"sa_${a}_$b"), col(s"sb_${a}_$b"))
      val (saa, sbb, sab) =
        (col(s"saa_${a}_$b"), col(s"sbb_${a}_$b"), col(s"sab_${a}_$b"))
      // nullif: a zero-variance side yields NULL r (matching DuckDB's
      // x/0 → NULL; Spark's default ANSI mode would throw instead)
      stats.select(lit(a).as("tag_a"), lit(b).as("tag_b"), n.as("n"),
        ((n * sab - sa * sb).cast("double") /
          nullif(sqrt((n * saa - sa * sa).cast("double"))
            * sqrt((n * sbb - sb * sb).cast("double")), lit(0.0))).as("r"))
    }
    rows.reduce(_ unionByName _).orderBy("tag_a", "tag_b")
  }

  /** OHLC downsampling — the classic financial/sensor compaction: per
    * (stream, hour) the opening reading, extrema, and closing reading,
    * tie-deterministic ([[hourlyCandles]]). ONE hash aggregate, map-side
    * combined — the O(1)-state-per-bucket shape that holds at any scale.
    */
  private def q_agg_resample_ohlc(s: SparkSession, dir: String): DataFrame =
    hourlyCandles(E(s, dir).filter(col("value").isNotNull))
      .orderBy("event_type", "bucket")

  /** Hour-of-day × day-of-week PROFILE per stream — the seasonality
    * heatmap grid behind capacity dashboards: exact integer micro-unit
    * means per (stream, dow, hod) cell plus sample counts. One hash-agg;
    * output bounded by |streams|·168.
    */
  private def q_agg_hod_profile(s: SparkSession, dir: String): DataFrame =
    microMeans(E(s, dir).filter(col("value").isNotNull)
        .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"),
          hour(col("ts")).as("hod")))
      .select(col("event_type"), col("dow"), col("hod"), col("n"),
        (microMean.cast("double") / lit(1000000.0)).as("mean_v"))
      .orderBy("event_type", "dow", "hod")

  /** BENFORD first-digit audit per stream — the classic fraud /
    * data-fabrication screen: the observed leading-digit distribution of
    * values vs Benford's law p(d) = ln(1 + 1/d)/ln(10). Digits come from
    * the exact cents integer's decimal string (no float formatting);
    * expected probabilities are mirrored transcendental expressions of
    * exact integers; one row per (stream, digit) — deliberately NO chi²
    * total, which would sum nine doubles in engine-dependent order.
    */
  private def q_agg_benford(s: SparkSession, dir: String): DataFrame = {
    val d = E(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), valueCents.as("c"))
      .filter(col("c") > 0)
      .withColumn("digit", substring(col("c").cast("string"), 1, 1).cast("int"))
    val g = d.groupBy("event_type", "digit").agg(count(lit(1)).as("obs"))
    val n = d.groupBy("event_type").agg(count(lit(1)).as("n"))
    g.join(n, "event_type")
      .select(col("event_type"), col("digit"), col("obs"),
        round(col("obs").cast("double") / col("n"), 6).as("observed_p"),
        round(log((col("digit") + lit(1.0)) / col("digit")) / log(lit(10.0)), 6)
          .as("benford_p"))
      .orderBy("event_type", "digit")
  }

  /** GINI concentration per stream over per-event cents — the
    * inequality audit ("is one whale driving this stream's value?"):
    * G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over the value-sorted
    * series. Ties pair equal values with consecutive ranks, so the rank
    * sum is tie-order-invariant; every sum is an exact BIGINT (i·x ≤
    * ~1e9, totals ≪ 2⁵³) and the combination is ONE mirrored IEEE
    * expression. The per-stream sort is the same exact-order-statistic
    * trade as agg_trend_sen's median — documented, keyed, never global.
    */
  private def q_agg_gini(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("c")
    val r = E(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), valueCents.as("c"))
      .withColumn("i", row_number().over(w))
    val g = r.groupBy("event_type").agg(count(lit(1)).as("n"),
      sum(col("c")).as("sx"), sum(col("i") * col("c")).as("si"))
    g.select(col("event_type"), col("n"),
        round((lit(2L) * col("si") - (col("n") + 1L) * col("sx")).cast("double")
          / nullif((col("n") * col("sx")).cast("double"), lit(0.0)), 6)
          .as("gini"))
      .orderBy("event_type")
  }

  /** RFM scoring per user (the CRM segmentation classic — recency /
    * frequency / monetary quintiles): metrics are exact integers
    * (epoch-µs last activity, event count, cents total); quintile
    * boundaries come from EXACT percentiles on the user frame and scores
    * from threshold comparisons — deliberately NOT ntile, whose global
    * ORDER BY is a single-partition window (the PlanAuditSpec
    * scale-killer); thresholds broadcast, scoring is a scan projection.
    * Epoch-µs values (~1.7e15) stay under 2⁵³, so double promotion in
    * the comparisons is value-preserving.
    */
  private def q_agg_rfm(s: SparkSession, dir: String): DataFrame = {
    val u = E(s, dir).filter(col("value").isNotNull)
      .select(col("user_id"),
        graft.sources.Events.epochMicros(col("ts")).as("us"), valueCents.as("c"))
      .groupBy("user_id")
      .agg(max(col("us")).as("last_us"), count(lit(1)).as("freq"),
        sum(col("c")).as("monetary"))
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    val thrAggs = (for {
      (m, tag) <- Seq("last_us" -> "r", "freq" -> "f", "monetary" -> "m")
      q <- qs
    } yield expr(s"percentile($m, $q)").as(s"${tag}_${(q * 100).toInt}"))
    val thr = u.agg(thrAggs.head, thrAggs.tail: _*)
    def score(m: String, tag: String): Column = qs.map { q =>
      when(col(m) > col(s"${tag}_${(q * 100).toInt}"), 1).otherwise(0)
    }.reduce(_ + _) + lit(1)
    u.crossJoin(broadcast(thr))
      .select(col("user_id"), col("last_us"), col("freq"), col("monetary"),
        score("last_us", "r").as("r_score"),
        score("freq", "f").as("f_score"),
        score("monetary", "m").as("m_score"))
      .withColumn("rfm",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .orderBy("user_id")
  }

  /** VALUE HISTOGRAM per stream — 20 equi-width bins between the
    * stream's own min/max (the dashboard distribution panel,
    * first-class beside the drift ops that bin internally). ALL-INTEGER
    * binning over exact cents: bin = ((c − lo)·20) div (hi − lo + 1)
    * (the +1 keeps the max in the last bin; every product ≪ 2⁵³); the
    * only float is the mirrored share division. Two passes: a tiny
    * per-stream extrema agg broadcast back, then one hash-agg.
    */
  private def q_agg_value_histogram(s: SparkSession, dir: String): DataFrame = {
    val e = E(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), valueCents.as("c"))
    val ext = e.groupBy("event_type")
      .agg(min(col("c")).as("lo"), max(col("c")).as("hi"),
        count(lit(1)).as("n"))
    val b = e.join(broadcast(ext), "event_type")
      .withColumn("bin", expr("((c - lo) * 20) div (hi - lo + 1)"))
    b.groupBy("event_type", "bin")
      .agg(count(lit(1)).as("cnt"), min(col("n")).as("n"))
      .select(col("event_type"), col("bin"), col("cnt"),
        round(col("cnt").cast("double") / col("n"), 6).as("share"))
      .orderBy("event_type", "bin")
  }

  /** INTERVAL-UNION coverage per (user, day) — the classic sweep-line
    * "total covered time from overlapping intervals" (service/session
    * coverage; each event covers [ts, ts + value seconds)). All-integer
    * epoch-µs: islands form where a start exceeds the running max of
    * prior ends (one keyed window chain — never a global sort), covered
    * = Σ island spans. The gaps-and-islands discipline of agg_streaks
    * applied to continuous time.
    */
  private def q_agg_interval_union(s: SparkSession, dir: String): DataFrame = {
    val iv = E(s, dir).filter(col("value").isNotNull)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
        graft.sources.Events.epochMicros(col("ts")).as("st"),
        col("event_id"), valueCents.as("c"))
      .withColumn("en", col("st") + col("c") * 10000L) // value seconds in µs
    val w = Window.partitionBy("user_id", "day")
      .orderBy(col("st"), col("en"), col("event_id"))
    val withRun = iv
      .withColumn("prevmax",
        max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("flag",
        when(col("prevmax").isNull || col("st") > col("prevmax"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("flag")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withRun.groupBy("user_id", "day", "island")
      .agg(min(col("st")).as("is_st"), max(col("en")).as("is_en"))
      .groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("is_en") - col("is_st")).as("covered_us"))
      .orderBy("user_id", "day")
  }

  /** BURSTINESS per stream over hourly event counts — Fano factor
    * (variance/mean; 1 = Poisson, ≫1 = bursty) and the Goh–Barabási
    * burstiness coefficient B = (σ−μ)/(σ+μ) — the arrival-process audit
    * behind capacity planning and bot detection. Counts are exact
    * integers over PRESENT buckets (absent hours are gap_detect's job);
    * sufficient sums exact BIGINTs; σ via the correctly-rounded sqrt;
    * the combinations are mirrored IEEE ops. One resample + one tiny agg.
    */
  private def q_agg_burstiness(s: SparkSession, dir: String): DataFrame = {
    val k = E(s, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("k"))
    val g = k.groupBy("event_type").agg(count(lit(1)).as("n"),
      sum(col("k")).as("sk"), sum(col("k") * col("k")).as("skk"))
    val vr = (col("n") * col("skk") - col("sk") * col("sk")).cast("double") /
      (col("n") * (col("n") - 1)).cast("double")
    val mu = col("sk").cast("double") / col("n")
    g.select(col("event_type"), col("n"),
        round(mu, 6).as("mean_per_hour"),
        round(vr / nullif(mu, lit(0.0)), 6).as("fano"),
        round((sqrt(vr) - mu) / nullif(sqrt(vr) + mu, lit(0.0)), 6)
          .as("burstiness"))
      .orderBy("event_type")
  }

  /** USER SEGMENTATION by one-pass seed assignment — the SemDeDup-oracle
    * trick applied to k-means ("which behavioral archetype is each user
    * closest to?"): features = per-user event-type count vectors (exact
    * integers), centroids = the k lowest-user_id users' vectors
    * (deterministic, SQL-derivable seeds), assignment = argmin exact
    * INTEGER squared L2 with seed-id tie-break. Output segment sizes +
    * per-type totals — zero floats anywhere. |users|×k assignment rows,
    * one rank window keyed by user.
    */
  private def q_agg_user_segments(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "error", "signup")
    val users = E(s, dir).groupBy("user_id")
      .agg(types.map(t =>
        sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c_$t")).head,
        types.tail.map(t =>
          sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c_$t")): _*)
    val seeds = users.orderBy("user_id").limit(4)
      .select(col("user_id").as("seed_id") +:
        types.map(t => col(s"c_$t").as(s"s_$t")): _*)
    val dist = types.map(t =>
      (col(s"c_$t") - col(s"s_$t")) * (col(s"c_$t") - col(s"s_$t")))
      .reduce(_ + _)
    val assigned = users.crossJoin(broadcast(seeds))
      .withColumn("d2", dist)
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("d2"), col("seed_id"))))
      .filter(col("rn") === 1)
    val aggs = count(lit(1)).as("n_users") +:
      types.map(t => sum(col(s"c_$t")).as(s"tot_$t"))
    assigned.groupBy(col("seed_id").as("segment"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("segment")
  }

  /** ZIPF-law fit per language — the corpus-statistics audit ("does this
    * source's vocabulary follow the natural power law?"; machine-generated
    * or templated corpora visibly don't): OLS of ln(freq) on ln(rank)
    * over the ≥5-occurrence vocabulary — slope ≈ −Zipf exponent, R² =
    * power-law fit quality. Portability: each ln is taken of an EXACT
    * integer (rank / frequency — the agg_entropy discipline), quantized
    * to milli-units (round half-up of a positive double — identical in
    * both engines), so the OLS sufficient sums are exact BIGINTs and the
    * two final divisions are mirrored IEEE ops (BIGINT→DOUBLE casts are
    * correctly-rounded conversions of identical integers). Rank ties
    * break on the term — total order. Shuffles bounded by |vocab|.
    */
  private def q_agg_zipf_fit(s: SparkSession, dir: String): DataFrame = {
    val tf = T(s, dir, "documents")
      .select(col("lang"), explode(graft.ops.Dedup.words(col("text"))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("f"))
      .filter(col("f") >= 5)
    val r = tf.withColumn("rnk", row_number().over(
        Window.partitionBy("lang").orderBy(col("f").desc, col("w"))))
      .withColumn("lq",
        round(log(col("rnk").cast("double")) * lit(1000.0), 0).cast("long"))
      .withColumn("lf",
        round(log(col("f").cast("double")) * lit(1000.0), 0).cast("long"))
    val g = r.groupBy("lang").agg(count(lit(1)).as("n"),
      sum(col("lq")).as("sq"), sum(col("lf")).as("sf"),
      sum(col("lq") * col("lq")).as("sqq"),
      sum(col("lf") * col("lf")).as("sff"),
      sum(col("lq") * col("lf")).as("sqf"))
    val sxy = (col("n") * col("sqf") - col("sq") * col("sf")).cast("double")
    val sxx = (col("n") * col("sqq") - col("sq") * col("sq")).cast("double")
    val syy = (col("n") * col("sff") - col("sf") * col("sf")).cast("double")
    g.select(col("lang"), col("n"),
        round(sxy / nullif(sxx, lit(0.0)), 6).as("slope"),
        round((sxy * sxy) / nullif(sxx * syy, lit(0.0)), 6).as("r2"))
      .orderBy("lang")
  }

  /** ACF correlogram per stream — autocorrelation at lags 1..12 over the
    * hourly cents series (the model-identification staple behind
    * AR-order choice and seasonality detection; win_autocorr's single
    * rolling lag-1 generalized to the full lag grid). ONE (stream,
    * order) window spec produces all 12 lag columns, a stack generator
    * unpivots map-side, one hash-agg per (stream, lag) collects the six
    * exact-BIGINT sufficient sums, and the Pearson combination is the
    * corr-matrix's verbatim-mirrored IEEE expression — unrounded,
    * bit-exact.
    */
  private def q_agg_acf(s: SparkSession, dir: String): DataFrame = {
    val maxLag = 12
    val w = Window.partitionBy("event_type").orderBy("bucket")
    val hourly = hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
    val lagged = (1 to maxLag).foldLeft(hourly) { (df, k) =>
      df.withColumn(s"l$k", lag(col("c"), k).over(w))
    }
    val stackArgs = (1 to maxLag).map(k => s"$k, l$k").mkString(", ")
    val long = lagged
      .select(col("event_type"), col("c").as("ca"),
        expr(s"stack($maxLag, $stackArgs) as (lag, cb)"))
      .filter(col("cb").isNotNull)
    val g = long.groupBy("event_type", "lag").agg(count(lit(1)).as("n"),
      sum(col("ca")).as("sa"), sum(col("cb")).as("sb"),
      sum(col("ca") * col("ca")).as("saa"),
      sum(col("cb") * col("cb")).as("sbb"),
      sum(col("ca") * col("cb")).as("sab"))
    g.select(col("event_type"), col("lag"), col("n"),
        ((col("n") * col("sab") - col("sa") * col("sb")).cast("double") /
          nullif(sqrt((col("n") * col("saa") - col("sa") * col("sa")).cast("double"))
            * sqrt((col("n") * col("sbb") - col("sb") * col("sb")).cast("double")),
            lit(0.0))).as("r"))
      .orderBy("event_type", "lag")
  }

  /** Mann-Kendall TREND test per stream — the standard nonparametric
    * monotonic-trend detector (environmental/sensor drift over time,
    * complementing the DISTRIBUTION drift of agg_ks_drift): over the
    * hourly cents series, S = Σ_{i<j} sign(x_j − x_i) and Kendall's
    * tau-a = S / (n(n−1)/2). All integers until the final division —
    * bit-exact, unrounded. The pair join is keyed on the stream and
    * bounded by the RESAMPLED series length (n²/2 per key over n ≈
    * range/resolution rows, thousands — never raw events), the honest
    * exact form; a windowed/sampled variant is the >100k-bucket path.
    */
  private def q_agg_trend_mk(s: SparkSession, dir: String): DataFrame = {
    // the hourly frame is model-sized (streams × hours) and feeds the
    // pair join twice plus the n aggregate — materialize once (round 14)
    val h = hourlyCentsLong(E(s, dir).filter(col("value").isNotNull)).localCheckpoint()
    val a = h.select(col("event_type"), col("bucket").as("ba"), col("c").as("ca"))
    val b = h.select(col("event_type"), col("bucket").as("bb"), col("c").as("cb"))
    val sg = when(col("cb") > col("ca"), 1L)
      .when(col("cb") < col("ca"), -1L).otherwise(0L)
    val n = h.groupBy("event_type").agg(count(lit(1)).as("n"))
    a.join(b, Seq("event_type")).filter(col("ba") < col("bb"))
      .groupBy("event_type").agg(sum(sg).as("s"))
      .join(n, Seq("event_type"))
      .select(col("event_type"), col("s"), col("n"),
        (col("s").cast("double") / expr("n * (n - 1) div 2")).as("tau"))
      .orderBy("event_type")
  }

  /** Theil–Sen slope per stream — the robust trend MAGNITUDE companion to
    * agg_trend_mk's direction test: the median of all pairwise slopes
    * (cents per hour) over the hourly series, immune to outliers that
    * drag a least-squares fit. Slopes are ratios of exact integers
    * (cents Δ / hour Δ) — deterministic doubles — and the median is the
    * exact interpolated percentile (the agg_threshold_pctl precedent).
    * Same keyed, resample-bounded pair join as the MK test.
    */
  private def q_agg_trend_sen(s: SparkSession, dir: String): DataFrame = {
    val h = hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
      .withColumn("es", graft.sources.Events.epochSeconds(col("bucket")))
      .withColumn("t", expr("es div 3600"))
      // model-sized, read by both sides of the pair join (round 14)
      .localCheckpoint()
    val a = h.select(col("event_type"), col("t").as("ta"), col("c").as("ca"))
    val b = h.select(col("event_type"), col("t").as("tb"), col("c").as("cb"))
    a.join(b, Seq("event_type")).filter(col("ta") < col("tb"))
      .withColumn("slope",
        (col("cb") - col("ca")).cast("double") /
          (col("tb") - col("ta")).cast("double"))
      .groupBy("event_type")
      .agg(round(expr("percentile(slope, 0.5)"), 6).as("sen_slope"),
        count(lit(1)).as("n_pairs"))
      .orderBy("event_type")
  }

  /** Shannon entropy of the per-user event distribution per event_type —
    * the concentration/diversity monitor (is one user generating all the
    * purchases?), the log-scale companion of agg_diversity's
    * Gini-Simpson. Computed as H = ln(N) − (Σ nᵤ·ln nᵤ)/N so every
    * input to the transcendentals is an EXACT integer count (the same
    * portable-ln discipline as the PSI oracle: ulp-level libm skew and
    * double-sum ordering both sit ~7 orders below the round-6
    * threshold). Also emits H normalized by ln(users) — 1.0 = perfectly
    * even. Two key-shuffles, output is |event types| rows.
    */
  private def q_agg_entropy(s: SparkSession, dir: String): DataFrame = {
    E(s, dir)
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("nu"))
      .groupBy("event_type")
      .agg(sum(col("nu")).as("n_events"), count(lit(1)).as("n_users"),
        sum(col("nu").cast("double") * log(col("nu").cast("double")))
          .as("snl"))
      .withColumn("hraw", log(col("n_events").cast("double")) -
        col("snl") / col("n_events").cast("double"))
      .select(col("event_type"), col("n_events"), col("n_users"),
        round(col("hraw"), 6).as("entropy"),
        round(col("hraw") /
          expr("nullif(ln(CAST(n_users AS DOUBLE)), 0.0D)"), 6)
          .as("norm_entropy"))
      .orderBy("event_type")
  }

  /** Per-doc readability scoring (Flesch reading ease + Flesch-Kincaid
    * grade) — the classic text-quality gate beside the Gopher/stopword
    * ones. Every input is an exact integer surface count: words =
    * split on the fixture's single-space separator; syllable groups =
    * maximal [aeiouy]+ runs counted by the replace-length identity
    * G = len(runs→"#") − len(runs→"") (exact even if the text contains
    * '#'); sentences = 1 + terminal-punctuation runs. The two formula
    * divisions are the only floats — identical literal/operation order
    * on both sides, round(4). Pure map-side scan, no shuffle at all.
    */
  private def q_text_readability(s: SparkSession, dir: String): DataFrame = {
    val lw = lower(col("text"))
    T(s, dir, "documents")
      .withColumn("words", size(split(col("text"), " ", -1)).cast("long"))
      .withColumn("syllables",
        (length(regexp_replace(lw, "[aeiouy]+", "#")) -
          length(regexp_replace(lw, "[aeiouy]+", ""))).cast("long"))
      .withColumn("sentences", lit(1L) +
        (length(regexp_replace(col("text"), "[.!?]+", "#")) -
          length(regexp_replace(col("text"), "[.!?]+", ""))).cast("long"))
      .withColumn("wps", col("words").cast("double") /
        expr("nullif(CAST(sentences AS DOUBLE), 0.0D)"))
      .withColumn("spw", col("syllables").cast("double") /
        expr("nullif(CAST(words AS DOUBLE), 0.0D)"))
      .select(col("doc_id"), col("lang"), col("words"), col("sentences"),
        col("syllables"),
        round(lit(206.835) - lit(1.015) * col("wps") -
          lit(84.6) * col("spw"), 4).as("flesch"),
        round(lit(0.39) * col("wps") + lit(11.8) * col("spw") -
          lit(15.59), 4).as("fk_grade"))
      .orderBy("doc_id")
  }

  /** Per-doc TF-IDF top-5 signature terms ([[graft.ops.Search.tfidfTopTerms]])
    * — keyword extraction beside text_topterms' per-language raw counts.
    */
  private def q_text_tfidf(s: SparkSession, dir: String): DataFrame =
    graft.ops.Search.tfidfTopTerms(T(s, dir, "documents"), "doc_id", "text", 5)
      .orderBy("doc_id", "rnk")

  /** Binned two-sample KS drift per event_type between the two halves of
    * the month ([[graft.ops.Drift.ksStatistic]]). */
  private def q_agg_ks_drift(s: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.ksStatistic(E(s, dir), "event_type", "value", driftIsA)
      .orderBy("event_type")

  /** Population Stability Index per event_type over the same cohort split
    * ([[graft.ops.Drift.psi]]). */
  private def q_agg_psi_drift(s: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.psi(E(s, dir), "event_type", "value", driftIsA)
      .orderBy("event_type")

  // ---------------------------------------------------------------------
  // Round 9: record linkage, survival analysis, runtime join pruning,
  // robust winsorization, CM-sketch frequency, isotonic calibration,
  // DTW profile similarity, audio zero-crossing features
  // ---------------------------------------------------------------------

  /** Jaro-Winkler entity resolution over part names, blocked by the noun
    * token. Scoring runs on the DISTINCT-name vocabulary (Zipfian:
    * corpus-size-independent), pairs form only within a block, and the
    * similarity is a native codegen expression pinned bit-identical to
    * the oracle engine's `jaro_winkler_similarity` (30k-pair fuzz) —
    * record linkage's standard candidate-generation shape, generalizing
    * join_fuzzy's edit distance to the census-bureau metric.
    */
  private def q_join_entity_jw(s: SparkSession, dir: String): DataFrame =
    Linkage.jwPairs(T(s, dir, "part"), "p_name",
        element_at(split(col("name"), " "), 2), minSim = 0.8)
      .orderBy("name_a", "name_b")

  /** Kaplan-Meier survival over user lifetimes with right-censoring at
    * a 24-hour activity horizon — the product-limit estimator cohort
    * retention approximates. All post-groupBy algebra runs on the
    * distinct-duration frame (bounded by study length in days), so the
    * ordered windows cost nothing at corpus scale.
    */
  private def q_agg_kaplan_meier(s: SparkSession, dir: String): DataFrame =
    Survival.kaplanMeier(E(s, dir), "user_id", "ts", censorHours = 24)
      .orderBy("dur_days")

  /** Runtime bloom-filter join pruning — Spark's own
    * `BloomFilterAggregate`/`BloomFilterMightContain` machinery, driven
    * explicitly: the filtered dim side aggregates into ONE bloom filter
    * (model-sized driver state), the fact side prefilters on
    * `might_contain(xxhash64(key))` BEFORE the join shuffle, then the
    * exact join runs on the survivors. No false negatives → result ≡
    * the plain join (the oracle); at 100 TB the prefilter cuts the fact
    * shuffle to ~the matching fraction, which is the entire point of
    * runtime filtering. The explicit form (vs AQE's injected filter)
    * keeps the plan independent of size thresholds and session conf.
    */
  private def q_join_bloom_prune(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val B = org.apache.spark.sql.graft.Bridge
    val dim = T(s, dir, "part").filter(col("p_brand") === "Brand#7")
      .select("p_partkey", "p_brand", "p_type")
    val bfAgg = B.column(new BloomFilterAggregate(
      new XxHash64(Seq(B.expression(col("p_partkey")))),
      Literal(100000L), Literal(8L * 1024 * 1024)).toAggregateExpression())
    val bfBytes = dim.agg(bfAgg.as("bf")).head().getAs[Array[Byte]](0)
    val pruned = T(s, dir, "lineitem").filter(B.column(
      BloomFilterMightContain(Literal.create(bfBytes,
        org.apache.spark.sql.types.BinaryType),
        new XxHash64(Seq(B.expression(col("l_partkey")))))))
    pruned.join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy("p_type")
      .agg(count(lit(1)).as("n"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .select(col("p_type"), col("n"), round(col("revenue"), 4).as("revenue"))
      .orderBy("p_type")
  }

  /** Count-Min point-frequency estimates beside exact counts — the
    * sketch family's frequency member (with t-digest quantiles, HLL++
    * cardinality, Misra-Gries heavy hitters): depth×width counters,
    * splitmix-hashed, merge = elementwise add, so the shuffle moves one
    * small buffer per partition and the estimate is deterministic under
    * any partitioning.
    *
    * ORACLE-CHECKED via the sketch's own two guarantees (round 10; the
    * raw counter values stay engine-specific and live on the expression
    * API + CountMinSpec): the driver row carries the exact count plus
    * `one_sided` (est ≥ exact — deterministic for CM, ANY violation is
    * a bug) and `within_eps` (est ≤ exact + (e/width)·N — the Cormode-
    * Muthukrishnan ε-bound). The oracle computes the exact counts in
    * SQL and asserts both booleans TRUE: a sketch regression flips a
    * flag and hash-fails the row. Estimates are deterministic on fixed
    * data, so the flags are reproducible facts, not flaky assertions.
    */
  private def q_agg_countmin(s: SparkSession, dir: String): DataFrame = {
    val B = org.apache.spark.sql.graft.Bridge
    val probes = (0 until 20).map(_.toString)
    val keyed = E(s, dir).select(col("user_id").cast("string").as("k"))
    val estRow = keyed.agg(
      B.column(CountMinEstimates(
        B.expression(col("k")), probes, depth = 4, width = 256)
        .toAggregateExpression()).as("est"),
      count(lit(1)).as("n_total"))
    val est = estRow.select(col("n_total"), posexplode(col("est")).as(Seq("i", "est")))
      .select(col("i").cast("string").as("k"), col("est"), col("n_total"))
    val exact = keyed.filter(col("k").isin(probes: _*))
      .groupBy("k").agg(count(lit(1)).as("exact"))
    est.join(exact, Seq("k"), "left")
      .na.fill(0L, Seq("exact"))
      .select(col("k").cast("int").as("user_id"), col("exact"),
        (col("est") >= col("exact")).as("one_sided"),
        (col("est").cast("double") <= col("exact").cast("double")
          + lit(math.E / 256.0) * col("n_total").cast("double"))
          .as("within_eps"))
      .orderBy("user_id")
  }

  /** Dynamic-time-warping similarity between per-stream hourly profiles
    * (Sakoe-Chiba banded DP as a native codegen expression). The
    * corpus-scale stage is the profile groupBy; the DP runs once per
    * stream pair over 24-point aggregates — profile-vocabulary-bounded,
    * never raw-row-quadratic. ORACLE-CHECKED (round 11): profile means
    * are exact cent-integers (the win_ewma decimal discipline), so both
    * engines feed the DP bit-identical doubles, and the oracle UNROLLS
    * the radius-3 band ([[DtwDistance.Band]]) as generated per-cell
    * CTEs ([[dtwOracleSql]]) — abs/add/least over identical doubles is
    * deterministic, so c_24_24 must match exactly. Profiles restrict to
    * complete 24-hour tags in BOTH engines (every fixture tag
    * qualifies, so no rows drop); DtwSpec keeps the identity/symmetry/
    * banded hand-case pins.
    */
  private def q_agg_dtw_profiles(s: SparkSession, dir: String): DataFrame = {
    val B = org.apache.spark.sql.graft.Bridge
    def dtwCol(a: Column, b: Column): Column =
      B.column(DtwDistance(B.expression(a), B.expression(b)))
    val prof = microMeans(E(s, dir).filter(col("value").isNotNull)
        .groupBy(col("event_type"), hour(col("ts")).as("h")))
      .select(col("event_type"), col("h"),
        expr("(s_micro div n) div 10000").cast("double").as("m"))
      .groupBy("event_type")
      .agg(transform(array_sort(collect_list(struct(col("h"), col("m")))),
        x => x.getField("m")).as("profile"))
      .filter(size(col("profile")) === 24)
    val a = prof.select(col("event_type").as("tag_a"), col("profile").as("pa"))
    val b = prof.select(col("event_type").as("tag_b"), col("profile").as("pb"))
    a.join(b, col("tag_a") < col("tag_b"))
      .select(col("tag_a"), col("tag_b"),
        round(dtwCol(col("pa"), col("pb")), 6).as("dtw"))
      .orderBy("tag_a", "tag_b")
  }

  /** Audio zero-crossing-rate + RMS features through the REAL
    * javax.sound decode leg on the digest-WAV corpus — the
    * signal-analysis sibling of multimodal_wav_decode's moment stats,
    * oracle-checked sample-exactly: the oracle re-derives the PCM
    * payload from `md5()` and counts sign transitions with `lag`.
    */
  private def q_multimodal_audio_zcr(s: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.fromDigestWav(
      T(s, dir, "documents").filter(col("text").isNotNull), "doc_id", "text")
    graft.multimodal.Multimodal.wavZcrFeatures(media, "media_id", "bytes")
      .select(col("media_id").as("doc_id"), col("n_samples"),
        col("n_zero_cross"), col("rms"))
      .orderBy("doc_id")
  }

  /** One-way ANOVA F across streams on integer cents — the k-group
    * generalization of agg_ab_ttest's Welch t. Sufficient statistics
    * (n, Σc, Σc² per group) stay exact BIGINTs; the F ratio and η² are
    * O(1) quantities, so the final double combination is stable to
    * round 6 even though the raw sums of squares are not (the ratio
    * cancels the shared ULP scale — the t-test's argument).
    */
  private def q_agg_anova(s: SparkSession, dir: String): DataFrame = {
    val g = E(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), valueCents.as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
    val t = g.agg(
      count(lit(1)).as("k"), sum(col("n")).as("nn"),
      sum(col("s1")).as("t1"), sum(col("s2")).as("t2"),
      sum(col("s1").cast("double") * col("s1").cast("double") /
        col("n")).as("sb"))
    val ssb = col("sb") - col("t1").cast("double") * col("t1").cast("double") /
      col("nn")
    val ssw = col("t2").cast("double") - col("sb")
    val sst = col("t2").cast("double") -
      col("t1").cast("double") * col("t1").cast("double") / col("nn")
    t.select(col("k"), col("nn").as("n"),
        round((ssb / (col("k") - 1)) / (ssw / (col("nn") - col("k"))), 6)
          .as("f_stat"),
        round(ssb / sst, 6).as("eta_sq"))
  }

  /** Poisson bootstrap confidence interval for the per-stream mean
    * (Chamandy et al. 2012, "Estimating Uncertainty for Massive Data
    * Streams" — Google's published scalable bootstrap): resampling-with-
    * replacement is a shuffle-free MAP at scale because each row's
    * replica multiplicity is an independent Poisson(1) draw. The draw
    * here is EXACT integer arithmetic: u = 60-bit md5 of (event_id,
    * rep); weight = Σₖ [u ≥ tₖ] against precomputed integer CDF
    * thresholds — no engine float in the sampling path, so replica
    * membership is bit-identical everywhere. Replica means come from
    * exact integer (Σw·c, Σw) sums; the CI is exact-interpolation
    * percentiles over the R replica means. Cost: one generator
    * projection (×R rows, map-side) + two map-side-combined groupBys of
    * (streams × R) rows — the corpus never shuffles.
    */
  private def q_agg_bootstrap_ci(s: SparkSession, dir: String): DataFrame = {
    val reps = 20
    // floor(CDF_Poisson(1)(k) · 2^60), k = 0..8
    val ts = Seq(424136118829305344L, 848272237658610688L,
      1060340297073263360L, 1131029650211480960L, 1148701988496035328L,
      1152236456152946176L, 1152825534095764608L, 1152909688087595776L,
      1152920207336574720L)
    // ONE md5 per row, per-replica uniforms by the Carter-Wegman affine
    // family (the minhash discipline): u_rep = (h1 + rep·h2) mod 2^60 —
    // 20× fewer digests than hashing (event_id, rep) pairs (measured
    // 1.9 → sub-second warm at sf0.1), replica membership still exact
    // integer and bit-identical cross-engine.
    val digest = md5(col("event_id").cast("string"))
    val base = E(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), valueCents.as("c"),
        conv(substring(digest, 1, 15), 16, 10).cast("long").as("h1"),
        (conv(substring(digest, 17, 15), 16, 10).cast("long")
          % lit(1099511627776L)).as("h2"))
      .select(col("event_type"), col("c"), col("h1"), col("h2"),
        explode(array((0 until reps).map(lit): _*)).as("rep"))
    val u = (col("h1") + col("rep").cast("long") * col("h2")) %
      lit(1152921504606846976L)
    val w = ts.map(t => (u >= lit(t)).cast("long")).reduce(_ + _)
    val replica = base.withColumn("w", w)
      .groupBy("event_type", "rep")
      .agg(sum(col("w") * col("c")).as("swc"), sum(col("w")).as("sw"))
      .filter(col("sw") > 0)
      .select(col("event_type"),
        (col("swc").cast("double") / col("sw")).as("m"))
    replica.groupBy("event_type")
      .agg(count(lit(1)).as("n_reps"),
        round(percentile(col("m"), lit(0.5)), 6).as("boot_median"),
        round(percentile(col("m"), lit(0.025)), 6).as("ci_lo"),
        round(percentile(col("m"), lit(0.975)), 6).as("ci_hi"))
      .orderBy("event_type")
  }

  /** Chi-square independence test of stream × hour-of-day (the
    * seasonality-dependence screen), plus Cramér's V effect size.
    * Observed counts are exact BIGINTs from ONE groupBy; expected
    * counts and the χ² fold run over the k×24 CONTINGENCY table
    * (model-sized). χ² terms are O(count)-scaled, so the cross-engine
    * sum-order jitter (~1e-13 absolute) is far inside round 6.
    */
  private def q_agg_chisq(s: SparkSession, dir: String): DataFrame = {
    val obs = E(s, dir)
      .groupBy(col("event_type"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("o"))
      // model-sized observed table (|types| x 24) referenced four times
      // (row/col totals, N, cells) - materialize ONCE (round 14)
      .localCheckpoint()
    val rowTot = obs.groupBy("event_type").agg(sum(col("o")).as("rt"))
    val colTot = obs.groupBy("h").agg(sum(col("o")).as("ct"))
    val n = obs.agg(sum(col("o")).as("n"))
    val e = col("rt").cast("double") * col("ct").cast("double") /
      col("n").cast("double")
    val cells = obs.join(broadcast(rowTot), "event_type")
      .join(broadcast(colTot), "h").crossJoin(broadcast(n))
      .select(col("event_type"), col("h"), col("o"), col("rt"), col("ct"),
        col("n"),
        ((col("o").cast("double") - e) * (col("o").cast("double") - e) / e)
          .as("term"))
    val k = cells.agg(
      countDistinct(col("event_type")).as("k"),
      countDistinct(col("h")).as("hcols"),
      max(col("n")).as("n"),
      sum(col("term")).as("chi2"))
    k.select(col("k"), col("hcols"), col("n"),
      round(col("chi2"), 6).as("chi2"),
      ((col("k") - 1) * (col("hcols") - 1)).as("dof"),
      round(sqrt(col("chi2") / (col("n").cast("double") *
        least(col("k") - 1, col("hcols") - 1))), 6).as("cramers_v"))
  }

  /** Mann-Whitney U between the A/B user split per stream — the
    * nonparametric twin of agg_ab_ttest (rank-based, no normality
    * assumption), with the normal z approximation under the
    * tie-corrected variance. Ranks are midranks over integer cents:
    * exact halves, bit-identical cross-engine. The rank window
    * partitions BY STREAM (never global), and everything after the
    * one groupBy(rank-key) runs on the per-stream distinct-value
    * table.
    */
  private def q_agg_mannwhitney(s: SparkSession, dir: String): DataFrame = {
    val base = E(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), (col("user_id") % 2 === 0).as("isa"),
        valueCents.as("c"))
    // midranks via the distinct-value table: rank(v) = (#below) + (cnt+1)/2
    val byVal = base.groupBy("event_type", "c")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("isa"), 1L).otherwise(0L)).as("cnta"))
    val w = Window.partitionBy("event_type").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byVal
      .withColumn("below", sum(col("cnt")).over(w) - col("cnt"))
      .select(col("event_type"), col("cnt"), col("cnta"),
        (col("below").cast("double") +
          (col("cnt").cast("double") + 1.0) / 2.0).as("midrank"),
        (col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie3"))
    val g = ranked.groupBy("event_type").agg(
      sum(col("cnta")).as("na"),
      sum(col("cnt") - col("cnta")).as("nb"),
      sum(col("midrank") * col("cnta").cast("double")).as("ra"),
      sum(col("tie3")).as("ties"))
    val na = col("na").cast("double"); val nb = col("nb").cast("double")
    val nn = na + nb
    val u = col("ra") - na * (na + 1.0) / 2.0
    val mu = na * nb / 2.0
    val sig = sqrt(na * nb / 12.0 *
      ((nn + 1.0) - col("ties").cast("double") / (nn * (nn - 1.0))))
    g.select(col("event_type"), col("na"), col("nb"),
        round(u, 6).as("u_stat"), round((u - mu) / sig, 6).as("z"))
      .orderBy("event_type")
  }

  /** Kruskal-Wallis H across the user-decile groups per stream — the
    * k-group rank test completing the nonparametric family (MWU's
    * many-group sibling, ANOVA's rank twin). Same midrank discipline
    * as agg_mannwhitney: exact halves over the per-stream
    * distinct-value table, tie correction 1 − Σ(t³−t)/(N³−N), windows
    * partitioned by stream.
    */
  private def q_agg_kruskal(s: SparkSession, dir: String): DataFrame = {
    val base = E(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), (col("user_id") % 3).as("grp"), valueCents.as("c"))
    val byVal = base.groupBy("event_type", "c")
      .agg(count(lit(1)).as("cnt"),
        (0 until 3).map(g =>
          sum(when(col("grp") === g, 1L).otherwise(0L)).as(s"n$g")): _*)
    val w = Window.partitionBy("event_type").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byVal
      .withColumn("midrank", (sum(col("cnt")).over(w) - col("cnt"))
        .cast("double") + (col("cnt").cast("double") + 1.0) / 2.0)
      .withColumn("tie3", col("cnt") * col("cnt") * col("cnt") - col("cnt"))
    val kwAggs = (0 until 3).map(j => sum(col(s"n$j")).as(s"nn$j")) ++
      (0 until 3).map(j =>
        sum(col("midrank") * col(s"n$j").cast("double")).as(s"r$j")) :+
      sum(col("tie3")).as("ties")
    val g = ranked.groupBy("event_type").agg(kwAggs.head, kwAggs.tail: _*)
    val nTot = (0 until 3).map(j => col(s"nn$j").cast("double")).reduce(_ + _)
    val hRaw = (lit(12.0) / (nTot * (nTot + 1.0))) *
      (0 until 3).map(j => col(s"r$j") * col(s"r$j") /
        col(s"nn$j").cast("double")).reduce(_ + _) - lit(3.0) * (nTot + 1.0)
    val tieCorr = lit(1.0) - col("ties").cast("double") /
      (nTot * nTot * nTot - nTot)
    g.select(col("event_type"),
        (col("nn0") + col("nn1") + col("nn2")).as("n"),
        round(hRaw / tieCorr, 6).as("h_stat"))
      .orderBy("event_type")
  }

  /** Hurst exponent by rescaled-range analysis (Hurst 1951; Mandelbrot
    * & Wallis 1969) per stream — long-range-dependence estimation, the
    * memory diagnostic behind seasonality/burstiness: H ≈ 0.5 random
    * walk, > 0.5 persistent, < 0.5 anti-persistent. Per window size
    * w ∈ {32, 64, 128}: full blocks of the hourly cents series, R =
    * range of cumulative mean deviations, S = population std, and the
    * per-(stream, w) statistic is the MEDIAN R/S over blocks (exact
    * interpolation — deterministic where a mean of doubles would carry
    * cross-engine sum-order jitter). H = OLS slope of ln(R/S) on
    * ln(w), which for three log-equispaced sizes collapses to
    * (ln(rs₁₂₈) − ln(rs₃₂)) / (2·ln 2) — ln 2 pinned as a shared
    * decimal literal so no libm constant enters the compare.
    *
    * Exactness: the deviation numerator w·cum − (t+1)·Σc is EXACT
    * integer arithmetic (so R is an exact rational), S comes from
    * exact (Σc, Σc²); every window partitions by (stream, block) —
    * never global. The whole analysis is two windows + two groupBys
    * per window size over the hourly frame.
    */
  private def q_agg_hurst(s: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyCentsLong(E(s, dir).filter(col("value").isNotNull))
    // the indexed hourly frame feeds THREE window-size legs — materialize
    // once (the bandTable discipline) so the scan + resample groupBy +
    // row_number run once, not per leg
    val idx = hourly.withColumn("i",
      row_number().over(Window.partitionBy("event_type").orderBy("bucket"))
        - lit(1))
      .localCheckpoint()
    val ln2 = 0.6931471805599453
    val perW = Seq(32, 64, 128).map { w =>
      val blk = idx
        .withColumn("blk", floor(col("i") / w))
        .withColumn("t", col("i") % w)
      val whole = Window.partitionBy("event_type", "blk")
      val cumW = Window.partitionBy("event_type", "blk").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val rows = blk
        .withColumn("s1", sum(col("c")).over(whole))
        .withColumn("cnt", count(lit(1)).over(whole))
        .withColumn("num",
          lit(w.toLong) * sum(col("c")).over(cumW) -
            (col("t") + 1L) * col("s1"))
        .filter(col("cnt") === w)
      val blocks = rows.groupBy("event_type", "blk")
        .agg(max(col("num")).as("mx"), min(col("num")).as("mn"),
          max(col("s1")).as("s1"), sum(col("c") * col("c")).as("s2"))
        .withColumn("svar",
          (col("s2").cast("double") -
            col("s1").cast("double") * col("s1").cast("double") / w) / w)
        .filter(col("svar") > 0)
        .select(col("event_type"),
          (((col("mx") - col("mn")).cast("double") / w) / sqrt(col("svar")))
            .as("rs"))
      blocks.groupBy("event_type")
        .agg(percentile(col("rs"), lit(0.5)).as("med"))
        .select(col("event_type"), lit(w).as("w"), col("med"))
    }
    perW.reduce(_ unionByName _)
      .groupBy("event_type")
      .agg(
        max(when(col("w") === 32, col("med"))).as("rs32"),
        max(when(col("w") === 64, col("med"))).as("rs64"),
        max(when(col("w") === 128, col("med"))).as("rs128"))
      .select(col("event_type"),
        round(col("rs32"), 6).as("rs32"), round(col("rs64"), 6).as("rs64"),
        round(col("rs128"), 6).as("rs128"),
        round((log(col("rs128")) - log(col("rs32"))) / (2.0 * ln2), 6)
          .as("hurst"))
      .orderBy("event_type")
  }

  /** Declarative data-quality expectation suite (the Deequ pattern —
    * Schelter et al. 2018, VLDB): N constraints over a table verified
    * from ONE aggregation pass (completeness, uniqueness, bounds,
    * domain membership, time-range sanity), emitted as (constraint,
    * metric, passed) rows. At 100 TB this is the nightly gate before
    * any downstream job trusts a partition: one scan, one agg row,
    * constraint algebra on the driver-side literals.
    */
  private def q_agg_expectations(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    // the ONE-row stats frame feeds every constraint row below —
    // materialize it once (round 14: the per-constraint union replayed
    // the full events scan + aggregation five times)
    val m = E(s, dir).agg(
      count(lit(1)).as("n"),
      count(col("value")).as("n_value"),
      countDistinct(col("event_id")).as("n_ids"),
      min(col("value")).as("min_value"),
      sum(col("event_type").isin(types: _*).cast("long")).as("n_type_ok"),
      sum((col("ts") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
        col("ts") < lit("2025-01-01 00:00:00").cast("timestamp"))
        .cast("long")).as("n_ts_ok"))
    val nD = col("n").cast("double")
    def row(name: String, metric: Column, passed: Column) =
      struct(lit(name).as("check_name"), round(metric, 6).as("metric"),
        passed.as("passed"))
    // ONE select emits all five constraint rows via explode(array(...)):
    // the aggregate subtree is referenced once in-plan — the former
    // 5-way union of per-constraint selects replayed the full events
    // scan + aggregation per row (5 scans → 1, no materialization job)
    m.select(explode(array(
        row("completeness_value", col("n_value") / nD, col("n_value") / nD >= 0.9),
        row("uniqueness_event_id", col("n_ids") / nD, col("n_ids") === col("n")),
        row("min_value_nonneg", col("min_value"), col("min_value") >= 0.0),
        row("type_in_domain", col("n_type_ok") / nD, col("n_type_ok") === col("n")),
        row("ts_in_range", col("n_ts_ok") / nD, col("n_ts_ok") === col("n"))
      )).as("r"))
      .select(col("r.check_name"), col("r.metric"), col("r.passed"))
      .orderBy("check_name")
  }

  /** Entity clusters from the fuzzy-match graph: [[Linkage.jwPairs]]
    * candidates become edges over the distinct-name vocabulary (name →
    * stable id = min part key), and [[Dedup.duplicateClustersTwoPhase]]
    * (partition-local union-find, then min-label propagation over the
    * contracted graph) resolves connected components — the full
    * record-linkage pipeline (block → score → cluster) whose oracle is
    * a recursive-CTE transitive closure. Singleton names keep their
    * own id: every vocabulary entry gets an entity.
    */
  private def q_join_er_clusters(s: SparkSession, dir: String): DataFrame = {
    val nm = T(s, dir, "part").groupBy(col("p_name").as("name"))
      .agg(min(col("p_partkey")).as("id"))
    val pairs = Linkage.jwPairs(T(s, dir, "part"), "p_name",
      element_at(split(col("name"), " "), 2), minSim = 0.84)
    val edges = pairs
      .join(nm.select(col("name").as("name_a"), col("id").as("doc_a")), "name_a")
      .join(nm.select(col("name").as("name_b"), col("id").as("doc_b")), "name_b")
      .select("doc_a", "doc_b")
    // two-phase CC (round 14): ER components are shallow and numerous —
    // the per-round job-launch profile two-phase exists for (q_graph_cc)
    val clusters = Dedup.duplicateClustersTwoPhase(edges)
    nm.join(clusters.withColumnRenamed("doc_id", "id"), Seq("id"), "left")
      .select(col("name"),
        coalesce(col("canonical_id"), col("id")).as("entity_id"))
      .orderBy("name")
  }

  /** Last-touch conversion attribution — each purchase credits the
    * user's most recent non-purchase event inside a 24 h window
    * (purchases with no touch credit "direct"). The as-of machinery
    * with business semantics: a user-keyed equi-join bounds the range
    * predicate (the shuffle key is the user, never a time cross
    * product), the argmax is a per-purchase window with a total
    * (ts, event_id) order, and credited value stays exact integer
    * cents.
    */
  private def q_join_attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = E(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"),
        when(col("value").isNotNull, valueCents).otherwise(0L).as("c"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("t_user"), col("event_type").as("touch_type"),
        col("ts").as("t_ts"), col("event_id").as("t_id"))
    // window predicate INSIDE the left-join condition: a purchase whose
    // touches all fall outside 24 h must still surface (as "direct"),
    // which a post-join filter would silently drop
    val joined = purchases.join(touches,
      col("user_id") === col("t_user") &&
        col("t_ts") < col("p_ts") &&
        col("t_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS"), "left")
    val w = Window.partitionBy("p_id")
      .orderBy(col("t_ts").desc_nulls_last, col("t_id").desc_nulls_last)
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(coalesce(col("touch_type"), lit("direct")).as("touch_type"),
        col("p_id"), col("c"))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("conversions"), sum(col("c")).as("value_cents"))
      .orderBy("touch_type")
  }

  /** Mutual information between stream identity and value
    * order-of-magnitude (digit-count buckets — pure integer/string, so
    * the binning is exact in any engine): the feature-relevance
    * primitive behind every "which signals matter" screen. MI and the
    * entropies come from exact joint counts; the ln terms are O(1) and
    * the cell fold is ≤ |streams|·|magnitudes|, so round 6 is stable.
    * One groupBy of the corpus; everything after runs on the
    * model-sized contingency table.
    */
  private def q_agg_mutual_info(s: SparkSession, dir: String): DataFrame = {
    val binned = E(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), length(valueCents.cast("string")).as("mag"))
    // model-sized contingency table (|types| x |magnitudes|) referenced
    // four times (marginals, N, cells) - materialize ONCE (round 14, the
    // agg_basket_lift finding: each reference replayed the events scan)
    val joint = binned.groupBy("event_type", "mag").agg(count(lit(1)).as("nxy"))
      .localCheckpoint()
    val nx = joint.groupBy("event_type").agg(sum("nxy").as("nx"))
    val ny = joint.groupBy("mag").agg(sum("nxy").as("ny"))
    val n = joint.agg(sum("nxy").as("n"))
    val cells = joint.join(broadcast(nx), "event_type")
      .join(broadcast(ny), "mag").crossJoin(broadcast(n))
    val nD = col("n").cast("double")
    val mi = sum((col("nxy").cast("double") / nD) *
      log(col("nxy").cast("double") * nD /
        (col("nx").cast("double") * col("ny").cast("double"))))
    val hx = sum((col("nxy").cast("double") / nD) *
      -log(col("nx").cast("double") / nD))
    val hy = sum((col("nxy").cast("double") / nD) *
      -log(col("ny").cast("double") / nD))
    cells.agg(mi.as("mi"), hx.as("hx"), hy.as("hy"),
        countDistinct(col("event_type")).as("k_streams"),
        countDistinct(col("mag")).as("k_magnitudes"))
      .select(round(col("mi"), 6).as("mi"),
        round(col("mi") / sqrt(col("hx") * col("hy")), 6).as("nmi"),
        col("k_streams"), col("k_magnitudes"))
  }

  private def suppSites(s: SparkSession, dir: String): DataFrame = {
    val (la, lo) = geoE4("s", col("s_suppkey"))
    T(s, dir, "supplier").select(col("s_suppkey").as("supp"),
      la.as("lat_e4"), lo.as("lon_e4"))
  }

  /** Grid-bucketed geospatial radius join: every (customer, supplier)
    * pair within 500 km. The scale story is the whole point
    * ([[graft.ops.Geo.radiusPairs]]): candidates come from a 3×3
    * cell-neighborhood equi-join on an integer grid (cells ≥ 500 km in
    * both axes over the ±60° domain, longitude wrapping modulo the
    * grid), so work is O(n · local density), never all-pairs; the trig
    * runs on candidates only. The oracle IS all-pairs (150k pairs at
    * sf0.01 is nothing for the oracle engine) — the grid must reproduce
    * the brute-force pair set exactly, which also makes this query the
    * grid design's completeness proof (a missed adjacent cell = missing
    * rows = hash mismatch).
    */
  private def q_join_geo_radius(s: SparkSession, dir: String): DataFrame =
    graft.ops.Geo.radiusPairs(custSites(s, dir), "cust",
        suppSites(s, dir), "supp", 500.0, dLatE4 = 45249L, dLonE4 = 100000L)
      .select(col("cust"), col("supp"), round(col("dist_km"), 6).as("dist_km"))
      .orderBy("cust", "supp")

  /** The DECLARATIVE radius join — the user writes the naive cross
    * product in SQL and [[graft.plans.GeoRadiusJoinRule]] (injected via
    * `SparkSessionExtensions`) rewrites it into the grid-bucketed
    * candidate join at optimization time: the Spark-first spatial-join
    * story (intent in, plan out), exercised end-to-end through the
    * driver gate. `graft_haversine` is the native codegen expression the
    * rule pattern-matches; its arithmetic is bit-identical to the
    * Column-tree and DuckDB renderings (the Haversine parity contract),
    * so the oracle stays the plain brute-force SQL and the rewrite must
    * be invisible in the result. GeoRuleSpec asserts the plan actually
    * rewrote (grid equi-join present, no full cross product on the
    * banded branch).
    */
  private def q_join_geo_radius_sql(s: SparkSession, dir: String): DataFrame = {
    custSites(s, dir)
      .selectExpr("cust", "lat_e4 / 10000.0 AS lat", "lon_e4 / 10000.0 AS lon")
      .createOrReplaceTempView("__geo_cust")
    suppSites(s, dir)
      .selectExpr("supp", "lat_e4 / 10000.0 AS lat", "lon_e4 / 10000.0 AS lon")
      .createOrReplaceTempView("__geo_supp")
    s.sql(
      """SELECT c.cust, p.supp,
        |  round(graft_haversine(c.lat, c.lon, p.lat, p.lon), 6) AS dist_km
        |FROM __geo_cust c, __geo_supp p
        |WHERE graft_haversine(c.lat, c.lon, p.lat, p.lon) < 800.0
        |ORDER BY cust, supp""".stripMargin)
  }

  /** Nearest supplier site per customer. The build side is a DIM table —
    * model-sized at any corpus scale — so the right 100 TB plan is a
    * broadcast cross of the dim against the big side with a per-customer
    * top-1 window (partitions are |suppliers|-sized slivers keyed by the
    * big side; no shuffle of the big side beyond the window's), not a
    * grid probe. Deterministic tie-break on supplier id.
    */
  private def q_join_geo_knn(s: SparkSession, dir: String): DataFrame = {
    val c = custSites(s, dir)
      .select(col("cust"), col("lat_e4").as("clat"), col("lon_e4").as("clon"))
    val sp = suppSites(s, dir)
      .select(col("supp"), col("lat_e4").as("slat"), col("lon_e4").as("slon"))
    // top-1 as a lexicographic struct MIN, not a window: min(struct(dist,
    // supp)) is the identical (dist, supp) tie order but map-side
    // combinable — the |cust|×|supp| candidate stream reduces to one row
    // per customer inside the scan, and nothing row-scale ever shuffles
    // (the 24 s window-shuffle plan this replaced is the cautionary tale).
    // The probe side width-pins with an explicit-N exchange: the small
    // customer file scans as 1-2 partitions, which would serialize the
    // 15M-candidate trig on 2 cores (the join_fuzzy lesson — AQE's
    // byte-sighted coalescer folds count-flexible repartitions back).
    // N derives from defaultParallelism, not a local[32] literal, so a
    // 1000-executor cluster fans the trig across the cluster.
    c.repartition(s.sparkContext.defaultParallelism, col("cust"))
      .crossJoin(broadcast(sp))
      .select(col("cust"), struct(graft.ops.Geo.haversineKm(
          col("clat") / 10000.0, col("clon") / 10000.0,
          col("slat") / 10000.0, col("slon") / 10000.0).as("dist_km"),
        col("supp").as("supp")).as("ds"))
      .groupBy("cust").agg(min(col("ds")).as("m"))
      .select(col("cust"), col("m.supp").as("supp"),
        round(col("m.dist_km"), 6).as("dist_km"))
      .orderBy("cust")
  }

  /** Cell-density aggregation over hash-derived user locations: top-15
    * densest 5°×5° cells with exact-integer centroids. ONE groupBy of
    * the distinct-user table; every post-aggregation value is integer
    * arithmetic (sums of 1e-4-degree units), so the result is
    * bit-identical under any partitioning — the heat-map primitive.
    */
  private def q_agg_geo_density(s: SparkSession, dir: String): DataFrame = {
    val (la, lo) = geoE4("u", col("user_id"))
    val users = E(s, dir).select(col("user_id")).distinct()
      .select(col("user_id"), la.as("lat_e4"), lo.as("lon_e4"))
    users
      .withColumn("cell_y", expr("(lat_e4 + 600000) div 50000"))
      .withColumn("cell_x", expr("(lon_e4 + 1800000) div 50000"))
      .groupBy("cell_y", "cell_x")
      .agg(count(lit(1)).as("n_users"),
        sum(col("lat_e4")).as("sy"), sum(col("lon_e4")).as("sx"))
      .select(col("cell_y"), col("cell_x"), col("n_users"),
        round(col("sy").cast("double") / col("n_users").cast("double") / 10000.0, 6)
          .as("ctr_lat"),
        round(col("sx").cast("double") / col("n_users").cast("double") / 10000.0, 6)
          .as("ctr_lon"))
      .orderBy(col("n_users").desc, col("cell_y"), col("cell_x"))
      .limit(15)
  }

  /** SPEARMAN rank correlation per stream (value vs hour-of-day) — the
    * nonparametric member of the correlation family beside
    * agg_corr_matrix's Pearson. Exactness: midranks come from the
    * distinct-value table DOUBLED (2·rank = 2·below + cnt + 1 — a pure
    * integer, the agg_mannwhitney midrank discipline without the halves),
    * so every sufficient statistic is an exact integer summed in
    * DECIMAL(38) (products reach ~10²¹ at sf1-per-stream — past BIGINT,
    * nowhere near 38 digits), and ρ is one division of exactly-known
    * integers. The doubling cancels between numerator and denominator.
    */
  private def q_agg_spearman(s: SparkSession, dir: String): DataFrame = {
    val cents = expr("cast(cast(value as decimal(18,6)) * 100 as bigint)")
    val base = E(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), cents.as("c"),
        hour(col("ts")).cast("long").as("h"))
    def dranks(dim: String): DataFrame = {
      val byVal = base.groupBy("event_type", dim).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy(dim)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byVal.withColumn("below", sum(col("cnt")).over(w) - col("cnt"))
        .select(col("event_type"), col(dim),
          (lit(2L) * col("below") + col("cnt") + 1L).as(s"r_$dim"))
    }
    val ranked = base
      .join(dranks("c"), Seq("event_type", "c"))
      .join(dranks("h"), Seq("event_type", "h"))
    val d38 = "decimal(38,0)"
    val g = ranked.groupBy("event_type").agg(
      count(lit(1)).cast(d38).as("n"),
      sum(col("r_c").cast(d38)).as("sx"),
      sum(col("r_h").cast(d38)).as("sy"),
      sum((col("r_c") * col("r_c")).cast(d38)).as("sxx"),
      sum((col("r_h") * col("r_h")).cast(d38)).as("syy"),
      sum((col("r_c") * col("r_h")).cast(d38)).as("sxy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
        .cast("double")) *
      sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
    g.select(col("event_type"), col("n").cast("long").as("n"),
        round(num / nullif(den, lit(0.0)), 6).as("rho"))
      .orderBy("event_type")
  }

  /** Brown–Forsythe LEVENE test per stream — variance homogeneity across
    * the four user-bucket groups, completing the ANOVA/Kruskal family
    * (ANOVA assumes it; this tests it, median-centered for robustness).
    * Exactness discipline: deviations are |2c − 2·median| — the exact
    * median of integer cents is integral or half-integral, so doubled
    * deviations are EXACT integers; per-stream sufficient statistics are
    * conditional-aggregation integer sums pivoted into ONE row, so the
    * F-statistic assembles in a FIXED expression order (a float sum over
    * group rows would be partition-order-dependent). Divisions are
    * null-guarded identically in both engines.
    */
  private def q_agg_levene(s: SparkSession, dir: String): DataFrame = {
    val c = expr("cast(cast(value as decimal(18,6)) * 100 as bigint)")
    val base = E(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), (col("user_id") % 4).as("g"), c.as("c"))
    val med = base.groupBy("event_type", "g")
      .agg(expr("percentile(c, 0.5)").as("med"))
    val dev = base.join(med, Seq("event_type", "g"))
      .select(col("event_type"), col("g"),
        abs(lit(2L) * col("c")
          - expr("cast(2.0 * med as bigint)")).as("d"))
    val sums: Seq[Column] = Seq(count(lit(1)).as("nn"),
      sum(col("d")).as("ss"), sum(col("d") * col("d")).as("qq")) ++
      (0 to 3).flatMap(i => Seq(
        sum(when(col("g") === i, 1L).otherwise(0L)).as(s"n$i"),
        sum(when(col("g") === i, col("d")).otherwise(0L)).as(s"s$i")))
    val gagg = dev.groupBy("event_type").agg(sums.head, sums.tail: _*)
    def term(i: Int): Column =
      col(s"s$i").cast("double") * col(s"s$i").cast("double") /
        nullif(col(s"n$i").cast("double"), lit(0.0))
    val within = term(0) + term(1) + term(2) + term(3)
    val ssb = within - col("ss").cast("double") * col("ss").cast("double") /
      col("nn").cast("double")
    val ssw = col("qq").cast("double") - within
    val w = (ssb / 3.0) / nullif(ssw / (col("nn").cast("double") - 4.0), lit(0.0))
    gagg.select(col("event_type"), col("nn").cast("long").as("n"),
        round(w, 6).as("w_stat"))
      .orderBy("event_type")
  }

  /** Wald–Wolfowitz RUNS TEST per stream — is the above/below-median
    * sign sequence random over time? Ties with the median are excluded
    * (the classic convention); runs count by a keyed lag window over the
    * total (ts, event_id) order; z from exact integer counts in a fixed
    * expression order. The time-ordered randomness screen next to
    * agg_trend_mk's monotonic-trend test.
    */
  private def q_agg_runs_test(s: SparkSession, dir: String): DataFrame = {
    val c = expr("cast(cast(value as decimal(18,6)) * 100 as bigint)")
    val base = E(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), col("ts"), col("event_id"), c.as("c"))
    val med = base.groupBy("event_type")
      .agg(expr("percentile(c, 0.5)").as("med"))
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val signed = base.join(med, "event_type")
      .filter(col("c").cast("double") =!= col("med"))
      .withColumn("s", (col("c").cast("double") > col("med")).cast("int"))
    val runs = signed
      .withColumn("prev", lag(col("s"), 1).over(w))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("s"), 1L).otherwise(0L))
      .groupBy("event_type").agg(
        sum(col("chg")).as("r"),
        sum(when(col("s") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("s") === 0, 1L).otherwise(0L)).as("n0"))
    val p = (lit(2L) * col("n1") * col("n0")).cast("double")
    val nTot = (col("n1") + col("n0")).cast("double")
    val mu = p / nTot + 1.0
    val sig2 = p * (p - nTot) / (nTot * nTot * (nTot - 1.0))
    runs.select(col("event_type"), col("n1"), col("n0"), col("r"),
        round((col("r").cast("double") - mu) / nullif(sqrt(sig2), lit(0.0)), 6)
          .as("z"))
      .orderBy("event_type")
  }

  /** Top user journey prefixes — each user's first three events by the
    * total (ts, event_id) order, folded to an "a>b>c" path and counted
    * (the product-analytics path report beside agg_funnel). One keyed
    * window (partition = user) + conditional-aggregation pivot — no
    * collect_list ordering hazards; users with fewer than three events
    * keep their shorter prefix (concat_ws skips the missing steps
    * identically in both engines).
    */
  private def q_agg_top_paths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    E(s, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .groupBy("user_id").agg(
        max(when(col("rn") === 1, col("event_type"))).as("e1"),
        max(when(col("rn") === 2, col("event_type"))).as("e2"),
        max(when(col("rn") === 3, col("event_type"))).as("e3"))
      .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(20)
  }

  /** SKYLINE (Pareto-optimal set) of users over (total spend, event
    * count) — the classic non-dominated-set operator (Börzsönyi et al.
    * 2001), DISTRIBUTED as the published divide-and-conquer so no stage
    * ever windows over a single partition (PlanAuditSpec's 100 TB
    * audit): (1) points bucket by a v-range key; (2) each bucket runs
    * the sort-scan dominance test locally (keyed windows: a point is
    * bucket-dominated iff the max n over strictly-greater-v rows in its
    * bucket — integer RANGE frame on exact cents — reaches its n, or a
    * same-v row beats it); (3) cross-bucket domination reduces to the
    * model-sized per-bucket max-n table, self-joined broadcast for a
    * strictly-higher-bucket suffix max (bucket(v')>bucket(v) ⇒ v'>v, so
    * hmax ≥ n is exactly "a higher-bucket dominator exists"). The merge
    * compares only exact integers, so the distributed form returns THE
    * skyline — the oracle states the simple single-scan SQL and the
    * hashes must agree.
    */
  private def q_agg_skyline(s: SparkSession, dir: String): DataFrame = {
    val cents = expr("cast(cast(value as decimal(18,6)) * 100 as bigint)")
    val per = E(s, dir).filter(col("value").isNotNull)
      .groupBy("user_id").agg(sum(cents).as("v"), count(lit(1)).as("n"))
    // one row per user, read by the skyline windows AND the bucket-max
    // legs - materialize ONCE (round 14: each reference replayed the
    // events scan + per-user aggregation)
    val pts = per.withColumn("bkt",
      floor(col("v").cast("double") / 1000000.0).cast("long"))
      .localCheckpoint()
    val wStrict = Window.partitionBy("bkt").orderBy(col("v").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val wTie = Window.partitionBy("v")
    val local = pts
      .withColumn("mx_strict", max(col("n")).over(wStrict))
      .withColumn("mx_tie", max(col("n")).over(wTie))
      .filter((col("mx_strict").isNull || col("mx_strict") < col("n")) &&
        col("mx_tie") === col("n"))
    val bmax = pts.groupBy("bkt").agg(max(col("n")).as("bn"))
    val hb = bmax.select(col("bkt").as("lo_bkt"))
      .join(broadcast(bmax.select(col("bkt").as("hi_bkt"), col("bn"))),
        col("hi_bkt") > col("lo_bkt"))
      .groupBy(col("lo_bkt").as("bkt")).agg(max(col("bn")).as("hmax"))
    local.join(broadcast(hb), Seq("bkt"), "left_outer")
      .filter(col("hmax").isNull || col("hmax") < col("n"))
      .select(col("user_id"),
        round(col("v").cast("double") / 100.0, 2).as("total_value"),
        col("n").as("n_events"))
      .orderBy("user_id")
  }

  /** Positional PHRASE SEARCH — documents containing the exact adjacent
    * pair "hash join", with hit count and first position (1-based). The
    * inverted-index discipline: the per-token stream is FILTERED to the
    * phrase positions inside the per-document lambda (one pass over each
    * doc's token array, no posting explosion for the rest of the
    * vocabulary); Spark's 1-based `element_at` mirrors DuckDB's 1-based
    * list indexing so the position arithmetic is engine-identical.
    */
  private def q_search_phrase(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "filter(sequence(1, size(ws) - 1), " +
          "i -> element_at(ws, i) = 'hash' AND element_at(ws, i + 1) = 'join')"))
        .as("pos"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"),
        min(col("pos")).cast("long").as("first_pos"))
      .orderBy("doc_id")

  /** Per-segment UPLIFT of the A/B split on purchase conversion — the
    * two-model causal report next to agg_ab_ttest's mean test: the same
    * deterministic treatment assignment (even user_id — the registry's
    * established split), conversion = "user emitted ≥1 purchase", and
    * per user-segment the exact treated/control conversion ratios and
    * their difference. Two groupBys (user-level fold, then segment
    * roll-up) — everything after the first is model-sized algebra, and
    * every rate is an exact integer ratio with one final division.
    */
  private def q_agg_uplift(s: SparkSession, dir: String): DataFrame = {
    val users = E(s, dir).groupBy("user_id").agg(
      max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .select(col("user_id"), (col("user_id") % 5).as("segment"),
        (col("user_id") % 2 === 0).as("treated"), col("conv"))
    users.groupBy("segment").agg(
        sum(when(col("treated"), 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treated"), col("conv")).otherwise(0L)).as("conv_t"),
        sum(when(col("treated"), 0L).otherwise(1L)).as("n_c"),
        sum(when(col("treated"), 0L).otherwise(col("conv"))).as("conv_c"))
      .select(col("segment"), col("n_t"), col("conv_t"), col("n_c"),
        col("conv_c"),
        round(col("conv_t").cast("double") / col("n_t").cast("double"), 6)
          .as("rate_t"),
        round(col("conv_c").cast("double") / col("n_c").cast("double"), 6)
          .as("rate_c"),
        round(col("conv_t").cast("double") / col("n_t").cast("double")
          - col("conv_c").cast("double") / col("n_c").cast("double"), 6)
          .as("uplift"))
      .orderBy("segment")
  }

  /** BOOLEAN SEARCH — docs matching (hash AND merge AND NOT slow), with
    * per-term occurrence counts. The inverted-index discipline again:
    * the token stream is filtered to the three query terms BEFORE any
    * aggregation (postings for the rest of the vocabulary never
    * materialize), then one groupBy evaluates the conjunction from exact
    * counts; NOT is a zero-count predicate, not an anti-join.
    */
  private def q_search_boolean(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w").isin("hash", "merge", "slow"))
      .groupBy("doc_id")
      .agg(sum(when(col("w") === "hash", 1L).otherwise(0L)).as("n_hash"),
        sum(when(col("w") === "merge", 1L).otherwise(0L)).as("n_merge"),
        sum(when(col("w") === "slow", 1L).otherwise(0L)).as("n_slow"))
      .filter(col("n_hash") > 0 && col("n_merge") > 0 && col("n_slow") === 0)
      .select(col("doc_id"), col("n_hash"), col("n_merge"))
      .orderBy("doc_id")

  /** POINT-IN-POLYGON join: every (user point, triangle) containment
    * pair, with one hash-derived triangle per supplier (center ±50°/
    * ±170°, vertices center ±10°) — the spatial-join primitive
    * (geofencing, region tagging). The containment test is THREE INTEGER
    * CROSS PRODUCTS on the e4 grid (same-sign ⇒ inside, boundary
    * inclusive) — planar geometry, no floats anywhere, so the pair set
    * is exact by construction in any engine (products bounded by
    * (3.8·10⁶)² < 2⁶³). The triangle side is a DIM table — model-sized
    * at any corpus scale — broadcast against the one point scan; a
    * production variant with millions of polygons would bucket polygon
    * bboxes onto [[graft.ops.Geo.radiusPairs]]' grid and equi-join cells
    * instead (same plan family as ml_dbscan's ε-pairs).
    */
  private def q_join_geo_polygon(s: SparkSession, dir: String): DataFrame = {
    fenceHits(s, dir, E(s, dir).select(col("user_id")).distinct())
      .select(col("user_id"), col("tri_id"))
      .orderBy("user_id", "tri_id")
  }

  /** Per-stream skewness and excess kurtosis from EXACT integer power
    * sums — the distribution-shape screen next to agg_metrics. The key
    * identity: with Sk = Σ c^k over deci-unit ints c, the n-scaled
    * central sums SS2 = n·S2−S1², SS3 = n²·S3−3n·S1·S2+2·S1³,
    * SS4 = n³·S4−4n²·S1·S3+6n·S1²·S2−3·S1⁴ are integers, and the
    * n-powers cancel in g1 = SS3/SS2^1.5, g2 = SS4/SS2²−3 — so the
    * only float ops are two divisions on exactly-known integers,
    * bit-identical in any engine and under any partitioning (no
    * streaming-variance epsilon). Magnitude bound: |c| ≤ 5·10³,
    * n ≤ 2·10⁵ per stream keeps |SS4| < 10³⁶ inside DECIMAL(38)/
    * HUGEINT — ~sf1 per stream; beyond that, switch to Chan et al.
    * pairwise central-moment merging (same outputs, float partials).
    */
  private def q_agg_moments(s: SparkSession, dir: String): DataFrame = {
    val c = expr(
      "cast(cast(value as decimal(18,6)) * 1000000 as bigint) div 100000")
    val d38 = "decimal(38,0)"
    val base = E(s, dir).filter(col("value").isNotNull)
      .select(col("event_type"), c.as("c"))
    val sums = base.groupBy("event_type").agg(
      count(lit(1)).cast(d38).as("n"),
      sum(col("c").cast(d38)).as("s1"),
      sum((col("c") * col("c")).cast(d38)).as("s2"),
      sum((col("c") * col("c") * col("c")).cast(d38)).as("s3"),
      sum((col("c") * col("c") * col("c") * col("c")).cast(d38)).as("s4"))
    val ss2 = (col("n") * col("s2") - col("s1") * col("s1")).as("ss2")
    val ss3 = (col("n") * col("n") * col("s3")
      - lit(3).cast(d38) * col("n") * col("s1") * col("s2")
      + lit(2).cast(d38) * col("s1") * col("s1") * col("s1")).as("ss3")
    val ss4 = (col("n") * col("n") * col("n") * col("s4")
      - lit(4).cast(d38) * col("n") * col("n") * col("s1") * col("s3")
      + lit(6).cast(d38) * col("n") * col("s1") * col("s1") * col("s2")
      - lit(3).cast(d38) * col("s1") * col("s1") * col("s1") * col("s1")).as("ss4")
    sums.select(col("event_type"), col("n"), col("s1"), ss2, ss3, ss4)
      .select(col("event_type"),
        col("n").cast("long").as("n"),
        round(col("s1").cast("double") / col("n").cast("double") / 10.0, 6)
          .as("mean_v"),
        round(col("ss3").cast("double") /
          (col("ss2").cast("double") * sqrt(col("ss2").cast("double"))), 6)
          .as("skewness"),
        round(col("ss4").cast("double") /
          (col("ss2").cast("double") * col("ss2").cast("double")) - 3.0, 6)
          .as("kurtosis"))
      .orderBy("event_type")
  }

  // Shared oracle fragments

  /** Generated oracle for agg_dtw_profiles: the Sakoe-Chiba banded DTW
    * DP unrolled as one CTE PER CELL (row-major, so every neighbor is
    * already defined) — cell (i,j) exists iff |i−j| ≤ band, its value is
    * abs(pa[i]−pb[j]) + least(existing neighbors), and neighbors outside
    * the band simply drop out of least() exactly as the Scala DP's INF
    * sentinels drop out of min(). Band mirrors [[DtwDistance.Band]]
    * (every 24-point profile pair runs at radius 3 — equal lengths, so
    * the |n−m| widening never engages). 162 in-band cells → 162 chained
    * CTEs over the ~10 pair rows: trivial for the oracle engine, and the
    * answer c_24_24 must match Spark's rounded double bit-for-bit
    * because both DPs consume the identical cent-exact profile doubles.
    */
  private def dtwOracleSql: String = {
    val n = 24
    val band = graft.expressions.DtwDistance.Band
    def inBand(i: Int, j: Int): Boolean =
      i >= 1 && i <= n && j >= 1 && j <= n && math.abs(i - j) <= band
    val cellCtes = for {
      i <- 1 to n
      j <- math.max(1, i - band) to math.min(n, i + band)
    } yield {
      val nbrs = Seq(
        if (i == 1 && j == 1) Some("0.0") else None,
        if (inBand(i - 1, j)) Some(s"c_${i - 1}_$j") else None,
        if (inBand(i, j - 1)) Some(s"c_${i}_${j - 1}") else None,
        if (inBand(i - 1, j - 1)) Some(s"c_${i - 1}_${j - 1}") else None
      ).flatten
      val best =
        if (nbrs.size == 1) nbrs.head else s"least(${nbrs.mkString(", ")})"
      val src = if (i == 1 && j == 1) "pr" else prevCell(i, j, band, n)
      s"r_${i}_$j AS (SELECT *, abs(pa[$i] - pb[$j]) + $best AS c_${i}_$j FROM $src)"
    }
    s"""WITH p AS (SELECT event_type, hour(CAST(ts AS TIMESTAMP)) AS h,
       |    CAST(($microSumSql
       |      // count(*)) // 10000 AS DOUBLE) AS m
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       |prof AS (SELECT event_type, list(m ORDER BY h) AS xs
       |  FROM p GROUP BY 1 HAVING count(*) = 24),
       |pr AS (SELECT a.event_type AS tag_a, b.event_type AS tag_b,
       |    a.xs AS pa, b.xs AS pb
       |  FROM prof a JOIN prof b ON a.event_type < b.event_type),
       |${cellCtes.mkString(",\n")}
       |SELECT tag_a, tag_b, round(c_${n}_$n, 6) AS dtw
       |FROM r_${n}_$n ORDER BY tag_a, tag_b""".stripMargin
  }

  /** Row-major predecessor CTE name for [[dtwOracleSql]]'s cell chain:
    * the previous in-band cell of row i, or the last cell of row i−1. */
  private def prevCell(i: Int, j: Int, band: Int, n: Int): String =
    if (j - 1 >= math.max(1, i - band)) s"r_${i}_${j - 1}"
    else s"r_${i - 1}_${math.min(n, i - 1 + band)}"

  /** Mirror of AnomalyMath.fixedPointMetricsStats over lineitem with
    * ŷ = 1000·l_quantity: k_y/k_e are exact cents-integers (BIGINT), and
    * the squares are split q/r by 10^8 so every sum stays under 2^53 —
    * the bound below which every engine's int→double conversion is exact
    * (above it, wide-decimal→double rounding is engine-specific). The
    * CAST(SUM(..) AS BIGINT)s also keep the output off HUGEINT, whose
    * Python float64 round-trip hash-mismatches Spark's BIGINT.
    */
  private val metricsStatsCte =
    """k AS (SELECT l_returnflag,
      |        CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS ky,
      |        CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |          - CAST(CAST(l_quantity * 1000 AS DECIMAL(18,2)) * 100 AS BIGINT) AS ke
      |      FROM lineitem),
      |a AS (SELECT l_returnflag, count(*) AS n,
      |        CAST(SUM(abs(ke)) AS BIGINT) AS s_ae,
      |        CAST(SUM(ke) AS BIGINT) AS s_e,
      |        CAST(SUM(ke * ke // 100000000) AS BIGINT) AS s_eq,
      |        CAST(SUM(ke * ke % 100000000) AS BIGINT) AS s_er,
      |        CAST(SUM(ky) AS BIGINT) AS s_y,
      |        CAST(SUM(ky * ky // 100000000) AS BIGINT) AS s_yq,
      |        CAST(SUM(ky * ky % 100000000) AS BIGINT) AS s_yr
      |      FROM k GROUP BY 1)""".stripMargin

  /** Shared trigram/profile CTE prefix of the trained-langid oracle and
    * its staged diagnostics: lowered text → char trigrams → per-lang
    * top-100 profile (`lr`) and per-doc top-100 ranks (`dr`).
    */
  private val langidGramCtes =
    """lt AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
      |cg AS (SELECT doc_id, lang,
      |         unnest(list_transform(range(1, length(t) - 1), i -> substr(t, i, 3))) AS g
      |       FROM lt),
      |lgc AS (SELECT lang, g, count(*) AS c FROM cg GROUP BY 1, 2),
      |lr AS (SELECT lang, g, rnk FROM (
      |         SELECT lang, g, row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) AS rnk
      |         FROM lgc) WHERE rnk <= 100),
      |dgc AS (SELECT doc_id, g, count(*) AS c FROM cg GROUP BY 1, 2),
      |dr AS (SELECT doc_id, g, drnk FROM (
      |         SELECT doc_id, g, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS drnk
      |         FROM dgc) WHERE drnk <= 100)""".stripMargin

  /** TextRank oracle: segment/word triples via WITH ORDINALITY, the
    * identical overlap edges, 8 unrolled integer PageRank CTEs per doc,
    * winner by (pi desc, seg).
    */
  private def textrankOracle: String = {
    val iters = (1 to 8).map { k =>
      s"""p$k AS MATERIALIZED (SELECT n.doc_id, n.seg,
         |    150000 + (850 * COALESCE(f.inflow, 0)) // 1000 AS pi
         |  FROM nodes n
         |  LEFT JOIN (SELECT m.doc_id, m.sb AS seg,
         |      CAST(sum((p${k - 1}.pi * m.wt) // m.ws) AS BIGINT) AS inflow
         |    FROM m JOIN p${k - 1}
         |      ON p${k - 1}.doc_id = m.doc_id AND p${k - 1}.seg = m.sa
         |    GROUP BY 1, 2) f
         |    ON f.doc_id = n.doc_id AND f.seg = n.seg)"""
    }.mkString(",\n|")
    s"""WITH t0 AS (SELECT doc_id,
       |    string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
       |toks0 AS (SELECT doc_id,
       |    unnest(list_transform(range(1, len(ws) + 1),
       |      i -> {'seg': (i - 1) // 10, 'w': ws[i]})) AS sw
       |  FROM t0),
       |toks AS MATERIALIZED (SELECT DISTINCT doc_id,
       |    CAST(sw.seg AS BIGINT) AS seg, sw.w AS w FROM toks0),
       |e AS (SELECT a.doc_id, a.seg AS sa, b.seg AS sb, count(*) AS wt
       |  FROM toks a JOIN toks b
       |    ON a.doc_id = b.doc_id AND a.w = b.w AND a.seg <> b.seg
       |  GROUP BY 1, 2, 3),
       |wsum AS (SELECT doc_id, sa, CAST(sum(wt) AS BIGINT) AS ws
       |  FROM e GROUP BY 1, 2),
       |m AS MATERIALIZED (SELECT e.doc_id, e.sa, e.sb, e.wt, wsum.ws
       |  FROM e JOIN wsum USING (doc_id, sa)),
       |nodes AS MATERIALIZED (SELECT DISTINCT doc_id, seg FROM toks),
       |p0 AS (SELECT doc_id, seg, CAST(1000000 AS BIGINT) AS pi FROM nodes),
       |$iters,
       |r AS (SELECT doc_id, seg, pi, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY pi DESC, seg) AS rn FROM p8)
       |SELECT doc_id, seg AS top_segment, CAST(pi AS BIGINT) AS pi
       |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  /** Basket-lift oracle: session islands, one conditional-max presence
    * pass, the identical lift algebra generated over the same pair list.
    */
  private def basketLiftOracle: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val hasCols = types.map(t =>
      s"max(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS has_$t")
      .mkString(",\n|    ")
    val sums = (types.map(t =>
      s"CAST(sum(has_$t) AS BIGINT) AS n_$t") ++
      (for { a <- types; b <- types if a != b }
        yield s"CAST(sum(has_$a * has_$b) AS BIGINT) AS n_${a}_$b"))
      .mkString(",\n|    ")
    val selects = (for { a <- types; b <- types if a != b } yield
      s"""SELECT '$a' AS type_a, '$b' AS type_b, n_${a}_$b AS n_both,
         |  round(CAST(n_${a}_$b * n_sessions AS DOUBLE)
         |    / NULLIF(CAST(n_$a * n_$b AS DOUBLE), 0), 6) AS lift
         |FROM g""").mkString("\n|UNION ALL\n|")
    s"""WITH o AS (SELECT user_id, event_type,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
       |m AS (SELECT user_id, event_type, us,
       |    CASE WHEN lag(us) OVER w IS NULL
       |         OR us - lag(us) OVER w >= 1800000000
       |    THEN 1 ELSE 0 END AS new_s
       |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us)),
       |s AS (SELECT user_id, event_type,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM m),
       |sess AS (SELECT user_id, sid,
       |    $hasCols
       |  FROM s GROUP BY 1, 2),
       |g AS (SELECT count(*) AS n_sessions,
       |    $sums
       |  FROM sess)
       |SELECT * FROM (
       |$selects
       |) ORDER BY type_a, type_b""".stripMargin
  }

  /** Stationary-distribution oracle: the transition counts
    * ([[transitionCountsCtes]]), then 12 unrolled integer
    * power-iteration CTEs (the pagerank pattern).
    */
  private def markovStationaryOracle: String = {
    val iters = (1 to 12).map { k =>
      s"""p$k AS MATERIALIZED (SELECT st.state,
         |    COALESCE(f.inflow, 0) AS pi
         |  FROM states st
         |  LEFT JOIN (SELECT m.next_type AS state,
         |      CAST(sum((p${k - 1}.pi * m.n) // m.rs) AS BIGINT) AS inflow
         |    FROM m JOIN p${k - 1} ON p${k - 1}.state = m.prev_type
         |    GROUP BY 1) f USING (state))"""
    }.mkString(",\n|")
    s"""WITH $transitionCountsCtes,
       |rs AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS rs
       |       FROM c GROUP BY 1),
       |m AS MATERIALIZED (SELECT c.prev_type, c.next_type, c.n, rs.rs
       |     FROM c JOIN rs USING (prev_type)),
       |states AS MATERIALIZED (SELECT DISTINCT prev_type AS state FROM m),
       |p0 AS (SELECT state, CAST(1000000 AS BIGINT) AS pi FROM states),
       |$iters
       |SELECT state, CAST(pi AS BIGINT) AS pi FROM p12
       |ORDER BY state""".stripMargin
  }

  private val joinAlignSql =
    s"""WITH c AS (SELECT $bucket10m AS bucket, avg(value) AS cv
       |           FROM events WHERE event_type = 'click' GROUP BY 1),
       |     v AS (SELECT $bucket10m AS bucket, avg(value) AS vv
       |           FROM events WHERE event_type = 'view' GROUP BY 1)
       |SELECT c.bucket AS bucket, round(cv, 6) AS click_v, round(vv, 6) AS view_v,
       |       round(abs(cv - vv), 6) AS diff_score
       |FROM c JOIN v ON c.bucket = v.bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------
  // The contract maps
  // ---------------------------------------------------------------------

  /** This file's query table: one [[graft.queries.Query]] per query not
    * yet moved to a family file, each with its build function and its
    * DuckDB oracle. `Published()` marks an oracle only the query itself
    * can write (fitted parameters, a persisted artifact; see
    * [[graft.queries.Oracle.Published]]).
    */
  private val entryQueries: Seq[Query] = Seq(
    // sketch-guarantee oracles (round 10): the exact side is SQL, the
    // sketch side asserts its published bounds as booleans the oracle
    // pins TRUE — deterministic on fixed data, so a sketch regression
    // hash-fails the row (see the query scaladocs).
    Query("agg_countmin", q_agg_countmin, Sql(
      """WITH probes AS (SELECT CAST(unnest(range(0, 20)) AS INTEGER) AS user_id),
        |ex AS (SELECT CAST(user_id AS INTEGER) AS user_id, count(*) AS exact
        |       FROM events WHERE user_id BETWEEN 0 AND 19 GROUP BY 1)
        |SELECT p.user_id, CAST(coalesce(ex.exact, 0) AS BIGINT) AS exact,
        |  TRUE AS one_sided, TRUE AS within_eps
        |FROM probes p LEFT JOIN ex USING (user_id) ORDER BY user_id""".stripMargin)),
    Query("agg_hll_distinct", q_agg_hll_distinct, Sql(
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_suppkey) AS exact_supps,
        |  count(*) AS n,
        |  TRUE AS parts_within_3rsd, TRUE AS supps_within_3rsd
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("agg_heavyhitters", q_agg_heavyhitters, Sql(heavyHittersOracleSql)),
    // BPE reconstruction identity: the Spark side hashes the sorted
    // reconstructed words FROM THE EMITTED TOKEN LISTS; this side hashes
    // the raw words — equal only if the encoder round-trips every word
    Query("text_bpe_tokens", q_text_bpe_tokens, Sql(
      """WITH w AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        |nz AS (SELECT doc_id, w FROM w WHERE w <> ''),
        |agg AS (SELECT doc_id, count(*) AS n_words,
        |    md5(string_agg(w || '</w>', '' ORDER BY w || '</w>')) AS recon_hash
        |  FROM nz GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
        |  a.recon_hash, TRUE AS bpe_in_bounds
        |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin)),
    Query("join_geo_radius", q_join_geo_radius, Sql {
      val (cla, clo) = geoE4Sql("c", "c_custkey")
      val (sla, slo) = geoE4Sql("s", "s_suppkey")
      s"""WITH c AS (SELECT c_custkey AS cust, $cla AS lat_e4, $clo AS lon_e4
         |  FROM customer),
         |s AS (SELECT s_suppkey AS supp, $sla AS lat_e4, $slo AS lon_e4
         |  FROM supplier),
         |p AS (SELECT cust, supp,
         |    ${graft.ops.Geo.haversineSql("(c.lat_e4/10000.0)", "(c.lon_e4/10000.0)",
                "(s.lat_e4/10000.0)", "(s.lon_e4/10000.0)")} AS dist_km
         |  FROM c, s)
         |SELECT cust, supp, round(dist_km, 6) AS dist_km
         |FROM p WHERE dist_km < 500.0 ORDER BY cust, supp""".stripMargin
    }),
    Query("join_geo_radius_sql", q_join_geo_radius_sql, Sql {
      val (cla, clo) = geoE4Sql("c", "c_custkey")
      val (sla, slo) = geoE4Sql("s", "s_suppkey")
      s"""WITH c AS (SELECT c_custkey AS cust, $cla AS lat_e4, $clo AS lon_e4
         |  FROM customer),
         |s AS (SELECT s_suppkey AS supp, $sla AS lat_e4, $slo AS lon_e4
         |  FROM supplier),
         |p AS (SELECT cust, supp,
         |    ${graft.ops.Geo.haversineSql("(c.lat_e4/10000.0)", "(c.lon_e4/10000.0)",
                "(s.lat_e4/10000.0)", "(s.lon_e4/10000.0)")} AS dist_km
         |  FROM c, s)
         |SELECT cust, supp, round(dist_km, 6) AS dist_km
         |FROM p WHERE dist_km < 800.0 ORDER BY cust, supp""".stripMargin
    }),
    Query("join_geo_knn", q_join_geo_knn, Sql {
      val (cla, clo) = geoE4Sql("c", "c_custkey")
      val (sla, slo) = geoE4Sql("s", "s_suppkey")
      s"""WITH c AS (SELECT c_custkey AS cust, $cla AS lat_e4, $clo AS lon_e4
         |  FROM customer),
         |s AS (SELECT s_suppkey AS supp, $sla AS lat_e4, $slo AS lon_e4
         |  FROM supplier),
         |d AS (SELECT cust, supp,
         |    ${graft.ops.Geo.haversineSql("(c.lat_e4/10000.0)", "(c.lon_e4/10000.0)",
                "(s.lat_e4/10000.0)", "(s.lon_e4/10000.0)")} AS dist_km
         |  FROM c, s),
         |r AS (SELECT cust, supp, dist_km,
         |    row_number() OVER (PARTITION BY cust ORDER BY dist_km, supp) AS rn
         |  FROM d)
         |SELECT cust, supp, round(dist_km, 6) AS dist_km
         |FROM r WHERE rn = 1 ORDER BY cust""".stripMargin
    }),
    Query("agg_geo_density", q_agg_geo_density, Sql {
      val (ula, ulo) = geoE4Sql("u", "user_id")
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |g AS (SELECT user_id, $ula AS lat_e4, $ulo AS lon_e4 FROM u),
         |cells AS (SELECT (lat_e4 + 600000) // 50000 AS cell_y,
         |    (lon_e4 + 1800000) // 50000 AS cell_x,
         |    count(*) AS n_users, sum(lat_e4) AS sy, sum(lon_e4) AS sx
         |  FROM g GROUP BY 1, 2)
         |SELECT cell_y, cell_x, n_users,
         |  round(CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE) / 10000.0, 6)
         |    AS ctr_lat,
         |  round(CAST(sx AS DOUBLE) / CAST(n_users AS DOUBLE) / 10000.0, 6)
         |    AS ctr_lon
         |FROM cells ORDER BY n_users DESC, cell_y, cell_x LIMIT 15""".stripMargin
    }),
    Query("agg_moments", q_agg_moments, Sql(
      """WITH b AS (SELECT event_type,
        |    (CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
        |      // 100000) AS c
        |  FROM events WHERE value IS NOT NULL),
        |sums AS (SELECT event_type,
        |    CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(c AS HUGEINT)) AS s1,
        |    sum(CAST(c AS HUGEINT) * c) AS s2,
        |    sum(CAST(c AS HUGEINT) * c * c) AS s3,
        |    sum(CAST(c AS HUGEINT) * c * c * c) AS s4
        |  FROM b GROUP BY 1),
        |ss AS (SELECT event_type, n, s1,
        |    n*s2 - s1*s1 AS ss2,
        |    n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1 AS ss3,
        |    n*n*n*s4 - 4*n*n*s1*s3 + 6*n*s1*s1*s2 - 3*s1*s1*s1*s1 AS ss4
        |  FROM sums)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 10.0, 6) AS mean_v,
        |  round(CAST(ss3 AS DOUBLE)
        |    / (CAST(ss2 AS DOUBLE) * sqrt(CAST(ss2 AS DOUBLE))), 6) AS skewness,
        |  round(CAST(ss4 AS DOUBLE)
        |    / (CAST(ss2 AS DOUBLE) * CAST(ss2 AS DOUBLE)) - 3.0, 6) AS kurtosis
        |FROM ss ORDER BY event_type""".stripMargin)),
    Query("agg_spearman", q_agg_spearman, Sql(
      """WITH b AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT) AS c,
        |    CAST(hour(ts) AS BIGINT) AS h
        |  FROM events WHERE value IS NOT NULL),
        |rc AS (SELECT event_type, c,
        |    2 * (CAST(sum(count(*)) OVER (PARTITION BY event_type ORDER BY c
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) - count(*))
        |      + count(*) + 1 AS r_c
        |  FROM b GROUP BY 1, 2),
        |rh AS (SELECT event_type, h,
        |    2 * (CAST(sum(count(*)) OVER (PARTITION BY event_type ORDER BY h
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) - count(*))
        |      + count(*) + 1 AS r_h
        |  FROM b GROUP BY 1, 2),
        |r AS (SELECT b.event_type, rc.r_c, rh.r_h
        |  FROM b JOIN rc ON rc.event_type = b.event_type AND rc.c = b.c
        |         JOIN rh ON rh.event_type = b.event_type AND rh.h = b.h),
        |g AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(r_c AS HUGEINT)) AS sx, sum(CAST(r_h AS HUGEINT)) AS sy,
        |    sum(CAST(r_c AS HUGEINT) * r_c) AS sxx,
        |    sum(CAST(r_h AS HUGEINT) * r_h) AS syy,
        |    sum(CAST(r_c AS HUGEINT) * r_h) AS sxy
        |  FROM r GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0), 6) AS rho
        |FROM g ORDER BY event_type""".stripMargin)),
    Query("agg_levene", q_agg_levene, Sql {
      val term = (0 to 3).map(i =>
        s"CAST(s$i AS DOUBLE) * CAST(s$i AS DOUBLE) / nullif(CAST(n$i AS DOUBLE), 0)")
        .mkString(" + ")
      val csum = (0 to 3).map(i =>
        s"""CAST(sum(CASE WHEN g = $i THEN 1 ELSE 0 END) AS BIGINT) AS n$i,
           |    CAST(sum(CASE WHEN g = $i THEN d ELSE 0 END) AS BIGINT) AS s$i""")
        .mkString(",\n|    ")
      s"""WITH b AS (SELECT event_type, user_id % 4 AS g,
         |    CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT) AS c
         |  FROM events WHERE value IS NOT NULL),
         |m AS (SELECT event_type, g, quantile_cont(c, 0.5) AS med
         |  FROM b GROUP BY 1, 2),
         |dv AS (SELECT b.event_type, b.g,
         |    abs(2 * b.c - CAST(2.0 * m.med AS BIGINT)) AS d
         |  FROM b JOIN m ON m.event_type = b.event_type AND m.g = b.g),
         |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nn,
         |    CAST(sum(d) AS BIGINT) AS ss,
         |    CAST(sum(CAST(d AS HUGEINT) * d) AS BIGINT) AS qq,
         |    $csum
         |  FROM dv GROUP BY 1),
         |f AS (SELECT event_type, nn,
         |    ($term) AS within,
         |    CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)
         |      AS tot
         |  FROM a),
         |g2 AS (SELECT f.event_type, f.nn,
         |    ((f.within - f.tot) / 3.0)
         |      / nullif((CAST(a.qq AS DOUBLE) - f.within)
         |          / (CAST(f.nn AS DOUBLE) - 4.0), 0) AS w
         |  FROM f JOIN a ON a.event_type = f.event_type)
         |SELECT event_type, nn AS n, round(w, 6) AS w_stat
         |FROM g2 ORDER BY event_type""".stripMargin
    }),
    Query("agg_runs_test", q_agg_runs_test, Sql(
      """WITH b AS (SELECT event_type, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT event_type, quantile_cont(c, 0.5) AS med
        |  FROM b GROUP BY 1),
        |sg AS (SELECT b.event_type, b.ts, b.event_id,
        |    CASE WHEN CAST(b.c AS DOUBLE) > m.med THEN 1 ELSE 0 END AS s
        |  FROM b JOIN m ON m.event_type = b.event_type
        |  WHERE CAST(b.c AS DOUBLE) <> m.med),
        |ch AS (SELECT event_type, s,
        |    lag(s) OVER (PARTITION BY event_type ORDER BY ts, event_id)
        |      AS prev
        |  FROM sg),
        |a AS (SELECT event_type,
        |    CAST(sum(CASE WHEN prev IS NULL OR prev <> s THEN 1 ELSE 0 END)
        |      AS BIGINT) AS r,
        |    CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
        |  FROM ch GROUP BY 1)
        |SELECT event_type, n1, n0, r,
        |  round((CAST(r AS DOUBLE)
        |      - (CAST(2 * n1 * n0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE) + 1.0))
        |    / nullif(sqrt(CAST(2 * n1 * n0 AS DOUBLE)
        |        * (CAST(2 * n1 * n0 AS DOUBLE) - CAST(n1 + n0 AS DOUBLE))
        |        / (CAST(n1 + n0 AS DOUBLE) * CAST(n1 + n0 AS DOUBLE)
        |          * (CAST(n1 + n0 AS DOUBLE) - 1.0))), 0), 6) AS z
        |FROM a ORDER BY event_type""".stripMargin)),
    Query("agg_uplift", q_agg_uplift, Sql(
      """WITH u AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1),
        |t AS (SELECT user_id % 5 AS segment, user_id % 2 = 0 AS treated,
        |    conv FROM u),
        |g AS (SELECT segment,
        |    CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(sum(CASE WHEN treated THEN conv ELSE 0 END) AS BIGINT)
        |      AS conv_t,
        |    CAST(sum(CASE WHEN treated THEN 0 ELSE 1 END) AS BIGINT) AS n_c,
        |    CAST(sum(CASE WHEN treated THEN 0 ELSE conv END) AS BIGINT)
        |      AS conv_c
        |  FROM t GROUP BY 1)
        |SELECT segment, n_t, conv_t, n_c, conv_c,
        |  round(CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE), 6) AS rate_t,
        |  round(CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6) AS rate_c,
        |  round(CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |    - CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6) AS uplift
        |FROM g ORDER BY segment""".stripMargin)),
    Query("search_boolean", q_search_boolean, Sql(
      """WITH w AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        |f AS (SELECT doc_id, w FROM w WHERE w IN ('hash', 'merge', 'slow')),
        |g AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN w = 'hash' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hash,
        |    CAST(sum(CASE WHEN w = 'merge' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_merge,
        |    CAST(sum(CASE WHEN w = 'slow' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_slow
        |  FROM f GROUP BY 1)
        |SELECT doc_id, n_hash, n_merge FROM g
        |WHERE n_hash > 0 AND n_merge > 0 AND n_slow = 0
        |ORDER BY doc_id""".stripMargin)),
    Query("agg_top_paths", q_agg_top_paths, Sql(
      """WITH r AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events),
        |p AS (SELECT user_id,
        |    max(CASE WHEN rn = 1 THEN event_type END) AS e1,
        |    max(CASE WHEN rn = 2 THEN event_type END) AS e2,
        |    max(CASE WHEN rn = 3 THEN event_type END) AS e3
        |  FROM r WHERE rn <= 3 GROUP BY 1)
        |SELECT concat_ws('>', e1, e2, e3) AS path, count(*) AS n_users
        |FROM p GROUP BY 1 ORDER BY n_users DESC, path LIMIT 20""".stripMargin)),
    Query("agg_skyline", q_agg_skyline, Sql(
      """WITH per AS (SELECT user_id,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 100 AS BIGINT))
        |      AS BIGINT) AS v,
        |    count(*) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |sk AS (SELECT user_id, v, n,
        |    max(n) OVER (ORDER BY v DESC
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx_strict,
        |    max(n) OVER (PARTITION BY v) AS mx_tie
        |  FROM per)
        |SELECT user_id, round(CAST(v AS DOUBLE) / 100.0, 2) AS total_value,
        |  n AS n_events
        |FROM sk
        |WHERE (mx_strict IS NULL OR mx_strict < n) AND mx_tie = n
        |ORDER BY user_id""".stripMargin)),
    Query("search_phrase", q_search_phrase, Sql(
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |m AS (SELECT doc_id, unnest(list_filter(range(1, len(ws)),
        |      i -> ws[i] = 'hash' AND ws[i + 1] = 'join')) AS pos
        |  FROM w WHERE len(ws) >= 2)
        |SELECT doc_id, count(*) AS n_hits, CAST(min(pos) AS BIGINT) AS first_pos
        |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    Query("join_geo_polygon", q_join_geo_polygon, Sql {
      val (ula, ulo) = geoE4Sql("u", "user_id")
      fenceHitsOracle(
        s"""u AS (SELECT DISTINCT user_id FROM events),
           |p AS (SELECT user_id, $ula AS py, $ulo AS px FROM u)""".stripMargin,
        "user_id", "user_id, tri_id")
    }),
    Query("join_entity_jw", q_join_entity_jw, Sql(
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part),
        |p AS (SELECT a.name AS name_a, b.name AS name_b,
        |    jaro_winkler_similarity(a.name, b.name) AS s
        |  FROM n a JOIN n b
        |    ON split_part(a.name, ' ', 2) = split_part(b.name, ' ', 2)
        |    AND a.name < b.name)
        |SELECT name_a, name_b, round(s, 6) AS jw FROM p
        |WHERE s >= 0.8 ORDER BY name_a, name_b""".stripMargin)),
    Query("agg_kaplan_meier", q_agg_kaplan_meier, Sql(
      """WITH u AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS f,
        |    max(CAST(ts AS TIMESTAMP)) AS l FROM events GROUP BY 1),
        |mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS study_end FROM events),
        |d AS (SELECT date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) AS dur_days,
        |    CASE WHEN l < study_end - INTERVAL 24 HOUR THEN 1 ELSE 0 END AS died
        |  FROM u, mx),
        |g AS (SELECT dur_days, CAST(sum(died) AS BIGINT) AS n_events,
        |    count(*) AS n_ending FROM d GROUP BY 1),
        |r AS (SELECT dur_days, n_events,
        |    CAST(sum(n_ending) OVER (ORDER BY dur_days DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
        |  FROM g)
        |SELECT dur_days, n_risk, n_events,
        |  round(exp(sum(ln(1.0 - CAST(n_events AS DOUBLE) / n_risk))
        |    OVER (ORDER BY dur_days ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS survival,
        |  round(sum(CAST(n_events AS DOUBLE) / n_risk)
        |    OVER (ORDER BY dur_days ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cumhaz
        |FROM r WHERE n_events > 0 ORDER BY dur_days""".stripMargin)),
    Query("agg_mutual_info", q_agg_mutual_info, Sql(
      s"""WITH b AS (SELECT event_type,
        |    length(CAST(($valueCentsSql) AS VARCHAR)) AS mag
        |  FROM events WHERE value IS NOT NULL),
        |j AS (SELECT event_type, mag, count(*) AS nxy FROM b GROUP BY 1, 2),
        |nx AS (SELECT event_type, CAST(sum(nxy) AS BIGINT) AS nx
        |  FROM j GROUP BY 1),
        |ny AS (SELECT mag, CAST(sum(nxy) AS BIGINT) AS ny FROM j GROUP BY 1),
        |nn AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM j),
        |cells AS (SELECT j.*, nx.nx, ny.ny, nn.n
        |  FROM j JOIN nx USING (event_type) JOIN ny USING (mag) CROSS JOIN nn)
        |SELECT
        |  round(sum((CAST(nxy AS DOUBLE) / n) *
        |    ln(CAST(nxy AS DOUBLE) * n
        |      / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))), 6) AS mi,
        |  round(sum((CAST(nxy AS DOUBLE) / n) *
        |      ln(CAST(nxy AS DOUBLE) * n
        |        / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))))
        |    / sqrt(sum((CAST(nxy AS DOUBLE) / n) * -ln(CAST(nx AS DOUBLE) / n))
        |      * sum((CAST(nxy AS DOUBLE) / n) * -ln(CAST(ny AS DOUBLE) / n))), 6)
        |    AS nmi,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS k_streams,
        |  CAST(count(DISTINCT mag) AS BIGINT) AS k_magnitudes
        |FROM cells""".stripMargin)),
    Query("join_attribution", q_join_attribution, Sql(
      s"""WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts,
        |    event_id AS p_id,
        |    CASE WHEN value IS NOT NULL THEN
        |      ($valueCentsSql)
        |      ELSE 0 END AS c
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id AS t_user, event_type AS touch_type,
        |    CAST(ts AS TIMESTAMP) AS t_ts, event_id AS t_id
        |  FROM events WHERE event_type <> 'purchase'),
        |j AS (SELECT p.p_id, p.c, t.touch_type, t.t_ts, t.t_id
        |  FROM p LEFT JOIN t ON p.user_id = t.t_user
        |    AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 24 HOUR),
        |r AS (SELECT p_id, c, touch_type,
        |    row_number() OVER (PARTITION BY p_id
        |      ORDER BY t_ts DESC NULLS LAST, t_id DESC NULLS LAST) AS rn
        |  FROM j)
        |SELECT coalesce(touch_type, 'direct') AS touch_type,
        |  count(*) AS conversions, CAST(sum(c) AS BIGINT) AS value_cents
        |FROM r WHERE rn = 1 GROUP BY 1 ORDER BY touch_type""".stripMargin)),
    Query("agg_expectations", q_agg_expectations, Sql(
      """WITH m AS (SELECT count(*) AS n,
        |    count(value) AS n_value,
        |    count(DISTINCT event_id) AS n_ids,
        |    min(value) AS min_value,
        |    CAST(sum(CASE WHEN event_type IN
        |      ('click','view','purchase','signup','error')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_type_ok,
        |    CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP)
        |        >= TIMESTAMP '2024-01-01 00:00:00'
        |      AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2025-01-01 00:00:00'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_ok
        |  FROM events)
        |SELECT * FROM (
        |  SELECT 'completeness_value' AS check_name,
        |    round(CAST(n_value AS DOUBLE) / n, 6) AS metric,
        |    CAST(n_value AS DOUBLE) / n >= 0.9 AS passed FROM m
        |  UNION ALL SELECT 'uniqueness_event_id',
        |    round(CAST(n_ids AS DOUBLE) / n, 6), n_ids = n FROM m
        |  UNION ALL SELECT 'min_value_nonneg',
        |    round(min_value, 6), min_value >= 0.0 FROM m
        |  UNION ALL SELECT 'type_in_domain',
        |    round(CAST(n_type_ok AS DOUBLE) / n, 6), n_type_ok = n FROM m
        |  UNION ALL SELECT 'ts_in_range',
        |    round(CAST(n_ts_ok AS DOUBLE) / n, 6), n_ts_ok = n FROM m)
        |ORDER BY check_name""".stripMargin)),
    Query("join_er_clusters", q_join_er_clusters, Sql(
      """WITH RECURSIVE nm AS (SELECT p_name AS name, min(p_partkey) AS id
        |  FROM part GROUP BY 1),
        |p AS (SELECT a.id AS ia, b.id AS ib FROM nm a JOIN nm b
        |  ON split_part(a.name, ' ', 2) = split_part(b.name, ' ', 2)
        |  AND a.name < b.name
        |  AND jaro_winkler_similarity(a.name, b.name) >= 0.84),
        |e AS (SELECT ia AS src, ib AS dst FROM p
        |  UNION ALL SELECT ib, ia FROM p),
        |reach(node, label) AS (
        |  SELECT id, id FROM nm
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.node)
        |SELECT nm.name, CAST(min(r.label) AS BIGINT) AS entity_id
        |FROM nm JOIN reach r ON r.node = nm.id
        |GROUP BY nm.name ORDER BY nm.name""".stripMargin)),
    Query("agg_hurst", q_agg_hurst, Sql {
      def leg(w: Int) =
        s"""SELECT event_type, $w AS w, quantile_cont(rs, 0.5) AS med FROM (
           |  SELECT event_type, blk,
           |    ((CAST(max(num) - min(num) AS DOUBLE) / $w)
           |      / sqrt((CAST(sum(c * c) AS DOUBLE)
           |        - CAST(max(s1) AS DOUBLE) * CAST(max(s1) AS DOUBLE) / $w)
           |        / $w)) AS rs
           |  FROM (
           |    SELECT event_type, blk, t, c, s1, cnt,
           |      $w * sum(c) OVER (PARTITION BY event_type, blk ORDER BY t
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |        - (t + 1) * s1 AS num
           |    FROM (
           |      SELECT event_type, i // $w AS blk, i % $w AS t, c,
           |        CAST(sum(c) OVER (PARTITION BY event_type, i // $w)
           |          AS BIGINT) AS s1,
           |        count(*) OVER (PARTITION BY event_type, i // $w) AS cnt
           |      FROM base))
           |  WHERE cnt = $w
           |  GROUP BY event_type, blk
           |  HAVING (CAST(sum(c * c) AS DOUBLE)
           |    - CAST(max(s1) AS DOUBLE) * CAST(max(s1) AS DOUBLE) / $w)
           |    / $w > 0
           |) GROUP BY event_type""".stripMargin
      s"""WITH $hourlyCentsCte,
         |base AS (SELECT event_type, c,
         |    row_number() OVER (PARTITION BY event_type ORDER BY bucket) - 1
         |      AS i
         |  FROM h),
         |legs AS (${leg(32)} UNION ALL ${leg(64)} UNION ALL ${leg(128)}),
         |p AS (SELECT event_type,
         |    max(CASE WHEN w = 32 THEN med END) AS rs32,
         |    max(CASE WHEN w = 64 THEN med END) AS rs64,
         |    max(CASE WHEN w = 128 THEN med END) AS rs128
         |  FROM legs GROUP BY 1)
         |SELECT event_type, round(rs32, 6) AS rs32, round(rs64, 6) AS rs64,
         |  round(rs128, 6) AS rs128,
         |  round((ln(rs128) - ln(rs32)) / (2.0 * 0.6931471805599453), 6)
         |    AS hurst
         |FROM p ORDER BY event_type""".stripMargin
    }),
    Query("agg_kruskal", q_agg_kruskal, Sql(
      s"""WITH b AS (SELECT event_type, user_id % 3 AS grp,
        |    ($valueCentsSql) AS c
        |  FROM events WHERE value IS NOT NULL),
        |v AS (SELECT event_type, c, count(*) AS cnt,
        |    CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM b GROUP BY 1, 2),
        |rk AS (SELECT event_type, cnt, n0, n1, n2,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS DOUBLE)
        |      + (CAST(cnt AS DOUBLE) + 1.0) / 2.0 AS midrank,
        |    cnt * cnt * cnt - cnt AS tie3
        |  FROM v),
        |g AS (SELECT event_type,
        |    CAST(sum(n0) AS BIGINT) AS nn0, CAST(sum(n1) AS BIGINT) AS nn1,
        |    CAST(sum(n2) AS BIGINT) AS nn2,
        |    sum(midrank * CAST(n0 AS DOUBLE)) AS r0,
        |    sum(midrank * CAST(n1 AS DOUBLE)) AS r1,
        |    sum(midrank * CAST(n2 AS DOUBLE)) AS r2,
        |    CAST(sum(tie3) AS BIGINT) AS ties
        |  FROM rk GROUP BY 1),
        |f AS (SELECT event_type, nn0 + nn1 + nn2 AS n,
        |    CAST(nn0 AS DOUBLE) + CAST(nn1 AS DOUBLE) + CAST(nn2 AS DOUBLE)
        |      AS nt,
        |    nn0, nn1, nn2, r0, r1, r2, ties FROM g)
        |SELECT event_type, n,
        |  round(((12.0 / (nt * (nt + 1.0))) *
        |    (r0 * r0 / CAST(nn0 AS DOUBLE) + r1 * r1 / CAST(nn1 AS DOUBLE)
        |      + r2 * r2 / CAST(nn2 AS DOUBLE)) - 3.0 * (nt + 1.0))
        |    / (1.0 - CAST(ties AS DOUBLE) / (nt * nt * nt - nt)), 6) AS h_stat
        |FROM f ORDER BY event_type""".stripMargin)),
    Query("agg_chisq", q_agg_chisq, Sql(
      """WITH o AS (SELECT event_type,
        |    CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS h, count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM o GROUP BY 1),
        |ct AS (SELECT h, CAST(sum(o) AS BIGINT) AS ct FROM o GROUP BY 1),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
        |cells AS (SELECT o.event_type, o.h, o.o, rt.rt, ct.ct, nn.n,
        |    (CAST(o.o AS DOUBLE) - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
        |       / CAST(nn.n AS DOUBLE))
        |    * (CAST(o.o AS DOUBLE) - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
        |       / CAST(nn.n AS DOUBLE))
        |    / (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
        |       / CAST(nn.n AS DOUBLE)) AS term
        |  FROM o JOIN rt USING (event_type) JOIN ct USING (h) CROSS JOIN nn)
        |SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k,
        |  CAST(count(DISTINCT h) AS BIGINT) AS hcols,
        |  max(n) AS n,
        |  round(sum(term), 6) AS chi2,
        |  CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT h) - 1)
        |    AS BIGINT) AS dof,
        |  round(sqrt(sum(term) / (CAST(max(n) AS DOUBLE) *
        |    least(count(DISTINCT event_type) - 1, count(DISTINCT h) - 1))), 6)
        |    AS cramers_v
        |FROM cells""".stripMargin)),
    Query("agg_mannwhitney", q_agg_mannwhitney, Sql(
      s"""WITH b AS (SELECT event_type, (user_id % 2 = 0) AS isa,
        |    ($valueCentsSql) AS c
        |  FROM events WHERE value IS NOT NULL),
        |v AS (SELECT event_type, c, count(*) AS cnt,
        |    CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS cnta
        |  FROM b GROUP BY 1, 2),
        |rk AS (SELECT event_type, cnt, cnta,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt AS DOUBLE)
        |      + (CAST(cnt AS DOUBLE) + 1.0) / 2.0 AS midrank,
        |    cnt * cnt * cnt - cnt AS tie3
        |  FROM v),
        |g AS (SELECT event_type,
        |    CAST(sum(cnta) AS BIGINT) AS na,
        |    CAST(sum(cnt - cnta) AS BIGINT) AS nb,
        |    sum(midrank * CAST(cnta AS DOUBLE)) AS ra,
        |    CAST(sum(tie3) AS BIGINT) AS ties
        |  FROM rk GROUP BY 1)
        |SELECT event_type, na, nb,
        |  round(ra - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0) / 2.0, 6)
        |    AS u_stat,
        |  round((ra - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0) / 2.0
        |      - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)
        |    / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
        |      ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
        |        - CAST(ties AS DOUBLE)
        |          / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
        |            * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0)))), 6)
        |    AS z
        |FROM g ORDER BY event_type""".stripMargin)),
    Query("agg_anova", q_agg_anova, Sql(
      s"""WITH b AS (SELECT event_type,
        |    ($valueCentsSql) AS c
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
        |  FROM b GROUP BY 1),
        |t AS (SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(s1) AS BIGINT) AS t1, CAST(sum(s2) AS BIGINT) AS t2,
        |    sum(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) AS sb
        |  FROM g)
        |SELECT k, nn AS n,
        |  round(((sb - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) / nn) / (k - 1))
        |    / ((CAST(t2 AS DOUBLE) - sb) / (nn - k)), 6) AS f_stat,
        |  round((sb - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) / nn)
        |    / (CAST(t2 AS DOUBLE)
        |      - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE) / nn), 6) AS eta_sq
        |FROM t""".stripMargin)),
    Query("agg_bootstrap_ci", q_agg_bootstrap_ci, Sql(
      s"""WITH b AS (SELECT event_type, event_id,
        |    ($valueCentsSql) AS c
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT unnest(range(0, 20)) AS rep),
        |hh AS (SELECT event_type, c,
        |    CAST(('0x'||substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h1,
        |    CAST(('0x'||substr(md5(CAST(event_id AS VARCHAR)), 17, 15))
        |      AS BIGINT) % 1099511627776 AS h2
        |  FROM b),
        |d AS (SELECT event_type, rep, c,
        |    (h1 + rep * h2) % 1152921504606846976 AS u
        |  FROM hh CROSS JOIN r),
        |w AS (SELECT event_type, rep, c,
        |    (CASE WHEN u >= 424136118829305344 THEN 1 ELSE 0 END
        |     + CASE WHEN u >= 848272237658610688 THEN 1 ELSE 0 END
        |     + CASE WHEN u >= 1060340297073263360 THEN 1 ELSE 0 END
        |     + CASE WHEN u >= 1131029650211480960 THEN 1 ELSE 0 END
        |     + CASE WHEN u >= 1148701988496035328 THEN 1 ELSE 0 END
        |     + CASE WHEN u >= 1152236456152946176 THEN 1 ELSE 0 END
        |     + CASE WHEN u >= 1152825534095764608 THEN 1 ELSE 0 END
        |     + CASE WHEN u >= 1152909688087595776 THEN 1 ELSE 0 END
        |     + CASE WHEN u >= 1152920207336574720 THEN 1 ELSE 0 END) AS w
        |  FROM d),
        |m AS (SELECT event_type, rep,
        |    CAST(CAST(sum(w * c) AS BIGINT) AS DOUBLE)
        |      / CAST(sum(w) AS BIGINT) AS m
        |  FROM w GROUP BY 1, 2 HAVING CAST(sum(w) AS BIGINT) > 0)
        |SELECT event_type, count(*) AS n_reps,
        |  round(quantile_cont(m, 0.5), 6) AS boot_median,
        |  round(quantile_cont(m, 0.025), 6) AS ci_lo,
        |  round(quantile_cont(m, 0.975), 6) AS ci_hi
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("join_bloom_prune", q_join_bloom_prune, Sql(
      """SELECT p.p_type, count(*) AS n,
        |  round(CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand = 'Brand#7'
        |GROUP BY 1 ORDER BY p.p_type""".stripMargin)),
    Query("multimodal_audio_zcr", q_multimodal_audio_zcr, Sql(
      """WITH d AS (SELECT doc_id, md5(text) AS hx FROM documents
        |  WHERE text IS NOT NULL),
        |i AS (SELECT unnest(range(0, 8)) AS i),
        |u AS (SELECT doc_id, i,
        |    CAST(('0x'||substr(hx, 4 * i + 1, 2)) AS BIGINT)
        |      + 256 * CAST(('0x'||substr(hx, 4 * i + 3, 2)) AS BIGINT) AS uv
        |  FROM d CROSS JOIN i),
        |sv AS (SELECT doc_id, i,
        |    CASE WHEN uv >= 32768 THEN uv - 65536 ELSE uv END AS s
        |  FROM u),
        |f AS (SELECT doc_id, i, s,
        |    CASE WHEN i > 0 AND (s >= 0) <>
        |      (lag(s) OVER (PARTITION BY doc_id ORDER BY i) >= 0)
        |      THEN 1 ELSE 0 END AS zc
        |  FROM sv)
        |SELECT doc_id, count(*) AS n_samples,
        |  CAST(sum(zc) AS BIGINT) AS n_zero_cross,
        |  round(sqrt(CAST(sum(s * s) AS DOUBLE) / count(*)), 6) AS rms
        |FROM f GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    Query("scan_parquet", q_scan_parquet, Sql(
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        |  l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
        |  CAST(l_shipdate AS TIMESTAMP) AS l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    Query("scan_random", q_scan_random, Sql(
      """WITH t AS (SELECT unnest(['click','view']) AS tag),
        |     i AS (SELECT range AS i FROM range(0, 1000)),
        |     g AS (SELECT tag, i FROM t CROSS JOIN i)
        |SELECT tag, i,
        |  make_timestamp((1704067200 + i * 600) * 1000000) AS ts,
        |  CAST(('0x'||substr(md5(tag||'#'||CAST(i AS VARCHAR)),1,15)) AS BIGINT)
        |    / 1152921504606846976.0 AS value
        |FROM g ORDER BY tag, i""".stripMargin)),
    Query("sink_influx_lines", q_sink_influx_lines, Sql(
      """SELECT CAST(ts AS TIMESTAMP) AS ts, event_type AS tag, value
        |FROM events WHERE value IS NOT NULL
        |ORDER BY ts, tag, value""".stripMargin)),
    Query("scan_influx_http", q_scan_influx_http, Sql(
      """SELECT CAST(ts AS TIMESTAMP) AS ts, event_type AS tag, value
        |FROM events WHERE value IS NOT NULL
        |  AND event_type IN ('click', 'view', 'purchase')
        |  AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-05'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20'
        |ORDER BY ts, tag, value""".stripMargin)),
    Query("proj_tags", q_proj_tags, Sql(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    Query("filter_rowexpr", q_filter_rowexpr, Sql(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem WHERE l_quantity > 25 AND l_discount < 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    Query("filter_timerange", q_filter_timerange, Sql(
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20'
        |ORDER BY event_id""".stripMargin)),
    Query("filter_dropna", q_filter_dropna, Sql(
      s"""WITH w AS ($wide1h)
         |SELECT bucket, round(click, 6) AS click_v, round(view, 6) AS view_v,
         |       round(purchase, 6) AS purchase_v
         |FROM w
         |WHERE click IS NOT NULL AND view IS NOT NULL AND purchase IS NOT NULL
         |ORDER BY bucket""".stripMargin)),
    Query("filter_inf", q_filter_inf, Sql(
      """WITH t AS (SELECT l_orderkey, l_linenumber,
        |             CASE WHEN l_linenumber = 1 THEN 'infinity'::DOUBLE
        |                  ELSE l_extendedprice END AS v
        |           FROM lineitem),
        |     b AS (SELECT max(CASE WHEN isfinite(v) THEN v END) AS mx FROM t)
        |SELECT l_orderkey, l_linenumber,
        |       round(CASE WHEN v = 'infinity'::DOUBLE THEN b.mx ELSE v END, 6) AS v_imputed
        |FROM t, b ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    Query("join_align", q_join_align, Sql(joinAlignSql)),
    Query("join_dim_broadcast", q_join_dim_broadcast, Sql(
      """SELECT p_brand, count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),
    Query("join_multiway", q_join_multiway, Sql(
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),
    Query("join_pred_input", q_join_pred_input, Sql(
      """SELECT o_orderkey, o_totalprice,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS line_rev
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_totalprice ORDER BY o_orderkey""".stripMargin)),
    Query("join_semi", q_join_semi, Sql(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin)),
    Query("join_anti", q_join_anti, Sql(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)),
    Query("join_asof", q_join_asof, Sql(asofOracleSql)),
    Query("join_asof_fwd", q_join_asof_fwd, Sql(
      """WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) t, value
        |           FROM events WHERE event_type = 'click'),
        |     r AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, avg(value) AS vv
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.value, round(r.vv, 6) AS asof_view
        |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.t <= r.t
        |ORDER BY event_id""".stripMargin)),
    Query("join_asof_near", q_join_asof_near, Sql(
      """WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) t, value
        |           FROM events WHERE event_type = 'click'),
        |     r AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, avg(value) AS vv
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |     b AS (SELECT l.event_id, l.user_id, l.value, l.t AS lt,
        |             r.t AS bt, r.vv AS bv
        |           FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.t >= r.t),
        |     f AS (SELECT l.event_id, r.t AS ft, r.vv AS fv
        |           FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.t <= r.t)
        |SELECT b.event_id, b.user_id, b.value,
        |  round(CASE WHEN bt IS NOT NULL AND (ft IS NULL OR (lt - bt) <= (ft - lt))
        |        THEN bv ELSE fv END, 6) AS asof_view
        |FROM b JOIN f USING (event_id)
        |WHERE bt IS NOT NULL OR ft IS NOT NULL
        |ORDER BY event_id""".stripMargin)),
    Query("join_asof_tol", q_join_asof_tol, Sql(
      """WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) t, value
        |           FROM events WHERE event_type = 'click'),
        |     r AS (SELECT user_id, CAST(ts AS TIMESTAMP) t, avg(value) AS vv
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |     a AS MATERIALIZED (
        |       SELECT l.event_id, l.user_id, l.value, l.t AS lt, r.t AS rt, r.vv
        |       FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.t >= r.t)
        |SELECT event_id, user_id, value, round(vv, 6) AS asof_view
        |FROM a WHERE rt >= lt - INTERVAL 30 MINUTE
        |ORDER BY event_id""".stripMargin)),
    Query("join_interval", q_join_interval, Sql(
      """SELECT c.event_id AS click_id, c.user_id, v.event_id AS view_id,
        |  round(v.value, 6) AS view_value
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) t
        |      FROM events WHERE event_type = 'click') c
        |JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) t, value
        |      FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        |  AND v.t >= c.t - INTERVAL 10 MINUTE AND v.t <= c.t
        |ORDER BY click_id, view_id""".stripMargin)),
    Query("agg_resample_mean", q_agg_resample_mean, Sql(
      s"""SELECT $bucket10m AS bucket, event_type,
         |  round(avg(value), 6) AS avg_v, count(*) AS n
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // the Spark side reads a CSV materialization of the same rows — the
    // parquet-derived oracle catches any text-parse drift
    Query("scan_csv", q_scan_csv, Sql(
      s"""SELECT $bucket10m AS bucket, event_type,
         |  round(avg(value), 6) AS avg_v, count(*) AS n
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("scan_jsonl", q_scan_jsonl, Sql(
      """SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("sink_compact", q_sink_compact, Sql(
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  min(CAST(ts AS TIMESTAMP)) AS min_ts,
        |  max(CAST(ts AS TIMESTAMP)) AS max_ts
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("sink_zorder", q_sink_zorder, Sql(
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  min(user_id) AS min_uid, max(user_id) AS max_uid,
        |  min(CAST(ts AS TIMESTAMP)) AS min_ts,
        |  max(CAST(ts AS TIMESTAMP)) AS max_ts
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("agg_resample_origin", q_agg_resample_origin, Sql(
      """SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP),
        |    INTERVAL '5 minutes') AS bucket, event_type,
        |  round(avg(value), 6) AS avg_v, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("agg_resample_multi", q_agg_resample_multi, Sql(
      s"""SELECT $bucket10m AS bucket, event_type,
         |  round(avg(value), 6) AS avg_v, min(value) AS min_v,
         |  max(value) AS max_v, count(*) AS n
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("agg_scaler_fit", q_agg_scaler_fit, Sql(
      """WITH b AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
        |           FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |       round((l_extendedprice - mn) / (mx - mn), 6) AS price_scaled
        |FROM lineitem, b ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    Query("agg_metrics", q_agg_metrics, Sql(
      s"""WITH $metricsStatsCte,
         |f AS (SELECT l_returnflag, CAST(n AS DOUBLE) AS nd,
         |        CAST(s_ae AS DOUBLE) / 100.0 AS sae,
         |        CAST(s_e AS DOUBLE) / 100.0 AS se,
         |        CAST(s_eq AS DOUBLE) * 10000.0
         |          + CAST(s_er AS DOUBLE) / 10000.0 AS se2,
         |        CAST(s_y AS DOUBLE) / 100.0 AS sy,
         |        CAST(s_yq AS DOUBLE) * 10000.0
         |          + CAST(s_yr AS DOUBLE) / 10000.0 AS sy2
         |      FROM a),
         |g AS (SELECT l_returnflag,
         |        sae / nd AS mae,
         |        se2 / nd AS mse,
         |        sy2 / nd - (sy / nd) * (sy / nd) AS vy,
         |        se / nd AS me
         |      FROM f)
         |SELECT l_returnflag, mae, sqrt(mse) AS rmse,
         |  1 - mse / nullif(vy, 0) AS r2,
         |  1 - (mse - me * me) / nullif(vy, 0) AS explained_variance
         |FROM g ORDER BY l_returnflag""".stripMargin)),
    Query("agg_threshold_pctl", q_agg_threshold_pctl, Sql(
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.99), 6) AS thr_p99,
        |  round(quantile_cont(l_extendedprice, 0.95), 6) AS thr_p95
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    // rank_ok TRUE = the t-digest estimate's order-statistic bracket
    // (see q_agg_threshold_sketch scaladoc); a sketch regression flips
    // the Spark-side flag and hash-fails the row.
    Query("agg_threshold_sketch", q_agg_threshold_sketch, Sql(
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.99), 6) AS thr_exact,
        |  count(*) AS n, TRUE AS rank_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("agg_distinct", q_agg_distinct, Sql(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("agg_salted_skew", q_agg_salted_skew, Sql(
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  count(l_quantity) AS n,
        |  CAST(MIN(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS min_qty,
        |  CAST(MAX(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS max_qty,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(l_quantity) AS avg_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("join_salted_skew", q_join_salted_skew, Sql(
      """SELECT s_nationkey, count(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("join_bucketed", q_join_bucketed, Sql(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("agg_grouping_sets", q_agg_grouping_sets, Sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),
    Query("sort_time", q_sort_time, Sql(
      """SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id, event_type, value
        |FROM events ORDER BY ts_us, event_id""".stripMargin)),
    // generated per-cell banded-DP chain — see dtwOracleSql's scaladoc
    Query("agg_dtw_profiles", q_agg_dtw_profiles, Sql(dtwOracleSql)),
    Query("agg_retention", q_agg_retention, Sql(
      """WITH e AS (SELECT DISTINCT user_id,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS d FROM events),
        |c AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1)
        |SELECT cohort, date_diff('day', cohort, d) AS day_offset,
        |  count(DISTINCT user_id) AS active_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("agg_gap_detect", q_agg_gap_detect, Sql(
      """WITH hb AS (SELECT DISTINCT event_type,
        |    CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))
        |      AS BIGINT) // 3600 AS hb
        |  FROM events),
        |g AS (SELECT event_type, hb,
        |    hb - lag(hb) OVER (PARTITION BY event_type ORDER BY hb) - 1
        |      AS gap
        |  FROM hb)
        |SELECT event_type, count(*) AS n_buckets,
        |  CAST(coalesce(sum(gap), 0) AS BIGINT) AS missing,
        |  CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("agg_transitions", q_agg_transitions, Sql(transitionsOracleSql)),
    Query("agg_markov_stationary", q_agg_markov_stationary, Sql(markovStationaryOracle)),
    Query("agg_basket_lift", q_agg_basket_lift, Sql(basketLiftOracle)),
    Query("text_textrank", q_text_textrank, Sql(textrankOracle)),
    Query("agg_streaks", q_agg_streaks, Sql(
      """WITH ud AS (SELECT DISTINCT user_id,
        |    date_diff('day', DATE '1970-01-01',
        |      date_trunc('day', CAST(ts AS TIMESTAMP))) AS dn
        |  FROM events),
        |i AS (SELECT user_id, dn,
        |    dn - row_number() OVER (PARTITION BY user_id ORDER BY dn)
        |      AS anchor
        |  FROM ud),
        |st AS (SELECT user_id, anchor, count(*) AS len
        |       FROM i GROUP BY 1, 2)
        |SELECT user_id, max(len) AS longest_streak,
        |  count(*) AS n_streaks, CAST(sum(len) AS BIGINT) AS active_days
        |FROM st GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("agg_active_users", q_agg_active_users, Sql(
      """WITH ud AS (SELECT DISTINCT user_id,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau
        |        FROM ud GROUP BY 1),
        |wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM (
        |    SELECT user_id, day + i * (INTERVAL 1 DAY) AS day
        |    FROM ud, range(0, 7) t(i)) GROUP BY 1)
        |SELECT day, dau, wau FROM dau JOIN wau USING (day)
        |ORDER BY day""".stripMargin)),
    // integer-cents sufficient sums (exact BIGINTs << 2^53) + ONE
    // mirrored IEEE Welch combination — bit-exact before the round
    Query("agg_ab_ttest", q_agg_ab_ttest, Sql(
      s"""WITH c AS (SELECT event_type,
        |    user_id % 2 = 0 AS isa,
        |    ($valueCentsSql) AS c
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT event_type,
        |    sum(CASE WHEN isa THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS nb,
        |    sum(CASE WHEN isa THEN c ELSE 0 END) AS s1a,
        |    sum(CASE WHEN NOT isa THEN c ELSE 0 END) AS s1b,
        |    sum(CASE WHEN isa THEN c * c ELSE 0 END) AS s2a,
        |    sum(CASE WHEN NOT isa THEN c * c ELSE 0 END) AS s2b
        |  FROM c GROUP BY 1)
        |SELECT event_type, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |  round(CAST(s1a AS DOUBLE) / na, 6) AS mean_a,
        |  round(CAST(s1b AS DOUBLE) / nb, 6) AS mean_b,
        |  round((CAST(s1a AS DOUBLE) / na - CAST(s1b AS DOUBLE) / nb)
        |    / sqrt((CAST(s2a AS DOUBLE)
        |        - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / na) / (na - 1) / na
        |      + (CAST(s2b AS DOUBLE)
        |        - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / nb) / (nb - 1) / nb),
        |    6) AS t
        |FROM g ORDER BY 1""".stripMargin)),
    // the SCD2 contract stated directly: v1 rows (closed iff changed),
    // v2 re-opens for changed keys, v2 first-opens for new keys; the
    // no-op batch (c_custkey % 9 = 7) must contribute NOTHING
    // the v1↔v2 snapshot diff restated directly over the base table:
    // the CDC rules are deterministic, so the oracle never needs the lake
    Query("sink_time_travel", q_sink_time_travel, Sql(
      """WITH t AS (SELECT event_type, count(*) AS n_rows
        |           FROM events GROUP BY 1),
        |c AS (SELECT event_type,
        |        CAST(count(*) FILTER (WHERE (value * 2) IS DISTINCT FROM value)
        |          AS BIGINT) AS n_changed,
        |        CAST(SUM(CAST(CASE WHEN (value * 2) IS DISTINCT FROM value
        |          THEN value * 2 - value END AS DECIMAL(18,6))) AS DOUBLE)
        |          AS delta_sum
        |      FROM events WHERE event_id % 11 = 3 GROUP BY 1),
        |orig AS (SELECT t.event_type, CAST(0 AS BIGINT) AS n_added,
        |           coalesce(c.n_changed, 0) AS n_changed,
        |           t.n_rows - coalesce(c.n_changed, 0) AS n_same,
        |           coalesce(c.delta_sum, 0.0) AS delta_sum
        |         FROM t LEFT JOIN c USING (event_type)),
        |late AS (SELECT 'lateload' AS event_type,
        |           CAST(count(*) AS BIGINT) AS n_added,
        |           CAST(0 AS BIGINT) AS n_changed, CAST(0 AS BIGINT) AS n_same,
        |           0.0 AS delta_sum
        |         FROM events WHERE event_id % 101 = 0)
        |SELECT * FROM orig UNION ALL SELECT * FROM late
        |ORDER BY event_type""".stripMargin)),
    Query("join_scd2_asof", q_join_scd2_asof, Sql(
      """WITH e AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events),
        |va AS (SELECT user_id, event_type AS seg FROM (
        |    SELECT user_id, event_type, row_number() OVER (
        |      PARTITION BY user_id ORDER BY count(*) DESC, event_type) AS rn
        |    FROM e WHERE us < 1705363200000000 GROUP BY 1, 2)
        |  WHERE rn = 1),
        |vb AS (SELECT user_id, event_type AS seg FROM (
        |    SELECT user_id, event_type, row_number() OVER (
        |      PARTITION BY user_id ORDER BY count(*) DESC, event_type) AS rn
        |    FROM e WHERE us >= 1705363200000000 GROUP BY 1, 2)
        |  WHERE rn = 1),
        |dim AS (
        |  SELECT user_id, seg, 1 AS version,
        |    0 AS vfrom, 1705363200000000 AS vto FROM va
        |  UNION ALL
        |  SELECT user_id, seg, 2, 1705363200000000,
        |    9223372036854775807 FROM vb)
        |SELECT seg, CAST(version AS BIGINT) AS version,
        |  count(*) AS n_events, count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN dim ON e.user_id = dim.user_id
        |  AND us >= vfrom AND us < vto
        |GROUP BY 1, 2 ORDER BY version, seg""".stripMargin)),
    Query("sink_scd2", q_sink_scd2, Sql(
      """SELECT c_custkey, c_acctbal, c_mktsegment, 1 AS v_from,
        |  CASE WHEN c_custkey % 9 = 4 THEN 2 ELSE 0 END AS v_to
        |FROM customer
        |UNION ALL
        |SELECT c_custkey, c_acctbal + 500.0, c_mktsegment, 2, 0
        |FROM customer WHERE c_custkey % 9 = 4
        |UNION ALL
        |SELECT c_custkey + 1000000, c_acctbal, c_mktsegment, 2, 0
        |FROM customer WHERE c_custkey % 13 = 6
        |ORDER BY c_custkey, v_from""".stripMargin)),
    // ground truth of WHICH lines were corrupted lives in the parquet
    // table; the PERMISSIVE read must reconcile exactly
    Query("scan_json_multiline", q_scan_json_multiline, Sql(
      """SELECT source, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("scan_jsonl_gz", q_scan_jsonl_gz, Sql(
      """SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("scan_jsonl_corrupt", q_scan_jsonl_corrupt, Sql(
      """SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 17 <> 3 GROUP BY 1
        |UNION ALL
        |SELECT '__corrupt', count(*), 0
        |FROM documents WHERE doc_id % 17 = 3
        |ORDER BY lang""".stripMargin)),
    // alpha = 0.5 via sqrt on purpose: sqrt is IEEE-correctly-rounded in
    // both engines where a general pow is not
    Query("sample_temperature", q_sample_temperature, Sql(
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |z AS (SELECT sum(sqrt(CAST(n AS DOUBLE))) AS z FROM c)
        |SELECT lang, n, round(sqrt(CAST(n AS DOUBLE)) / z, 6) AS w
        |FROM c CROSS JOIN z ORDER BY 1""".stripMargin)),
    Query("agg_funnel_time", q_agg_funnel_time, Sql(
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |c AS (SELECT user_id, min(us) AS c_us FROM e
        |      WHERE event_type = 'click' GROUP BY 1),
        |v AS (SELECT e.user_id, min(us) AS v_us, min(c_us) AS c_us
        |      FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'view' AND us > c_us GROUP BY 1),
        |p AS (SELECT e.user_id, min(us) AS p_us, min(v_us) AS v_us2
        |      FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'purchase' AND us > v_us GROUP BY 1),
        |g AS (SELECT 'click_to_view' AS transition, v_us - c_us AS gap_us
        |      FROM v
        |      UNION ALL
        |      SELECT 'view_to_purchase', p_us - v_us2 FROM p)
        |SELECT transition, count(*) AS n_users,
        |  round(quantile_cont(gap_us, 0.5), 6) AS median_us,
        |  round(quantile_cont(gap_us, 0.9), 6) AS p90_us,
        |  CAST(max(gap_us) AS BIGINT) AS max_us
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("agg_new_returning", q_agg_new_returning, Sql(
      """WITH ud AS (SELECT DISTINCT user_id,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS d FROM events),
        |c AS (SELECT user_id, min(d) AS first_d FROM ud GROUP BY 1)
        |SELECT d AS day,
        |  CAST(sum(CASE WHEN d = first_d THEN 1 ELSE 0 END) AS BIGINT)
        |    AS new_users,
        |  CAST(sum(CASE WHEN d <> first_d THEN 1 ELSE 0 END) AS BIGINT)
        |    AS returning_users
        |FROM ud JOIN c USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("agg_pareto", q_agg_pareto, Sql(
      s"""WITH u AS (SELECT event_type, user_id,
        |    CAST(sum($valueCentsSql) AS BIGINT) AS uc
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, uc,
        |    row_number() OVER w AS rnk,
        |    sum(uc) OVER (PARTITION BY event_type ORDER BY uc DESC, user_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
        |  FROM u WINDOW w AS (PARTITION BY event_type
        |    ORDER BY uc DESC, user_id)),
        |t AS (SELECT event_type, count(*) AS nu,
        |    CAST(sum(uc) AS BIGINT) AS total FROM u GROUP BY 1)
        |SELECT r.event_type, nu AS n_users, rnk AS top_users,
        |  round(CAST(cumc AS DOUBLE) / total, 6) AS top20_value_share
        |FROM r JOIN t USING (event_type)
        |WHERE rnk = CAST(ceil(nu / 5.0) AS BIGINT)
        |ORDER BY event_type""".stripMargin)),
    Query("agg_funnel", q_agg_funnel, Sql(funnelOracleSql)),
    Query("agg_window_funnel", q_agg_window_funnel, Sql(
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |c AS (SELECT user_id, min(us) AS c_us FROM e
        |      WHERE event_type = 'click' GROUP BY 1),
        |v AS (SELECT e.user_id, min(us) AS v_us, min(c_us) AS c_us
        |      FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'view' AND us > c_us
        |        AND us <= c_us + 86400000000 GROUP BY 1),
        |p AS (SELECT e.user_id, min(us) AS p_us FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'purchase' AND us > v_us
        |        AND us <= v.c_us + 86400000000 GROUP BY 1),
        |d AS (SELECT CASE WHEN p.user_id IS NOT NULL THEN 3
        |             WHEN v.user_id IS NOT NULL THEN 2 ELSE 1 END AS depth
        |      FROM c LEFT JOIN v ON c.user_id = v.user_id
        |             LEFT JOIN p ON c.user_id = p.user_id)
        |SELECT depth, count(*) AS users FROM d
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("agg_cohort_value", q_agg_cohort_value, Sql(
      s"""WITH e AS (SELECT user_id,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
        |    ($valueCentsSql) AS c
        |  FROM events WHERE value IS NOT NULL),
        |coh AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1)
        |SELECT cohort, date_diff('day', cohort, d) AS day_offset,
        |  count(*) AS n_events, CAST(sum(c) AS BIGINT) AS total_cents
        |FROM e JOIN coh USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("limit_head", q_limit_head, Sql(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 100""".stripMargin)),
    Query("setop_union_years", q_setop_union_years, Sql(
      """SELECT event_id, event_type, value FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, event_type, value FROM events WHERE event_type = 'view'
        |ORDER BY event_id""".stripMargin)),
    Query("setop_except_periods", q_setop_except_periods, Sql(
      """SELECT event_id, user_id, event_type FROM events
        |EXCEPT
        |SELECT event_id, user_id, event_type FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-05'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-12'
        |ORDER BY event_id""".stripMargin)),
    Query("setop_intersect", q_setop_intersect, Sql(
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-07-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |ORDER BY o_custkey""".stripMargin)),
    Query("fn_ts", q_fn_ts, Sql(
      """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, count(*) AS n,
        |  round(avg(value), 6) AS avg_v
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("fn_math_anomaly", q_fn_math_anomaly, Sql(
      s"""WITH w AS ($wide1h)
         |SELECT bucket, round(abs(click - view), 6) AS tag_anomaly,
         |  round(sqrt((click - view) * (click - view)
         |           + (purchase - view) * (purchase - view)), 6) AS total_anomaly
         |FROM w
         |WHERE click IS NOT NULL AND view IS NOT NULL AND purchase IS NOT NULL
         |ORDER BY bucket""".stripMargin)),
    Query("fn_math_anomaly_scaled", q_fn_math_anomaly_scaled, Sql(
      s"""WITH w AS ($wide1h),
         |wd AS (SELECT * FROM w
         |       WHERE click IS NOT NULL AND view IS NOT NULL AND purchase IS NOT NULL),
         |p AS (SELECT min(click) AS cmn, max(click) AS cmx,
         |             min(purchase) AS pmn, max(purchase) AS pmx FROM wd)
         |SELECT bucket,
         |  round(abs((click - cmn) / (cmx - cmn) - (view - cmn) / (cmx - cmn)), 6)
         |    AS click_anom_scaled,
         |  round(abs((purchase - pmn) / (pmx - pmn) - (view - pmn) / (pmx - pmn)), 6)
         |    AS purchase_anom_scaled
         |FROM wd, p ORDER BY bucket""".stripMargin)),
    Query("fn_string_tag", q_fn_string_tag, Sql(
      """SELECT p_partkey, upper(trim(p_name)) AS tag_norm,
        |  regexp_extract(p_name, '^(\w+)', 1) AS asset_prefix,
        |  length(p_name) AS name_len,
        |  regexp_replace(p_name, '\s+', '_', 'g') AS name_snake
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Query("fn_json_props", q_fn_json_props, Sql(
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
        |FROM events ORDER BY event_id""".stripMargin)),
    Query("fn_multiply_by", q_fn_multiply_by, Sql(
      """SELECT l_orderkey, l_linenumber,
        |  round(l_quantity * 2.5, 6) AS qty_x,
        |  round(l_extendedprice * 0.5, 6) AS price_x
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    Query("text_langid", q_text_langid, Sql(
      s"""WITH w AS (SELECT doc_id,
         |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t FROM documents),
         |v AS (SELECT doc_id, CAST(('0x'||substr(md5(t),1,15)) AS BIGINT) % 5 AS li,
         |        count(*) AS n
         |      FROM w GROUP BY 1, 2),
         |top AS (SELECT doc_id, li,
         |          row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, li) AS rn FROM v)
         |SELECT d.doc_id, d.lang,
         |  CASE t.li WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'fr'
         |            WHEN 3 THEN 'es' ELSE 'zh' END AS lang_pred
         |FROM documents d JOIN top t ON d.doc_id = t.doc_id AND t.rn = 1
         |ORDER BY d.doc_id""".stripMargin)),
    Query("text_quality", q_text_quality, Sql(
      s"""SELECT doc_id,
         |  len(string_split_regex(lower(trim(text)), '\\s+')) AS n_words,
         |  len(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS n_distinct,
         |  round(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |        w -> w IN ('the','a','of','to','and'))) * 1.0
         |      / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS stopword_ratio,
         |  round(len(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) * 1.0
         |      / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS ttr,
         |  round(length(replace(text, ' ', '')) * 1.0
         |      / len(string_split_regex(lower(trim(text)), '\\s+')), 6) AS avg_word_len
         |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("text_gopher_quality", q_text_gopher_quality, Sql(
      s"""WITH g AS (SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\\s+') AS ws,
         |    string_split(text, chr(10)) AS ls,
         |    (length(text) - length(replace(text, '#', '')))
         |      + (length(text) - length(replace(text, '...', ''))) / 3
         |      + (length(text) - length(replace(text, '…', ''))) AS n_sym
         |  FROM documents),
         |m AS (SELECT doc_id,
         |    len(ws) AS n_words,
         |    list_sum(list_transform(ws, w -> length(w))) * 1.0 / len(ws) AS mwl,
         |    n_sym * 1.0 / len(ws) AS sym_ratio,
         |    len(list_filter(ls, l -> starts_with(trim(l), '-')
         |      OR starts_with(trim(l), '*') OR starts_with(trim(l), '•')))
         |      * 1.0 / len(ls) AS bullet_frac,
         |    len(list_filter(ls, l -> ends_with(trim(l), '...')
         |      OR ends_with(trim(l), '…'))) * 1.0 / len(ls) AS ell_frac,
         |    len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
         |      * 1.0 / len(ws) AS alpha_frac,
         |    len(list_distinct(list_filter(ws, w -> w IN ('the','be','to',
         |      'of','and','that','have','with')))) AS n_stop
         |  FROM g)
         |SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len,
         |  round(sym_ratio, 6) AS symbol_ratio,
         |  round(bullet_frac, 6) AS bullet_frac,
         |  round(ell_frac, 6) AS ellipsis_frac,
         |  round(alpha_frac, 6) AS alpha_frac,
         |  n_stop AS n_stop_distinct,
         |  n_words BETWEEN 50 AND 100000 AS ok_words,
         |  mwl BETWEEN 3 AND 10 AS ok_word_len,
         |  sym_ratio < 0.1 AS ok_symbols,
         |  bullet_frac < 0.9 AS ok_bullets,
         |  ell_frac < 0.3 AS ok_ellipsis,
         |  alpha_frac >= 0.8 AS ok_alpha,
         |  n_stop >= 2 AS ok_stopwords,
         |  (n_words BETWEEN 50 AND 100000) AND (mwl BETWEEN 3 AND 10)
         |    AND sym_ratio < 0.1 AND bullet_frac < 0.9 AND ell_frac < 0.3
         |    AND alpha_frac >= 0.8 AND n_stop >= 2 AS pass
         |FROM m ORDER BY doc_id""".stripMargin)),
    Query("text_tokens", q_text_tokens, Sql(
      s"""SELECT doc_id,
         |  len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens
         |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("text_fingerprint", q_text_fingerprint, Sql(
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(
         |    string_split_regex(lower(trim(text)), '\\s+'))), ' ')) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("text_langid_trained", q_text_langid_trained, Sql(
      s"""WITH $langidGramCtes,
         |-- CAST: sum(BIGINT) is HUGEINT → float64 in Python → driver hash
         |-- mismatch vs Spark's BIGINT despite equal values (round-2 FAIL)
         |m AS (SELECT d.doc_id, l.lang,
         |        CAST(sum(abs(d.drnk - l.rnk)) AS BIGINT) AS ms, count(*) AS mc
         |      FROM dr d JOIN lr l USING (g) GROUP BY 1, 2),
         |dk AS (SELECT doc_id, count(*) AS dk FROM dr GROUP BY 1),
         |pairs AS (SELECT dk.doc_id, dk.dk, langs.lang
         |          FROM dk CROSS JOIN (SELECT DISTINCT lang FROM lr) langs),
         |dist AS (SELECT p.doc_id, p.lang,
         |           coalesce(m.ms, 0) + 100 * (p.dk - coalesce(m.mc, 0)) AS dist
         |         FROM pairs p LEFT JOIN m ON m.doc_id = p.doc_id AND m.lang = p.lang),
         |pred AS (SELECT doc_id, lang AS lang_pred, dist,
         |           row_number() OVER (PARTITION BY doc_id ORDER BY dist, lang) AS rn
         |         FROM dist)
         |SELECT d.doc_id, d.lang, p.lang_pred, p.dist
         |FROM pred p JOIN documents d USING (doc_id) WHERE p.rn = 1
         |ORDER BY doc_id""".stripMargin)),
    Query("text_topterms", q_text_topterms, Sql(
      """WITH w AS (SELECT lang,
        |    unnest(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS term
        |  FROM documents),
        |f AS (SELECT lang, term, count(*) AS doc_freq FROM w
        |      WHERE length(term) >= 3 GROUP BY 1, 2),
        |r AS (SELECT lang, term, doc_freq,
        |        row_number() OVER (PARTITION BY lang ORDER BY doc_freq DESC, term) AS rnk
        |      FROM f)
        |SELECT lang, term, doc_freq, rnk FROM r WHERE rnk <= 10
        |ORDER BY lang, rnk""".stripMargin)),
    Query("text_scrub", q_text_scrub, Sql(
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]+', '<NUM>', 'g'),
        |    '\s+', ' ', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // bpe_in_bounds/layout_ok TRUE = the BPE count bound and the packing
    // layout re-derivation (q_pipeline_tokenize_pack scaladoc); shard and
    // n_words are SQL-recomputed exactly.
    Query("pipeline_tokenize_pack", q_pipeline_tokenize_pack, Sql(
      """WITH w AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |  FROM documents),
        |nz AS (SELECT doc_id, w FROM w WHERE w <> ''),
        |agg AS (SELECT doc_id, count(*) AS n_words FROM nz GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |    % 1000000 % 8 AS shard,
        |  CAST(COALESCE(agg.n_words, 0) AS BIGINT) AS n_words,
        |  TRUE AS bpe_in_bounds, TRUE AS layout_ok
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    Query("sample_pack", q_sample_pack, Sql(
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |      % 1000000 % 8 AS shard
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |        -- CAST: an uncast integer window sum is HUGEINT, which
        |        -- round-trips to Python as float64 and hash-mismatches the
        |        -- Spark BIGINT even when every value is equal (round-2
        |        -- driver FAIL — the values were never wrong)
        |        CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          - n_tokens AS BIGINT) AS strt
        |      FROM t)
        |SELECT doc_id, shard, n_tokens,
        |  strt // 512 AS bin, strt % 512 AS offset,
        |  (strt + greatest(n_tokens, 1) - 1) // 512 AS end_bin
        |FROM c ORDER BY doc_id""".stripMargin)),
    Query("pipeline_curation", q_pipeline_curation, Sql(
      """WITH s AS (SELECT doc_id, lang,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
        |      '[0-9]+', '<NUM>', 'g'),
        |      '\s+', ' ', 'g') AS scrubbed
        |  FROM documents),
        |q AS (SELECT doc_id,
        |        len(string_split_regex(lower(trim(scrubbed)), '\s+')) AS n_words,
        |        round(len(list_filter(string_split_regex(lower(trim(scrubbed)), '\s+'),
        |          w -> w IN ('the','a','of','to','and'))) * 1.0
        |          / len(string_split_regex(lower(trim(scrubbed)), '\s+')), 6) AS swr
        |      FROM s),
        |k AS (SELECT s.doc_id, s.lang, s.scrubbed, q.n_words
        |      FROM s JOIN q USING (doc_id)
        |      WHERE q.n_words >= 8 AND q.swr <= 0.4),
        |c AS (SELECT min(doc_id) AS doc_id FROM k GROUP BY md5(lower(trim(scrubbed)))),
        |d AS (SELECT k.* FROM k JOIN c USING (doc_id))
        |SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words, scrubbed
        |FROM d
        |WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 1000000
        |  < CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 1000000 ELSE 250000 END
        |ORDER BY doc_id""".stripMargin)),
    Query("sample_split", q_sample_split, Sql(
      """SELECT CASE
        |    WHEN CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))
        |      AS BIGINT) % 1000000 < 800000 THEN 'train'
        |    WHEN CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))
        |      AS BIGINT) % 1000000 < 900000 THEN 'val'
        |    ELSE 'test' END AS split,
        |  lang, count(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("sample_stratified", q_sample_stratified, Sql(
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 1000000
        |  < CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 1000000 ELSE 250000 END
        |ORDER BY doc_id""".stripMargin)),
    Query("sample_importance", q_sample_importance, Sql(
      """WITH q AS (SELECT doc_id, lang,
        |    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        w -> w IN ('the','a','of','to','and'))) AS nstop,
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS nw
        |  FROM documents),
        |w AS (SELECT doc_id, lang,
        |    CAST(least(1000000, nstop * 5000000 // nw) AS BIGINT) AS w
        |  FROM q)
        |SELECT doc_id, lang, w FROM w
        |WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
        |    % 1000000 < w
        |ORDER BY doc_id""".stripMargin)),
    Query("sample_cap_per_key", q_sample_cap_per_key, Sql(
      """WITH r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents)
        |SELECT doc_id, lang FROM r WHERE rnk <= 50 ORDER BY doc_id""".stripMargin)),
    // IEEE op order (p * T / n) * 1e6, floor — verbatim the Scala
    // threshold arithmetic in Sampling.targetMix, so thresholds are
    // bit-identical across engines.
    Query("sample_target_mix", q_sample_target_mix, Sql(
      """WITH p AS (SELECT lang, CAST(CASE lang WHEN 'en' THEN 0.6
        |    WHEN 'zh' THEN 0.25 WHEN 'de' THEN 0.15 END AS DOUBLE) AS share,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM documents WHERE lang IN ('en', 'zh', 'de') GROUP BY lang),
        |t AS (SELECT min(n / share) AS feasible FROM p),
        |r AS (SELECT p.lang,
        |    CAST(floor(p.share * t.feasible / p.n * 1000000) AS BIGINT) AS thr
        |  FROM p, t)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang
        |WHERE CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,15)) AS BIGINT) % 1000000
        |  < r.thr
        |ORDER BY d.doc_id""".stripMargin)),
    Query("text_decontaminate", q_text_decontaminate, Sql(
      s"""WITH $docsWithDupsSql,
         |bench AS (SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 50 = 0),
         |corpus AS (SELECT a.doc_id, a.text FROM all_docs a
         |           ANTI JOIN bench b ON a.doc_id = b.bench_id),
         |cw AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM corpus),
         |cs AS (SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, len(ws)-3),
         |      i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4])) AS s
         |  FROM cw WHERE len(ws) >= 5),
         |hot AS (SELECT s FROM cs GROUP BY s HAVING count(*) > 1000),
         |cc AS (SELECT cs.doc_id, cs.s FROM cs ANTI JOIN hot USING (s)),
         |bw AS (SELECT bench_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM bench),
         |bs AS (SELECT DISTINCT bench_id,
         |    unnest(list_transform(range(1, len(ws)-3),
         |      i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4])) AS s
         |  FROM bw WHERE len(ws) >= 5),
         |m AS (SELECT c.doc_id, b.bench_id, count(*) AS shared
         |      FROM cc c JOIN bs b USING (s) GROUP BY 1, 2)
         |SELECT doc_id, bench_id, CAST(shared AS BIGINT) AS shared
         |FROM m WHERE shared >= 3 ORDER BY doc_id, bench_id""".stripMargin)),
    Query("agg_robust_zscore", q_agg_robust_zscore, Sql(
      """WITH o AS (SELECT event_id, event_type, value FROM events),
        |med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |        FROM o GROUP BY 1),
        |mad AS (SELECT e.event_type,
        |          quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |        FROM o e JOIN med m USING (event_type) GROUP BY 1)
        |SELECT e.event_id, e.event_type,
        |  round(0.6745 * (e.value - m.med) / NULLIF(d.mad, 0), 6) AS robust_z
        |FROM o e JOIN med m USING (event_type) JOIN mad d USING (event_type)
        |ORDER BY e.event_id""".stripMargin)),
    // six ln-of-exact-integer terms combined in the identical order; the
    // top-50 is a TOTAL order (rounded pmi desc, term_a, term_b)
    Query("text_novelty", q_text_novelty, Sql(
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
        |    i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS sh
        |  FROM w WHERE len(ws) >= 3),
        |sh AS (SELECT DISTINCT doc_id,
        |    CAST(('0x'||substr(md5(sh), 1, 15)) AS BIGINT) AS h FROM sh0),
        |df AS (SELECT h, count(*) AS df FROM sh GROUP BY 1),
        |g AS (SELECT doc_id, count(*) AS n_shingles,
        |    CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_unique
        |  FROM sh JOIN df USING (h) GROUP BY 1)
        |SELECT doc_id, n_shingles, n_unique,
        |  round(CAST(n_unique AS DOUBLE) / n_shingles, 6) AS novelty
        |FROM g ORDER BY doc_id""".stripMargin)),
    Query("agg_growth_rate", q_agg_growth_rate, Sql(
      s"""WITH wk AS (SELECT event_type,
        |    date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
        |    CAST(sum($valueCentsSql) AS BIGINT) AS total_cents,
        |    count(*) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |l AS (SELECT event_type, week, n, total_cents,
        |    lag(total_cents) OVER (PARTITION BY event_type ORDER BY week)
        |      AS prev
        |  FROM wk)
        |SELECT event_type, week, n, total_cents,
        |  round(CAST(total_cents - prev AS DOUBLE)
        |    / NULLIF(CAST(prev AS DOUBLE), 0), 6) AS wow_growth
        |FROM l ORDER BY 1, 2""".stripMargin)),
    // portable-ln conversions (round 11): the NB/LM families' every
    // transcendental input is an exact integer count over md5 buckets,
    // so DuckDB refits the model and rescores independently — ln of the
    // SAME double ratio in both engines, summed over the fixture's
    // ≤ ~31 distinct-bucket terms per doc, agrees after round(_, 6)
    Query("text_perplexity", q_text_perplexity, Sql(
      """WITH w AS (SELECT doc_id, lang,
        |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |tk AS (SELECT doc_id,
        |    CAST(('0x'||substr(md5(t), 1, 15)) AS BIGINT) % 1024 AS bk
        |  FROM (SELECT doc_id, unnest(ws) AS t FROM w) WHERE t <> ''),
        |etk AS (SELECT CAST(('0x'||substr(md5(t), 1, 15)) AS BIGINT) % 1024 AS bk
        |  FROM (SELECT unnest(ws) AS t FROM w WHERE lang = 'en') WHERE t <> ''),
        |cnts AS (SELECT bk, count(*) AS c FROM etk GROUP BY 1),
        |tot AS (SELECT count(*) AS tot FROM etk),
        |dbk AS (SELECT doc_id, bk, count(*) AS cnt FROM tk GROUP BY 1, 2),
        |sc AS (SELECT dbk.doc_id, CAST(sum(dbk.cnt) AS BIGINT) AS n_tokens,
        |    sum(dbk.cnt * ln((CAST(coalesce(c.c, 0) AS DOUBLE) + 1.0)
        |        / (CAST(tot.tot AS DOUBLE) + 1024.0)))
        |      / CAST(sum(dbk.cnt) AS DOUBLE) AS avg_logprob
        |  FROM dbk LEFT JOIN cnts c USING (bk) CROSS JOIN tot GROUP BY 1)
        |SELECT d.doc_id, d.lang,
        |  coalesce(sc.n_tokens, 0) AS n_tokens,
        |  round(sc.avg_logprob, 6) AS avg_logprob
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),
    Query("text_nb_classifier", q_text_nb_classifier, Sql(
      """WITH w AS (SELECT doc_id, lang,
        |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |tk AS (SELECT doc_id,
        |    CAST(('0x'||substr(md5(t), 1, 15)) AS BIGINT) % 1024 AS bk
        |  FROM (SELECT doc_id, unnest(ws) AS t FROM w) WHERE t <> ''),
        |dbk AS (SELECT doc_id, bk, count(*) AS cnt FROM tk GROUP BY 1, 2),
        |ltk AS (SELECT lang AS lbl,
        |    CAST(('0x'||substr(md5(t), 1, 15)) AS BIGINT) % 1024 AS bk
        |  FROM (SELECT lang, unnest(ws) AS t FROM w) WHERE t <> ''),
        |ccnt AS (SELECT lbl, bk, count(*) AS c FROM ltk GROUP BY 1, 2),
        |ltot AS (SELECT lbl, count(*) AS tot FROM ltk GROUP BY 1),
        |dcnt AS (SELECT lang AS lbl, count(*) AS n FROM documents GROUP BY 1),
        |tdocs AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM documents),
        |priors AS (SELECT lbl,
        |    ln(CAST(n AS DOUBLE) / total) AS prior
        |  FROM dcnt CROSS JOIN tdocs),
        |scored AS (SELECT dbk.doc_id, l.lbl,
        |    sum(dbk.cnt * ln((CAST(coalesce(c.c, 0) AS DOUBLE) + 1.0)
        |        / (CAST(coalesce(t.tot, 0) AS DOUBLE) + 1024.0))) AS ll
        |  FROM dbk CROSS JOIN (SELECT lbl FROM dcnt) l
        |  LEFT JOIN ccnt c ON c.lbl = l.lbl AND c.bk = dbk.bk
        |  LEFT JOIN ltot t ON t.lbl = l.lbl
        |  GROUP BY 1, 2),
        |best AS (SELECT doc_id, lbl, score FROM (
        |    SELECT doc_id, lbl, ll + prior AS score,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY ll + prior DESC, lbl) AS rn
        |    FROM scored JOIN priors USING (lbl)) WHERE rn = 1),
        |fb AS (SELECT lbl FROM priors ORDER BY prior DESC, lbl LIMIT 1)
        |SELECT d.doc_id, d.lang,
        |  coalesce(b.lbl, fb.lbl) AS label_pred,
        |  round(b.score, 6) AS score
        |FROM documents d
        |LEFT JOIN best b USING (doc_id)
        |CROSS JOIN fb
        |ORDER BY d.doc_id""".stripMargin)),
    Query("text_pmi", q_text_pmi, Sql(
      """WITH w AS (SELECT
        |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |uw AS (SELECT unnest(ws) AS t FROM w),
        |uni AS (SELECT t, count(*) AS n FROM uw GROUP BY 1),
        |tot AS (SELECT CAST(sum(len(ws)) AS BIGINT) AS nn,
        |    CAST(sum(greatest(len(ws) - 1, 0)) AS BIGINT) AS bb FROM w),
        |big AS (SELECT unnest(list_transform(range(1, len(ws)),
        |      i -> ws[i]||' '||ws[i+1])) AS bg
        |  FROM w WHERE len(ws) >= 2),
        |nab AS (SELECT split_part(bg, ' ', 1) AS term_a,
        |    split_part(bg, ' ', 2) AS term_b, count(*) AS nab
        |  FROM big GROUP BY bg HAVING count(*) >= 5),
        |j AS (SELECT term_a, term_b, nab,
        |    ln(CAST(nab AS DOUBLE)) - ln(CAST(bb AS DOUBLE))
        |      - ln(CAST(na.n AS DOUBLE)) - ln(CAST(nb.n AS DOUBLE))
        |      + ln(CAST(nn AS DOUBLE)) + ln(CAST(nn AS DOUBLE)) AS pmi
        |  FROM nab JOIN uni na ON na.t = term_a
        |           JOIN uni nb ON nb.t = term_b
        |           CROSS JOIN tot)
        |SELECT term_a, term_b, CAST(nab AS BIGINT) AS nab,
        |  round(pmi, 6) AS pmi
        |FROM j ORDER BY round(pmi, 6) DESC, term_a, term_b
        |LIMIT 50""".stripMargin)),
    Query("text_repetition", q_text_repetition, Sql(
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |g2 AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws)), i -> ws[i]||' '||ws[i+1])) AS g
        |  FROM w WHERE len(ws) >= 2),
        |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
        |m2 AS (SELECT doc_id,
        |    round(max(c) * 1.0 / sum(c), 6) AS top2_frac,
        |    round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c), 6)
        |      AS dup2_frac
        |  FROM c2 GROUP BY 1),
        |g3 AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(ws) - 1),
        |      i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS g
        |  FROM w WHERE len(ws) >= 3),
        |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
        |m3 AS (SELECT doc_id,
        |    round(max(c) * 1.0 / sum(c), 6) AS top3_frac,
        |    round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c), 6)
        |      AS dup3_frac
        |  FROM c3 GROUP BY 1)
        |SELECT m2.doc_id, top2_frac, dup2_frac, top3_frac, dup3_frac
        |FROM m2 JOIN m3 ON m2.doc_id = m3.doc_id ORDER BY m2.doc_id""".stripMargin)),
    Query("proj_unpivot", q_proj_unpivot, Sql(
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        |  l_quantity AS value FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |  l_extendedprice FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
        |  l_discount FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax',
        |  l_tax FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin)),
    Query("text_chunk", q_text_chunk, Sql(
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
        |s AS (SELECT doc_id, ws,
        |    unnest(range(1, greatest(len(ws) - 15, 1) + 1, 8)) AS strt
        |  FROM w),
        |k AS (SELECT doc_id, strt, ws[strt : strt + 15] AS chunk FROM s)
        |SELECT doc_id, CAST((strt - 1) // 8 AS BIGINT) AS chunk_id,
        |  CAST(strt AS BIGINT) AS strt,
        |  CAST(len(chunk) AS BIGINT) AS n_tokens,
        |  array_to_string(chunk, ' ') AS chunk
        |FROM k ORDER BY doc_id, chunk_id""".stripMargin)),
    Query("agg_diversity", q_agg_diversity, Sql(
      """WITH g AS (SELECT source, lang, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |a AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_classes,
        |    sum(CAST(c AS DOUBLE) * CAST(c AS DOUBLE)) AS sc2
        |  FROM g GROUP BY 1)
        |SELECT source, n_docs, n_classes,
        |  (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE) - sc2)
        |    / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))
        |    AS gini_simpson
        |FROM a ORDER BY source""".stripMargin)),
    Query("join_fuzzy", q_join_fuzzy, Sql(
      """WITH c AS (SELECT c_custkey, c_name,
        |    substr(c_name, 10, 7) AS blk FROM customer)
        |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  a.c_name AS name_a, b.c_name AS name_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin)),
    Query("text_pii_mask", q_text_pii_mask, Sql(
      """SELECT c_custkey, md5(c_name) AS c_name_pseud,
        |  regexp_replace(c_name, '[0-9]', '#', 'g') AS c_name_masked,
        |  floor(c_acctbal / 100.0) * 100.0 AS c_acctbal_bucket
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    // Real PNG decode twin: pixel (x,y) of the 4×4 digest image is md5
    // byte 4y+x, so the decoded Rec.601 luminance is re-derivable from
    // md5(text) alone. The float truncation is mirrored with CAST(... AS
    // REAL) so both engines round to the same float32 before round(_, 6).
    // 8 LE int16 samples re-derived from md5 hex; sign via the 32768
    // two's-complement fold — any codec header/endian/sign bug hash-fails
    Query("multimodal_wav_decode", q_multimodal_wav_decode, Sql(
      """WITH d AS (SELECT doc_id, md5(text) AS hx FROM documents
        |  WHERE text IS NOT NULL),
        |i AS (SELECT unnest(range(0, 8)) AS i),
        |u AS (SELECT doc_id,
        |    CAST(('0x'||substr(hx, 4 * i + 1, 2)) AS BIGINT)
        |      + 256 * CAST(('0x'||substr(hx, 4 * i + 3, 2)) AS BIGINT) AS uv
        |  FROM d CROSS JOIN i),
        |sv AS (SELECT doc_id,
        |    CASE WHEN uv >= 32768 THEN uv - 65536 ELSE uv END AS s
        |  FROM u)
        |SELECT doc_id, count(*) AS n_samples,
        |  CAST(sum(s) AS BIGINT) AS s_sum,
        |  CAST(sum(s * s) AS BIGINT) AS s_sqsum,
        |  CAST(min(s) AS BIGINT) AS s_min,
        |  CAST(max(s) AS BIGINT) AS s_max
        |FROM sv GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    // deflate guarantee flags (round 11): DuckDB has no zlib; the exact
    // side is doc_id + n_chars, the flags assert the codec invariants
    Query("text_compressibility", q_text_compressibility, Sql(
      """SELECT doc_id, length(text) AS n_chars,
        |  TRUE AS bounded, TRUE AS dup_collapses
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // fallback-decode mirror: feature i = first 4 md5 bytes of
    // (payload ++ [i]) as uint32 / 2^32, float32-truncated — chr(i) IS
    // the appended byte for i < 128, and /2^32 is exact in double (power
    // of two), so CAST(... AS REAL) reproduces the same float
    Query("multimodal_features", q_multimodal_features, Sql {
      def f(i: Int) =
        s"round(CAST(CAST(CAST(('0x'||substr(md5(text || chr($i)), 1, 8)) AS BIGINT)" +
          s" / 4294967296.0 AS REAL) AS DOUBLE), 6) AS f$i"
      s"""SELECT doc_id AS media_id, 'image' AS kind,
         |  CAST(16 AS INTEGER) AS dim,
         |  ${f(0)}, ${f(5)}, ${f(10)}, ${f(15)}
         |FROM documents ORDER BY doc_id""".stripMargin
    }),
    Query("multimodal_decode", q_multimodal_decode, Sql {
      def f(idx: Int) =
        s"round(CAST(CAST((CAST(0.299 AS DOUBLE) * v$idx + CAST(0.587 AS DOUBLE) * v$idx" +
          s" + CAST(0.114 AS DOUBLE) * v$idx) / 255.0 AS REAL) AS DOUBLE), 6) AS f$idx"
      def v(idx: Int) = // hex chars 2*idx+1 .. 2*idx+2 of the digest
        s"CAST(('0x'||substr(hx, ${2 * idx + 1}, 2)) AS INT) AS v$idx"
      s"""WITH d AS (SELECT doc_id, md5(text) AS hx FROM documents),
         |b AS (SELECT doc_id, ${v(0)}, ${v(5)}, ${v(10)}, ${v(15)} FROM d)
         |SELECT doc_id, CAST(4 AS BIGINT) AS w, CAST(4 AS BIGINT) AS h,
         |  ${f(0)}, ${f(5)}, ${f(10)}, ${f(15)}
         |FROM b ORDER BY doc_id""".stripMargin
    }),
    // the Spark side reads an ORC materialization of the same rows — the
    // parquet-derived oracle catches any round-trip type drift
    Query("scan_orc", q_scan_orc, Sql(
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  min(CAST(ts AS TIMESTAMP)) AS min_ts,
        |  max(CAST(ts AS TIMESTAMP)) AS max_ts,
        |  CAST(sum(length(props)) AS BIGINT) AS sum_props_len
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    // the merge algebra (anti-join ∪ updates) derived independently in
    // SQL; the Spark side aggregates the PERSISTED merged files
    Query("sink_upsert", q_sink_upsert, Sql(upsertOracleSql)),
    // fixed-point micro-unit mirror (see q_win_seasonal_decompose): every
    // output is one exact integer / the same exact small doubles
    Query("agg_session_stats", q_agg_session_stats, Sql(
      """WITH o AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |m AS (SELECT user_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |         OR us - lag(us) OVER w >= 1800000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (SELECT user_id, us,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m),
        |g AS (SELECT user_id, sid, count(*) AS n_events,
        |    max(us) - min(us) AS dur_us FROM s GROUP BY 1, 2)
        |SELECT count(*) AS n_sessions,
        |  count(DISTINCT user_id) AS n_users,
        |  round(quantile_cont(n_events, 0.5), 6) AS median_events,
        |  round(quantile_cont(n_events, 0.9), 6) AS p90_events,
        |  round(quantile_cont(dur_us, 0.5), 6) AS median_dur_us,
        |  round(quantile_cont(dur_us, 0.9), 6) AS p90_dur_us
        |FROM g""".stripMargin)),
    Query("agg_schema_drift", q_agg_schema_drift, Sql(
      """WITH keys AS (SELECT DISTINCT
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    unnest(json_keys(props)) AS k
        |  FROM events WHERE props IS NOT NULL),
        |pd AS (SELECT day, count(*) AS n_keys,
        |    string_agg(k, ',' ORDER BY k) AS key_set
        |  FROM keys GROUP BY 1),
        |nk AS (SELECT cur.day, count(*) AS new_keys
        |  FROM keys cur
        |  WHERE NOT EXISTS (SELECT 1 FROM keys prev
        |    WHERE prev.day = cur.day - INTERVAL 1 DAY AND prev.k = cur.k)
        |  GROUP BY 1)
        |SELECT pd.day, n_keys, key_set,
        |  COALESCE(nk.new_keys, 0) AS new_keys
        |FROM pd LEFT JOIN nk ON nk.day = pd.day
        |ORDER BY pd.day""".stripMargin)),
    Query("agg_effect_size", q_agg_effect_size, Sql(
      s"""WITH c AS (SELECT event_type,
        |    user_id % 2 = 0 AS isa,
        |    ($valueCentsSql) AS c
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT event_type,
        |    CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN isa THEN c ELSE 0 END) AS BIGINT) AS s1a,
        |    CAST(sum(CASE WHEN NOT isa THEN c ELSE 0 END) AS BIGINT) AS s1b,
        |    CAST(sum(CASE WHEN isa THEN c * c ELSE 0 END) AS BIGINT) AS s2a,
        |    CAST(sum(CASE WHEN NOT isa THEN c * c ELSE 0 END) AS BIGINT) AS s2b
        |  FROM c GROUP BY 1)
        |SELECT event_type, na, nb,
        |  round((CAST(s1a AS DOUBLE) / na - CAST(s1b AS DOUBLE) / nb)
        |    / NULLIF(sqrt((
        |        (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE) / na)
        |        + (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE) / nb))
        |      / CAST(na + nb - 2 AS DOUBLE)), 0), 6) AS cohens_d
        |FROM g ORDER BY event_type""".stripMargin)),
    // the decompose CTEs verbatim, each component quantized to exact
    // centi-unit BIGINTs (DECIMAL(18,2) HALF_UP), variances from
    // n·Σq² − (Σq)² (all products ≪ 2^53), one mirrored IEEE division
    Query("agg_seasonal_strength", q_agg_seasonal_strength, Sql(
      s"""WITH $seasonalGridCtes,
        |q AS (SELECT event_type,
        |    (((cnt * detr25 - s_sum) + cnt * 2500000000000) * 2
        |       + 250000 * cnt) // (500000 * cnt) - 10000000 AS rq,
        |    ((detr25 + 2500000000000) * 2 + 250000) // 500000
        |       - 10000000 AS dq,
        |    ((25 * cnt * v6 - s_sum + cnt * 2500000000000) * 2
        |       + 250000 * cnt) // (500000 * cnt) - 10000000 AS tq
        |  FROM g),
        |a AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(rq) AS BIGINT) AS sr, CAST(sum(rq * rq) AS BIGINT) AS srr,
        |    CAST(sum(dq) AS BIGINT) AS sd, CAST(sum(dq * dq) AS BIGINT) AS sdd,
        |    CAST(sum(tq) AS BIGINT) AS st, CAST(sum(tq * tq) AS BIGINT) AS stt
        |  FROM q GROUP BY 1)
        |SELECT event_type, n,
        |  round(greatest(0.0, 1.0 - CAST(n * srr - sr * sr AS DOUBLE)
        |    / NULLIF(CAST(n * sdd - sd * sd AS DOUBLE), 0)), 6)
        |    AS seasonal_strength,
        |  round(greatest(0.0, 1.0 - CAST(n * srr - sr * sr AS DOUBLE)
        |    / NULLIF(CAST(n * stt - st * st AS DOUBLE), 0)), 6)
        |    AS trend_strength
        |FROM a ORDER BY event_type""".stripMargin)),
    Query("search_bm25", q_search_bm25, Sql(
      s"""WITH $bm25Cte
         |SELECT doc_id, bm25 FROM b ORDER BY 1""".stripMargin)),
    Query("agg_ks_drift", q_agg_ks_drift, Sql(driftOracle(
      """round(max(abs(fa - fb)), 6) AS ks""",
      """CAST(sum(na) OVER pk AS DOUBLE) / sum(na) OVER pt AS fa,
        |          CAST(sum(nb) OVER pk AS DOUBLE) / sum(nb) OVER pt AS fb"""
        .stripMargin))),
    Query("agg_psi_drift", q_agg_psi_drift, Sql(driftOracle(
      """round(sum((pa - pb) * ln(pa / pb)), 6) AS psi""",
      """(na + 0.5) / (sum(na) OVER pt + 0.5 * count(*) OVER pt) AS pa,
        |          (nb + 0.5) / (sum(nb) OVER pt + 0.5 * count(*) OVER pt) AS pb"""
        .stripMargin))),
    Query("agg_corr_matrix", q_agg_corr_matrix, Sql(corrMatrixOracle)),
    Query("agg_mahalanobis", mahalanobisD2, Sql(mahalanobisOracle)),
    Query("agg_acf", q_agg_acf, Sql(acfOracle)),
    // every ln over an exact integer, milli-quantized half-up (positive
    // → identical both engines); OLS sums exact BIGINTs
    Query("agg_zipf_fit", q_agg_zipf_fit, Sql(
      """WITH w AS (SELECT lang,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        |  FROM documents),
        |tf AS (SELECT lang, t, count(*) AS f FROM w GROUP BY 1, 2
        |       HAVING count(*) >= 5),
        |r AS (SELECT lang, f,
        |    row_number() OVER (PARTITION BY lang ORDER BY f DESC, t) AS rnk
        |  FROM tf),
        |q AS (SELECT lang,
        |    CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000.0, 0) AS BIGINT) AS lq,
        |    CAST(round(ln(CAST(f AS DOUBLE)) * 1000.0, 0) AS BIGINT) AS lf
        |  FROM r),
        |g AS (SELECT lang, count(*) AS n,
        |    CAST(sum(lq) AS BIGINT) AS sq, CAST(sum(lf) AS BIGINT) AS sf,
        |    CAST(sum(lq * lq) AS BIGINT) AS sqq,
        |    CAST(sum(lf * lf) AS BIGINT) AS sff,
        |    CAST(sum(lq * lf) AS BIGINT) AS sqf
        |  FROM q GROUP BY 1)
        |SELECT lang, n,
        |  round(CAST(n * sqf - sq * sf AS DOUBLE)
        |    / NULLIF(CAST(n * sqq - sq * sq AS DOUBLE), 0), 6) AS slope,
        |  round((CAST(n * sqf - sq * sf AS DOUBLE)
        |      * CAST(n * sqf - sq * sf AS DOUBLE))
        |    / NULLIF(CAST(n * sqq - sq * sq AS DOUBLE)
        |      * CAST(n * sff - sf * sf AS DOUBLE), 0), 6) AS r2
        |FROM g ORDER BY lang""".stripMargin)),
    Query("agg_hod_profile", q_agg_hod_profile, Sql(
      s"""SELECT event_type,
        |  dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
        |  hour(CAST(ts AS TIMESTAMP)) AS hod, count(*) AS n,
        |  CAST($microSumSql
        |    // count(*) AS DOUBLE) / 1000000.0 AS mean_v
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
    Query("agg_benford", q_agg_benford, Sql(
      s"""WITH e AS (SELECT event_type,
        |    ($valueCentsSql) AS c
        |  FROM events WHERE value IS NOT NULL),
        |d AS (SELECT event_type,
        |    CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM e WHERE c > 0),
        |g AS (SELECT event_type, digit, count(*) AS obs FROM d GROUP BY 1, 2),
        |n AS (SELECT event_type, count(*) AS n FROM d GROUP BY 1)
        |SELECT event_type, digit, obs,
        |  round(CAST(obs AS DOUBLE) / n, 6) AS observed_p,
        |  round(ln((digit + 1.0) / digit) / ln(10.0), 6) AS benford_p
        |FROM g JOIN n USING (event_type)
        |ORDER BY event_type, digit""".stripMargin)),
    Query("agg_rfm", q_agg_rfm, Sql(
      s"""WITH u AS (SELECT user_id,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
        |    count(*) AS freq,
        |    CAST(sum($valueCentsSql) AS BIGINT) AS monetary
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |t AS (SELECT
        |    quantile_cont(last_us, 0.2) AS r_20, quantile_cont(last_us, 0.4) AS r_40,
        |    quantile_cont(last_us, 0.6) AS r_60, quantile_cont(last_us, 0.8) AS r_80,
        |    quantile_cont(freq, 0.2) AS f_20, quantile_cont(freq, 0.4) AS f_40,
        |    quantile_cont(freq, 0.6) AS f_60, quantile_cont(freq, 0.8) AS f_80,
        |    quantile_cont(monetary, 0.2) AS m_20, quantile_cont(monetary, 0.4) AS m_40,
        |    quantile_cont(monetary, 0.6) AS m_60, quantile_cont(monetary, 0.8) AS m_80
        |  FROM u),
        |sc AS (SELECT user_id, last_us, freq, monetary,
        |    (CASE WHEN last_us > r_20 THEN 1 ELSE 0 END)
        |      + (CASE WHEN last_us > r_40 THEN 1 ELSE 0 END)
        |      + (CASE WHEN last_us > r_60 THEN 1 ELSE 0 END)
        |      + (CASE WHEN last_us > r_80 THEN 1 ELSE 0 END) + 1 AS r_score,
        |    (CASE WHEN freq > f_20 THEN 1 ELSE 0 END)
        |      + (CASE WHEN freq > f_40 THEN 1 ELSE 0 END)
        |      + (CASE WHEN freq > f_60 THEN 1 ELSE 0 END)
        |      + (CASE WHEN freq > f_80 THEN 1 ELSE 0 END) + 1 AS f_score,
        |    (CASE WHEN monetary > m_20 THEN 1 ELSE 0 END)
        |      + (CASE WHEN monetary > m_40 THEN 1 ELSE 0 END)
        |      + (CASE WHEN monetary > m_60 THEN 1 ELSE 0 END)
        |      + (CASE WHEN monetary > m_80 THEN 1 ELSE 0 END) + 1 AS m_score
        |  FROM u CROSS JOIN t)
        |SELECT user_id, last_us, freq, monetary, r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS rfm
        |FROM sc ORDER BY user_id""".stripMargin)),
    Query("agg_interval_union", q_agg_interval_union, Sql(
      s"""WITH iv AS (SELECT user_id,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS st, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      + ($valueCentsSql) * 10000 AS en
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT user_id, day, st, en, event_id,
        |    max(en) OVER (PARTITION BY user_id, day
        |      ORDER BY st, en, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
        |  FROM iv),
        |f AS (SELECT user_id, day, st, en, event_id,
        |    CASE WHEN prevmax IS NULL OR st > prevmax THEN 1 ELSE 0 END
        |      AS flag
        |  FROM r),
        |i AS (SELECT user_id, day, st, en,
        |    sum(flag) OVER (PARTITION BY user_id, day
        |      ORDER BY st, en, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f),
        |g AS (SELECT user_id, day, island, min(st) AS is_st, max(en) AS is_en
        |  FROM i GROUP BY 1, 2, 3)
        |SELECT user_id, day, count(*) AS n_islands,
        |  CAST(sum(is_en - is_st) AS BIGINT) AS covered_us
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("agg_value_histogram", q_agg_value_histogram, Sql(
      s"""WITH e AS (SELECT event_type,
        |    ($valueCentsSql) AS c
        |  FROM events WHERE value IS NOT NULL),
        |ext AS (SELECT event_type, min(c) AS lo, max(c) AS hi,
        |    count(*) AS n FROM e GROUP BY 1),
        |b AS (SELECT e.event_type, ((c - lo) * 20) // (hi - lo + 1) AS bin, n
        |  FROM e JOIN ext USING (event_type))
        |SELECT event_type, bin, count(*) AS cnt,
        |  round(CAST(count(*) AS DOUBLE) / min(n), 6) AS share
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("agg_burstiness", q_agg_burstiness, Sql(
      """WITH k AS (SELECT event_type,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
        |    count(*) AS k
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(k) AS BIGINT) AS sk,
        |    CAST(sum(k * k) AS BIGINT) AS skk
        |  FROM k GROUP BY 1)
        |SELECT event_type, n,
        |  round(CAST(sk AS DOUBLE) / n, 6) AS mean_per_hour,
        |  round((CAST(n * skk - sk * sk AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE))
        |    / NULLIF(CAST(sk AS DOUBLE) / n, 0), 6) AS fano,
        |  round((sqrt(CAST(n * skk - sk * sk AS DOUBLE)
        |        / CAST(n * (n - 1) AS DOUBLE)) - CAST(sk AS DOUBLE) / n)
        |    / NULLIF(sqrt(CAST(n * skk - sk * sk AS DOUBLE)
        |        / CAST(n * (n - 1) AS DOUBLE)) + CAST(sk AS DOUBLE) / n, 0), 6)
        |    AS burstiness
        |FROM g ORDER BY event_type""".stripMargin)),
    Query("agg_user_segments", q_agg_user_segments, Sql(
      """WITH u AS (SELECT user_id,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c_click,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c_view,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c_purchase,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c_error,
        |    sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c_signup
        |  FROM events GROUP BY 1),
        |s AS (SELECT user_id AS seed_id, c_click AS s_click, c_view AS s_view,
        |    c_purchase AS s_purchase, c_error AS s_error, c_signup AS s_signup
        |  FROM u ORDER BY user_id LIMIT 4),
        |a AS (SELECT u.*, seed_id,
        |    (c_click - s_click) * (c_click - s_click)
        |      + (c_view - s_view) * (c_view - s_view)
        |      + (c_purchase - s_purchase) * (c_purchase - s_purchase)
        |      + (c_error - s_error) * (c_error - s_error)
        |      + (c_signup - s_signup) * (c_signup - s_signup) AS d2
        |  FROM u CROSS JOIN s),
        |r AS (SELECT *, row_number()
        |    OVER (PARTITION BY user_id ORDER BY d2, seed_id) AS rn
        |  FROM a)
        |SELECT seed_id AS segment, count(*) AS n_users,
        |  CAST(sum(c_click) AS BIGINT) AS tot_click,
        |  CAST(sum(c_view) AS BIGINT) AS tot_view,
        |  CAST(sum(c_purchase) AS BIGINT) AS tot_purchase,
        |  CAST(sum(c_error) AS BIGINT) AS tot_error,
        |  CAST(sum(c_signup) AS BIGINT) AS tot_signup
        |FROM r WHERE rn = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("agg_gini", q_agg_gini, Sql(
      s"""WITH e AS (SELECT event_type,
        |    ($valueCentsSql) AS c
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_type, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c) AS i
        |  FROM e),
        |g AS (SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS sx,
        |    CAST(sum(i * c) AS BIGINT) AS si FROM r GROUP BY 1)
        |SELECT event_type, n,
        |  round(CAST(2 * si - (n + 1) * sx AS DOUBLE)
        |    / NULLIF(CAST(n * sx AS DOUBLE), 0), 6) AS gini
        |FROM g ORDER BY event_type""".stripMargin)),
    // all integers until the final tau division — bit-exact, unrounded
    Query("agg_trend_mk", q_agg_trend_mk, Sql(
      s"""WITH $hourlyCentsCte,
        |p AS (SELECT a.event_type,
        |        CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sg
        |      FROM h a JOIN h b
        |        ON a.event_type = b.event_type AND a.bucket < b.bucket),
        |n AS (SELECT event_type, count(*) AS n FROM h GROUP BY 1)
        |SELECT p.event_type, CAST(sum(sg) AS BIGINT) AS s,
        |  any_value(n.n) AS n,
        |  CAST(sum(sg) AS DOUBLE) / (any_value(n.n) * (any_value(n.n) - 1) // 2)
        |    AS tau
        |FROM p JOIN n USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // date-bounded aggregate on the UNPARTITIONED original — a partition
    // derivation or pruning bug in the layout read-back hash-fails
    Query("scan_pruned_manifest", q_scan_pruned_manifest, Sql(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("sink_partitioned", q_sink_partitioned, Sql(
      """SELECT CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS TIMESTAMP)
        |    AS event_date, event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) >= DATE '2024-01-08'
        |  AND CAST(CAST(ts AS TIMESTAMP) AS DATE) < DATE '2024-01-15'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // smooth idf (sklearn form); rank over (rounded score, term) — total
    Query("text_tfidf", q_text_tfidf, Sql(
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
        |sc AS (SELECT doc_id, term,
        |    round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS rnk FROM sc)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tfidf
        |FROM r WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin)),
    // open/close picked through the total-order struct (t, id, v) — both
    // engines compare structs lexicographically, so ties resolve identically
    Query("agg_resample_ohlc", q_agg_resample_ohlc, Sql(ohlcOracleSql)),
    // integer counts into ln; PSI's portable-ln discipline, round(6)
    Query("agg_entropy", q_agg_entropy, Sql(
      """WITH u AS (SELECT event_type, user_id, count(*) AS nu
        |           FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(sum(nu) AS BIGINT) AS n_events,
        |        count(*) AS n_users,
        |        sum(CAST(nu AS DOUBLE) * ln(CAST(nu AS DOUBLE))) AS snl
        |      FROM u GROUP BY 1),
        |h AS (SELECT *, ln(CAST(n_events AS DOUBLE))
        |        - snl / CAST(n_events AS DOUBLE) AS hraw FROM g)
        |SELECT event_type, n_events, n_users, round(hraw, 6) AS entropy,
        |  round(hraw / nullif(ln(CAST(n_users AS DOUBLE)), 0.0), 6)
        |    AS norm_entropy
        |FROM h ORDER BY 1""".stripMargin)),
    // exact integer surface counts; two mirrored IEEE divisions, round(4)
    Query("text_readability", q_text_readability, Sql(
      """WITH c AS (SELECT doc_id, lang,
        |    CAST(length(string_split(text, ' ')) AS BIGINT) AS words,
        |    CAST(length(regexp_replace(lower(text), '[aeiouy]+', '#', 'g'))
        |      - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g'))
        |      AS BIGINT) AS syllables,
        |    1 + CAST(length(regexp_replace(text, '[.!?]+', '#', 'g'))
        |      - length(regexp_replace(text, '[.!?]+', '', 'g'))
        |      AS BIGINT) AS sentences
        |  FROM documents),
        |r AS (SELECT *,
        |    CAST(words AS DOUBLE) / nullif(CAST(sentences AS DOUBLE), 0.0)
        |      AS wps,
        |    CAST(syllables AS DOUBLE) / nullif(CAST(words AS DOUBLE), 0.0)
        |      AS spw
        |  FROM c)
        |SELECT doc_id, lang, words, sentences, syllables,
        |  round(206.835 - 1.015 * wps - 84.6 * spw, 4) AS flesch,
        |  round(0.39 * wps + 11.8 * spw - 15.59, 4) AS fk_grade
        |FROM r ORDER BY doc_id""".stripMargin)),
    // slopes are exact-integer ratios; median = interpolated percentile
    Query("agg_trend_sen", q_agg_trend_sen, Sql(
      s"""WITH $hourlyCentsCte,
        |t AS (SELECT event_type,
        |        CAST(floor(epoch(bucket)) AS BIGINT) // 3600 AS t, c
        |      FROM h),
        |p AS (SELECT a.event_type,
        |        CAST(b.c - a.c AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS slope
        |      FROM t a JOIN t b
        |        ON a.event_type = b.event_type AND a.t < b.t)
        |SELECT event_type, round(quantile_cont(slope, 0.5), 6) AS sen_slope,
        |  count(*) AS n_pairs
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),
    // exact integer sums divided by exact integer counts — no rounding
    Query("sample_soft_dedup", q_sample_soft_dedup, Sql(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |segs AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(ws, i * 50 + 1, i * 50 + 50), ' ') AS seg
        |  FROM w, unnest(range(0, CAST(ceil(length(ws) / 50.0) AS BIGINT))) AS t(i)),
        |df AS (SELECT md5(seg) AS h, count(*) AS df FROM segs GROUP BY 1),
        |d AS (SELECT s.doc_id, CAST(sum(df.df) AS BIGINT) AS sum_df,
        |        count(*) AS n
        |      FROM segs s JOIN df ON md5(s.seg) = df.h GROUP BY 1)
        |SELECT doc_id, CAST(sum_df AS DOUBLE) / n AS mean_df,
        |  CAST(n AS DOUBLE) / sum_df AS weight
        |FROM d ORDER BY doc_id""".stripMargin)),
    // the run-time-published entries (persisted-artifact oracles): each
    // query builds its own SQL at execution time via
    // publishOracle — no shared mutable state, no run-order coupling
    // (a cold process falls back to the registry-persisted fragment)
    Query("multimodal_phash_dedup", q_multimodal_phash_dedup, Published()),
    Query("multimodal_phash_incr", q_multimodal_phash_incr, Published())
  )

  /** Every declared query: this file's table, then each family file's. */
  val declared: Seq[Query] =
    entryQueries ++ SimilarityGraph.queries ++ Windows.queries ++ Deduplication.queries ++
      Streaming.queries ++ Models.queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Query.builds(declared)

  /** Read on each call: a published oracle appears once its query ran. */
  def oracleSql: Map[String, String] = Query.oracles(declared)

  /** Mahalanobis oracle (mirrors [[mahalanobisD2]]): same cents/wide
    * CTEs as the correlation matrix, exact-BIGINT n-scaled deviations
    * and covariance terms, the identical IEEE d² combination, flag on
    * the unrounded value.
    */
  private def mahalanobisOracle: String =
    s"""WITH $hourlyCentsCte,
      |w AS (
      |  SELECT bucket,
      |    max(CASE WHEN event_type = 'click' THEN c END) AS x,
      |    max(CASE WHEN event_type = 'view' THEN c END) AS y
      |  FROM h GROUP BY 1
      |  HAVING max(CASE WHEN event_type = 'click' THEN c END) IS NOT NULL
      |     AND max(CASE WHEN event_type = 'view' THEN c END) IS NOT NULL),
      |st AS (SELECT count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy FROM w),
      |m AS (SELECT bucket, x, y, n,
      |    CAST(n * x - sx AS DOUBLE) AS ax,
      |    CAST(n * y - sy AS DOUBLE) AS ay,
      |    CAST(n * sxx - sx * sx AS DOUBLE) AS vxx,
      |    CAST(n * syy - sy * sy AS DOUBLE) AS vyy,
      |    CAST(n * sxy - sx * sy AS DOUBLE) AS vxy
      |  FROM w CROSS JOIN st),
      |d AS (SELECT bucket, x, y,
      |    CAST(n - 1 AS DOUBLE)
      |      * (ax * ax * vyy - ax * ay * vxy * 2.0 + ay * ay * vxx)
      |      / NULLIF(CAST(n AS DOUBLE) * (vxx * vyy - vxy * vxy), 0) AS d2u
      |  FROM m)
      |SELECT bucket, x AS c_click, y AS c_view, round(d2u, 6) AS d2,
      |  CASE WHEN d2u > 9.21 THEN 1 ELSE 0 END AS outlier
      |FROM d ORDER BY bucket""".stripMargin

  /** ACF oracle (mirrors q_agg_acf): one windowed CTE with all 12 lag
    * columns, 12 UNION ALL legs unpivoting, the corr-matrix Pearson
    * combination verbatim.
    */
  private def acfOracle: String = {
    val maxLag = 12
    val lagCols = (1 to maxLag)
      .map(k => s"lag(c, $k) OVER w AS l$k").mkString(",\n|    ")
    val legs = (1 to maxLag).map(k =>
      s"SELECT event_type, $k AS lag, c AS ca, l$k AS cb FROM l WHERE l$k IS NOT NULL")
      .mkString("\n|  UNION ALL\n|  ")
    s"""WITH $hourlyCentsCte,
       |l AS (SELECT event_type, bucket, c,
       |    $lagCols
       |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
       |u AS (
       |  $legs
       |)
       |SELECT event_type, lag, count(*) AS n,
       |  CAST(count(*) * sum(ca * cb) - sum(ca) * sum(cb) AS DOUBLE)
       |    / NULLIF(sqrt(CAST(count(*) * sum(ca * ca) - sum(ca) * sum(ca) AS DOUBLE))
       |       * sqrt(CAST(count(*) * sum(cb * cb) - sum(cb) * sum(cb) AS DOUBLE)), 0) AS r
       |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Correlation-matrix oracle (mirrors q_agg_corr_matrix): integer-cents
    * hourly means via pure integer division (never a fractional
    * decimal→BIGINT cast — DuckDB rounds those, Spark truncates), exact
    * sufficient sums, one verbatim-mirrored IEEE Pearson combination per
    * pair. Generated over the same pair list as the Spark side.
    */
  private def corrMatrixOracle: String = {
    val wideCols = corrTypes.map(t =>
      s"max(CASE WHEN event_type = '$t' THEN c END) AS c_$t").mkString(",\n|    ")
    val selects = corrPairs.map { case (a, b) =>
      s"""SELECT '$a' AS tag_a, '$b' AS tag_b, count(*) AS n,
         |  CAST(count(*) * sum(ca * cb) - sum(ca) * sum(cb) AS DOUBLE)
         |    / NULLIF(sqrt(CAST(count(*) * sum(ca * ca) - sum(ca) * sum(ca) AS DOUBLE))
         |       * sqrt(CAST(count(*) * sum(cb * cb) - sum(cb) * sum(cb) AS DOUBLE)), 0) AS r
         |FROM (SELECT c_$a AS ca, c_$b AS cb FROM wide
         |      WHERE c_$a IS NOT NULL AND c_$b IS NOT NULL)"""
    }.mkString("\n|UNION ALL\n|")
    s"""WITH $hourlyCentsCte,
       |wide AS (
       |  SELECT bucket,
       |    $wideCols
       |  FROM h GROUP BY 1)
       |SELECT * FROM (
       |$selects
       |) ORDER BY tag_a, tag_b""".stripMargin
  }

  /** Shared binned-histogram CTE of the drift oracles (mirrors
    * [[graft.ops.Drift]]'s binning exactly): cohort A = first half of the
    * fixture month, 100 equi-width per-type bins, integer counts.
    */
  private def driftOracle(finalAgg: String, perBin: String): String =
    s"""WITH e AS (SELECT event_type, value,
       |       CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00' AS is_a
       |     FROM events WHERE value IS NOT NULL AND isfinite(value)),
       |r AS (SELECT event_type, min(value) AS mn, max(value) AS mx
       |      FROM e GROUP BY 1),
       |bb AS (SELECT e.event_type, is_a,
       |         least(CAST(floor((value - mn) / ((mx - mn) / 100)) AS BIGINT),
       |           99) AS bin
       |       FROM e JOIN r USING (event_type)),
       |c AS (SELECT event_type, bin,
       |        count(*) FILTER (WHERE is_a) AS na,
       |        count(*) FILTER (WHERE NOT is_a) AS nb
       |      FROM bb GROUP BY 1, 2),
       |cum AS (SELECT event_type, bin,
       |          $perBin
       |        FROM c
       |        WINDOW pk AS (PARTITION BY event_type ORDER BY bin),
       |               pt AS (PARTITION BY event_type))
       |SELECT event_type, $finalAgg
       |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin
}
