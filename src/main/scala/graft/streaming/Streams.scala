package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** A sensor reading in the long format every streaming op consumes. */
case class Reading(tag: String, ts: java.sql.Timestamp, value: Double)

/** Welford accumulator for online per-tag standardization. */
case class TagStats(n: Long, mean: Double, m2: Double)

/** A prequentially scored reading: z-score against the state *before* this
  * reading updated it.
  */
case class Scored(tag: String, ts: java.sql.Timestamp, value: Double,
    z: Double, anomalous: Boolean)

/** Clamped CUSUM sums in exact micro-units (longs) — see Streams.cusumOnline. */
case class CusumState(up: Long, dn: Long)

/** Trailing window of quantized readings — see Streams.autocorrOnline. */
case class AcBuf(vals: Seq[Long])

/** EWMA carry-over — see Streams.ewmaOnline. */
case class EwmaState(ewma: Double)

/** A reading with its exponentially-weighted moving average. */
case class Smoothed(tag: String, ts: java.sql.Timestamp, value: Double,
    ewma: Double)

/** A reading with its rolling autocorrelation (None until the window has
  * two lag pairs or while variance is zero).
  */
case class AutoCorrScored(tag: String, ts: java.sql.Timestamp, value: Double,
    autocorr: Option[Double])

/** A drift-scored reading: the clamped CUSUM excursions AFTER this reading. */
case class Drifted(tag: String, ts: java.sql.Timestamp, value: Double,
    cusum_up: Double, cusum_dn: Double, alarm_up: Int, alarm_dn: Int)

/** One side-tagged as-of event: probe (isRight=false, carries eventId) or
  * reference (isRight=true, value = the reference reading) — see
  * Streams.asofOnline. Event time as epoch micros for exact ordering.
  */
/** One user event for sequence-order streaming ops — event time as epoch
  * micros so ordering is exact, with the unique event id as the
  * total-order tiebreak.
  */
case class UserEvent(user: Long, tsMicros: Long, eventId: Long, etype: String)

/** Latest event in a user's sequence — [[Streams.transitionsOnline]] state. */
case class TransState(tsMicros: Long, eventId: Long, etype: String)

/** One observed consecutive transition in a user's event sequence. */
case class TransitionOut(user_id: Long, prev_type: String, next_type: String)

/** Per-user funnel progress — [[Streams.funnelOnline]] state: epoch-µs of
  * the first qualifying event per stage (`None` until the stage is
  * reached). Monotone: a slot only ever goes `None` → `Some` once.
  */
case class FunnelState(cUs: Option[Long], vUs: Option[Long], pUs: Option[Long])

/** A user's funnel snapshot after a micro-batch advanced it. */
case class FunnelOut(user_id: Long, c_us: Option[Long], v_us: Option[Long],
    p_us: Option[Long])

/** Local-level Kalman state per tag — [[Streams.kalmanOnline]]. */
case class KalmanState(level: Double, p: Double, k: Double, n: Long)

/** One filtered reading: posterior level / variance / gain after `ts`. */
case class KalmanOut(tag: String, ts: java.sql.Timestamp, level: Double,
    p: Double, k: Double, n: Long)

/** Last present bucket per tag — [[Streams.gapsOnline]] state. */
case class GapState(lastHb: Long)

/** One detected outage: `missing` consecutive absent buckets starting at
  * `gap_start_hb` (bucket index = epoch-seconds div bucket width). */
case class GapOut(tag: String, gap_start_hb: Long, missing: Long)

case class AsOfIn(user: Long, tsMicros: Long, isRight: Boolean,
    eventId: Long, value: Option[Double])

/** Latest reference value per key (None = reference row with null value). */
case class AsOfState(vv: Option[Double])

/** A probe joined to the latest reference state at-or-before it. */
case class AsOfOut(event_id: Long, user_id: Long, value: Option[Double],
    asof_vv: Option[Double])

/** Structured Streaming forms of the engine's core ops. The reference is
  * batch + request/response — its closest streaming analogue is the bulk
  * client's chunked date-range loop (`client/client.py::Client.predict`,
  * public repo; mount empty, SURVEY.md §0). Here the same semantics run as
  * genuine incremental plans: every transform below accepts the streaming
  * DataFrame from `readStream` and produces an incremental query, while
  * staying batch-compatible (same code path works on a static frame for
  * replay testing).
  *
  * Late data: the watermark is the streaming analogue of the batch
  * dropna-after-align — readings later than the watermark are dropped
  * instead of mutating closed buckets.
  */
object Streams {

  /** Continuous resample: tumbling-window mean/count per tag with a
    * watermark bounding state. Mirrors `graft.ops.Timeseries.resample`.
    */
  def resample(df: DataFrame, tsCol: String, tagCol: String, valueCol: String,
      resolution: String, watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), resolution).as("w"), col(tagCol))
      .agg(avg(col(valueCol)).as("avg_value"), count(lit(1)).as("n"))
      .select(col("w.start").as("bucket"), col(tagCol), col("avg_value"), col("n"))

  /** Event sessionization: gap-based session windows per key. */
  def sessionize(df: DataFrame, tsCol: String, keyCol: String,
      gap: String, watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col(keyCol), col("n_events"))

  /** Stream-stream interval join: each left event pairs with right events
    * of the same key whose timestamp falls in `[leftTs − lag, leftTs]`.
    * Both sides are watermarked — Spark derives the state retention bound
    * from the watermark + the interval condition, so join state is
    * GC'd and never grows unboundedly (THE requirement for a stream-stream
    * join at scale). Batch-compatible: on static frames the same
    * expression is a plain equi-join with a range predicate.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, lag: String, watermark: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
        col(s"l.$keyCol") === col(s"r.$keyCol") &&
          col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $lag") &&
          col(s"r.$rightTs") <= col(s"l.$leftTs"))
      // one key column out, not two identically-named ones — a downstream
      // select/groupBy on the key must not hit AMBIGUOUS_REFERENCE
      .drop(col(s"r.$keyCol"))
  }

  /** Streaming ingest of an Influx line-protocol spool: `readStream.text`
    * over the watched directory → `LineProtocol.parseLines` → the
    * canonical `(ts, tag, value)` long format, ready for the watermarked
    * transforms above. This is the streaming twin of
    * `sources.InfluxLineStore.loadSeries`: a forwarder POSTing line
    * protocol produces byte-identical text, so wire-to-frame is the SAME
    * codec in both engines — parse stays row-local column expressions and
    * the incremental plan shuffles only at the downstream aggregation.
    */
  def readLineProtocol(spark: org.apache.spark.sql.SparkSession, dir: String,
      measurement: String): DataFrame = {
    import spark.implicits._
    graft.sources.LineProtocol.parseLines(
      spark.readStream.text(dir).as[String], measurement)
  }

  /** Exactly-once readings: drop duplicate ids arriving within the
    * watermark horizon (at-least-once source → effectively-once sink).
    */
  def dedup(df: DataFrame, tsCol: String, idCols: Seq[String], watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Stream → store sink: route each micro-batch of the canonical long
    * format through a [[graft.sources.TimeSeriesWriter]] via foreachBatch
    * — the streaming leg of the connector contract (the reference's
    * forwarder shape with incremental semantics). Delivery is
    * at-least-once per micro-batch (foreachBatch may retry); compose with
    * [[dedup]] upstream or an idempotent store (Influx point overwrite is)
    * for effectively-once. The writer runs its own executor-parallel
    * write path (foreachPartition / parquet append) inside each batch —
    * nothing funnels through the driver.
    */
  def sinkTo(long: DataFrame, writer: graft.sources.TimeSeriesWriter,
      checkpointDir: String, queryName: String = "graft_sink")
      : org.apache.spark.sql.streaming.StreamingQuery =
    long.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) => writer.write(batch) }
      .start()

  /** Root for one-shot replay checkpoints: tmpfs when the box has one
    * ([[graft.Artifacts.tmpfsRoot]]) — the offset/commit/state-store
    * files of a bounded replay are throwaway, so paying disk fsync for
    * them is pure fixed cost (measured at sf0.1: ~0.1 s/query). Durable
    * pipelines ([[sinkTo]]) keep passing an explicit durable
    * `checkpointDir`; this root is only for [[replayToTable]]'s
    * run-and-discard queries.
    */
  private lazy val replayCheckpointRoot: Option[String] =
    graft.Artifacts.tmpfsRoot.map(_.resolve("graft-replay-ck").toString)

  /** Run a bounded streaming plan to completion into a memory sink and
    * return the result table — the shared harness behind every
    * `stream_*` replay query.
    *
    * Two fixed costs dominate a one-shot stateful streaming query at
    * test scale, and both are configuration, not data (A/B at sf0.1,
    * events complete-mode aggregate, 3 reps each):
    *
    *   - **state-store count** = `spark.sql.shuffle.partitions` at query
    *     start. The batch default (32 ≈ cores) means 32 state stores per
    *     stateful operator, each with its own delta-file lifecycle:
    *     1.55 s/query vs 0.98 s at 4 partitions. Streaming state wants
    *     to be sized to KEY CARDINALITY and per-batch volume, not to the
    *     batch shuffle width — these replays aggregate dozens-to-hundreds
    *     of keys, so 4 is ample parallelism; a 100 TB continuous ingest
    *     would raise `statePartitions` to its real key/throughput scale
    *     (it is pinned into the checkpoint at first start either way).
    *   - **checkpoint fsync**: offset/commit/state files of a bounded
    *     replay are throwaway; tmpfs removes the fsync cost (0.98 →
    *     0.88 s). The checkpoint dir is deleted after the run.
    *
    * The shuffle-partition override is scoped to the `start()` call
    * (Structured Streaming pins the value from session conf at query
    * start) and restored before the batch-side readback, so surrounding
    * batch plans keep the session's width. Output is identical under
    * any `statePartitions` — this knob moves only the fixed cost.
    */
  def replayToTable(df: DataFrame, name: String, mode: String,
      statePartitions: Int = 4): DataFrame = {
    val s = df.sparkSession
    s.catalog.dropTempView(name) // re-runs re-register the memory sink
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    val ck = replayCheckpointRoot.map(r => s"$r/$name-${java.util.UUID.randomUUID()}")
    s.conf.set("spark.sql.shuffle.partitions", statePartitions)
    try {
      val w0 = df.writeStream.format("memory").queryName(name).outputMode(mode)
      val q = ck.fold(w0)(c => w0.option("checkpointLocation", c)).start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", saved)
      ck.foreach(c => graft.Artifacts.deleteRecursively(java.nio.file.Paths.get(c)))
    }
    s.table(name)
  }

  /** Online CUSUM drift detection per tag — the genuinely-streaming form
    * of `AnomalyMath.cusum` (the batch closed form needs unbounded-history
    * running windows, which Structured Streaming cannot run): the textbook
    * clamped recursion S⁺ = max(0, S⁺ + x − target − slack) / S⁻ =
    * max(0, S⁻ + target − slack − x) carried as per-tag state.
    *
    * State is exact: values quantize to micro-units (scale-6 longs, the
    * same HALF_UP quantization as the batch operator's DECIMAL(18,6)
    * cast), so the streaming scores are BIT-IDENTICAL to the batch
    * closed form — parity is spec'd, and the batch-replay query shares
    * the batch oracle. O(1) state per tag (two longs), like scoreOnline.
    */
  def cusumOnline(readings: Dataset[Reading], target: Double, slack: Double,
      h: Double): Dataset[Drifted] = {
    import readings.sparkSession.implicits._
    def micros(d: Double): Long =
      // valueOf = shortest-decimal repr + HALF_UP — the same semantics as
      // Spark's double→DECIMAL(18,6) cast in the batch operator (Decimal
      // wraps BigDecimal.decimal), so batch/stream parity is exact
      java.math.BigDecimal.valueOf(d)
        .setScale(6, java.math.RoundingMode.HALF_UP).unscaledValue.longValueExact
    val upRef = micros(target + slack)
    val dnRef = micros(target - slack)
    val hMicros = micros(h)
    readings
      .groupByKey(_.tag)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tag: String, it: Iterator[Reading],
         state: org.apache.spark.sql.streaming.GroupState[CusumState]) =>
          var s = state.getOption.getOrElse(CusumState(0L, 0L))
          val out = it.toSeq.sortBy(r => (r.ts.getTime, r.ts.getNanos, r.value)).map { r =>
            val v = micros(r.value)
            s = CusumState(math.max(0L, s.up + (v - upRef)),
              math.max(0L, s.dn + (dnRef - v)))
            Drifted(tag, r.ts, r.value, s.up / 1e6, s.dn / 1e6,
              if (s.up > hMicros) 1 else 0, if (s.dn > hMicros) 1 else 0)
          }
          state.update(s)
          out.iterator
      }
  }

  /** Online AS-OF join per key — the streaming enrichment shape: a probe
    * stream (clicks) joined to the MOST RECENT state of a reference
    * stream (views) at-or-before each probe's event time. The batch form
    * is `ops.AsOf.join` (backward, inclusive, inner); the streaming form
    * carries one O(1) slot per key — the latest reference value — and
    * emits each probe against it. Both sides arrive as ONE side-tagged
    * stream (the only way two sources share ordered per-key state);
    * within a micro-batch events process in event-time order with
    * reference rows first on ties (the `l.t >= r.t` inclusive bound), so
    * a single-batch replay is bit-identical to the batch as-of join and
    * the query shares its oracle. Cross-batch correctness needs the
    * feed time-ordered across batches (the file-source norm); a late
    * reference row cannot retro-correct already-emitted probes — that is
    * the streaming trade, watermark your ingest accordingly.
    */
  def asofOnline(events: Dataset[AsOfIn]): Dataset[AsOfOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[AsOfIn],
         state: org.apache.spark.sql.streaming.GroupState[AsOfState]) =>
          var st = state.getOption
          // rights first at equal timestamps: false < true on !isRight
          val out = it.toSeq.sortBy(e => (e.tsMicros, !e.isRight, e.eventId))
            .flatMap { e =>
              if (e.isRight) { st = Some(AsOfState(e.value)); None }
              else st.map(s => AsOfOut(e.eventId, user, e.value, s.vv))
            }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** Online EWMA smoothing per tag — the streaming form of the score
    * smoothing later gordo versions apply before thresholding (the batch
    * analogue is `AnomalyMath.smooth`'s trailing mean; EWMA is its
    * exponential cousin and a TRUE recursion, s_t = α·x_t + (1−α)·s_{t−1},
    * so unbounded-history batch windows cannot express it — state can).
    * Seeded with the first reading (s_1 = x_1, the pandas
    * `ewm(adjust=False)` convention). O(1) state per tag.
    */
  def ewmaOnline(readings: Dataset[Reading], alpha: Double): Dataset[Smoothed] = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    import readings.sparkSession.implicits._
    readings
      .groupByKey(_.tag)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tag: String, it: Iterator[Reading],
         state: org.apache.spark.sql.streaming.GroupState[EwmaState]) =>
          var s = state.getOption
          val out = it.toSeq.sortBy(r => (r.ts.getTime, r.ts.getNanos, r.value)).map { r =>
            val next = s match {
              case None => r.value
              case Some(EwmaState(prev)) => alpha * r.value + (1.0 - alpha) * prev
            }
            s = Some(EwmaState(next))
            Smoothed(tag, r.ts, r.value, next)
          }
          s.foreach(state.update)
          out.iterator
      }
  }

  /** Online per-user event-sequence transitions — the live feed of the
    * Markov-chain matrix (`agg_transitions`): each consecutive pair in a
    * user's event sequence, ordered by event time with the unique event
    * id as the total-order tiebreak, emits one `(prev_type, next_type)`
    * row. State is ONE small record per user (its latest event) —
    * O(users), watermark-free. Within a micro-batch events process
    * sorted by `(tsMicros, eventId)`, so a single-batch replay is
    * row-identical to the batch lag-window form and the driver query
    * shares `agg_transitions`' oracle; across batches the carried last
    * event stitches boundary pairs (MemoryStream spec). An out-of-order
    * cross-batch straggler pairs against the latest-seen event —
    * at-arrival semantics, the documented contract of every
    * watermark-free op here.
    */
  def transitionsOnline(events: Dataset[UserEvent]): Dataset[TransitionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[UserEvent],
         state: org.apache.spark.sql.streaming.GroupState[TransState]) =>
          var last = state.getOption
          val out = it.toSeq.sortBy(e => (e.tsMicros, e.eventId)).flatMap { e =>
            val pair = last.map(p => TransitionOut(user, p.etype, e.etype))
            last = Some(TransState(e.tsMicros, e.eventId, e.etype))
            pair
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** LIVE conversion funnel — the streaming twin of the batch
    * `agg_funnel` query: per user, the first `s1` event, the first `s2`
    * event strictly after it, and the first `s3` event strictly after
    * that, each recorded as epoch-µs. State is ONE three-slot record per
    * user and each slot is write-once (monotone), so state size is
    * O(users) and never grows with stream length — watermark-free by the
    * same argument as `transitionsOnline`. Within a micro-batch events
    * process sorted by `(tsMicros, eventId)`; because each stage takes
    * the FIRST qualifying event in time order, the sequential greedy
    * scan equals the batch min-chaining form (first qualifying = min
    * qualifying), so a single-batch replay aggregates to exactly the
    * batch funnel and the driver query shares `agg_funnel`'s oracle.
    * A snapshot row is emitted only when a batch ADVANCES a user's
    * state; across batches the latest snapshot per user is current
    * (MemoryStream spec pins the cross-batch stitch and the equal-µs
    * tie exclusion).
    */
  def funnelOnline(events: Dataset[UserEvent], s1: String = "click",
      s2: String = "view", s3: String = "purchase"): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[UserEvent],
         state: org.apache.spark.sql.streaming.GroupState[FunnelState]) =>
          val before = state.getOption.getOrElse(FunnelState(None, None, None))
          var st = before
          it.toSeq.sortBy(e => (e.tsMicros, e.eventId)).foreach { e =>
            if (st.cUs.isEmpty && e.etype == s1)
              st = st.copy(cUs = Some(e.tsMicros))
            else if (st.vUs.isEmpty && e.etype == s2 &&
                st.cUs.exists(_ < e.tsMicros))
              st = st.copy(vUs = Some(e.tsMicros))
            else if (st.pUs.isEmpty && e.etype == s3 &&
                st.vUs.exists(_ < e.tsMicros))
              st = st.copy(pUs = Some(e.tsMicros))
          }
          if (st != before) {
            state.update(st)
            Iterator(FunnelOut(user, st.cUs, st.vUs, st.pUs))
          } else Iterator.empty
      }
  }

  /** ONLINE local-level Kalman filter per tag (the classic optimal
    * recursive smoother — unlike EWMA's fixed α, the gain ADAPTS: high
    * while the level is uncertain, settling toward the steady state):
    * per reading, Pp = P + Q; K = Pp/(Pp + R); level += K·(x − level);
    * P = (1 − K)·Pp. State is O(1) per tag; the first reading
    * initializes (level = x, P = R). Within a micro-batch readings
    * process sorted by (ts, value), so a single-batch replay is
    * bit-identical to a batch fold over the ordered series and the
    * driver query's terminal state carries a FULL `list_reduce` oracle
    * (the stream_cusum discipline); every float op here must stay
    * verbatim-mirrorable — association matters, do not refactor the
    * arithmetic.
    */
  def kalmanOnline(readings: Dataset[Reading], q: Double, r: Double): Dataset[KalmanOut] = {
    import readings.sparkSession.implicits._
    readings
      .groupByKey(_.tag)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tag: String, it: Iterator[Reading],
         state: org.apache.spark.sql.streaming.GroupState[KalmanState]) =>
          var st = state.getOption.orNull
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.value)).map { e =>
            st =
              if (st == null) KalmanState(e.value, r, 0.0, 1L)
              else {
                val kp = st.p + q
                val k = kp / (kp + r)
                KalmanState(st.level + k * (e.value - st.level),
                  (1.0 - k) * kp, k, st.n + 1)
              }
            KalmanOut(tag, e.ts, st.level, st.p, st.k, st.n)
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** Online GAP detection per tag — the live twin of the batch
    * `agg_gap_detect` monitor: as readings stream in, emit one row per
    * detected outage (first absent bucket + how many buckets were
    * missed) the moment the stream resumes. State is ONE long per tag
    * (the last present bucket index) — O(tags) total, the cheapest
    * possible liveness monitor, vs the batch form's full lag window.
    * Within a micro-batch buckets process in ascending order
    * (distinct+sorted), so a single-batch replay is bit-identical to
    * the batch lag SQL and the query shares its oracle; across batches
    * the carried `lastHb` detects gaps spanning batch boundaries (the
    * MemoryStream spec pins both).
    */
  def gapsOnline(readings: Dataset[Reading], bucketSeconds: Long): Dataset[GapOut] = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    import readings.sparkSession.implicits._
    readings
      .groupByKey(_.tag)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tag: String, it: Iterator[Reading],
         state: org.apache.spark.sql.streaming.GroupState[GapState]) =>
          var last = state.getOption.map(_.lastHb)
          val hbs = it.map(r => Math.floorDiv(
              Math.floorDiv(r.ts.getTime, 1000L), bucketSeconds))
            .toSeq.distinct.sorted
          val out = hbs.flatMap { hb =>
            val gap = last match {
              case Some(p) if hb > p + 1 => Some(GapOut(tag, p + 1, hb - p - 1))
              case _ => None
            }
            if (last.forall(_ < hb)) last = Some(hb)
            gap
          }
          last.foreach(hb => state.update(GapState(hb)))
          out.iterator
      }
  }

  /** Online rolling lag-1 autocorrelation per tag — the streaming twin of
    * `AnomalyMath.rollingAutocorr`, bit-identical to it: state is the
    * trailing k+1 readings quantized to exact `scale`-decimal integer
    * units (the same HALF_UP quantization as the batch DECIMAL cast), the
    * integer sufficient statistics are recomputed per arrival (O(k), k is
    * small), and the Pearson combination runs the same IEEE sequence.
    * O(k) state per tag.
    */
  def autocorrOnline(readings: Dataset[Reading], k: Int,
      scale: Int = 2): Dataset[AutoCorrScored] = {
    import readings.sparkSession.implicits._
    val mul = java.math.BigDecimal.TEN.pow(scale)
    readings
      .groupByKey(_.tag)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tag: String, it: Iterator[Reading],
         state: org.apache.spark.sql.streaming.GroupState[AcBuf]) =>
          var buf = state.getOption.map(_.vals.toVector).getOrElse(Vector.empty[Long])
          val out = it.toSeq.sortBy(r => (r.ts.getTime, r.ts.getNanos, r.value)).map { r =>
            val kx = java.math.BigDecimal.valueOf(r.value)
              .setScale(scale, java.math.RoundingMode.HALF_UP)
              .multiply(mul).longValueExact
            buf = (buf :+ kx).takeRight(k + 1)
            // pairs (x_{i-1}, x_i) over the trailing window — the same
            // (n, Σx, Σy, Σxy, Σx², Σy²) the batch frame aggregates yield
            val pairs = buf.sliding(2).collect { case Vector(y, x) => (x, y) }.toVector
            val n = pairs.length.toLong
            val ac =
              if (n < 2) None
              else {
                var sxL = 0L; var syL = 0L; var sxyL = 0L; var sxxL = 0L; var syyL = 0L
                pairs.foreach { case (x, y) =>
                  sxL += x; syL += y; sxyL += x * y; sxxL += x * x; syyL += y * y
                }
                // mirror the batch combination VERBATIM (long→double casts
                // first, then the same multiply/subtract order)
                val nD = n.toDouble
                val sx = sxL.toDouble; val sy = syL.toDouble
                val num = nD * sxyL.toDouble - sx * sy
                val vx = nD * sxxL.toDouble - sx * sx
                val vy = nD * syyL.toDouble - sy * sy
                val den2 = vx * vy
                if (den2 == 0.0) None else Some(num / math.sqrt(den2))
              }
            AutoCorrScored(tag, r.ts, r.value, ac)
          }
          state.update(AcBuf(buf))
          out.iterator
      }
  }

  /** Online anomaly scoring with per-tag state: each reading is z-scored
    * against the running Welford statistics *before* it updates them
    * (prequential), so scores are identical in streaming and single-pass
    * batch replay. The per-tag state is O(1) — three numbers — regardless
    * of stream length; state is partitioned by tag across executors.
    *
    * Streaming analogue of the reference's DiffBasedAnomalyDetector
    * pipeline (`model/anomaly/diff.py`): scale → score → threshold.
    */
  def scoreOnline(readings: Dataset[Reading], zThreshold: Double): Dataset[Scored] = {
    import readings.sparkSession.implicits._
    readings
      .groupByKey(_.tag)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tag: String, it: Iterator[Reading],
         state: org.apache.spark.sql.streaming.GroupState[TagStats]) =>
          var s = state.getOption.getOrElse(TagStats(0L, 0.0, 0.0))
          // full sub-millisecond precision + value tiebreak: getTime alone
          // is millis, so µs-apart readings would process in arrival order
          // and the prequential scores would differ run to run
          val out = it.toSeq.sortBy(r => (r.ts.getTime, r.ts.getNanos, r.value)).map { r =>
            val z =
              if (s.n >= 2) {
                val std = math.sqrt(s.m2 / (s.n - 1))
                if (std > 0) (r.value - s.mean) / std else 0.0
              } else 0.0
            val n1 = s.n + 1
            val d = r.value - s.mean
            val mean1 = s.mean + d / n1
            val m21 = s.m2 + d * (r.value - mean1)
            s = TagStats(n1, mean1, m21)
            Scored(tag, r.ts, r.value, z, math.abs(z) > zThreshold)
          }
          state.update(s)
          out.iterator
      }
  }
}
