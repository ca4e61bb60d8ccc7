package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.Tables

/** Structured Streaming surface over the `events` table (SURVEY.md §2B
  * Streaming). The reference's defining runtime behavior is a continuous
  * intake loop — a pull socket feeding handlers one packet at a time
  * (`/root/reference/src/processor.ts:61-89`); the Spark-native analog is
  * a file-source stream feeding incremental query plans.
  *
  * Every transform here is the streaming formulation of a batch query in
  * [[graft.queries.TimeSeriesQueries]]; replay equivalence (run the
  * stream with `Trigger.AvailableNow` over the same files and get the
  * batch answer — SURVEY.md §5.2.5) is asserted in `StreamingSpec`.
  *
  * Scale design: watermarks bound state; aggregations are keyed by
  * (window, type) or (window, user) so state partitions by the shuffle
  * key; file sources use `maxFilesPerTrigger` upstream in production.
  */
object EventStreams {

  /** File-source stream of events from a directory of parquet files with
    * the fixture schema. The `ts` physical encoding (INT64
    * TIMESTAMP(NANOS) vs native MICROS/MILLIS) is detected from the
    * footer of the first file present and normalized to TimestampType,
    * exactly like the batch path in [[graft.Tables.load]] — so stream
    * and batch stay replay-equivalent across fixture generations.
    *
    * DEFINE-BEFORE-DATA CAVEAT: over a still-EMPTY landing dir there is
    * no footer to detect, so the stream ASSUMES the current fixture
    * generation (µs NTZ) and bakes that into its schema. The assumption
    * is recorded here; if a ns-generation file later lands, the scan
    * fails (Spark cannot decode TIMESTAMP(NANOS) into the baked
    * TimestampType schema) and [[runAvailableNow]] re-detects the
    * footer to rethrow a targeted error naming the dir and the fix
    * (redefine the stream) instead of the opaque decode failure.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val footer = Tables.footer(spark, dir, "events")
    val enc = footer.encodings("ts")
    if (footer.hasData) {
      // a redefinition over now-present data resolves any earlier
      // assumption for this dir — drop it so later unrelated failures
      // are not misattributed to encoding drift here
      assumedEncodings.remove(Tables.canon(dir))
    } else {
      assumedEncodings.put(Tables.canon(dir), enc)
      System.err.println(
        s"[graft] readEvents($dir): landing dir is empty; assuming the " +
          s"current fixture generation's ts encoding ($enc). If a " +
          "ns-generation file lands here, redefine the stream.")
    }
    Tables.normalizeTs(spark.readStream.schema(footer.schema).parquet(dir))
  }

  /** Dirs whose ts encoding was ASSUMED (empty at stream definition),
    * mapped to the assumed encoding — consulted by [[runAvailableNow]]
    * when a query fails, to turn a decode error caused by a
    * late-landing ns-generation file into an actionable one.
    */
  private val assumedEncodings =
    new java.util.concurrent.ConcurrentHashMap[String, Tables.TsEncoding]()

  /** Re-detect the footer encoding of every assumed-encoding dir; if one
    * now disagrees with what the stream definition baked in, raise the
    * targeted error (cause = the original scan failure). Otherwise
    * rethrow `cause` unchanged.
    */
  private def rethrowIfEncodingDrift(
      spark: SparkSession, cause: Throwable): Nothing = {
    assumedEncodings.forEach { (dir, assumed) =>
      val footer = Tables.footer(spark, dir, "events")
      if (footer.hasData) {
        val now = footer.encodings("ts")
        if (now != assumed)
          throw new IllegalStateException(
            s"events stream over $dir was defined while the dir was empty " +
              s"and assumed ts encoding $assumed, but the first file to land " +
              s"is $now-encoded. The stream's schema is frozen at definition " +
              "— redefine the stream (re-call readEvents) now that data " +
              "exists.", cause)
      }
    }
    throw cause
  }

  /** Tumbling 10-minute window counts per event type, 30-minute
    * watermark — the streaming form of `ts_tumbling_window`.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,4)")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
              col("n"), col("sum_value"))

  /** Sliding windows (10-minute size, 5-minute slide) — streaming form
    * of `ts_sliding_window`; every event lands in two windows.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  /** Session windows (30-minute gap) per user — streaming form of
    * `ts_session_window`.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"), col("user_id"), col("n"))

  /** Watermarked streaming dedup on the event id — streaming form of
    * `ts_dedup_events` (state bounded by the watermark horizon).
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicates("event_id")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))

  /** Watermark-bounded dedup (`dropDuplicatesWithinWatermark`): same
    * output as [[dedupEvents]] for in-horizon data, but state for a key
    * is dropped once the watermark passes it — the formulation whose
    * state is O(watermark window), not O(all keys ever seen).
    */
  def dedupEventsWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))

  /** flatMapGroupsWithState variant of [[runningUserTotals]]: emits zero
    * or many rows per group per batch (here: one summary row), the fully
    * general arbitrary-state operator.
    */
  def userBatchSummaries(events: DataFrame): org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0
          var s = s0
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          Iterator.single((user, n, s))
      }
  }

  /** One CUSUM monitor's persistent per-type state: the running
    * deviation prefix sum, its running minimum (including the empty
    * prefix S_0 = 0), cumulative bucket/flag counters, the peak
    * statistic, the first flagged hour (µs; −1 = none yet) — all
    * COMMITTED through the last hour proven complete — plus the OPEN
    * hour's partial count (the trajectories open-tail pattern: the
    * newest hour seen may still gain rows in a later micro-batch, so
    * it is folded only provisionally at emission time), and the
    * emission sequence number used to select each type's LATEST
    * cumulative row on read-back.
    */
  final case class CusumState(s: Long, minS: Long, nBuckets: Long,
      nFlagged: Long, maxC: Long, firstFlag: Long, seq: Long,
      openHour: Long, openCount: Long)

  final case class CusumOut(event_type: String, seq: Long, nBuckets: Long,
      nFlagged: Long, maxC: Long, firstFlag: Long)

  /** STREAMING one-sided CUSUM over per-type hourly event rates — the
    * live form of the batch `ts_cusum_changepoint`: per-type detector
    * state (prefix sum + running minimum, the identity
    * `C_t = S_t − min(S_0..S_t)`) carries ACROSS micro-batches in
    * flatMapGroupsWithState, against a FIXED baseline (µ, slack) map —
    * exactly how a production monitor runs, with the baseline trained
    * offline and only O(1) state per key online. Event types absent
    * from the baseline map are SKIPPED (no state, no rows) — an
    * unknown type must not kill the monitor.
    *
    * Replay equivalence contract (what the gate twin proves): micro-
    * batches may split the stream ANYWHERE as long as each type's
    * event-time order holds across batches (time-split ingestion, the
    * log-shipping case). The newest hour in each batch is carried OPEN
    * in state — committed detector state advances only through hours a
    * later row has proven complete, and each emission folds the open
    * hour provisionally — so a bucket split across micro-batches folds
    * exactly once with its final count. A batch carrying an hour OLDER
    * than the open hour violates the order contract and fails loudly
    * rather than emitting silently-wrong detector rows. Each
    * invocation emits ONE cumulative summary row; the consumer keeps
    * each type's highest-seq row.
    */
  def cusumMonitor(events: DataFrame,
      baselines: Map[String, (Long, Long)]): org.apache.spark.sql.Dataset[CusumOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col("event_type"),
        expr("unix_micros(date_trunc('hour', ts))").as("hour_us"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          baselines.get(key) match {
            case None => Iterator.empty // no offline baseline: skip the type
            case Some((mu, k)) =>
              val st = state.getOption.getOrElse(
                CusumState(0L, 0L, 0L, 0L, 0L, -1L, 0L, -1L, 0L))
              val batchBuckets = rows.toSeq.groupBy(_._2).view
                .mapValues(_.size.toLong).toSeq.sortBy(_._1)
              if (batchBuckets.nonEmpty && st.openHour >= 0 &&
                  batchBuckets.head._1 < st.openHour)
                throw new IllegalStateException(
                  s"cusumMonitor($key): batch carries hour " +
                    s"${batchBuckets.head._1} older than the open hour " +
                    s"${st.openHour} — per-type event-time order across " +
                    "micro-batches is the monitor's ingestion contract.")
              // merge the carried open hour into this batch's buckets
              val buckets =
                if (st.openHour < 0) batchBuckets
                else if (batchBuckets.nonEmpty &&
                    batchBuckets.head._1 == st.openHour)
                  (st.openHour, batchBuckets.head._2 + st.openCount) +:
                    batchBuckets.tail
                else (st.openHour, st.openCount) +: batchBuckets
              // fold one complete bucket into (s, minS, nB, nF, maxC, ff)
              def fold(acc: (Long, Long, Long, Long, Long, Long), h: Long,
                  x: Long): (Long, Long, Long, Long, Long, Long) = {
                val s = acc._1 + (x * 1000000L - mu - k)
                val minS = math.min(acc._2, s)
                val c = s - minS
                val flagged = c > 5 * k
                (s, minS, acc._3 + 1, if (flagged) acc._4 + 1 else acc._4,
                  math.max(acc._5, c),
                  if (flagged && acc._6 < 0) h else acc._6)
              }
              // commit every bucket except the newest (still open)
              val committed = buckets.dropRight(1).foldLeft(
                (st.s, st.minS, st.nBuckets, st.nFlagged, st.maxC,
                  st.firstFlag)) { case (a, (h, x)) => fold(a, h, x) }
              val (oh, oc) =
                if (buckets.nonEmpty) buckets.last else (-1L, 0L)
              // provisional fold of the open hour for this emission
              val prov =
                if (oh >= 0) fold(committed, oh, oc) else committed
              val next = CusumState(committed._1, committed._2, committed._3,
                committed._4, committed._5, committed._6, st.seq + 1, oh, oc)
              state.update(next)
              Iterator.single(
                CusumOut(key, next.seq, prov._3, prov._4, prov._5, prov._6))
          }
      }
  }

  /** Stream-static join against the customer dimension — streaming form
    * of `ts_stream_static_join`. The static side is a broadcast lookup
    * re-resolved per micro-batch.
    */
  def enrichWithCustomers(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(broadcast(customers),
                events("user_id") === customers("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Stream-STREAM inner join with watermarks on both sides and an
    * event-time range bound: each purchase joins the same user's clicks
    * from the preceding 30 minutes (click-to-purchase attribution). The
    * time bound plus the two watermarks is what lets Spark expire join
    * state — without it a stream-stream join would buffer both streams
    * forever; with it, state is capped at watermark + range on each
    * side. Batch twin: `ts_click_attribution` (DuckDB-oracled).
    */
  def purchaseClickAttribution(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
              col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    val c = clicks.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
              col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
              col("purchase_ts"), col("click_ts"))
  }

  /** Stateful per-key logic (`mapGroupsWithState`): running event count
    * and value total per user, emitted on every update — the arbitrary-
    * state analog of the reference's per-job handler state. State is
    * partitioned by user_id (the groupByKey shuffle), so it scales
    * horizontally; production would add a timeout to bound state.
    */
  def runningUserTotals(events: DataFrame): org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0
          var s = s0
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          (user, n, s)
      }
  }

  /** Spark 4 `transformWithState` — the arbitrary-state API that
    * supersedes mapGroupsWithState (typed state handles, timers, TTL).
    * Per-user running totals again, so the three stateful formulations
    * are directly comparable. Requires the RocksDB state store provider
    * (set in the caller's session conf).
    */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Double), (Long, Long, Double)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var totals: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)](
        "totals", Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
      val (n0, s0) = Option(totals.get()).getOrElse((0L, 0.0))
      var n = n0
      var s = s0
      rows.foreach { r => n += 1; s += r._2 }
      totals.update((n, s))
      Iterator.single((key, n, s))
    }
  }

  def runningUserTotalsTws(events: DataFrame): org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Run a streaming DataFrame to completion over the files currently in
    * the source directory (`Trigger.AvailableNow`), collecting from a
    * named in-memory sink. `outputMode` is "append" for row streams and
    * "complete" for aggregates in tests.
    */
  def runAvailableNow(
      df: DataFrame,
      sinkName: String,
      outputMode: String,
      checkpoint: String): Array[Row] = {
    val q: StreamingQuery = df.writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        rethrowIfEncodingDrift(df.sparkSession, e)
    }
    df.sparkSession.table(sinkName).collect()
  }

  // --- Streaming trajectory assembly (ns_corpus_trajectories twin) ----

  /** One input event, timestamps as epoch micros (the exact value
    * `cast(ts as double)` divides by 1e6 — kept integral in state so
    * the gap and duration arithmetic replays the batch formulation
    * bit-for-bit).
    */
  final case class TrajEv(user_id: Long, tsm: Long, event_id: Long,
                          event_type: String)

  /** One OPEN session in state: O(1) per user — running count, first/
    * last timestamps, and only the first <= cap action types (the
    * payload the trajectory keeps anyway), NOT the event buffer.
    */
  final case class TrajOpen(idx: Long, n: Long, t0m: Long, lastm: Long,
                            acts: List[String])

  final case class TrajOut(user_id: Long, session_idx: Long, n_events: Long,
                           duration_s: Long, n_kept: Long, traj_md5: String,
                           last_kept_type: String)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Streaming twin of the batch `ns_corpus_trajectories` sessionizer:
    * per-user `flatMapGroupsWithState` closes a session (emitting the
    * SAME row the batch query produces — count, floor-second duration,
    * capped action payload md5) when a later event crosses the 25-hour
    * gap, and carries the open tail in state across micro-batches — a
    * session straddling the batch boundary assembles exactly once.
    * Each user's FINAL session never closes (no later event arrives to
    * prove the gap), so the honest streaming output is "every session
    * except each user's last" — a set DuckDB can oracle exactly, and
    * one that is INVARIANT to how the stream was cut into batches.
    *
    * Contract: per-user event-time order across micro-batches
    * (time-split ingestion — the log-shipping case); within a batch,
    * rows sort by (ts, event_id) before folding. State is O(1) per
    * user (count + two timestamps + <= cap action types), not an event
    * buffer.
    */
  def trajectoryGate(events: DataFrame, gapSeconds: Long = 90000L,
                     cap: Int = 16): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.select(col("user_id"), expr("unix_micros(ts)").as("tsm"),
        col("event_id"), col("event_type"))
      .as[TrajEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TrajOpen, TrajOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state) =>
          val sorted = rows.toSeq.sortBy(r => (r.tsm, r.event_id))
          var open = state.getOption.orNull
          val outs = scala.collection.mutable.ArrayBuffer.empty[TrajOut]
          def close(o: TrajOpen): TrajOut =
            TrajOut(user, o.idx, o.n,
              math.floor(o.lastm.toDouble / 1e6 - o.t0m.toDouble / 1e6).toLong,
              math.min(o.n, cap.toLong),
              md5hex(o.acts.mkString(" ")), o.acts.last)
          for (e <- sorted) {
            if (open == null)
              open = TrajOpen(1L, 1L, e.tsm, e.tsm, List(e.event_type))
            else if (e.tsm.toDouble / 1e6 - open.lastm.toDouble / 1e6
                       > gapSeconds.toDouble) {
              outs += close(open)
              open = TrajOpen(open.idx + 1, 1L, e.tsm, e.tsm,
                List(e.event_type))
            } else
              open = open.copy(n = open.n + 1, lastm = e.tsm,
                acts = if (open.acts.size < cap) open.acts :+ e.event_type
                       else open.acts)
          }
          if (open != null) state.update(open)
          outs.iterator
      }
      .toDF()
  }
}
