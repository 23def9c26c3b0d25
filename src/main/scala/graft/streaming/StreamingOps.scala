package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface for the engine (SURVEY.md §2.10 notes the
  * reference itself is batch-only — streaming is part of the
  * beyond-reference training-data pipeline surface).
  *
  * Two shapes:
  *  - [[windowedCounts]]: watermark + tumbling-window aggregation — the
  *    declarative path; Spark maintains state, late data beyond the
  *    watermark is dropped, output is append-mode finalized windows.
  *  - [[sessionCounts]]: `mapGroupsWithState` — the custom-state path,
  *    the streaming analogue of graft.ops.Events.sessionize. State per
  *    user is O(1) (count + last timestamp), so state size scales with
  *    active users, not events.
  *
  * At 100 TB/day both paths shard by the groupBy key across executors;
  * the watermark bounds state retention and makes the job restart-safe
  * from the checkpoint.
  */
object StreamingOps {

  final case class Event(
    event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

  final case class UserSessionState(nEvents: Long, lastTsMicros: Long)
  final case class SessionUpdate(
    user_id: Long, n_events: Long, last_ts_micros: Long, closed: Boolean)

  /** Read the events table as a file stream (one-file-per-trigger batches
    * in tests; directory-watch in production). `glob` narrows the listing
    * when the directory holds other tables too. */
  def readEventsStream(spark: SparkSession, dir: String,
      glob: Option[String] = None): DataFrame = {
    // File streams need a declared schema; infer it from the files
    // actually present (a metadata-only batch read) so the stream adapts
    // to the feed's physical timestamp type exactly like
    // [[graft.ops.Events.events]]: TIMESTAMP(NANOS) arrives as BIGINT
    // under nanosAsLong (→ truncate to micros), a re-exported
    // micro-precision feed arrives as a real timestamp. A directory with
    // no files yet — the watch-an-empty-feed startup file streams exist
    // for — falls back to the canonical nanos contract instead of
    // failing the inference read.
    graft.ops.Events.requireNanosAsLong(spark)
    val nanosContract = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
    val batch = spark.read
    glob.foreach(g => batch.option("pathGlobFilter", g))
    val schema =
      try batch.parquet(dir).schema
      catch { case _: org.apache.spark.sql.AnalysisException => nanosContract }
    val reader = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
    glob.foreach(g => reader.option("pathGlobFilter", g))
    val ts = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast("timestamp")
    }
    reader.parquet(s"$dir").withColumn("ts", ts)
  }

  /** Bytes of input per stateful partition the derivation targets. */
  val StatePartitionBytes: Long = 32L << 20

  /** Run `body` (build + drain of ONE streaming query) with
    * `spark.sql.shuffle.partitions` — which fixes the number of state
    * store instances a stateful streaming operator creates — derived
    * from the INPUT SIZE instead of inherited from the batch session.
    *
    * Why (guide §2.2/§1.2, measured r16 probe): every stateful operator
    * materializes one state store PER shuffle partition PER micro-batch
    * — provider init, delta file, commit — a fixed per-partition cost
    * that dominates small batches. At 32 session partitions the
    * stream-stream interval join paid ~70 ms/task × 32 partitions × 2
    * micro-batches ≈ 4.5 s of the row's 5.7 s on a 2 MB input. The
    * partition count is made SCALE-ADAPTIVE — ceil(bytes /
    * [[StatePartitionBytes]]), clamped to [1, session partitions] — so
    * a 100 TB/day feed still fans out to the session's full width while
    * a bounded parity drain stops paying two orders of magnitude more
    * state-store overhead than its data needs. These drains run on
    * fresh checkpoints every call, so no restart-compatibility concern
    * applies to the count.
    *
    * The override is a set/restore of the SESSION-GLOBAL conf, so it
    * assumes no other query is planned on this session during the
    * drain: a concurrent query would plan with the drain's count. The
    * conf is restored after the drain, so batch queries planned later
    * are unaffected. */
  private def withStatePartitions[A](spark: SparkSession, dir: String,
      glob: String)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(s"$dir/$glob")
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
      } catch { case scala.util.control.NonFatal(_) => 0L }
    val n = math.max(1L, math.min(prev.toLong,
      (bytes + StatePartitionBytes - 1) / StatePartitionBytes))
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** 10-minute tumbling windows per event_type with a 1-hour watermark. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Epoch micros from a java.sql.Timestamp without dropping the
    * sub-millisecond component (getTime is ms; the nanos field holds the
    * full sub-second part). */
  private def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

  final case class GapSessionState(
    nEvents: Long, startMicros: Long, lastMicros: Long)
  final case class SessionClose(
    user_id: Long, n_events: Long, start_ts_micros: Long,
    end_ts_micros: Long, closed_by_timeout: Boolean)

  /** Streaming gap sessionization with event-time timeout — the streaming
    * analogue of [[graft.ops.Events.sessionize]]: a session closes either
    * when a later event for the same user arrives past the gap (emitted
    * inline) or when the watermark passes last_event + gap with no new
    * data (the `hasTimedOut` branch — so idle users' sessions close and
    * their state is freed without waiting for their next event). State per
    * user is O(1); the watermark bounds both state retention and timeout
    * latency. */
  def gapSessions(events: Dataset[Event],
      gapMinutes: Int = 30): Dataset[SessionClose] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GapSessionState, SessionClose](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[GapSessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionClose(userId, s.nEvents, s.startMicros,
              s.lastMicros, closed_by_timeout = true))
          } else {
            val sorted = batch.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
            val closed = Seq.newBuilder[SessionClose]
            var cur = state.getOption
            sorted.foreach { e =>
              val us = tsMicros(e.ts)
              cur = cur match {
                case Some(s) if us - s.lastMicros > gapUs =>
                  closed += SessionClose(userId, s.nEvents, s.startMicros,
                    s.lastMicros, closed_by_timeout = false)
                  Some(GapSessionState(1L, us, us))
                case Some(s) =>
                  Some(GapSessionState(s.nEvents + 1, s.startMicros,
                    math.max(s.lastMicros, us)))
                case None => Some(GapSessionState(1L, us, us))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // the timeout target may already be behind the watermark
              // (late-arriving quiet user) — clamp forward so the state
              // times out on the very next watermark advance
              state.setTimeoutTimestamp(math.max(s.lastMicros / 1000L + gapMs,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      }
  }

  /** Per-user running event counts via explicit state — demonstrates the
    * KeyValueGroupedDataset.mapGroupsWithState custom-state path. NoTimeout
    * keeps bounded test streams drainable with processAllAvailable; the
    * session-closing production shape with event-time timeout is
    * [[gapSessions]]. */
  def sessionCounts(events: Dataset[Event]): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserSessionState, SessionUpdate](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserSessionState]) =>
          val events = batch.toSeq
          val prev = state.getOption.getOrElse(UserSessionState(0L, Long.MinValue))
          val lastMicros = events.map(e => tsMicros(e.ts)).foldLeft(prev.lastTsMicros)(math.max)
          val next = UserSessionState(prev.nEvents + events.size, lastMicros)
          state.update(next)
          SessionUpdate(userId, next.nEvents, next.lastTsMicros, closed = false)
      }
  }

  /** Per-user funnel state for [[funnelStages]]: `Long.MaxValue`
    * sentinels for not-yet-reached stages (Option[Long] costs an object
    * per field in state serialization); `pendingClicks`/`pendingPurchases`
    * hold timestamps not currently valid for their stage that a LATER
    * out-of-order arrival upstream could still promote — pruned below the
    * watermark, which is what bounds them. */
  final case class FunnelState(
    minView: Long, bestClick: Long, bestPurchase: Long,
    pendingClicks: Seq[Long], pendingPurchases: Seq[Long])
  final case class FunnelUpdate(
    user_id: Long, stage: Int, t1_micros: Long, t2_micros: Long,
    t3_micros: Long)

  /** Streaming analogue of [[graft.ops.Events.funnel]]: per-user
    * view → click → purchase progression, EXACT under the watermark
    * contract even for out-of-order arrivals.
    *
    * The subtlety a naive monotone state machine gets wrong: the batch
    * semantics anchor each stage on the FINAL minimum of the previous
    * stage (`t2 = min click > t1` where `t1 = min view overall`), and a
    * late-arriving earlier view LOWERS t1, turning clicks that were
    * invalid (≤ old t1) into valid ones. So clicks/purchases that are
    * currently invalid are not dropped but PARKED, and re-promoted
    * whenever the upstream anchor moves down; anchors only ever decrease,
    * and late data older than the watermark is dropped by the engine, so
    * parked timestamps at or below the current watermark can never be
    * promoted again and are pruned — state per user is O(events inside
    * the watermark window), the same bound the stream-stream join pays.
    * Emits the running (stage, t1, t2, t3) per user; the latest update
    * per user equals the batch funnel on the same data (StreamingSpec
    * feeds shuffled out-of-order batches and asserts parity). */
  def funnelStages(events: Dataset[Event]): Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    val Unset = Long.MaxValue
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelUpdate](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(
            FunnelState(Unset, Unset, Unset, Nil, Nil))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // lowering an anchor can promote parked timestamps downstream;
          // promotion lowers the next anchor in turn, so cascade
          def promote(): Unit = {
            val (validC, parkedC) = s.pendingClicks.partition(_ > s.minView)
            val bc = (validC :+ s.bestClick).min
            val (validP, parkedP) =
              s.pendingPurchases.partition(_ > bc)
            val bp = (validP :+ s.bestPurchase).min
            s = FunnelState(s.minView, bc, bp, parkedC, parkedP)
          }
          batch.toSeq.sortBy(e => tsMicros(e.ts)).foreach { e =>
            val us = tsMicros(e.ts)
            e.event_type match {
              case "view" if us < s.minView =>
                s = s.copy(minView = us); promote()
              case "click" =>
                if (us > s.minView && us < s.bestClick) {
                  s = s.copy(bestClick = us); promote()
                } else if (us <= s.minView && us > wmUs)
                  s = s.copy(pendingClicks = s.pendingClicks :+ us)
              case "purchase" =>
                if (us > s.bestClick && us < s.bestPurchase)
                  s = s.copy(bestPurchase = us)
                else if (us <= s.bestClick && us > wmUs)
                  s = s.copy(pendingPurchases = s.pendingPurchases :+ us)
              case _ => ()
            }
          }
          s = s.copy(pendingClicks = s.pendingClicks.filter(_ > wmUs),
            pendingPurchases = s.pendingPurchases.filter(_ > wmUs))
          state.update(s)
          val stage =
            if (s.bestPurchase != Unset) 3
            else if (s.bestClick != Unset) 2
            else if (s.minView != Unset) 1 else 0
          FunnelUpdate(userId, stage, s.minView, s.bestClick, s.bestPurchase)
      }
  }

  /** Stream-stream interval join: purchases matched to the same user's
    * clicks within the attribution window. Both sides carry watermarks,
    * so Spark bounds the click-side state to watermark + window and the
    * purchase side to the watermark — the state-eviction contract that
    * makes stream-stream joins runnable indefinitely. Batch twin:
    * [[graft.ops.Events.attribution]]. */
  def attributionStream(events: DataFrame,
      windowMinutes: Int = graft.ops.Events.AttributionWindowMinutes): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
      col("click_user") === col("user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMinutes MINUTES"))
      .select("purchase_id", "click_id", "user_id", "purchase_ts",
        "click_ts", "value")
  }

  /** Driver-checked stream-vs-batch parity: a REAL streaming execution
    * (file source → watermark → tumbling-window agg → memory sink) over
    * the events table, emitting the same (window_start, event_type,
    * n_events, total_value) rows the batch twin
    * [[graft.ops.Events.windowed]] computes — verified against the same
    * DuckDB oracle. Complete output mode because at drain time append
    * would hold back every window newer than the final watermark;
    * `countDistinct` is omitted (not streamable without a rewrite). */
  def windowedParity(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, dir, "events.parquet") {
    val agg = readEventsStream(spark, dir, glob = Some("events.parquet"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("total_value"))
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))
    runToMemory(spark, agg, "graft_windowed_parity", OutputMode.Complete())
  }

  def windowedParityOracle: String =
    """SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS window_start,
         event_type,
         count(*) AS n_events,
         sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
       FROM events GROUP BY 1, 2"""

  /** Append-mode parity — the PRODUCTION output mode, oracle-checked.
    * Same stream as [[windowedParity]] but drained in `Append`: a window
    * is emitted exactly once, when the watermark passes its end, and
    * windows the final watermark never reaches are withheld. That
    * withholding is part of the semantics, so the oracle computes it too:
    * Spark's watermark is `floor(max_event_time_us / 1000) - delay_ms`
    * (EventTimeWatermarkExec tracks event times in milliseconds) and
    * append emits windows with `window_end_us <= watermark_ms * 1000` —
    * the SQL twin applies exactly that cutoff. The trailing no-data
    * micro-batch (on by default) flushes everything the final watermark
    * closed before `processAllAvailable` returns.
    *
    * At scale this is the mode that keeps state bounded: Complete mode
    * re-emits (and retains) every window ever seen; Append evicts a
    * window's state the moment it is finalized, so state size tracks the
    * watermark horizon, not the stream's lifetime. */
  def windowedParityAppend(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, dir, "events.parquet") {
    val agg = readEventsStream(spark, dir, glob = Some("events.parquet"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("total_value"))
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))
    runToFiles(spark, agg, "graft_windowed_parity_append")
  }

  def windowedParityAppendOracle: String =
    """WITH wm AS (
         SELECT ((max(epoch_us(ts)) // 1000) - 3600000) * 1000 AS wm_us
         FROM events),
       w AS (
         SELECT ((epoch_us(ts) // 600000000) * 600000000) AS ws_us,
                event_type, value
         FROM events)
       SELECT make_timestamp(ws_us) AS window_start, event_type,
         count(*) AS n_events,
         sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
       FROM w, wm
       WHERE ws_us + 600000000 <= wm_us
       GROUP BY 1, 2"""

  /** Driver-checked streaming gap-sessionization parity: a REAL streaming
    * execution of [[gapSessions]] (file source → watermark →
    * flatMapGroupsWithState with event-time timeout → parquet file sink,
    * Append mode) over the events table. Both close paths appear in the
    * output: inline closes (a later event past the gap) and timeout
    * closes (the watermark passed last_event + gap). Sessions the final
    * watermark never reaches stay open — that withholding is the
    * semantics, so the DuckDB twin computes it too: a user's
    * NON-final sessions are always emitted (closed inline), and the
    * final session is emitted iff its registered timeout
    * (`end_us div 1000 + gap_ms`, the millisecond grid
    * `setTimeoutTimestamp` uses) is strictly below the final watermark
    * (`max_event_us div 1000 − delay_ms` — state times out when the
    * watermark moves strictly past it). */
  def sessionsParity(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, dir, "events.parquet") {
    import spark.implicits._
    val ev = readEventsStream(spark, dir, glob = Some("events.parquet"))
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event]
    runToFiles(spark, gapSessions(ev).toDF(), "graft_sessions_parity")
  }

  def sessionsParityOracle: String = {
    val gapUs = graft.ops.Events.SessionGapMinutes * 60L * 1000000L
    val gapMs = graft.ops.Events.SessionGapMinutes * 60L * 1000L
    s"""WITH wm AS (
      SELECT (max(epoch_us(ts)) // 1000) - 3600000 AS wm_ms FROM events),
    e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
        lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS prev_us
      FROM events),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > $gapUs
                     THEN 1 ELSE 0 END AS is_new
      FROM e),
    numbered AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM flagged),
    sessions AS (
      SELECT user_id, session_seq, count(*) AS n_events,
        min(us) AS start_ts_micros, max(us) AS end_ts_micros,
        max(session_seq) OVER (PARTITION BY user_id) AS last_seq
      FROM numbered GROUP BY 1, 2)
    SELECT user_id, n_events, start_ts_micros, end_ts_micros,
      (session_seq = last_seq) AS closed_by_timeout
    FROM sessions, wm
    WHERE session_seq < last_seq
       OR (end_ts_micros // 1000) + $gapMs < wm_ms"""
  }

  /** Streaming exactly-once dedup: drop events whose `event_id` was
    * already seen within the watermark horizon
    * (`dropDuplicatesWithinWatermark`) — the at-least-once → exactly-once
    * boundary every streaming ingest needs in front of
    * [[streamIntoSink]]-style upserts. State is BOUNDED: an id's dedup
    * entry is evicted once the watermark passes its event time + delay,
    * so state size tracks the redelivery horizon, not the stream's
    * lifetime (plain `dropDuplicates` on a key would grow forever at
    * 100 TB/day). Exact duplicates arriving inside the horizon are
    * suppressed; the first arrival wins and is emitted unchanged. */
  def dedupStream(events: DataFrame, withinDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", withinDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Oracle-checked parity drain of [[dedupStream]]: the events file
    * stream is delivered with EVERY ROW DUPLICATED (a map-side fan-out
    * synthesizing at-least-once redelivery), deduped by event_id within
    * the watermark horizon, drained in Append mode. Exactly-once
    * emerges: the oracle is simply the events table — every synthetic
    * duplicate suppressed, every survivor's payload byte-identical.
    * Unlike the windowed parities there is no window-close cutoff to
    * mirror: dedup state EMITS on first sight and is only retained (not
    * withheld) until the watermark passes, so nothing is held back at
    * drain. */
  def dedupParity(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, dir, "events.parquet") {
    val doubled = readEventsStream(spark, dir, glob = Some("events.parquet"))
      .withColumn("copy", explode(array(lit(0), lit(1))))
      .drop("copy")
    val out = dedupStream(doubled)
      .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    runToFiles(spark, out, "graft_dedup_parity")
  }

  def dedupParityOracle: String =
    """SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, user_id,
         event_type, value, props
       FROM events"""

  /** Oracle-checked parity drain of [[attributionStream]] — a REAL
    * streaming execution of the stream-stream interval join (file source
    * → dual watermarks → inner interval join → parquet file sink, Append
    * mode). Unlike the windowed parities there is no watermark cutoff to
    * mirror in the oracle: an INNER stream-stream join emits a pair the
    * moment both sides have arrived (withholding until the watermark is
    * an outer-join concern — only NULL-extended unmatched rows wait), so
    * at drain the output is exactly the batch join and the oracle is the
    * batch twin's SQL unchanged. The watermarks still matter at scale:
    * they are what lets Spark EVICT click-side state older than
    * watermark − window instead of retaining every click forever. */
  def attributionParity(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, dir, "events.parquet") {
    val out = attributionStream(
      readEventsStream(spark, dir, glob = Some("events.parquet")))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
        col("click_ts").cast("timestamp_ntz").as("click_ts"), col("value"))
    runToFiles(spark, out, "graft_attribution_parity")
  }

  def attributionParityOracle: String = graft.ops.Events.attributionOracle

  /** LEFT OUTER stream-stream interval join: purchases preserved —
    * a purchase with no click in its window surfaces NULL-extended
    * instead of vanishing (the "how many conversions had no touchpoint"
    * question the inner join cannot answer). Same dual watermarks; the
    * outer side adds the semantics the inner join doesn't have: a
    * NULL-extended row can only be emitted when the engine KNOWS no
    * matching click can still arrive, i.e. on state eviction after the
    * watermark passes the purchase (clicks at or below the watermark
    * are final, and a matching click must be ≤ the purchase time). */
  def attributionStreamOuter(events: DataFrame,
      windowMinutes: Int = graft.ops.Events.AttributionWindowMinutes): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
      col("click_user") === col("user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMinutes MINUTES"),
      "left_outer")
      .select("purchase_id", "click_id", "user_id", "purchase_ts",
        "click_ts", "value")
  }

  /** Oracle-checked parity drain of [[attributionStreamOuter]] (Append).
    * Matched pairs emit on match — the inner subset is the batch join
    * unchanged. NULL-extended rows emit on left-state eviction, which
    * the final GLOBAL watermark drives — and with two watermarked
    * inputs that is the MIN of the per-side watermarks
    * (`spark.sql.streaming.multipleWatermarkPolicy` default): here the
    * click side's `max_click_ms − delay_ms`, which trails the purchase
    * side's. (Found empirically: an oracle cut at the all-events max
    * over-emitted by exactly the purchases between the two sides'
    * watermarks.) A no-click purchase appears iff its event time is
    * STRICTLY below that min watermark — the same strict-passing rule
    * [[sessionsParityOracle]] pins for state timeouts; purchases the
    * watermark never reaches stay withheld, and the oracle computes
    * the cutoff too. */
  def attributionOuterParity(spark: SparkSession, dir: String): DataFrame =
      withStatePartitions(spark, dir, "events.parquet") {
    val out = attributionStreamOuter(
      readEventsStream(spark, dir, glob = Some("events.parquet")))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
        col("click_ts").cast("timestamp_ntz").as("click_ts"), col("value"))
    runToFiles(spark, out, "graft_attribution_outer")
  }

  def attributionOuterParityOracle: String = {
    val win = graft.ops.Events.AttributionWindowMinutes
    s"""WITH wm AS (
      SELECT least(
        (SELECT max(epoch_us(ts)) // 1000 FROM events
         WHERE event_type = 'click'),
        (SELECT max(epoch_us(ts)) // 1000 FROM events
         WHERE event_type = 'purchase')) - 3600000 AS wm_ms),
    e AS (
      SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, user_id,
        event_type, value
      FROM events),
    clicks AS (
      SELECT user_id, ts AS click_ts, event_id AS click_id
      FROM e WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, value
      FROM e WHERE event_type = 'purchase'),
    matched AS (
      SELECT p.purchase_id, c.click_id, p.user_id, p.purchase_ts,
        c.click_ts, p.value
      FROM purchases p JOIN clicks c ON c.user_id = p.user_id
        AND c.click_ts <= p.purchase_ts
        AND c.click_ts >= p.purchase_ts - INTERVAL $win MINUTE)
    SELECT * FROM matched
    UNION ALL
    SELECT p.purchase_id, NULL AS click_id, p.user_id, p.purchase_ts,
      CAST(NULL AS TIMESTAMP) AS click_ts, p.value
    FROM purchases p, wm
    WHERE NOT EXISTS (SELECT 1 FROM matched m
        WHERE m.purchase_id = p.purchase_id)
      AND (epoch_us(p.purchase_ts) // 1000) < wm_ms"""
  }

  /** Streaming incremental ingestion: drive a micro-batched file stream
    * into a [[graft.pipeline.TableSink]] through `foreachBatch` — each
    * micro-batch upserts by `key` via the sink's merge (a real `MERGE
    * INTO` on lakehouse formats), so redelivered or restated events land
    * exactly once in the warehouse table. This is the streaming feeder
    * for the Registry's `Incremental` materialization: the same sink
    * contract, fed by a stream instead of a batch replay.
    *
    * Scale: each micro-batch merge is one equi-join against the target
    * keyed on `key` (broadcast when the batch is small — the common
    * case); checkpointing makes the foreachBatch side effect restartable,
    * and the first batch full-builds the table. Blocks until the bounded
    * file listing drains (production would run the query continuously). */
  def streamIntoSink(spark: SparkSession, dir: String,
      sink: graft.pipeline.TableSink, layer: String, name: String,
      key: String, glob: Option[String] = None,
      layout: graft.pipeline.TableLayout = graft.pipeline.TableLayout.none): DataFrame = {
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft_ckpt_ing_$name")
    try {
      val q = readEventsStream(spark, dir, glob).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (sink.exists(spark, layer, name))
            sink.merge(spark, layer, name, batch, key, layout)
          else sink.overwrite(spark, layer, name, batch, layout)
          ()
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      q.processAllAvailable()
      q.stop()
      sink.read(spark, layer, name)
    } finally {
      val p = new org.apache.hadoop.fs.Path(ckpt.toUri)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  /** Result of one [[streamIntoIvfLists]] run: the maintained lists
    * table, the net vectors resident after the drain (distinct vec_ids —
    * redeliveries upsert in place), and the quantizer the index is
    * CURRENTLY assigned under — the initial frozen centroids, or the
    * retrained ones if a staleness rebuild ran. Callers must query
    * with `centroids` (probe selection against anything else reads the
    * wrong lists). */
  final case class IvfMaintenance(lists: DataFrame, ingested: Long,
      centroids: DataFrame)

  /** Row count of the just-written table from the written files' OWN
    * parquet footers — a driver-side metadata read (listing +
    * a few KB of footer per file), replacing the per-batch
    * `batch.count()` Spark job the old ingest paid. The footer row count
    * is written by the parquet writer itself, so it is exact. (The write
    * command's `numOutputRows` metric is NOT usable here: executions
    * inside foreachBatch are nested under the streaming query's root
    * execution, and the per-session execution listener bus reports only
    * root executions. A MERGE-capable lakehouse sink would take the same
    * number from its commit stats instead of footers.) */
  private def footerRows(spark: SparkSession, files: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Streaming ANN index maintenance: drive a file stream of raw
    * `(vec_id, embedding)` vectors into the partitioned IVF lists table.
    * Each micro-batch is assigned against the CURRENT coarse quantizer —
    * a map-only pass (norms + argmin over k broadcast centroids) — and
    * upserted by `vec_id` through the sink's merge, so redelivered
    * vectors land exactly once and the on-disk `PARTITION BY centroid_id`
    * layout (the index) stays probe-prunable throughout.
    *
    * Staleness bound, enforced PER BATCH: assignment quality degrades as
    * the corpus drifts from the distribution the quantizer trained on.
    * Drift is counted as NET table growth since the quantizer was set
    * (a redelivered vector upserts in place and adds no drift), read
    * from the written files' parquet footers ([[footerRows]]) — driver-
    * side metadata, no extra counting job per batch. Once drift
    * exceeds `staleLimit` the batch that crossed it retrains
    * the quantizer FROM THE WAREHOUSE TABLE (same k sizing, training
    * sample, and deterministic Lloyd loop as a fresh build —
    * [[graft.ops.Similarity.retrainFrom]]), rewrites the assignments,
    * and SUBSEQUENT batches assign against the new quantizer — a retrain
    * that comes due mid-stream takes effect mid-stream. The retrained
    * centroids are returned ([[IvfMaintenance.centroids]]) so the query
    * side probes the same quantizer the lists are assigned under;
    * training inputs round-trip parquet exactly, so a rebuild over the
    * full corpus is bit-identical to a fresh source-table build
    * (StreamingSpec pins both).
    *
    * Scale: per batch the big side is the batch itself (centroids
    * broadcast, k ≤ 16384); the merge is one equi-join against the
    * target keyed on `vec_id`. The rebuild is the only corpus-sized step
    * and runs at most once per `staleLimit` net new vectors — the
    * amortized maintenance cost production IVF systems accept (FAISS
    * re-trains offline on the same cadence). */
  def streamIntoIvfLists(spark: SparkSession, streamDir: String,
      cents: DataFrame, sink: graft.pipeline.TableSink, layer: String,
      name: String, staleLimit: Long = Long.MaxValue,
      maxFilesPerTrigger: Int = 1): IvfMaintenance = {
    import graft.ops.Similarity
    val layout = graft.pipeline.TableLayout(partitionBy = Seq("centroid_id"))
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft_ckpt_ivf_$name")
    @volatile var curCents = cents
    @volatile var tableRows = 0L
    @volatile var rowsAtTrain = 0L
    try {
      val schema = spark.read.parquet(streamDir).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(streamDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val assigned = Similarity.buildListsFrom(
            Similarity.normedBatch(batch), curCents)
            .select("vec_id", "centroid_id", "vec", "nrm")
          if (sink.exists(spark, layer, name))
            sink.merge(spark, layer, name, assigned, "vec_id", layout)
          else sink.overwrite(spark, layer, name, assigned, layout)
          tableRows = footerRows(spark,
            sink.read(spark, layer, name).inputFiles.toSeq)
          if (tableRows - rowsAtTrain > staleLimit) {
            // past the drift budget mid-stream: retrain from the
            // warehouse rows, rewrite the assignments, and hand the new
            // quantizer to every batch after this one
            val all = graft.model.Stage.pin(sink.read(spark, layer, name)
              .select("vec_id", "vec", "nrm"))
            val fresh = Similarity.retrainFrom(spark, all, all.count())
            sink.overwrite(spark, layer, name,
              Similarity.buildListsFrom(all, fresh)
                .select("vec_id", "centroid_id", "vec", "nrm"), layout)
            curCents = fresh
            rowsAtTrain = tableRows
          }
          ()
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      q.processAllAvailable()
      q.stop()
      IvfMaintenance(sink.read(spark, layer, name), tableRows, curCents)
    } finally {
      val p = new org.apache.hadoop.fs.Path(ckpt.toUri)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  /** Run an Append-mode streaming query over `df` into a parquet FILE
    * sink and block until the (file-bounded) stream drains; the result is
    * the sink directory read back (exact — batch reads of a
    * FileStreamSink directory resolve through its `_spark_metadata`
    * commit log, so only committed files are visible). This is the drain
    * for outputs that scale WITH the data (deduped corpus, session
    * closes, attribution pairs): executors write their partitions
    * directly and the driver never materializes a row — a memory-sink
    * drain of the same streams collects every task result onto the
    * driver and OOMs at ~100× sf0.1 under an 8 GB heap (observed: Java
    * serialization of collected batches inside MicroBatchExecution).
    * Memory sinks remain only where the output is aggregate-bounded
    * ([[windowedParity]]'s Complete-mode window×type table). The sink
    * and checkpoint directories are [[graft.model.Scratch]]-registered. */
  def runToFiles(spark: SparkSession, df: DataFrame, name: String): DataFrame = {
    val out = graft.model.Scratch.dir(s"graft_sink_$name")
    val ckpt = graft.model.Scratch.dir(s"graft_ckpt_$name")
    val q = df.writeStream
      .format("parquet")
      .option("path", out)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(out)
  }

  /** Run a streaming query over `df` into an in-memory table and block
    * until the (file-bounded) stream drains. Returns the result table.
    * For Append-mode drains whose output grows with the data, use
    * [[runToFiles]] — this collects onto the driver. */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      outputMode: OutputMode = OutputMode.Append()): DataFrame = {
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft_ckpt_$name")
    try {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .option("checkpointLocation", ckpt.toString)
        .start()
      q.processAllAvailable()
      q.stop()
      spark.table(name)
    } finally {
      // the memory-sink table is the result; the checkpoint is only the
      // stream's recovery log — deleting it avoids unbounded /tmp growth
      // in a long-lived driver that runs many bounded parity drains
      val p = new org.apache.hadoop.fs.Path(ckpt.toUri)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }
}
