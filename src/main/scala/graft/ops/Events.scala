package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators over the `events` table: gap-based
  * sessionization and JSON property extraction.
  *
  * Sessionization here is the batch formulation (lag → new-session flag →
  * running sum), the classic Spark pattern whose shuffle is exactly one
  * hash partition by user_id; the same semantics stream via
  * `flatMapGroupsWithState` (see graft.streaming). Timestamps are handled
  * in microseconds end-to-end: the source parquet is nanosecond-precision
  * and both Spark and DuckDB truncate to micros on read, identically.
  */
object Events {

  val SessionGapMinutes = 30

  /** Fails, naming the key, unless the session reads TIMESTAMP(NANOS) as
    * long. The events parquet carries that type, which Spark's reader
    * rejects otherwise; read as long, it is truncated to micros exactly
    * like DuckDB's div 1000. [[graft.Session.builder]], `Bench` and
    * `Verify` set the key; a read never sets it on the caller's session. */
  private[graft] def requireNanosAsLong(spark: SparkSession): Unit = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val v = spark.conf.getOption(key)
    require(v.exists(_.trim.equalsIgnoreCase("true")),
      s"$key must be true to read the events table (graft.Session.builder " +
        s"sets it), got ${v.getOrElse("unset")}")
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    requireNanosAsLong(spark)
    val raw = graft.sources.ParquetStats.read(spark, s"$dir/events.parquet")
    // Adapt to the physical type: under nanosAsLong a TIMESTAMP(NANOS)
    // column arrives as BIGINT nanoseconds (→ truncate to micros exactly
    // like DuckDB); a micro/milli-precision file arrives as a real
    // timestamp already (re-exported feeds — e.g. the 10x probe replica —
    // are micros), which only needs the NTZ normalization.
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
      case _ => col("ts").cast("timestamp_ntz")
    }
    raw.withColumn("ts", ts)
  }

  private def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")

  /** One row per (user, session): gap > 30 min starts a new session. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = SessionGapMinutes * 60L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = unix_micros(col("ts").cast("timestamp"))
    val prevUs = lag(us, 1).over(w)
    events(spark, dir)
      .withColumn("is_new",
        when(prevUs.isNull || (us - prevUs) > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("is_new")).over(cum))
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"),
        max(col("ts")).as("end_ts"),
        ((unix_micros(max(col("ts")).cast("timestamp"))
          - unix_micros(min(col("ts")).cast("timestamp"))) / 1000000.0)
          .as("duration_secs"),
        (sum(cents(col("value"))) / 100.0).as("total_value"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"),
        countDistinct(col("event_type")).as("n_event_types"))
  }

  def sessionizeOracle: String = {
    val gapUs = SessionGapMinutes * 60L * 1000000L
    s"""WITH e AS (
      SELECT *, epoch_us(ts) AS us,
        lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > $gapUs
                     THEN 1 ELSE 0 END AS is_new
      FROM e),
    sessions AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM flagged)
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
      count(*) AS n_events,
      min(ts) AS start_ts, max(ts) AS end_ts,
      (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS duration_secs,
      sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value,
      CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
      CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
      count(DISTINCT event_type) AS n_event_types
    FROM sessions GROUP BY 1, 2"""
  }

  /** Batch twin of StreamingOps.windowedCounts: 10-minute tumbling windows
    * per event type via Spark's `window()` (epoch-aligned; the oracle
    * reproduces the bucketing arithmetically as floor(epoch_us / width)). */
  def windowed(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        (sum(cents(col("value"))) / 100.0).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("n_users"), col("total_value"))

  def windowedOracle: String =
    """SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS window_start,
         event_type,
         count(*) AS n_events,
         count(DISTINCT user_id) AS n_users,
         sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
       FROM events GROUP BY 1, 2"""

  /** A/B-test readout — the two-proportion z-test every experimentation
    * platform computes, in the engine's rational-arithmetic discipline:
    * variants are the deterministic `user_id % 2` split (a stand-in for
    * the assignment table), the analysis unit is the ACTIVE USER-DAY
    * and conversion is day-had-a-purchase (every user here eventually
    * purchases, so the per-user proportion is degenerately 1 — the
    * day grain is where this stream discriminates, the
    * [[patternJourneys]] finding; a clustered-unit caveat applies
    * exactly as it does on real platforms), and the row
    * reports per-variant users/conversions plus z² as an exact ratio —
    * `z² = (p̂a − p̂b)² / (p̂(1−p̂)(1/na + 1/nb))` with every term a
    * ratio of integers (the [[outliers]] z² discipline; the consumer
    * compares z² to 3.84 for 95%). One user-keyed aggregate, one 2-row
    * reduce. */
  def abTestConversion(spark: SparkSession, dir: String): DataFrame = {
    val users = events(spark, dir)
      .groupBy(col("user_id"), col("ts").cast("date").as("d"))
      .agg(max((col("event_type") === "purchase").cast("long"))
        .as("converted"))
      .withColumn("variant",
        when(pmod(col("user_id"), lit(2L)) === 0, "A").otherwise("B"))
    val per = users.groupBy("variant")
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"))
    val wide = per.agg(
      max(when(col("variant") === "A", col("n_users"))).as("na"),
      max(when(col("variant") === "A", col("n_conv"))).as("ca"),
      max(when(col("variant") === "B", col("n_users"))).as("nb"),
      max(when(col("variant") === "B", col("n_conv"))).as("cb"))
    wide.select(col("na"), col("ca"), col("nb"), col("cb"),
      (col("ca").cast("double") / col("na")).as("rate_a"),
      (col("cb").cast("double") / col("nb")).as("rate_b"))
      .withColumn("pooled",
        (col("ca") + col("cb")).cast("double") / (col("na") + col("nb")))
      .withColumn("z2",
        (col("rate_a") - col("rate_b")) * (col("rate_a") - col("rate_b"))
          / nullif(col("pooled") * (lit(1.0) - col("pooled"))
            * (lit(1.0) / col("na") + lit(1.0) / col("nb")), lit(0.0)))
      .select("na", "ca", "nb", "cb", "rate_a", "rate_b", "pooled", "z2")
  }

  def abTestConversionOracle: String =
    """WITH u AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          AS converted,
        CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant
      FROM events GROUP BY user_id, CAST(ts AS DATE)),
    per AS (
      SELECT variant, count(*) AS n_users,
        CAST(sum(converted) AS BIGINT) AS n_conv
      FROM u GROUP BY 1),
    wide AS (
      SELECT max(CASE WHEN variant = 'A' THEN n_users END) AS na,
        max(CASE WHEN variant = 'A' THEN n_conv END) AS ca,
        max(CASE WHEN variant = 'B' THEN n_users END) AS nb,
        max(CASE WHEN variant = 'B' THEN n_conv END) AS cb
      FROM per),
    r AS (
      SELECT na, ca, nb, cb,
        CAST(ca AS DOUBLE) / na AS rate_a,
        CAST(cb AS DOUBLE) / nb AS rate_b,
        CAST(ca + cb AS DOUBLE) / (na + nb) AS pooled
      FROM wide)
    SELECT na, ca, nb, cb, rate_a, rate_b, pooled,
      (rate_a - rate_b) * (rate_a - rate_b)
        / nullif(pooled * (1.0 - pooled) * (1.0 / na + 1.0 / nb), 0.0)
        AS z2
    FROM r"""

  /** Missing-day detection — the backfill planner's first query: which
    * calendar days inside the feed's own [min, max] produced ZERO
    * events? A date spine generated from the observed bounds
    * (`sequence()` — dimension-sized, broadcast) anti-joined against
    * the per-day counts; at 100 TB the per-day aggregate is the only
    * corpus-sized pass. Emits one row per present day with its count
    * and a gap flag per missing day, so the row doubles as the daily
    * volume profile. */
  def missingDays(spark: SparkSession, dir: String): DataFrame = {
    val days = events(spark, dir)
      .select(col("ts").cast("date").as("d"))
      .groupBy("d").agg(count(lit(1)).as("n_events"))
    val spine = days.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("d"))
    spine.join(days, Seq("d"), "left")
      .select(col("d").as("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("n_events").isNull.cast("int").as("is_gap"))
  }

  def missingDaysOracle: String =
    """WITH days AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS n_events
      FROM events GROUP BY 1),
    spine AS (
      SELECT unnest(generate_series(min(d), max(d),
        INTERVAL 1 DAY))::DATE AS d
      FROM days)
    SELECT s.d AS day, coalesce(dd.n_events, 0) AS n_events,
      CAST(CASE WHEN dd.n_events IS NULL THEN 1 ELSE 0 END AS INTEGER)
        AS is_gap
    FROM spine s LEFT JOIN days dd ON dd.d = s.d"""

  /** Join-skew diagnostics — the profile that decides whether
    * [[graft.ops.SkewJoin]]'s salting (or AQE skew handling) is worth
    * turning on: per join key (customer_id over orders), how heavy is
    * the heaviest key relative to the mean? Reports the top-k heavy
    * keys with their frequency and multiple-of-mean — at 100 TB this
    * is the first thing to read when a join stage straggles. One
    * key-count aggregate; the mean rides along as a 1-row broadcast;
    * top-k is an ordered limit. */
  def joinSkewProfile(spark: SparkSession, dir: String,
      topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = graft.bronze.Bronze.orders(spark, dir)
      .groupBy(col("customer_id")).agg(count(lit(1)).as("n_rows"))
    val stats = counts.agg(count(lit(1)).as("n_keys"),
      sum(col("n_rows")).as("n_total"))
    counts.crossJoin(broadcast(stats))
      .withColumn("x_mean",
        col("n_rows").cast("double") * col("n_keys") / col("n_total"))
      .orderBy(col("n_rows").desc, col("customer_id")).limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_rows").desc, col("customer_id"))))
      .select("rank", "customer_id", "n_rows", "n_keys", "n_total",
        "x_mean")
  }

  def joinSkewProfileOracle(prelude: String, topK: Int = 10): String =
    s"""$prelude,
    counts AS (
      SELECT customer_id, count(*) AS n_rows
      FROM bronze_orders GROUP BY 1),
    stats AS (
      SELECT count(*) AS n_keys, sum(n_rows) AS n_total FROM counts)
    SELECT CAST(rank AS INTEGER) AS rank, customer_id, n_rows, n_keys,
      n_total, x_mean
    FROM (
      SELECT c.customer_id, c.n_rows, s.n_keys,
        CAST(s.n_total AS BIGINT) AS n_total,
        CAST(c.n_rows AS DOUBLE) * s.n_keys / s.n_total AS x_mean,
        row_number() OVER (ORDER BY c.n_rows DESC, c.customer_id) AS rank
      FROM counts c CROSS JOIN stats s)
    WHERE rank <= $topK"""

  /** Sliding (hopping) windows — the third window kind next to
    * [[windowed]]'s tumbling and [[sessionize]]'s session windows: a
    * 10-minute window every 5 minutes, so each event lands in exactly
    * TWO windows and adjacent windows share half their data (the shape
    * behind smooth rate dashboards and overlap-tolerant anomaly
    * windows). Spark's `window(ts, '10 minutes', '5 minutes')` explodes
    * each row into its window memberships before the aggregate — the
    * oracle reproduces that as a union of the two phase-shifted
    * bucketings, which is exactly what the explode computes. */
  def slidingWindows(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(cents(col("value"))) / 100.0).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))

  def slidingWindowsOracle: String =
    """WITH phased AS (
      SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000)
          AS window_start, event_type, value
      FROM events
      UNION ALL
      SELECT make_timestamp(((epoch_us(ts) - 300000000) // 600000000)
          * 600000000 + 300000000) AS window_start, event_type, value
      FROM events)
    SELECT window_start, event_type, count(*) AS n_events,
      sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
    FROM phased GROUP BY 1, 2"""

  val AttributionWindowMinutes = 30

  /** Purchase→click attribution: each purchase joined to the same user's
    * clicks in the preceding [[AttributionWindowMinutes]] — the batch twin
    * of [[graft.streaming.StreamingOps.attributionStream]]'s stream-stream
    * interval join. One equi-shuffle on user_id; the time predicate
    * filters inside the join. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    purchases.join(clicks, Seq("user_id"))
      .filter(col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts")
          - expr(s"INTERVAL $AttributionWindowMinutes MINUTES"))
      .select("purchase_id", "click_id", "user_id", "purchase_ts",
        "click_ts", "value")
  }

  /** Recency cap for [[attributionLastK]]. */
  val AttributionLastK = 3

  /** Capped attribution: each purchase joined to its [[AttributionLastK]]
    * MOST RECENT preceding clicks (still inside the
    * [[AttributionWindowMinutes]] window) — the bounded-output production
    * form of [[attribution]], whose output is inherently per-user
    * quadratic (every in-window click × every purchase).
    *
    * The shape matters as much as the cap: a naive join-then-rank would
    * still materialize the quadratic candidate set before filtering.
    * Instead clicks get a per-user sequence number, each purchase learns
    * its as-of click_seq with the one-shuffle union+window trick of
    * [[asofAttribution]] (k=1 generalized), and the purchase explodes
    * exactly k (purchase, seq) probes equi-joined on (user_id,
    * click_seq) — fan-out is EXACTLY ≤ k per purchase at the join
    * operator, never per-user clicks × purchases. Three linear user_id
    * shuffles total. In-window clicks form a contiguous suffix of the
    * per-user sequence (a more recent click than an in-window one is
    * also in-window), so capping by sequence then filtering by window is
    * exact. `recency` = 1 for the latest click. */
  def attributionLastK(spark: SparkSession, dir: String,
      k: Int = AttributionLastK): DataFrame =
    attributionLastKFrom(events(spark, dir), k)

  private[graft] def attributionLastKFrom(e: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seqW = Window.partitionBy("user_id")
      .orderBy(col("click_ts"), col("click_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withColumn("click_seq", row_number().over(seqW))
    val tagged = e.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"),
        when(col("event_type") === "click", 0).otherwise(1).as("kind"),
        col("event_id"), col("value"))
    val asofW = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withSeq = tagged
      .withColumn("ckind_seq", when(col("kind") === 0,
        row_number().over(Window.partitionBy("user_id", "kind")
          .orderBy(col("ts"), col("event_id")))))
      .withColumn("last_seq",
        last(col("ckind_seq"), ignoreNulls = true).over(asofW))
    withSeq.filter(col("kind") === 1 && col("last_seq").isNotNull)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value"), col("last_seq"))
      .withColumn("click_seq", explode(expr(
        s"sequence(greatest(1L, last_seq - ${k - 1}), last_seq)")))
      .join(clicks, Seq("user_id", "click_seq"))
      .filter(col("click_ts") >= col("purchase_ts")
        - expr(s"INTERVAL $AttributionWindowMinutes MINUTES"))
      .withColumn("recency",
        (col("last_seq") - col("click_seq") + 1).cast("int"))
      .select("purchase_id", "click_id", "user_id", "purchase_ts",
        "click_ts", "value", "recency")
  }

  /** The quadratic-form mirror (rank over the windowed join, rank ≤ k) —
    * exact because in-window clicks are a recency-contiguous suffix. */
  def attributionLastKOracle(k: Int = AttributionLastK): String =
    s"""WITH e AS (
      SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, user_id,
        event_type, value
      FROM events),
    clicks AS (
      SELECT user_id, ts AS click_ts, event_id AS click_id
      FROM e WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, value
      FROM e WHERE event_type = 'purchase'),
    ranked AS (
      SELECT p.purchase_id, c.click_id, p.user_id, p.purchase_ts,
        c.click_ts, p.value,
        row_number() OVER (PARTITION BY p.purchase_id
          ORDER BY c.click_ts DESC, c.click_id DESC) AS recency
      FROM purchases p JOIN clicks c ON c.user_id = p.user_id
        AND c.click_ts <= p.purchase_ts
        AND c.click_ts >= p.purchase_ts
          - INTERVAL $AttributionWindowMinutes MINUTE)
    SELECT purchase_id, click_id, user_id, purchase_ts, click_ts, value,
      CAST(recency AS INTEGER) AS recency
    FROM ranked WHERE recency <= $k"""

  /** Native gap sessionization via Spark's `session_window` operator —
    * the built-in dynamic-window form of [[sessionize]]'s lag/cumsum
    * formulation, included as its own driver row because the two differ
    * at the exact-gap boundary: `session_window` MERGES only when the
    * next event starts strictly before prev_ts + gap, so a pair exactly
    * 30 minutes apart splits here but merges in [[sessionize]] (`>` vs
    * `>=`). The oracle mirrors the strict boundary. Output windows are
    * [min_ts, max_ts + gap) per Spark's semantics. Scale: same single
    * shuffle on user_id; Spark merges windows inside the aggregation
    * (`MergingSessionsExec`), no per-user memory beyond the open window. */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    e.groupBy(col("user_id"),
        session_window(col("ts"), s"$SessionGapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"),
        (sum(cents(col("value"))) / 100.0).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("session_start"),
        col("session_window.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"), col("total_value"))
  }

  def sessionWindowsOracle: String =
    s"""WITH e AS (
      SELECT make_timestamp(epoch_us(ts)) AS ts, user_id, value
      FROM events),
    d AS (
      SELECT user_id, ts, value,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             OR ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                + INTERVAL $SessionGapMinutes MINUTE
             THEN 1 ELSE 0 END AS is_new
      FROM e),
    s AS (
      SELECT user_id, ts, value,
        sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
          ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM d)
    SELECT user_id,
      min(ts) AS session_start,
      max(ts) + INTERVAL $SessionGapMinutes MINUTE AS session_end,
      count(*) AS n_events,
      sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
    FROM s GROUP BY user_id, session_seq"""

  /** As-of join: each purchase matched to the LATEST click at-or-before
    * it — the canonical time-series operator Spark has no native form of.
    * Composed from existing ops via the union+window formulation: tag
    * clicks and purchases, sort once per user by (ts, kind, id), carry
    * the last-seen click forward with `last(..., ignoreNulls)` — ONE
    * shuffle on user_id total, versus the join+argmax form whose
    * candidate fan-out is every (purchase × prior click) pair. Ties are
    * deterministic: clicks order before purchases at equal ts (as-of is
    * at-or-before), and the later click_id wins among same-ts clicks.
    * Purchases with no prior click are kept with NULL click columns
    * (the honest as-of semantics; the oracle mirrors via rn=1 over a
    * left join). */
  def asofAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events(spark, dir)
    val tagged = e.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"),
        when(col("event_type") === "click", 0).otherwise(1).as("kind"),
        col("event_id"), col("value"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("click_id",
        last(when(col("kind") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ts",
        last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("click_id"), col("click_ts"),
        col("value"))
  }

  def asofAttributionOracle: String =
    """WITH e AS (
      SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, user_id,
        event_type, value
      FROM events),
    clicks AS (
      SELECT user_id, ts AS click_ts, event_id AS click_id
      FROM e WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, value
      FROM e WHERE event_type = 'purchase'),
    ranked AS (
      SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_id,
        c.click_ts, p.value,
        row_number() OVER (PARTITION BY p.purchase_id
          ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
      FROM purchases p LEFT JOIN clicks c ON c.user_id = p.user_id
        AND c.click_ts <= p.purchase_ts)
    SELECT purchase_id, user_id, purchase_ts, click_id, click_ts, value
    FROM ranked WHERE rn = 1"""

  def attributionOracle: String =
    s"""WITH e AS (
      SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, user_id,
        event_type, value
      FROM events),
    clicks AS (
      SELECT user_id, ts AS click_ts, event_id AS click_id
      FROM e WHERE event_type = 'click'),
    purchases AS (
      SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, value
      FROM e WHERE event_type = 'purchase')
    SELECT p.purchase_id, c.click_id, p.user_id, p.purchase_ts,
      c.click_ts, p.value
    FROM purchases p JOIN clicks c ON c.user_id = p.user_id
      AND c.click_ts <= p.purchase_ts
      AND c.click_ts >= p.purchase_ts - INTERVAL $AttributionWindowMinutes MINUTE"""

  /** Path length cap and paths kept for [[topPaths]]. */
  val PathLen = 5
  val TopPaths = 20

  /** Top session paths — journey analysis: the first [[PathLen]] event
    * types of every gap session joined into a path string, the
    * [[TopPaths]] most common paths ranked. The cap is what makes the
    * row scale-safe: a session's path is bounded regardless of its
    * event count, so the path aggregate's keys are short strings and
    * the per-session state is [[PathLen]] rows of the session window —
    * never the whole session. Top-k is orderBy+limit
    * (TakeOrderedAndProject: per-partition heap + driver merge, the
    * [[graft.ops.TextOps.vocabulary]] discipline), rank assigned over
    * the already-bounded rows; ties rank by path string. */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = SessionGapMinutes * 60L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = unix_micros(col("ts").cast("timestamp"))
    val prevUs = lag(us, 1).over(w)
    val sessions = events(spark, dir)
      .withColumn("is_new",
        when(prevUs.isNull || (us - prevUs) > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("is_new")).over(cum))
    val sw = Window.partitionBy("user_id", "session_seq")
      .orderBy("ts", "event_id")
    val paths = sessions
      .withColumn("rn", row_number().over(sw))
      .filter(col("rn") <= PathLen)
      .groupBy("user_id", "session_seq")
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("rn"), col("event_type")))),
        x => x.getField("event_type"))).as("path"))
    val counts = paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
    val top = counts.orderBy(col("n_sessions").desc, col("path")).limit(TopPaths)
    top.withColumn("path_rank", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("path"))))
      .select("path_rank", "path", "n_sessions")
  }

  /** MATCH_RECOGNIZE-style session pattern detection — the SQL-standard
    * row-pattern-matching surface Spark does not ship: which sessions
    * follow `view ⇢ click ⇢ purchase` (in order, gaps allowed)? Which
    * converted despite an error? Which bounced? The engine expresses the
    * common subset of MATCH_RECOGNIZE — ordered-subsequence patterns
    * over a partition — by reducing each (user, day) journey to its
    * ordered event-type path string (the [[topPaths]] reduction,
    * uncapped: a daily journey is calendar-bounded, so the string is
    * too; the day grain is where this stream discriminates — gap
    * sessions are 95% single-event bounces and whole-user histories
    * eventually match everything) and matching
    * patterns as regexes, which distribute as a map over the
    * one-row-per-session table. Both engines run the same pattern text;
    * the patterns use only `.`/`*`/literals, the regex subset Java and
    * RE2 agree on.
    *
    * Output: one row per named pattern with the matching-session count
    * and share — the funnel/journey questions MATCH_RECOGNIZE exists to
    * answer. */
  def patternJourneys(spark: SparkSession, dir: String): DataFrame = {
    val paths = events(spark, dir)
      .groupBy(col("user_id"), col("ts").cast("date").as("d"))
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))),
        x => x.getField("event_type"))).as("path"))
    val converted = col("path").rlike("view.*click.*purchase")
    val patterns = Seq(
      ("converted", converted),
      ("clean_conversion", converted && !col("path").contains("error")),
      ("error_retry_purchase", col("path").rlike("error.*purchase")),
      ("bounce", !col("path").contains(">")))
    val agg = paths.agg(
      count(lit(1)).as("n_total"),
      patterns.map { case (n, p) =>
        sum(p.cast("long")).as(s"c_$n")
      }: _*)
    agg.select(explode(array(patterns.map { case (n, _) =>
        struct(lit(n).as("pattern"), col(s"c_$n").as("n_sessions"),
          col("n_total"))
      }: _*)).as("r"))
      .select(col("r.pattern").as("pattern"),
        col("r.n_sessions").as("n_sessions"),
        col("r.n_total").as("n_total"),
        (col("r.n_sessions") * lit(1.0) / col("r.n_total")).as("share"))
  }

  def patternJourneysOracle: String = {
    s"""WITH paths AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
        string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM events GROUP BY 1, 2),
    agg AS (
      SELECT count(*) AS n_total,
        sum(CASE WHEN regexp_matches(path, 'view.*click.*purchase')
            THEN 1 ELSE 0 END) AS c_converted,
        sum(CASE WHEN regexp_matches(path, 'view.*click.*purchase')
            AND NOT contains(path, 'error') THEN 1 ELSE 0 END)
          AS c_clean_conversion,
        sum(CASE WHEN regexp_matches(path, 'error.*purchase')
            THEN 1 ELSE 0 END) AS c_error_retry_purchase,
        sum(CASE WHEN NOT contains(path, '>') THEN 1 ELSE 0 END)
          AS c_bounce
      FROM paths)
    SELECT pattern, CAST(n_sessions AS BIGINT) AS n_sessions,
      n_total, n_sessions * 1.0 / n_total AS share
    FROM (
      SELECT 'converted' AS pattern, c_converted AS n_sessions, n_total
      FROM agg
      UNION ALL SELECT 'clean_conversion', c_clean_conversion, n_total
      FROM agg
      UNION ALL SELECT 'error_retry_purchase', c_error_retry_purchase,
        n_total FROM agg
      UNION ALL SELECT 'bounce', c_bounce, n_total FROM agg)"""
  }

  def topPathsOracle: String = {
    val gapUs = SessionGapMinutes * 60L * 1000000L
    s"""WITH e AS (
      SELECT *, epoch_us(ts) AS us,
        lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > $gapUs
                     THEN 1 ELSE 0 END AS is_new
      FROM e),
    sessions AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM flagged),
    numbered AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
        ORDER BY ts, event_id) AS rn
      FROM sessions),
    paths AS (
      SELECT user_id, session_seq,
        string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM numbered WHERE rn <= $PathLen
      GROUP BY 1, 2),
    counts AS (
      SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path)
        AS path_rank
      FROM counts)
    SELECT CAST(path_rank AS INTEGER) AS path_rank, path, n_sessions
    FROM ranked WHERE path_rank <= $TopPaths"""
  }

  /** |z| threshold for [[outliers]] — compared as z² > 9 in exact
    * integer arithmetic. */
  val OutlierZ = 3

  /** Per-type z-score outliers in EXACT integer arithmetic: flag event x
    * iff (n·x − S)² · (n−1) > z²·n·(n·S2 − S²) over cents-quantized
    * values — algebraically identical to |x − μ| > z·σ (sample σ) but
    * with no float mean/stddev anywhere. The reason is cross-engine
    * determinism at the BOUNDARY: Spark's stddev (Welford) and DuckDB's
    * differ in rounding, and one ulp around the threshold flips
    * membership; integer cross-multiplication cannot. Decimal(38)/
    * HUGEINT intermediates are exact up to n ≈ 10⁹ rows per group
    * (d²·n ≲ 10³⁸); beyond that the comparison needs a two-word split —
    * the documented knob, same spirit as [[graft.ops.Similarity.IvfKMax]].
    *
    * Shape: one per-type aggregate (count/sum/sum-of-squares, all
    * map-side partial) broadcast back over the scan — the corpus-side
    * pass is map-only, no shuffle of the events. */
  def outliers(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        cents(col("value")).as("xc"))
    val st = e.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("xc").cast("decimal(38,0)")).as("s"),
      // square AFTER the decimal(38,0) widen: a Long×Long square wraps
      // silently for |xc| > ~3.0e9 cents (single values ≳ $30M) while the
      // oracle squares in HUGEINT. Note the residual asymmetry past the
      // documented 10³⁸ bound: non-ANSI Spark decimal overflow yields NULL
      // (row silently unflagged) where DuckDB HUGEINT overflow errors.
      sum(col("xc").cast("decimal(38,0)") * col("xc")).as("s2"))
    val d = col("n").cast("decimal(38,0)") * col("xc") - col("s")
    val lhs = d * d * (col("n") - 1).cast("decimal(38,0)")
    val rhs = lit(OutlierZ * OutlierZ) * col("n").cast("decimal(38,0)") *
      (col("n").cast("decimal(38,0)") * col("s2") - col("s") * col("s"))
    e.join(broadcast(st), Seq("event_type"))
      .filter(lhs > rhs)
      .withColumn("side", when(d > 0, "high").otherwise("low"))
      .select("event_id", "event_type", "value", "n", "side")
  }

  def outliersOracle: String =
    s"""WITH e AS (
      SELECT event_id, event_type, value,
        CAST(round(value * 100) AS BIGINT) AS xc
      FROM events),
    st AS (
      SELECT event_type, count(*) AS n,
        sum(CAST(xc AS HUGEINT)) AS s,
        sum(CAST(xc AS HUGEINT) * xc) AS s2
      FROM e GROUP BY 1)
    SELECT e.event_id, e.event_type, e.value, st.n,
      CASE WHEN CAST(st.n AS HUGEINT) * e.xc - st.s > 0
           THEN 'high' ELSE 'low' END AS side
    FROM e JOIN st USING (event_type)
    WHERE (CAST(st.n AS HUGEINT) * e.xc - st.s)
        * (CAST(st.n AS HUGEINT) * e.xc - st.s)
        * (st.n - 1)
      > ${OutlierZ * OutlierZ} * CAST(st.n AS HUGEINT)
        * (CAST(st.n AS HUGEINT) * st.s2 - st.s * st.s)"""

  /** JSON property extraction + per-type rollup: `props` is a JSON string
    * column ({"k": int}). */
  def jsonStats(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        (sum(cents(col("value"))) / 100.0).as("value_sum"))

  def jsonStatsOracle: String =
    """SELECT event_type,
         count(*) AS n_events,
         count(DISTINCT user_id) AS n_users,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
         min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
         max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
         sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
       FROM events GROUP BY 1"""

  /** Ordered funnel: view → click (strictly after the first view) →
    * purchase (strictly after that click) — the classic product-analytics
    * conversion query. Each step is a per-user min-timestamp aggregate
    * over the PREVIOUS step's anchor, so the whole funnel is three
    * user_id-keyed aggregates + two user_id equi-joins: one partitioning
    * reused end-to-end, no window over the global event stream, no
    * per-user event buffering — linear at any event volume. Conversion
    * ratios are exact integer rationals. */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelFrom(events(spark, dir))

  /** Funnel over any DataFrame with (user_id, event_type, ts) — factored
    * so StreamingSpec can assert stream/batch parity on one input. */
  def funnelFrom(eventsDf: DataFrame): DataFrame = {
    val e = eventsDf.select("user_id", "event_type", "ts")
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val t2 = e.filter(col("event_type") === "click")
      .join(t1, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t2, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    t1.join(t2, Seq("user_id"), "left").join(t3, Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_view"),
        count(col("t2")).as("n_view_click"),
        count(col("t3")).as("n_view_click_purchase"))
      .select(lit("view>click>purchase").as("funnel"),
        col("n_view"), col("n_view_click"), col("n_view_click_purchase"),
        (col("n_view_click") * 1.0 / col("n_view")).as("conv_click"),
        (col("n_view_click_purchase") * 1.0 /
          col("n_view_click")).as("conv_purchase"))
  }

  def funnelOracle: String =
    """WITH t1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN t1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > t1.t1
      GROUP BY 1),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN t2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > t2.t2
      GROUP BY 1),
    agg AS (
      SELECT count(*) AS n_view, count(t2.t2) AS n_view_click,
        count(t3.t3) AS n_view_click_purchase
      FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id))
    SELECT 'view>click>purchase' AS funnel,
      n_view, n_view_click, n_view_click_purchase,
      n_view_click * 1.0 / n_view AS conv_click,
      n_view_click_purchase * 1.0 / n_view_click AS conv_purchase
    FROM agg"""

  /** Cohort LTV curve — the revenue companion to [[retention]]'s
    * activity matrix: per (signup-week cohort × week-of-life), purchase
    * revenue and the RUNNING lifetime value per cohort member — the
    * curve growth teams read payback periods off. Cents-exact sums, LTV
    * per user as one division; the cumulative window partitions by
    * cohort and runs over week offsets (weeks-of-life per cohort is
    * calendar-bounded, never corpus-bounded). Cohorting reuses
    * [[retention]]'s Monday-anchored week arithmetic. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("datediff(cast(ts as date), date'1970-01-05') div 7").as("wk"))
    val cohort = e.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    val sizes = cohort.groupBy("cohort_wk")
      .agg(countDistinct(col("user_id")).as("cohort_size"))
    val rev = e.filter(col("event_type") === "purchase")
      .join(cohort, Seq("user_id"))
      .groupBy("cohort_wk", "wk")
      .agg(sum(cents(col("value"))).as("rev_cents"))
    def weekStart(c: org.apache.spark.sql.Column) =
      date_add(lit("1970-01-05").cast("date"), (c * 7).cast("int"))
    val w = Window.partitionBy("cohort_wk").orderBy("wk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.join(broadcast(sizes), Seq("cohort_wk"))
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .select(weekStart(col("cohort_wk")).as("cohort_week"),
        (col("wk") - col("cohort_wk")).cast("int").as("week_offset"),
        col("cohort_size"),
        (col("rev_cents") / 100.0).as("week_revenue"),
        (col("cum_rev_cents") / 100.0).as("cum_revenue"),
        (col("cum_rev_cents").cast("double") / col("cohort_size") / 100.0)
          .as("ltv_per_user"))
  }

  def cohortLtvOracle: String =
    """WITH e AS (
      SELECT user_id, event_type, value,
        (CAST(ts AS DATE) - DATE '1970-01-05') // 7 AS wk
      FROM events),
    c AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
    s AS (SELECT cohort_wk, count(DISTINCT user_id) AS cohort_size
      FROM c GROUP BY 1),
    r AS (
      SELECT c.cohort_wk, e.wk,
        sum(CAST(round(e.value * 100) AS BIGINT)) AS rev_cents
      FROM e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' GROUP BY 1, 2),
    cum AS (
      SELECT r.cohort_wk, r.wk, r.rev_cents, s.cohort_size,
        sum(r.rev_cents) OVER (PARTITION BY r.cohort_wk ORDER BY r.wk
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS cum_rev_cents
      FROM r JOIN s USING (cohort_wk))
    SELECT DATE '1970-01-05' + CAST(cohort_wk * 7 AS INTEGER)
        AS cohort_week,
      CAST(wk - cohort_wk AS INTEGER) AS week_offset, cohort_size,
      rev_cents / 100.0 AS week_revenue,
      cum_rev_cents / 100.0 AS cum_revenue,
      CAST(cum_rev_cents AS DOUBLE) / cohort_size / 100.0 AS ltv_per_user
    FROM cum"""

  /** Cohort retention matrix: users bucketed by first-activity week (the
    * cohort), counted in every week they return — the standard growth
    * analytics triangle (cohort_week × week_offset → active_users,
    * retention fraction of the cohort's size).
    *
    * Weeks are pure epoch-day arithmetic — `days-since-Monday-1970-01-05
    * div 7` — NOT a week-of-year date format: 'ww'/'YYYY' week-year
    * patterns differ between engines (ISO vs locale week numbering, the
    * same trap SURVEY §2 C12 documents for month formats), while integer
    * day division is identical everywhere and makes offsets subtractable.
    *
    * Shape: ONE shuffle on user_id — per-user week sets are built with
    * `collect_set` (bounded: weeks-per-user ≤ the calendar span, not the
    * event count, and the set dedups map-side inside the partial
    * aggregate), the cohort week is `array_min` of the same set, and the
    * explode back to (cohort, week) pairs is map-side. The alternative
    * distinct + min-groupBy + self-join formulation shuffles three times.
    * The final matrix is dimension-bounded (weeks²), so its window over
    * cohort_week is trivially small. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val perUser = events(spark, dir)
      .select(col("user_id"),
        expr("datediff(cast(ts as date), date'1970-01-05') div 7").as("wk"))
      .groupBy("user_id")
      .agg(collect_set(col("wk")).as("weeks"))
      .withColumn("cohort_wk", array_min(col("weeks")))
    val matrix = perUser
      .select(col("cohort_wk"), explode(col("weeks")).as("wk"))
      .groupBy("cohort_wk", "wk")
      .agg(count(lit(1)).as("active_users"))
    def weekStart(c: org.apache.spark.sql.Column) =
      date_add(lit("1970-01-05").cast("date"), (c * 7).cast("int"))
    val w = Window.partitionBy("cohort_wk")
    matrix
      .withColumn("week_offset", (col("wk") - col("cohort_wk")).cast("int"))
      .withColumn("cohort_size",
        max(when(col("wk") === col("cohort_wk"), col("active_users"))).over(w))
      .withColumn("retention",
        col("active_users") * lit(1.0) / col("cohort_size"))
      .select(weekStart(col("cohort_wk")).as("cohort_week"),
        weekStart(col("wk")).as("activity_week"),
        col("week_offset"), col("active_users"), col("cohort_size"),
        col("retention"))
  }

  def retentionOracle: String =
    """WITH a AS (
      SELECT DISTINCT user_id,
        (CAST(ts AS DATE) - DATE '1970-01-05') // 7 AS wk
      FROM events),
    c AS (SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY 1),
    m AS (
      SELECT c.cohort_wk, a.wk, count(*) AS active_users
      FROM a JOIN c USING (user_id) GROUP BY 1, 2),
    s AS (
      SELECT *, wk - cohort_wk AS week_offset,
        max(CASE WHEN wk = cohort_wk THEN active_users END)
          OVER (PARTITION BY cohort_wk) AS cohort_size
      FROM m)
    SELECT DATE '1970-01-05' + CAST(cohort_wk * 7 AS INTEGER) AS cohort_week,
      DATE '1970-01-05' + CAST(wk * 7 AS INTEGER) AS activity_week,
      week_offset, active_users, cohort_size,
      active_users * 1.0 / cohort_size AS retention
    FROM s"""
}
