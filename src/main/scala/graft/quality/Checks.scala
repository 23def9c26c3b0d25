package graft.quality

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** dbt-style generic data-quality tests (SURVEY.md §2.12) as reusable
  * DataFrame operators. Each check returns the *violating* rows (dbt's pass
  * criterion: the compiled SELECT is empty), plus count-form helpers used by
  * the aggregated [[DataQuality.summary]] query.
  *
  * Scale: the count forms are single-pass conditional aggregates (one hash
  * agg over the table, no per-check rescans); `relationships` is a left-anti
  * equi-join that AQE turns into a broadcast when the parent side is small.
  */
object Checks {

  /** Rows whose `col` value occurs more than once (dbt `unique`; nulls are
    * ignored, matching dbt). */
  def unique(df: DataFrame, colName: String): DataFrame = {
    val dups = df.filter(col(colName).isNotNull)
      .groupBy(colName).count().filter(col("count") > 1)
      .select(col(colName))
    df.join(dups, Seq(colName), "left_semi")
  }

  /** Rows with a null `col` (dbt `not_null`). */
  def notNull(df: DataFrame, colName: String): DataFrame =
    df.filter(col(colName).isNull)

  /** Child rows whose FK has no match in the parent (dbt `relationships`).
    * dbt ignores null FKs. */
  def relationships(child: DataFrame, fk: String,
      parent: DataFrame, pk: String): DataFrame =
    child.filter(col(fk).isNotNull)
      .join(parent.select(col(pk).as(fk)).distinct(), Seq(fk), "left_anti")

  /** Rows whose `col` is outside the accepted domain (dbt `accepted_values`;
    * nulls pass, matching dbt). */
  def acceptedValues(df: DataFrame, colName: String, allowed: Seq[String]): DataFrame =
    df.filter(col(colName).isNotNull && !col(colName).isin(allowed: _*))

  /** dbt `source freshness`: max(loadedAt) older than `errorAfterHours` →
    * "error", older than `warnAfterHours` → "warn", else "pass". The
    * reference declares 24h/48h thresholds but omits `loaded_at_field`
    * (`models/bronze/bronze.yml:10-13`) — this is the completed form. */
  def freshness(df: DataFrame, loadedAtCol: String, now: Column,
      warnAfterHours: Int = 24, errorAfterHours: Int = 48): String = {
    val maxLoaded = df.agg(max(col(loadedAtCol)).cast("timestamp_ntz")).head().getAs[java.time.LocalDateTime](0)
    if (maxLoaded == null) "error"
    else {
      val nowTs = java.time.LocalDateTime.parse(
        graft.model.Clock.nowLit.replace(" ", "T"))
      val age = java.time.Duration.between(maxLoaded, nowTs).toHours
      if (age >= errorAfterHours) "error" else if (age >= warnAfterHours) "warn" else "pass"
    }
  }

  /** Driver-checked distributed form of `dbt source freshness`: one row
    * per feed with its high-water mark, staleness in hours against the
    * pinned clock, and the warn/error verdict. bronze_orders preserves the
    * upstream `_loaded_at` (5 days old → error); the other feeds are
    * stamped at ingest (→ pass). One `max` aggregate per feed — no
    * driver-side collect. */
  def freshnessSummary(spark: SparkSession, dir: String,
      warnAfterHours: Int = 24, errorAfterHours: Int = 48): DataFrame = {
    val feeds = Seq(
      "bronze_customers" -> graft.bronze.Bronze.customers(spark, dir),
      "bronze_orders" -> graft.bronze.Bronze.orders(spark, dir),
      "bronze_payments" -> graft.bronze.Bronze.payments(spark, dir))
    feeds.map { case (name, df) =>
      // hours = FLOOR of the epoch-microsecond difference — NOT
      // timestampdiff(HOUR) vs DuckDB date_diff('hour'), which count
      // complete hours vs hour-boundary crossings and diverge for
      // non-hour-aligned stamps (the adaptive-parameter oracle trap).
      // Floor, not `div`: integer `div` truncates toward zero while the
      // oracle's `//` floors, so a future-stamped feed (negative
      // staleness) would read 0 here and -1 there.
      df.agg(max(col("_loaded_at")).cast("timestamp_ntz").as("max_loaded_at"))
        .select(
          lit(name).as("source"),
          col("max_loaded_at"),
          expr(s"""cast(floor((unix_micros(cast(TIMESTAMP_NTZ '${graft.model.Clock.nowLit}' as timestamp))
                   - unix_micros(cast(max_loaded_at as timestamp))) / 3600000000.0) as bigint)""")
            .as("hours_stale"))
        .withColumn("status",
          when(col("hours_stale") >= errorAfterHours, "error")
            .when(col("hours_stale") >= warnAfterHours, "warn")
            .otherwise("pass"))
    }.reduce(_ unionByName _)
  }

  def freshnessSummaryOracle(prelude: String,
      warnAfterHours: Int = 24, errorAfterHours: Int = 48): String =
    s"""$prelude,
    f AS (
      SELECT 'bronze_customers' AS source, max(_loaded_at) AS max_loaded_at
      FROM bronze_customers
      UNION ALL
      SELECT 'bronze_orders', max(_loaded_at) FROM bronze_orders
      UNION ALL
      SELECT 'bronze_payments', max(_loaded_at) FROM bronze_payments)
    SELECT source, max_loaded_at,
      CAST(floor((epoch_us(TIMESTAMP '${graft.model.Clock.nowLit}')
            - epoch_us(max_loaded_at)) / 3600000000.0) AS BIGINT) AS hours_stale,
      CASE WHEN floor((epoch_us(TIMESTAMP '${graft.model.Clock.nowLit}')
                 - epoch_us(max_loaded_at)) / 3600000000.0) >= $errorAfterHours THEN 'error'
           WHEN floor((epoch_us(TIMESTAMP '${graft.model.Clock.nowLit}')
                 - epoch_us(max_loaded_at)) / 3600000000.0) >= $warnAfterHours THEN 'warn'
           ELSE 'pass' END AS status
    FROM f"""

  // ---- single-pass count forms (for the aggregated summary query) ----

  /** dbt `--store-failures` analog for `accepted_values`: the stored
    * failure table is (value_field, n_records) per off-inventory value —
    * the rows a user debugs with, not just the count. NULLs are the
    * `not_null` check's business, as in dbt. */
  def acceptedValuesFailures(df: DataFrame, colName: String,
      allowed: Seq[String]): DataFrame =
    df.filter(col(colName).isNotNull && !col(colName).isin(allowed: _*))
      .groupBy(col(colName).as("value_field"))
      .agg(count(lit(1)).as("n_records"))

  /** dbt `--store-failures` analog for `unique`: duplicated key values
    * with their multiplicities. */
  def uniqueFailures(df: DataFrame, colName: String): DataFrame =
    df.filter(col(colName).isNotNull)
      .groupBy(col(colName).as("unique_field"))
      .agg(count(lit(1)).as("n_records"))
      .filter(col("n_records") > 1)

  /** Surplus-row count for `unique`: count(col) - count(distinct col).
    * Zero iff the dbt test passes. */
  def uniqueViolations(c: String): Column =
    (count(col(c)) - countDistinct(col(c))).as(s"$c.unique")

  def notNullViolations(c: String): Column =
    sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"$c.not_null")

  def acceptedValuesViolations(c: String, allowed: Seq[String]): Column =
    sum(when(col(c).isNotNull && !col(c).isin(allowed: _*), 1L).otherwise(0L))
      .as(s"$c.accepted_values")
}
