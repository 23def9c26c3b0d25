package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.silver.Silver

/** Set operations and semi-structured (JSON → map) operators — part of the
  * complete engine surface (the reference uses neither, SURVEY.md §2.8;
  * a user migrating real workloads needs both).
  */
object SetOps {

  /** INTERSECT/EXCEPT audit over the silver layer: which customers ever
    * ordered, which never did, which ordered but never successfully paid.
    * Spark `intersect`/`except` carry SQL set semantics (distinct), same
    * as the oracle's INTERSECT/EXCEPT.
    *
    * The shared silver-orders chain is composed once (From-composition,
    * three columns) and the paid join runs on the INT `order_id` rather
    * than the md5 `order_key` — the keys are bijective
    * (`order_key = md5(order_id)`), so the result is identical, but a
    * string key forces the surrogate-md5 computation onto both fact-table
    * sides of the join where an int key lets Catalyst prune it. Measured
    * at the collision-free 100× replica: 17 s (the round-12 probe that
    * first flagged this row at 120 s turned out to be measuring a
    * replica-tooling defect — colliding order keys fanning the join out
    * 7× — fixed in tools/make_10x.py; a variant staging the chains
    * through a columnar parquet pin was also measured and LOST at both scales, 20 s at 100× and +1.4 s at 1×,
    * so the chains stay lazy). */
  def customerSetAudit(spark: SparkSession, dir: String): DataFrame = {
    val sc = graft.silver.Silver.customersFrom(
      graft.bronze.Bronze.customers(spark, dir))
    val so = Silver.ordersFrom(graft.bronze.Bronze.orders(spark, dir), sc)
      .select("order_key", "order_id", "customer_key")
    val customers = sc.select("customer_key")
    val ordered = so.select("customer_key")
    // join back on the INT order_id, not the md5 order_key: the keys are
    // bijective (order_key = md5(order_id)), so the result is identical,
    // but an int join key prunes the surrogate-md5 computation off both
    // 15M-row sides at 100× where a string key forces it
    val paid = Silver.paymentsFrom(graft.bronze.Bronze.payments(spark, dir), so)
      .filter(col("is_successful_payment"))
      .select("order_id")
      .join(so.select("order_id", "customer_key"), Seq("order_id"))
      .select("customer_key")
    val tag = (name: String, df: DataFrame) =>
      df.select(lit(name).as("segment"), col("customer_key"))
    tag("ever_ordered", customers.intersect(ordered))
      .unionByName(tag("never_ordered", customers.except(ordered)))
      .unionByName(tag("ordered_never_paid", ordered.except(paid)))
  }

  def customerSetAuditOracle(prelude: String): String =
    s"""$prelude,
    ck AS (SELECT customer_key FROM silver_customers),
    ordered AS (SELECT customer_key FROM silver_orders),
    paid AS (
      SELECT o.customer_key
      FROM silver_payments p JOIN silver_orders o ON p.order_key = o.order_key
      WHERE p.is_successful_payment)
    SELECT 'ever_ordered' AS segment, customer_key
      FROM (SELECT customer_key FROM ck INTERSECT SELECT customer_key FROM ordered)
    UNION ALL
    SELECT 'never_ordered', customer_key
      FROM (SELECT customer_key FROM ck EXCEPT SELECT customer_key FROM ordered)
    UNION ALL
    SELECT 'ordered_never_paid', customer_key
      FROM (SELECT customer_key FROM ordered EXCEPT SELECT customer_key FROM paid)"""

  /** JSON string → typed MapType, exploded and aggregated per key —
    * `from_json` + MapType + generator coverage over `events.props`. */
  def propsMapStats(spark: SparkSession, dir: String): DataFrame =
    Events.events(spark, dir)
      .withColumn("props_map",
        from_json(col("props"), lit("map<string,bigint>")))
      .select(col("event_type"), explode(col("props_map")).as(Seq("prop_key", "prop_value")))
      .groupBy("event_type", "prop_key")
      .agg(
        count(lit(1)).as("n"),
        sum(col("prop_value")).as("value_sum"),
        min(col("prop_value")).as("value_min"),
        max(col("prop_value")).as("value_max"))

  def propsMapStatsOracle: String =
    """WITH kv AS (
         SELECT event_type, unnest(json_keys(props)) AS prop_key, props
         FROM events)
       SELECT event_type, prop_key,
         count(*) AS n,
         CAST(sum(CAST(json_extract_string(props, '$.' || prop_key) AS BIGINT)) AS BIGINT) AS value_sum,
         min(CAST(json_extract_string(props, '$.' || prop_key) AS BIGINT)) AS value_min,
         max(CAST(json_extract_string(props, '$.' || prop_key) AS BIGINT)) AS value_max
       FROM kv GROUP BY 1, 2"""
}
