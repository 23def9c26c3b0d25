package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.oracle.OracleSql

/** Writes the DuckDB oracle SQL the benchmark checks row counts against:
  * every SparkEntry.oracleSql entry, plus `model:<name>` for each of the
  * nine medallion models (OracleSql).
  *
  *   DumpOracle <out.json> */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val models = Map(
      "bronze_customers" -> OracleSql.bronzeCustomers,
      "bronze_orders" -> OracleSql.bronzeOrders,
      "bronze_payments" -> OracleSql.bronzePayments,
      "silver_customers" -> OracleSql.silverCustomers,
      "silver_orders" -> OracleSql.silverOrders,
      "silver_payments" -> OracleSql.silverPayments,
      "gold_customer_summary" -> OracleSql.customerSummary,
      "gold_order_metrics" -> OracleSql.orderMetrics,
      "gold_revenue_analysis" -> OracleSql.revenueAnalysis)
    val all = graft.SparkEntry.oracleSql ++ models.map { case (k, v) => s"model:$k" -> v }
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(new File(args(0)), new java.util.TreeMap[String, String](all.asJava))
  }
}
