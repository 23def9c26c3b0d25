package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Probe main (not a suite): A/B of the two RangeRank-converted rows the
  * round-10 verdict priced (~2x at bench scale) against their original
  * single-task window forms — the measurement behind the keep/skip
  * decision on an adaptive small-N fallback (VERDICT r10, next-round #5).
  * Run: sbt "Test/runMain graft.AbRank [sfDir] [reps]". */
object AbRank {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Session.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def orderPercentilesWindow(s: SparkSession, dir: String): DataFrame = {
      val base = graft.silver.Silver.orders(s, dir)
        .select(col("order_year"), col("order_id"), col("order_amount"))
      val ranked = base
        .withColumn("rn", row_number().over(Window.partitionBy("order_year")
          .orderBy(col("order_amount"), col("order_id"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("order_year")))
      ranked.groupBy("order_year").agg(
        max(col("n")).as("n_orders"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("order_amount"))).as("p50"),
        max(when(col("rn") === expr("(n * 9 + 9) div 10"), col("order_amount"))).as("p90"),
        max(when(col("rn") === expr("(n * 99 + 99) div 100"), col("order_amount"))).as("p99"))
    }

    def histExactWindow(s: SparkSession, dir: String): DataFrame = {
      val cents = graft.ops.Events.events(s, dir)
        .select(round(col("value") * 100).cast("long").as("c"))
      val n = cents.count()
      cents.withColumn("rn", row_number().over(Window.orderBy(col("c"))))
        .agg(
          max(when(col("rn") === lit((n * 50 + 99) / 100), col("c"))).as("x50"),
          max(when(col("rn") === lit((n * 90 + 99) / 100), col("c"))).as("x90"),
          max(when(col("rn") === lit((n * 99 + 99) / 100), col("c"))).as("x99"))
    }

    def histExactRange(s: SparkSession, dir: String): DataFrame = {
      val cents = graft.ops.Events.events(s, dir)
        .select(round(col("value") * 100).cast("long").as("c"))
      val n = cents.count()
      graft.ops.RangeRank.rank(cents, Seq.empty, Seq(col("c")), "rn")
        .agg(
          max(when(col("rn") === lit((n * 50 + 99) / 100), col("c"))).as("x50"),
          max(when(col("rn") === lit((n * 90 + 99) / 100), col("c"))).as("x90"),
          max(when(col("rn") === lit((n * 99 + 99) / 100), col("c"))).as("x99"))
    }

    val cases: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "order_pct_rangerank" -> ((s, d) => graft.ops.Analytics.orderPercentiles(s, d)),
      "order_pct_window" -> (orderPercentilesWindow _),
      "hist_exact_rangerank" -> (histExactRange _),
      "hist_exact_window" -> (histExactWindow _))

    // warm-up once each, then reps timed runs; report min + median
    cases.foreach { case (_, fn) => fn(spark, sfDir).count() }
    cases.foreach { case (name, fn) =>
      val ts = (1 to reps).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"AB $name%-22s min=${ts.head}%.3f med=${ts(ts.size / 2)}%.3f  ($sfDir)")
    }
    spark.stop()
  }
}
