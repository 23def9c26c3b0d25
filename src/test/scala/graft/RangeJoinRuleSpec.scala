package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** RangeJoinRewrite: a naive BETWEEN join through the shared session (built
  * with GraftExtensions) must plan as a hash equi-join on the week bucket
  * (not BNLJ) and return exactly what the nested-loop plan would have. */
class RangeJoinRuleSpec extends SparkSpec {

  private def naivePromoJoin(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val promos = graft.ops.RangeJoin.Promos.toDF("promo", "lo_s", "hi_s")
      .select(col("promo"), col("lo_s").cast("date").as("lo"),
        col("hi_s").cast("date").as("hi"))
    val orders = s.read.parquet(s"$Sf0001/orders.parquet")
      .withColumn("o_date", col("o_orderdate").cast("timestamp_ntz").cast("date"))
    orders.join(promos, col("o_date") >= col("lo") && col("o_date") <= col("hi"))
      .groupBy("promo")
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("revenue"))
  }

  test("naive BETWEEN join is rewritten to a bucket hash join with equal results") {
    val auto = naivePromoJoin(spark)
    val p = auto.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the rule must remove the nested-loop range join")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"expected an equi-join on the injected week bucket, got:\n$p")
    // identical rows to the manual bucket rewrite (which the driver
    // oracle-checks against DuckDB's declarative BETWEEN join)
    val manual = graft.ops.RangeJoin.promoRevenue(spark, Sf0001)
      .collect().map(_.toSeq).toSet
    assert(auto.collect().map(_.toSeq).toSet == manual)
  }

  test("rule leaves joins with an existing equi-key alone") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val facts = Seq((1L, "2024-01-10"), (1L, "2024-03-05"), (2L, "2024-01-20"))
      .toDF("k", "d_s").select(col("k"), col("d_s").cast("date").as("d"))
    val dims = Seq((1L, "2024-01-01", "2024-01-31"), (2L, "2024-01-01", "2024-01-31"))
      .toDF("k", "lo_s", "hi_s")
      .select(col("k"), col("lo_s").cast("date").as("lo"),
        col("hi_s").cast("date").as("hi"))
    val joined = facts.join(dims,
      facts("k") === dims("k") && col("d") >= col("lo") && col("d") <= col("hi"))
    val p = joined.queryExecution.optimizedPlan.toString
    assert(!p.contains("__graft_wk"),
      "an equi-keyed join must not be bucket-expanded")
    assert(joined.count() == 2, "2024-01 rows of k=1 and k=2 match")
  }

  test("year-crossing and single-day intervals expand correctly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dims = Seq(("xmas", "2023-12-20", "2024-01-10"), ("day", "2024-06-05", "2024-06-05"))
      .toDF("name", "lo_s", "hi_s")
      .select(col("name"), col("lo_s").cast("date").as("lo"),
        col("hi_s").cast("date").as("hi"))
    val facts = Seq("2023-12-25", "2024-01-05", "2024-06-05", "2024-06-06", "2023-12-19")
      .toDF("d_s").select(col("d_s").cast("date").as("d"))
    val out = facts.join(dims, col("d") >= col("lo") && col("d") <= col("hi"))
      .select("name", "d").collect().map(r => (r.getString(0), r.getDate(1).toString)).toSet
    assert(out == Set(("xmas", "2023-12-25"), ("xmas", "2024-01-05"),
      ("day", "2024-06-05")))
  }
}
