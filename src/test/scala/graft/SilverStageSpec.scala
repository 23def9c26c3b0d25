package graft.quality

import graft.SparkSpec

/** The build-once silver trio behind the three dq rows ([[SilverStage]]):
  * one staged build per corpus fingerprint serves dq_summary, dq_statuses,
  * AND dq_failures, and the footer fast path still answers from the staged
  * files. */
class SilverStageSpec extends SparkSpec {

  private def summaryRows() =
    DataQuality.summary(spark, Sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def statusRows() =
    DataQuality.statuses(spark, Sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .toSet

  private def failureRows() =
    Checks.acceptedValuesFailures(
      SilverStage.payments(spark, Sf0001), "payment_method",
      Seq("credit_card", "bank_transfer", "paypal", "cash", "other"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("one trio build serves all three dq rows") {
    spark.conf.set(SilverStage.RootKey, java.nio.file.Files
      .createTempDirectory("graft_dq_silver_t").toString)
    try {
      val b0 = SilverStage.builds.get
      assert(summaryRows().nonEmpty && statusRows().nonEmpty)
      val failures = failureRows()
      assert(SilverStage.builds.get == b0 + 1,
        "exactly ONE cold trio build across dq_summary + dq_statuses + " +
          "dq_failures — the sharing is the point")
      assert(failures.nonEmpty, "the faithful digital_wallet quirk " +
        "must surface through the staged payments")
    } finally spark.conf.unset(SilverStage.RootKey)
  }

  test("trio cache key folds the silver recipe's plan identity — a " +
      "recipe change misses the cache instead of serving stale rows") {
    import org.apache.spark.sql.functions.col
    val sc = graft.silver.Silver.customersFrom(
      graft.bronze.Bronze.customers(spark, Sf0001))
    val so = graft.silver.Silver.ordersFrom(
      graft.bronze.Bronze.orders(spark, Sf0001), sc)
    val sp = graft.silver.Silver.paymentsFrom(
      graft.bronze.Bronze.payments(spark, Sf0001), so)
    val real = graft.model.BuildCache.planHash(Seq(sc, so, sp))
    assert(SilverStage.trioRoot(spark, Sf0001).contains(s"r$real"),
      "the trio root must embed the hash of the ACTUAL composed silver " +
        "plans — that derivation is what makes any recipe edit move the key")
    assert(graft.model.BuildCache.planHash(Seq(sc, so, sp)) == real,
      "plan identity must be deterministic across computations")
    // the 'deliberate one-line silver change with no version bump': one
    // added expression must move the hash, so the key misses and the
    // trio rebuilds — never serves rows built by the old recipe
    val edited = sp.filter(col("payment_amount") > -1)
    assert(graft.model.BuildCache.planHash(Seq(sc, so, edited)) != real,
      "a one-expression recipe change must change the cache key")
  }

  test("footer fast path answers from the staged trio's files " +
      "(the stage keeps footer eligibility, not just values)") {
    spark.conf.set(SilverStage.RootKey, java.nio.file.Files
      .createTempDirectory("graft_dq_silver_f").toString)
    try {
      val (_, answered) = DataQuality.summaryWithFooterAnswers(spark, Sf0001)
      Seq("silver_customers.email.not_null",
          "silver_orders.order_amount.not_null",
          "silver_payments.payment_key.not_null",
          "silver_payments.at_least_n_rows")
        .foreach(n => assert(answered.contains(n),
          s"$n must stay footer-answered through the staged trio"))
    } finally spark.conf.unset(SilverStage.RootKey)
  }

  test("malformed bucket-count conf fails loud, naming the key " +
      "(never a bare NumberFormatException, never a silent default)") {
    spark.conf.set(SilverStage.BucketsKey, "thirty two")
    try {
      val e = intercept[IllegalArgumentException] {
        SilverStage.buckets(spark, Sf0001)
      }
      assert(e.getMessage.contains(SilverStage.BucketsKey))
      assert(e.getMessage.contains("thirty two"))
      // a count below one is no layout: it fails the same way (there is
      // no plain-parquet fallback to disable bucketing into)
      Seq("0", "-4").foreach { v =>
        spark.conf.set(SilverStage.BucketsKey, v)
        val z = intercept[IllegalArgumentException] {
          SilverStage.buckets(spark, Sf0001)
        }
        assert(z.getMessage.contains(SilverStage.BucketsKey))
        assert(z.getMessage.contains(s"'$v'"))
      }
    } finally spark.conf.unset(SilverStage.BucketsKey)
  }

  test("bucket count derives from input scale: pow2 of bytes/target, " +
      "clamped; explicit conf pins it") {
    // at the test SFs the raw inputs are far under one target-bucket of
    // bytes — the derived layout is a single near-free bucket (the
    // fixed 32 taxed small corpora with file/task overhead)
    assert(SilverStage.buckets(spark, Sf0001) == 1)
    // the derivation itself: ceil+pow2+clamp over synthetic byte counts
    // is pinned indirectly through derivedBuckets' two real tables; the
    // conf override is the fleet lever and must win verbatim
    spark.conf.set(SilverStage.BucketsKey, "64")
    try assert(SilverStage.buckets(spark, Sf0001) == 64)
    finally spark.conf.unset(SilverStage.BucketsKey)
  }

  test("a cache root containing a quote character still serves the " +
      "bucketed trio (DDL location escaping)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_dq_quote_d'oh").toString
    spark.conf.set(SilverStage.RootKey, root)
    try {
      assert(root.contains("'"))
      val rows = summaryRows()
      assert(rows.nonEmpty, "dq summary must evaluate through the " +
        "quoted-root bucketed trio")
    } finally spark.conf.unset(SilverStage.RootKey)
  }
}
