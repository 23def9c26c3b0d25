package graft.quality

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Footer-statistics dq resolution ([[FooterStats]], the fast path wired
  * into [[DataQuality.summary]]): answers must be BIT-IDENTICAL to a
  * scan of the same frame, eligibility must collapse on anything the
  * footers don't exactly describe (filters, derived columns, out-of-range
  * data, edited test macros), and the proofs must hold on raw parquet
  * statistics. */
class FooterStatsSpec extends SparkSpec {

  /** Jobs `body` starts, counted by a listener; the bus is drained before
    * reading (private[spark] compiles to a public method, so reflection
    * reaches `waitUntilEmpty`). */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    def drain(): Unit = { bus.getClass.getMethod("waitUntilEmpty").invoke(bus); () }
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    drain()
    sc.addSparkListener(listener)
    try {
      val out = body
      drain()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Data files under `dir`, at any depth. */
  private def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
        .flatMap(c => if (c.isDirectory) walk(c) else Seq(c))
    walk(new java.io.File(dir))
  }

  test("summary: footer path and forced-scan path emit identical rows, " +
      "and the footer really answered the silver not_nulls") {
    val (df, answered) = DataQuality.summaryWithFooterAnswers(spark, Sf0001)
    val rows = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(answered.nonEmpty, "footer resolution must fire on sf0.001")
    // the staged silver trio is parquet → its not_nulls are
    // metadata-answerable; so are the bronze keys (bare renames of the
    // raw scan) and the row-floor / not-empty custom tests
    Seq("silver_customers.email.not_null",
        "silver_orders.order_amount.not_null",
        "silver_payments.payment_key.not_null",
        "bronze_customers.customer_id.not_null",
        "silver_payments.at_least_n_rows",
        "silver_payments.payment_method.not_empty_string")
      .foreach(n => assert(answered.contains(n), s"$n missing from $answered"))
    // within_range must NOT be footer-answered on this data: the raw
    // fan-out keeps negative payment amounts, so min < 0 breaks the
    // containment proof and the count needs the scan
    assert(!answered.contains("silver_payments.payment_amount.within_range"))
    assert(rows.contains("silver_payments.payment_amount.within_range"))
    // every footer answer is value-identical to a scan of the same frame
    val frames = SilverStage.tables(spark, Sf0001) ++ Map(
      "raw_customers" -> graft.adapter.RawSources.rawCustomers(spark, Sf0001),
      "raw_orders" -> graft.adapter.RawSources.rawOrders(spark, Sf0001),
      "raw_payments" -> graft.adapter.RawSources.rawPayments(spark, Sf0001),
      "bronze_customers" -> graft.bronze.Bronze.customers(spark, Sf0001),
      "bronze_orders" -> graft.bronze.Bronze.orders(spark, Sf0001),
      "bronze_payments" -> graft.bronze.Bronze.payments(spark, Sf0001))
    val custom = DataQuality.customTestSql.toMap
    answered.foreach { case (name, n) =>
      val scanned = custom.get(name) match {
        case Some(sql) =>
          SingularTests.violations(spark, Sf0001, name, sql,
            provided = frames).count()
        case None =>
          val Array(table, c, "not_null") = name.split('.')
          frames(table).filter(col(c).isNull).count()
      }
      assert(scanned == n, s"$name: footer answered $n, the scan counts $scanned")
      assert(rows.get(name).contains(n), s"$name: summary row ${rows.get(name)}")
    }
  }

  test("origin: maps rename chains to footer columns, rejects filters " +
      "and derived columns") {
    // bronze customer_id ← raw id ← c_custkey: two bare-alias hops
    val bronze = graft.bronze.Bronze.customers(spark, Sf0001)
    val o = FooterStats.origin(bronze)
    assert(o.isDefined)
    val (root, byName) = o.get
    assert(root.endsWith("customer.parquet"))
    assert(byName("customer_id") == "c_custkey")
    // email is a CASE expression — present in the frame, absent from the
    // mapping (derived values have no footer)
    assert(!byName.contains("email"))
    // a Filter anywhere breaks eligibility: footer rows ≠ frame rows
    assert(FooterStats.origin(bronze.filter(col("customer_id") > 10)).isEmpty)
    // an aggregate too
    assert(FooterStats.origin(bronze.groupBy("customer_id").count()).isEmpty)
  }

  test("read: null counts exact, numeric range and string-min proofs " +
      "hold on freshly written parquet") {
    import spark.implicits._
    val dir = graft.model.Scratch.dir("graft_footer_probe")
    Seq[(java.lang.Long, java.lang.Double, String)](
      (1L, 5.0, "abc"), (2L, null, "zz"), (null, 7.5, "m"), (4L, 0.5, "abc"))
      .toDF("k", "x", "s").repartition(2).write.mode("overwrite")
      .parquet(s"$dir/t")
    val stats = FooterStats.read(spark, s"$dir/t", Set("k", "x", "s"))
    assert(stats.rowCount == 4L)
    assert(stats.cols("k").nullCount.contains(1L))
    assert(stats.cols("x").nullCount.contains(1L))
    assert(stats.cols("s").nullCount.contains(0L))
    val (lo, hi) = stats.cols("x").numRange.get
    assert(lo == BigDecimal(0.5) && hi == BigDecimal(7.5))
    assert(stats.cols("s").strMinFirstByte.contains('a'.toInt))
    assert(stats.cols("s").numRange.isEmpty, "strings carry no num range")
    // an empty string kills the string-min proof (its min is empty) —
    // the check falls back to the scan rather than claim zero
    Seq(("", 1L), ("ok", 2L)).toDF("s", "k")
      .write.mode("overwrite").parquet(s"$dir/t2")
    val s2 = FooterStats.read(spark, s"$dir/t2", Set("s"))
    assert(s2.cols("s").strMinFirstByte.isEmpty)
    // an all-null column: no range, allNull flagged
    Seq[(java.lang.Double, Long)]((null, 1L), (null, 2L)).toDF("x", "k")
      .write.mode("overwrite").parquet(s"$dir/t3")
    val s3 = FooterStats.read(spark, s"$dir/t3", Set("x"))
    assert(s3.cols("x").allNull && s3.cols("x").numRange.isEmpty)
    assert(s3.cols("x").nullCount.contains(2L))
  }

  test("read: schema evolution stays exact — files missing the column " +
      "contribute their whole row count as nulls") {
    import spark.implicits._
    val dir = graft.model.Scratch.dir("graft_footer_evo")
    // old file written before `email` existed; new file has it with 1 null
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "other")
      .coalesce(1).write.parquet(s"$dir/t")
    Seq[(java.lang.Long, String)]((4L, "x@y.z"), (5L, null))
      .toDF("k", "email").coalesce(1).write.mode("append").parquet(s"$dir/t")
    val stats = FooterStats.read(spark, s"$dir/t", Set("email", "k"))
    assert(stats.rowCount == 5L)
    // the scan reads NULL for the 3 old-file rows: 3 + 1 explicit null
    assert(stats.cols("email").nullCount.contains(4L),
      "missing-column files must count every row as a null")
    assert(!stats.cols("email").allNull)
    assert(stats.cols("k").nullCount.contains(0L))
    // a column absent from EVERY file is all-null with a full null count
    val gone = FooterStats.read(spark, s"$dir/t", Set("nope"))
    assert(gone.cols("nope").nullCount.contains(5L) && gone.cols("nope").allNull)
  }

  test("read: distributed footer tasks fold to the exact driver-path " +
      "result (many-file tables read footers on executors)") {
    val dir = graft.model.Scratch.dir("graft_footer_dist")
    // one input partition, so repartition(72) deals every file rows
    val rows = spark.range(0L, 720L, 1L, 1).select(
      when(col("id") % 5 =!= 0, col("id")).as("k"),
      when(col("id") % 3 =!= 0, col("id") / 8.0 - 30.0).as("x"),
      concat(lit("s"), (col("id") % 17).cast("string")).as("s"))
    rows.coalesce(1).write.parquet(s"$dir/one")
    rows.repartition(72).write.parquet(s"$dir/many")
    assert(dataFiles(s"$dir/one").size == 1)
    assert(dataFiles(s"$dir/many").size > FooterStats.FilesPerTask,
      "the many-file copy must cross the driver-side file gate")
    val cols = Set("k", "x", "s")
    val (driverSide, driverJobs) =
      jobsDuring(FooterStats.read(spark, s"$dir/one", cols))
    val (distributed, fanOutJobs) =
      jobsDuring(FooterStats.read(spark, s"$dir/many", cols))
    assert(driverJobs == 0, "a single file is read on the driver")
    assert(fanOutJobs >= 1, "many files are read by executor tasks")
    assert(distributed == driverSide,
      "both footer-read paths must fold identical statistics")
    assert(driverSide.rowCount == 720L)
    assert(driverSide.cols("k").nullCount.contains(144L))
    assert(driverSide.cols("x").nullCount.contains(240L))
    val (lo, hi) = driverSide.cols("x").numRange.get
    assert(lo == BigDecimal(1 / 8.0 - 30.0) && hi == BigDecimal(719 / 8.0 - 30.0))
  }

  test("read: distributed LISTING over a nested partitioned layout folds " +
      "bit-equal to the driver walk (100k-file tables must not serialize " +
      "listStatus round-trips on the driver)") {
    import spark.implicits._
    val dir = graft.model.Scratch.dir("graft_footer_list")
    val rows = (1 to 200)
      .map(i => (i.toLong, i % 10, i % 3, if (i % 7 == 0) null else s"v$i"))
      .toDF("k", "pa", "pb", "s")
    rows.coalesce(1).write.parquet(s"$dir/flat")
    // two partition levels: 10 `pa` directories (above the driver-side
    // listing gate), 30 leaves of one file each (below the file gate, so
    // the jobs counted below are the listing's)
    rows.coalesce(1).write.partitionBy("pa", "pb").parquet(s"$dir/nested")
    assert(dataFiles(s"$dir/flat").size == 1)
    val nested = dataFiles(s"$dir/nested")
    assert(nested.map(_.getParentFile.getParentFile).distinct.size >
      FooterStats.DirsPerDriverList)
    assert(nested.size <= FooterStats.FilesPerTask)
    val (driverSide, driverJobs) =
      jobsDuring(FooterStats.read(spark, s"$dir/flat", Set("k", "s")))
    val (distributed, listingJobs) =
      jobsDuring(FooterStats.read(spark, s"$dir/nested", Set("k", "s")))
    assert(driverJobs == 0, "a flat single-file table is walked on the driver")
    assert(listingJobs >= 1, "a wide directory level is listed by executor tasks")
    assert(distributed == driverSide,
      "distributed listing + reads must fold the driver walk's result")
    assert(driverSide.rowCount == 200L)
    assert(driverSide.cols("s").nullCount.contains(200L / 7))
  }

  test("footerKindOf: recognizes the three shipped macro shapes by their " +
      "RENDERED SQL and refuses anything edited") {
    val range = DataQuality.footerKindOf(
      """select * from {{ ref('t') }} where amt is not null
        |  and (amt < 0 or amt > 100)""".stripMargin)
    assert(range.contains(DataQuality.RangeKind("amt", BigDecimal(0),
      BigDecimal(100))))
    val ne = DataQuality.footerKindOf(
      "select * from x where m is not null and trim(m) = ''")
    assert(ne.contains(DataQuality.NotEmptyKind("m")))
    val floor = DataQuality.footerKindOf(
      "select c as n_rows from (select count(*) as c from x) where c < 5")
    assert(floor.contains(DataQuality.RowFloorKind(5L)))
    // a user-edited macro (different predicate) silently loses the fast
    // path — the scan evaluates whatever the new SQL says
    assert(DataQuality.footerKindOf(
      "select * from x where m is not null and trim(m) = '' or 1=1").isEmpty)
    assert(DataQuality.footerKindOf(
      "select * from x where amt < 0 or amt > 100").isEmpty)
  }
}
