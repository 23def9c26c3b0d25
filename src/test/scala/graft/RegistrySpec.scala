package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.Registry
import graft.silver.Silver

/** End-to-end dbt-run equivalent over sf0.001 testdata. */
class RegistrySpec extends SparkSpec {

  test("topoOrder respects the silver chain and gold fan-in") {
    val order = Registry.topoOrder.map(_.name)
    def before(a: String, b: String) = order.indexOf(a) < order.indexOf(b)
    assert(order.size == 9)
    assert(before("bronze_customers", "silver_customers"))
    assert(before("silver_customers", "silver_orders"))
    assert(before("silver_orders", "silver_payments"))
    assert(before("silver_payments", "gold_customer_summary"))
    assert(before("silver_orders", "gold_order_metrics"))
  }

  test("run materializes all nine models; silver/gold written as parquet") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val out = Registry.run(spark, Sf0001, wh)
    assert(out.size == 9)
    out.foreach { case (name, df) => assert(df.count() > 0, name) }
    // table materialization barrier: silver/gold exist on disk
    assert(new java.io.File(s"$wh/silver/silver_orders").exists())
    assert(new java.io.File(s"$wh/gold/gold_revenue_analysis").exists())
    // views registered: ref()-style SQL access works
    assert(spark.sql("select count(*) from gold_customer_summary").head().getLong(0) > 0)
    // FK integrity across the materialized layers
    assert(graft.quality.Checks.relationships(
      out("silver_orders"), "customer_key", out("silver_customers"), "customer_key").isEmpty)
    assert(graft.quality.Checks.relationships(
      out("silver_payments"), "order_key", out("silver_orders"), "order_key").isEmpty)
  }

  test("SQL-file models (models/**/*.sql) materialize bit-equal to the Scala builders") {
    import graft.pipeline.{ParquetSink, SqlModels}
    val sqlModels = SqlModels.load(new java.io.File("models"))
    // same surface for the nine reference models: names, layers, DAG
    // edges, materializations (the directory additionally carries the
    // engine-demo incremental/snapshot models, replay-pinned below)
    assert(Registry.models.map(_.name).toSet.subsetOf(
      sqlModels.map(_.name).toSet))
    val byName = Registry.models.map(m => m.name -> m).toMap
    sqlModels.filter(m => byName.contains(m.name)).foreach { m =>
      assert(m.layer == byName(m.name).layer, s"${m.name}: layer")
      assert(m.deps.toSet == byName(m.name).deps.toSet, s"${m.name}: deps")
      assert(m.materialization == byName(m.name).materialization,
        s"${m.name}: materialization")
      assert(m.layout == byName(m.name).layout, s"${m.name}: layout")
    }
    val a = Registry.run(spark, Sf0001,
      new ParquetSink(Files.createTempDirectory("graft_wh_sql_a").toString))
    val b = Registry.run(spark, Sf0001,
      new ParquetSink(Files.createTempDirectory("graft_wh_sql_b").toString),
      all = sqlModels, registerViews = false)
    def canon(df: org.apache.spark.sql.DataFrame): Array[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("")).sorted
    Registry.models.map(_.name).foreach { n =>
      assert(a(n).schema.map(f => (f.name, f.dataType)) ==
        b(n).schema.map(f => (f.name, f.dataType)), s"$n: schema")
      val (ra, rb) = (canon(a(n)), canon(b(n)))
      assert(ra.nonEmpty, s"$n: empty")
      assert(ra.sameElements(rb),
        s"$n: SQL-authored rows diverge from the Scala builder; first diff: " +
          ra.zip(rb).find { case (x, y) => x != y }.orElse(
            Some((s"counts ${ra.length}", s"${rb.length}"))).get)
    }
  }

  test("SQL-file incremental model: split-feed replay lands bit-equal " +
      "to the Incremental.merge twin") {
    import graft.pipeline.{IncrementalQueries, ParquetSink, SqlModels}
    val incModel = SqlModels.load(new java.io.File("models"))
      .find(_.name == "silver_orders_incremental").get
    assert(incModel.materialization ==
      Registry.Incremental(Some("order_id"), "order_id"))
    assert(incModel.deps == Seq("bronze_orders"))
    // split feed: run 1 delivers pre-cutoff orders, run 2 redelivers the
    // WHOLE feed plus restatements (sentinel status 'restated' — outside
    // the feed's natural domain, which does contain 'returned') — the
    // at-least-once shape whose old rows the model's {{ this }}
    // high-water-mark subquery must cut
    val cols = Seq("order_id", "customer_id", "order_date", "order_status",
      "order_amount")
    def restatements(s: org.apache.spark.sql.SparkSession) = {
      val cutoff = to_date(lit(IncrementalQueries.CutoffDate))
      graft.bronze.Bronze.orders(s, Sf0001)
        .filter(col("order_date") < cutoff &&
          col("order_id") % IncrementalQueries.RestateMod === 0)
        .withColumn("order_status", lit("restated"))
    }
    var phase = 0
    val feed = Registry.Model("bronze_orders", "bronze", Registry.View,
      Seq.empty, (s, dir, _) => {
        val b = graft.bronze.Bronze.orders(s, dir)
        val cutoff = to_date(lit(IncrementalQueries.CutoffDate))
        if (phase == 0) b.filter(col("order_date") < cutoff)
        else b.unionByName(restatements(s))
      })
    val sink = new ParquetSink(
      Files.createTempDirectory("graft_wh_inc_sql").toString)
    Registry.run(spark, Sf0001, sink, all = Seq(feed, incModel),
      registerViews = false)
    phase = 1
    Registry.run(spark, Sf0001, sink, all = Seq(feed, incModel),
      registerViews = false)
    val out = sink.read(spark, "silver", "silver_orders_incremental")
      .select(cols.map(col): _*)
    // the code twin: pipeline/Incremental.merge over the same target /
    // incoming pair the SQL model's filter must reconstruct
    val bo = graft.bronze.Bronze.orders(spark, Sf0001)
    val cutoff = to_date(lit(IncrementalQueries.CutoffDate))
    val twin = graft.pipeline.Incremental.merge(
      bo.filter(col("order_date") < cutoff).select(cols.map(col): _*),
      bo.filter(col("order_date") >= cutoff).select(cols.map(col): _*)
        .unionByName(restatements(spark).select(cols.map(col): _*)),
      "order_id")
    def canon(df: org.apache.spark.sql.DataFrame): Array[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val (a, b) = (canon(out), canon(twin))
    assert(a.nonEmpty && a.sameElements(b),
      s"SQL incremental replay diverges from the code twin " +
        s"(${a.length} vs ${b.length} rows); first diff: " +
        a.zip(b).find { case (x, y) => x != y })
  }

  test("SQL-file snapshot model: two-day replay lands bit-equal to the " +
      "Scd2 twin") {
    import graft.pipeline.{IncrementalQueries, ParquetSink, SqlModels}
    val snapModel = SqlModels.load(new java.io.File("models"))
      .find(_.name == "customer_email_snapshot").get
    assert(snapModel.materialization ==
      Registry.Snapshot("customer_id", Seq("email")))
    var phase = 0
    val feed = Registry.Model("bronze_customers", "bronze", Registry.View,
      Seq.empty, (s, dir, _) => {
        val cust = graft.bronze.Bronze.customers(s, dir)
        if (phase == 0) cust.filter(
          col("customer_id") % IncrementalQueries.Scd2NewKeyMod =!= 0)
        else cust.withColumn("email",
          when(col("customer_id") % IncrementalQueries.Scd2ChangeMod === 0,
            concat(lit("updated_"), col("email"))).otherwise(col("email")))
      })
    val sink = new ParquetSink(
      Files.createTempDirectory("graft_wh_snap_sql").toString)
    Registry.run(spark, Sf0001, sink, all = Seq(feed, snapModel),
      registerViews = false,
      asOf = expr(s"TIMESTAMP_NTZ '${IncrementalQueries.Scd2T0}'"))
    phase = 1
    Registry.run(spark, Sf0001, sink, all = Seq(feed, snapModel),
      registerViews = false,
      asOf = expr(s"TIMESTAMP_NTZ '${IncrementalQueries.Scd2T1}'"))
    val cols = Seq("customer_id", "email", "_valid_from", "_valid_to",
      "_is_current")
    val out = sink.read(spark, "silver", "customer_email_snapshot")
      .select(cols.map(col): _*)
    val twin = IncrementalQueries.scd2Snapshot(spark, Sf0001)
      .select(cols.map(col): _*)
    def canon(df: org.apache.spark.sql.DataFrame): Array[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val (a, b) = (canon(out), canon(twin))
    assert(a.nonEmpty && a.sameElements(b),
      s"SQL snapshot replay diverges from the code twin " +
        s"(${a.length} vs ${b.length} rows); first diff: " +
        a.zip(b).find { case (x, y) => x != y })
  }

  test("snapshots/ block file: timestamp + hard-delete replay lands " +
      "bit-equal to the Scd2 twin") {
    import graft.pipeline.{Incremental, IncrementalQueries, ParquetSink, SqlModels}
    import IncrementalQueries.{Scd2ChangeMod, Scd2DeleteMod, Scd2T0, Scd2T1}
    val snaps = SqlModels.loadSnapshots(new java.io.File("snapshots"))
    val snapModel = snaps.find(_.name == "customer_audit_snapshot").get
    assert(snapModel.layer == "snapshots")
    assert(snapModel.materialization == Registry.Snapshot("customer_id",
      Seq.empty, Some("updated_at"), invalidateHardDeletes = true))
    assert(snapModel.deps == Seq("bronze_customers"))
    def cust(s: org.apache.spark.sql.SparkSession) =
      graft.bronze.Bronze.customers(s, Sf0001).select(col("customer_id"),
        col("email"), col("created_at").as("updated_at"))
    def day1(s: org.apache.spark.sql.SparkSession) = cust(s)
      .filter(col("customer_id") % Scd2DeleteMod =!= 0)
      .withColumn("email",
        when(col("customer_id") % Scd2ChangeMod === 0,
          concat(lit("updated_"), col("email"))).otherwise(col("email")))
      .withColumn("updated_at",
        when(col("customer_id") % Scd2ChangeMod === 0,
          col("updated_at") + expr("INTERVAL 1 DAY"))
          .otherwise(col("updated_at")))
    var phase = 0
    // the feed keeps the raw created_at — the snapshot model itself does
    // the rename to updated_at, so day-1 mutations land on created_at
    val feed = Registry.Model("bronze_customers", "bronze", Registry.View,
      Seq.empty, (s, dir, _) => {
        val base = graft.bronze.Bronze.customers(s, dir)
        if (phase == 0) base
        else base.filter(col("customer_id") % Scd2DeleteMod =!= 0)
          .withColumn("email",
            when(col("customer_id") % Scd2ChangeMod === 0,
              concat(lit("updated_"), col("email"))).otherwise(col("email")))
          .withColumn("created_at",
            when(col("customer_id") % Scd2ChangeMod === 0,
              col("created_at") + expr("INTERVAL 1 DAY"))
              .otherwise(col("created_at")))
      })
    val sink = new ParquetSink(
      Files.createTempDirectory("graft_wh_snapblock").toString)
    Registry.run(spark, Sf0001, sink, all = Seq(feed, snapModel),
      registerViews = false, asOf = expr(s"TIMESTAMP_NTZ '$Scd2T0'"))
    phase = 1
    Registry.run(spark, Sf0001, sink, all = Seq(feed, snapModel),
      registerViews = false, asOf = expr(s"TIMESTAMP_NTZ '$Scd2T1'"))
    val cols = Seq("customer_id", "email", "updated_at", "_valid_from",
      "_valid_to", "_is_current")
    val out = sink.read(spark, "snapshots", "customer_audit_snapshot")
      .select(cols.map(col): _*)
    val t1 = expr(s"TIMESTAMP_NTZ '$Scd2T1'")
    val twin = Incremental.Scd2.invalidateHardDeletes(
      Incremental.Scd2.advanceTimestamp(
        Incremental.Scd2.init(cust(spark), expr(s"TIMESTAMP_NTZ '$Scd2T0'")),
        day1(spark), "customer_id", "updated_at", t1),
      day1(spark), "customer_id", t1).select(cols.map(col): _*)
    def canon(df: org.apache.spark.sql.DataFrame): Array[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val (a, b) = (canon(out), canon(twin))
    assert(a.nonEmpty && a.sameElements(b),
      s"snapshot-block replay diverges from the code twin " +
        s"(${a.length} vs ${b.length} rows); first diff: " +
        a.zip(b).find { case (x, y) => x != y })
  }

  test("pre/post hooks run around materialization with {{ this }} bound") {
    import graft.pipeline.{ParquetSink, SqlModels}
    val r = SqlModels.render("hooked", "silver",
      """{{ config(materialized='table',
        |   pre_hook="CREATE OR REPLACE TEMP VIEW hook_log AS SELECT 'pre' AS phase, -1L AS n",
        |   post_hook=["CREATE OR REPLACE TEMP VIEW hook_audit AS SELECT count(*) AS n FROM {{ this }}",
        |              "CREATE OR REPLACE TEMP VIEW hook_audit2 AS SELECT max(order_id) AS m FROM {{ this }}"]) }}
        |SELECT order_id FROM {{ ref('bronze_orders') }}""".stripMargin)
    assert(r.preHooks.size == 1 && r.postHooks.size == 2)
    assert(r.postHooks.head.contains(SqlModels.thisView("hooked")),
      "{{ this }} in a hook must render to the per-model target view")
    val feed = Registry.Model("bronze_orders", "bronze", Registry.View,
      Seq.empty, (s, dir, _) => graft.bronze.Bronze.orders(s, dir))
    val hooked = Registry.Model("hooked", "silver", r.materialization,
      r.deps, (s, dir, up) => {
        r.deps.foreach(d => up.get(d).foreach(_.createOrReplaceTempView(d)))
        s.sql(r.sql)
      }, preHooks = r.preHooks, postHooks = r.postHooks)
    val sink = new ParquetSink(
      Files.createTempDirectory("graft_wh_hooks").toString)
    val out = Registry.run(spark, Sf0001, sink, all = Seq(feed, hooked),
      registerViews = false)
    assert(spark.table("hook_log").collect().head.getString(0) == "pre")
    assert(spark.table("hook_audit").collect().head.getLong(0) ==
      out("hooked").count(), "post-hook must see the landed table")
    assert(spark.table("hook_audit2").collect().head.getLong(0) ==
      out("hooked").agg(org.apache.spark.sql.functions.max("order_id"))
        .collect().head.getLong(0))
  }

  test("alias lands the table under the aliased name; ref() stays by " +
      "model name; enabled=false leaves the graph") {
    import graft.pipeline.{ParquetSink, SqlModels}
    val r = SqlModels.render("ord_count", "silver",
      """{{ config(materialized='table', alias='order_counts_v2') }}
        |SELECT count(*) AS n FROM {{ ref('bronze_orders') }}""".stripMargin)
    assert(r.alias.contains("order_counts_v2"))
    val feed = Registry.Model("bronze_orders", "bronze", Registry.View,
      Seq.empty, (s, dir, _) => graft.bronze.Bronze.orders(s, dir))
    val aliased = Registry.Model("ord_count", "silver", r.materialization,
      r.deps, (s, dir, up) => {
        r.deps.foreach(d => up.get(d).foreach(_.createOrReplaceTempView(d)))
        s.sql(r.sql)
      }, alias = r.alias)
    val whDir = Files.createTempDirectory("graft_wh_alias").toString
    val sink = new ParquetSink(whDir)
    // a downstream ref() by MODEL name must keep resolving
    val reader = Registry.Model("reads_it", "gold", Registry.View,
      Seq("ord_count"), (s, dir, up) => up("ord_count"))
    val out = Registry.run(spark, Sf0001, sink,
      all = Seq(feed, aliased, reader), registerViews = false)
    assert(new java.io.File(s"$whDir/silver/order_counts_v2").exists(),
      "the table must land under the alias")
    assert(!new java.io.File(s"$whDir/silver/ord_count").exists(),
      "nothing may land under the model name when aliased")
    assert(out("reads_it").collect().head.getLong(0) > 0)
    // enabled=false: the render is marked disabled and load() drops it
    val off = SqlModels.render("gone", "silver",
      "{{ config(materialized='view', enabled=false) }}\nSELECT 1 AS x")
    assert(!off.enabled)
  }

  test("generate_database_name: custom uppercased, else target default") {
    assert(Registry.databaseName(Some("silver"), "analytics") == "SILVER")
    assert(Registry.databaseName(None, "analytics") == "analytics")
  }

  test("catalog sink: layers land in bronze/silver/gold SQL databases") {
    val out = Registry.run(spark, Sf0001, new graft.pipeline.CatalogSink())
    assert(out.size == 9)
    // the reference's generate_database_name routing, resolvable by SQL
    assert(spark.table("silver.silver_orders").count() ==
      out("silver_orders").count())
    assert(spark.sql("select count(*) from gold.gold_revenue_analysis")
      .head().getLong(0) > 0)
    assert(spark.catalog.databaseExists("bronze") == false,
      "bronze models are views, not tables")
  }

  test("catalog sink merge upserts by key (staged rewrite on parquet)") {
    import spark.implicits._
    val sink = new graft.pipeline.CatalogSink()
    sink.overwrite(spark, "silver", "merge_probe",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val merged = sink.merge(spark, "silver", "merge_probe",
      Seq((2L, "B"), (3L, "c")).toDF("id", "v"), "id")
    assert(merged.as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
    assert(spark.table("silver.merge_probe").count() == 3)
  }

  test("co-bucketed silver tables join with no shuffle exchange") {
    val sink = new graft.pipeline.CatalogSink()
    val out = Registry.run(spark, Sf0001, sink)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a sort-merge join so the Exchange (or its absence) is visible
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("silver.silver_orders")
        .join(spark.table("silver.silver_payments"), Seq("order_key"))
        .select("order_key", "payment_key", "order_amount", "payment_amount")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed-by-order_key tables must join without a shuffle:\n$plan")
      assert(joined.count() == out("silver_payments").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("gold marts are partitioned by order_year on disk") {
    val wh = Files.createTempDirectory("graft_wh_p").toString
    Registry.run(spark, Sf0001, wh)
    val dirs = new java.io.File(s"$wh/gold/gold_order_metrics").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("order_year=")),
      s"expected order_year= partition dirs, got ${dirs.toSeq}")
  }

  test("parquet sink merge matches the pure-transform semantics") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_wh_m").toString
    val sink = new graft.pipeline.ParquetSink(wh)
    sink.overwrite(spark, "silver", "m1", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val merged = sink.merge(spark, "silver", "m1",
      Seq((2L, "B"), (3L, "c")).toDF("id", "v"), "id")
    assert(merged.as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  // ---- incremental / snapshot materializations & node selection ----

  /** Records which sink operation each model routed through. */
  private class SpySink(inner: graft.pipeline.TableSink) extends graft.pipeline.TableSink {
    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    private def rec(op: String, name: String): Unit = synchronized { calls += (op -> name) }
    def of(op: String): Seq[String] = synchronized { calls.filter(_._1 == op).map(_._2).toSeq }
    def reset(): Unit = synchronized { calls.clear() }
    override def overwrite(spark: org.apache.spark.sql.SparkSession, layer: String,
        name: String, df: org.apache.spark.sql.DataFrame,
        layout: graft.pipeline.TableLayout): org.apache.spark.sql.DataFrame = {
      rec("overwrite", name); inner.overwrite(spark, layer, name, df, layout)
    }
    override def merge(spark: org.apache.spark.sql.SparkSession, layer: String,
        name: String, incoming: org.apache.spark.sql.DataFrame, key: String,
        layout: graft.pipeline.TableLayout,
        onSchemaChange: graft.pipeline.Incremental.OnSchemaChange,
        predicates: Seq[String])
        : org.apache.spark.sql.DataFrame = {
      rec("merge", name)
      inner.merge(spark, layer, name, incoming, key, layout, onSchemaChange,
        predicates)
    }
    override def append(spark: org.apache.spark.sql.SparkSession, layer: String,
        name: String, fresh: org.apache.spark.sql.DataFrame,
        layout: graft.pipeline.TableLayout): org.apache.spark.sql.DataFrame = {
      rec("append", name); inner.append(spark, layer, name, fresh, layout)
    }
    override def deleteInsert(spark: org.apache.spark.sql.SparkSession, layer: String,
        name: String, incoming: org.apache.spark.sql.DataFrame, keys: Seq[String],
        layout: graft.pipeline.TableLayout,
        onSchemaChange: graft.pipeline.Incremental.OnSchemaChange)
        : org.apache.spark.sql.DataFrame = {
      rec("deleteInsert", name)
      inner.deleteInsert(spark, layer, name, incoming, keys, layout, onSchemaChange)
    }
    override def overwritePartitions(spark: org.apache.spark.sql.SparkSession,
        layer: String, name: String, incoming: org.apache.spark.sql.DataFrame,
        partitionBy: Seq[String], layout: graft.pipeline.TableLayout)
        : org.apache.spark.sql.DataFrame = {
      rec("overwritePartitions", name)
      inner.overwritePartitions(spark, layer, name, incoming, partitionBy, layout)
    }
    override def dropPartitions(spark: org.apache.spark.sql.SparkSession,
        layer: String, name: String, partCol: String, values: Seq[Any]): Unit = {
      rec("dropPartitions", name)
      inner.dropPartitions(spark, layer, name, partCol, values)
    }
    override def exists(spark: org.apache.spark.sql.SparkSession, layer: String,
        name: String): Boolean = inner.exists(spark, layer, name)
    override def read(spark: org.apache.spark.sql.SparkSession, layer: String,
        name: String): org.apache.spark.sql.DataFrame = inner.read(spark, layer, name)
  }

  /** Write a batch-1 copy of the sf0.001 sources with orders (and thus the
    * order-derived payments feed) truncated at `cutoff` — the split-input
    * half of the two-run incremental proof. */
  private def splitSourceDir(cutoff: String): String = {
    val dir = Files.createTempDirectory("graft_batch1").toString
    spark.read.parquet(s"$Sf0001/customer.parquet")
      .write.parquet(s"$dir/customer.parquet")
    spark.read.parquet(s"$Sf0001/orders.parquet")
      .filter(col("o_orderdate") < lit(cutoff))
      .write.parquet(s"$dir/orders.parquet")
    dir
  }

  test("SQL-file insert_overwrite model: split replay lands bit-equal " +
      "to the insertOverwrite twin") {
    import graft.pipeline.{ParquetSink, SqlModels}
    val ioModel = SqlModels.load(new java.io.File("models"))
      .find(_.name == "orders_monthly_io").get
    assert(ioModel.materialization == Registry.Incremental(None, "order_month",
      strategy = Registry.IncStrategy.InsertOverwrite(Seq("order_month"))))
    assert(ioModel.deps == Seq("bronze_orders"))
    val feed = Registry.Model("bronze_orders", "bronze", Registry.View,
      Seq.empty, (s, dir, _) => graft.bronze.Bronze.orders(s, dir))
    val sink = new ParquetSink(
      Files.createTempDirectory("graft_wh_io_sql").toString)
    // run 1 full-builds every month; run 2's is_incremental() compile
    // recomputes the months from 2001-06 on without cancelled orders —
    // those months are replaced wholesale, all earlier months untouched
    Registry.run(spark, Sf0001, sink, all = Seq(feed, ioModel),
      registerViews = false)
    Registry.run(spark, Sf0001, sink, all = Seq(feed, ioModel),
      registerViews = false)
    val cols = Seq("order_id", "customer_id", "order_date", "order_status",
      "order_amount", "order_month")
    val out = sink.read(spark, "silver", "orders_monthly_io")
      .select(cols.map(col): _*)
    val bo = graft.bronze.Bronze.orders(spark, Sf0001)
    val base = bo.select("order_id", "customer_id", "order_date",
        "order_status", "order_amount")
      .withColumn("order_month", substring(col("order_date").cast("string"), 1, 7))
    val incoming = base.filter(col("order_date") >= to_date(lit("2001-06-01")) &&
      col("order_status") =!= "cancelled")
    val twin = graft.pipeline.Incremental
      .insertOverwrite(base, incoming, Seq("order_month"))
      .select(cols.map(col): _*)
    def canon(df: org.apache.spark.sql.DataFrame): Array[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val (a, b) = (canon(out), canon(twin))
    assert(a.nonEmpty && a.sameElements(b),
      s"SQL insert_overwrite replay diverges from the code twin " +
        s"(${a.length} vs ${b.length} rows); first diff: " +
        a.zip(b).find { case (x, y) => x != y })
  }

  test("SQL-file loop-generated pivot: {% for %} columns land bit-equal " +
      "to the native relational pivot") {
    import graft.pipeline.SqlModels
    val m = SqlModels.load(new java.io.File("models"))
      .find(_.name == "payments_pivot_loop").get
    assert(m.materialization == Registry.Table)
    assert(m.deps.toSet == Set("silver_payments", "silver_orders"))
    val sqlDf = m.build(spark, Sf0001, Map(
      "silver_payments" -> graft.silver.Silver.payments(spark, Sf0001),
      "silver_orders" -> graft.silver.Silver.orders(spark, Sf0001)))
    val native = graft.ops.Analytics.paymentMethodPivot(spark, Sf0001)
    assert(sqlDf.schema.map(f => (f.name, f.dataType)) ==
      native.schema.map(f => (f.name, f.dataType)),
      "loop-rendered column names/types must equal the .pivot output")
    def canon(df: org.apache.spark.sql.DataFrame): Array[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val (a, b) = (canon(sqlDf), canon(native))
    assert(a.nonEmpty && a.sameElements(b),
      s"loop pivot diverges from native pivot (${a.length} vs ${b.length}); " +
        s"first diff: " + a.zip(b).find { case (x, y) => x != y })
  }

  private def incrementalVariant(mat: Registry.Materialization): Seq[Registry.Model] =
    Registry.models.map {
      case m if m.name == "silver_orders" => m.copy(materialization = mat)
      case m => m
    }

  test("registry incremental (unique_key): second run merges, result equals full refresh") {
    val batch1 = splitSourceDir("1999-01-01")
    val spy = new SpySink(new graft.pipeline.ParquetSink(
      Files.createTempDirectory("graft_wh_inc").toString))
    val mdls = incrementalVariant(Registry.Incremental(Some("order_key"), "order_date"))
    Registry.run(spark, batch1, spy, all = mdls)
    assert(spy.of("overwrite").contains("silver_orders"), "first run full-builds")
    assert(spy.of("merge").isEmpty)
    spy.reset()
    val out = Registry.run(spark, Sf0001, spy, all = mdls)
    assert(spy.of("merge") == Seq("silver_orders"),
      "second run must route silver_orders through sink.merge")
    assert(!spy.of("overwrite").contains("silver_orders"),
      "second run must not rewrite the incremental table")
    val full = Registry.run(spark, Sf0001,
      Files.createTempDirectory("graft_wh_full").toString)
    assert(out("silver_orders").orderBy("order_id").collect().toSeq ==
      full("silver_orders").orderBy("order_id").collect().toSeq,
      "incremental(split) must equal full-refresh(all)")
  }

  test("registry incremental (no key): second run appends only above the high-water mark") {
    val batch1 = splitSourceDir("1999-01-01")
    val spy = new SpySink(new graft.pipeline.ParquetSink(
      Files.createTempDirectory("graft_wh_app").toString))
    val mdls = incrementalVariant(Registry.Incremental(None, "order_date"))
    Registry.run(spark, batch1, spy, all = mdls)
    val firstCount = spy.read(spark, "silver", "silver_orders").count()
    spy.reset()
    val out = Registry.run(spark, Sf0001, spy, all = mdls)
    assert(spy.of("append") == Seq("silver_orders"))
    assert(!spy.of("overwrite").contains("silver_orders"))
    val full = Registry.run(spark, Sf0001,
      Files.createTempDirectory("graft_wh_app_full").toString)
    assert(out("silver_orders").count() > firstCount)
    assert(out("silver_orders").orderBy("order_id").collect().toSeq ==
      full("silver_orders").orderBy("order_id").collect().toSeq)
  }

  test("incremental runs preserve the declared partition layout") {
    import spark.implicits._
    var batch = Seq((1L, 1997, "a"), (2L, 1998, "b")).toDF("id", "yr", "v")
    val mdl = Seq(Registry.Model("part_inc", "gold",
      Registry.Incremental(None, "id"), Seq.empty, (_, _, _) => batch,
      graft.pipeline.TableLayout(partitionBy = Seq("yr"))))
    val wh = Files.createTempDirectory("graft_wh_part_inc").toString
    val sink = new graft.pipeline.ParquetSink(wh)
    Registry.run(spark, Sf0001, sink, all = mdl)
    batch = Seq((3L, 1999, "c")).toDF("id", "yr", "v")
    // a flat (layout-less) append here would break the partitioned table
    val out = Registry.run(spark, Sf0001, sink, all = mdl)
    assert(out("part_inc").count() == 3)
    val dirs = new java.io.File(s"$wh/gold/part_inc").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("yr=1997", "yr=1998", "yr=1999"),
      s"appended rows must land in partition dirs, got ${dirs.toSeq}")
    assert(sink.read(spark, "gold", "part_inc").count() == 3)
  }

  test("registry delete+insert strategy: composite-key reload routes through sink.deleteInsert") {
    import spark.implicits._
    var src = Seq((1L, "2001-01-01", 10.0), (1L, "2001-01-02", 20.0),
      (2L, "2001-01-01", 30.0)).toDF("cust", "day", "amt")
    val mdl = Seq(Registry.Model("di_probe", "silver",
      Registry.Incremental(Some("cust"), "cust",
        strategy = Registry.IncStrategy.DeleteInsert(Seq("cust", "day"))),
      Seq.empty, (_, _, _) => src))
    val spy = new SpySink(new graft.pipeline.ParquetSink(
      Files.createTempDirectory("graft_wh_di").toString))
    Registry.run(spark, Sf0001, spy, all = mdl)
    assert(spy.of("deleteInsert").isEmpty, "first run full-builds")
    spy.reset()
    // customer 1's Jan-1 reloads with TWO rows — merge would cap at one
    src = Seq((1L, "2001-01-01", 11.0), (1L, "2001-01-01", 12.0))
      .toDF("cust", "day", "amt")
    val out = Registry.run(spark, Sf0001, spy, all = mdl)
    assert(spy.of("deleteInsert") == Seq("di_probe"))
    val rows = out("di_probe").as[(Long, String, Double)].collect()
      .sortBy(r => (r._1, r._2, r._3))
    assert(rows.toSeq == Seq((1L, "2001-01-01", 11.0), (1L, "2001-01-01", 12.0),
      (1L, "2001-01-02", 20.0), (2L, "2001-01-01", 30.0)))
  }

  test("registry insert_overwrite: untouched partition directories stay untouched ON DISK") {
    import spark.implicits._
    var src = Seq(("2001-01", 1L, "a"), ("2001-02", 2L, "b"),
      ("2001-02", 3L, "c")).toDF("mo", "id", "v")
    val mdl = Seq(Registry.Model("io_probe", "gold",
      Registry.Incremental(None, "mo",
        strategy = Registry.IncStrategy.InsertOverwrite(Seq("mo"))),
      Seq.empty, (_, _, _) => src))
    val wh = Files.createTempDirectory("graft_wh_io").toString
    val spy = new SpySink(new graft.pipeline.ParquetSink(wh))
    Registry.run(spark, Sf0001, spy, all = mdl)
    val janDir = new java.io.File(s"$wh/gold/io_probe/mo=2001-01")
    assert(janDir.isDirectory,
      "first run must adopt the strategy's partition columns as layout")
    def janFiles() = janDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified)).toSet
    val before = janFiles()
    spy.reset()
    // recompute February only: id 3 is dropped by the recompute
    src = Seq(("2001-02", 2L, "B")).toDF("mo", "id", "v")
    val out = Registry.run(spark, Sf0001, spy, all = mdl)
    assert(spy.of("overwritePartitions") == Seq("io_probe"))
    assert(!spy.of("overwrite").contains("io_probe"),
      "the partition overwrite must not rewrite the table")
    val rows = out("io_probe").select("id", "v").as[(Long, String)]
      .collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "a"), (2L, "B")),
      "February replaced wholesale (id 3 gone), January intact")
    assert(janFiles() == before,
      "January's files must be byte-identical on disk — only Feb was written")
  }

  test("registry microbatch strategy: lookback refresh replaces only its period partitions") {
    import spark.implicits._
    def feed(rows: Seq[(String, Long)]) = rows.toDF("ts_s", "id")
      .select(col("ts_s").cast("timestamp").as("ts"), col("id"))
    var src = feed(Seq(("2001-01-01 10:00:00", 1L),
      ("2001-01-02 10:00:00", 2L), ("2001-01-03 10:00:00", 3L)))
    val mdl = Seq(Registry.Model("mb_probe", "gold",
      Registry.Incremental(None, "ts",
        strategy = Registry.IncStrategy.Microbatch("ts", "day", lookback = 1)),
      Seq.empty, (_, _, _) => src))
    val wh = Files.createTempDirectory("graft_wh_mb").toString
    val spy = new SpySink(new graft.pipeline.ParquetSink(wh))
    Registry.run(spark, Sf0001, spy, all = mdl)
    val day1Dir = new java.io.File(s"$wh/gold/mb_probe/_batch=2001-01-01")
    assert(day1Dir.isDirectory,
      "first run must stamp _batch and partition the table by it")
    def day1Files() = day1Dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified)).toSet
    val before = day1Files()
    spy.reset()
    // the refresh feed adds LATE rows: id 10 on day 1 (beyond the
    // 1-period lookback — must NOT land), ids 20/30 inside the window
    src = feed(Seq(("2001-01-01 10:00:00", 1L), ("2001-01-01 11:00:00", 10L),
      ("2001-01-02 10:00:00", 2L), ("2001-01-02 11:00:00", 20L),
      ("2001-01-03 10:00:00", 3L), ("2001-01-03 11:00:00", 30L)))
    val out = Registry.run(spark, Sf0001, spy, all = mdl)
    assert(spy.of("overwritePartitions") == Seq("mb_probe"))
    assert(!spy.of("overwrite").contains("mb_probe"))
    val ids = out("mb_probe").select("id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L, 20L, 30L),
      "late data inside the lookback lands; beyond it, it waits for a backfill")
    assert(day1Files() == before, "day-1 partition untouched on disk")
  }

  test("registry microbatch strategy: a window period whose recompute " +
      "yields ZERO rows is dropped, not silently retained") {
    import spark.implicits._
    def feed(rows: Seq[(String, Long)]) = rows.toDF("ts_s", "id")
      .select(col("ts_s").cast("timestamp").as("ts"), col("id"))
    var src = feed(Seq(("2001-01-01 10:00:00", 1L),
      ("2001-01-02 10:00:00", 2L), ("2001-01-03 10:00:00", 3L)))
    val mdl = Seq(Registry.Model("mb_zero_probe", "gold",
      Registry.Incremental(None, "ts",
        strategy = Registry.IncStrategy.Microbatch("ts", "day", lookback = 1)),
      Seq.empty, (_, _, _) => src))
    val wh = Files.createTempDirectory("graft_wh_mbz").toString
    val spy = new SpySink(new graft.pipeline.ParquetSink(wh))
    Registry.run(spark, Sf0001, spy, all = mdl)
    spy.reset()
    // refresh: window = [day2, ...] (maxB=day3, lookback 1). Day 3's
    // recompute comes back EMPTY (a takedown wiped it); day 2 gains a
    // late row. Dynamic overwrite alone would keep day 3's stale rows —
    // the logical transform (microbatchRefresh) deletes every window
    // period >= start, and the materialization must agree.
    src = feed(Seq(("2001-01-01 10:00:00", 1L),
      ("2001-01-02 10:00:00", 2L), ("2001-01-02 11:00:00", 20L)))
    val out = Registry.run(spark, Sf0001, spy, all = mdl)
    assert(spy.of("overwritePartitions") == Seq("mb_zero_probe"))
    assert(spy.of("dropPartitions") == Seq("mb_zero_probe"),
      "the emptied window period must be explicitly dropped")
    val ids = out("mb_zero_probe").select("id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 20L),
      "day 3 (zero-row recompute inside the window) must vanish; day 1 " +
        "(outside the window) must survive")
    assert(!new java.io.File(s"$wh/gold/mb_zero_probe/_batch=2001-01-03")
      .exists(), "the stale partition directory is gone from disk")
  }

  test("registry microbatch re-run leaves no batch pin persisted") {
    import spark.implicits._
    val src = Seq(("2001-01-01 10:00:00", 1L), ("2001-01-02 10:00:00", 2L))
      .toDF("ts_s", "id").select(col("ts_s").cast("timestamp").as("ts"), col("id"))
    val mdl = Seq(Registry.Model("mb_pin_probe", "gold",
      Registry.Incremental(None, "ts",
        strategy = Registry.IncStrategy.Microbatch("ts", "day", lookback = 1)),
      Seq.empty, (_, _, _) => src))
    val sink = new graft.pipeline.ParquetSink(
      Files.createTempDirectory("graft_wh_mbpin").toString)
    Registry.run(spark, Sf0001, sink, all = mdl)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // the re-run pins the aligned batch; overwritePartitions returns a
    // fresh read of the table, so nothing returned reads that pin
    val out = Registry.run(spark, Sf0001, sink, all = mdl)
    val left = sc.getPersistentRDDs.keySet -- before --
      graft.model.Stage.rddIdsOf(out)
    assert(left.isEmpty, s"RDDs the microbatch re-run left persisted: $left")
    assert(out("mb_pin_probe").count() == 2)
  }

  test("run-set uniqueness: a loaded model colliding with a code model's " +
      "relation fails at assembly, never silently overwrites") {
    val dup = Registry.Model("silver_orders_alias", "silver", Registry.Table,
      Seq.empty, (s, d, _) => graft.silver.Silver.orders(s, d),
      alias = Some("silver_orders"))
    val e = intercept[IllegalArgumentException](
      Registry.topoOrderOf(Registry.models :+ dup))
    assert(e.getMessage.contains("silver.silver_orders"))
    val dupName = Registry.Model("silver_orders", "silver", Registry.Table,
      Seq.empty, (s, d, _) => graft.silver.Silver.orders(s, d))
    val e2 = intercept[IllegalArgumentException](
      Registry.topoOrderOf(Registry.models :+ dupName))
    assert(e2.getMessage.contains("duplicate model names"))
    // a VIEW never writes through the sink, so sharing a relation name
    // with a table is not a materialization collision
    val viewTwin = Registry.Model("silver_orders_view", "silver",
      Registry.View, Seq.empty,
      (s, d, _) => graft.silver.Silver.orders(s, d),
      alias = Some("silver_orders"))
    Registry.topoOrderOf(Registry.models :+ viewTwin)
  }

  test("catalog sink microbatch: the zero-row window period drops via " +
      "catalog partition DDL, not just directory deletes") {
    import spark.implicits._
    def feed(rows: Seq[(String, Long)]) = rows.toDF("ts_s", "id")
      .select(col("ts_s").cast("timestamp").as("ts"), col("id"))
    var src = feed(Seq(("2001-01-01 10:00:00", 1L),
      ("2001-01-02 10:00:00", 2L), ("2001-01-03 10:00:00", 3L)))
    val mdl = Seq(Registry.Model("mb_cat_zero", "gold",
      Registry.Incremental(None, "ts",
        strategy = Registry.IncStrategy.Microbatch("ts", "day", lookback = 1)),
      Seq.empty, (_, _, _) => src))
    val sink = new graft.pipeline.CatalogSink()
    Registry.run(spark, Sf0001, sink, all = mdl)
    src = feed(Seq(("2001-01-01 10:00:00", 1L),
      ("2001-01-02 10:00:00", 2L), ("2001-01-02 11:00:00", 20L)))
    val out = Registry.run(spark, Sf0001, sink, all = mdl)
    val ids = out("mb_cat_zero").select("id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 20L),
      "day 3 (zero-row recompute inside the window) must vanish from " +
        "the catalog table; day 1 (outside the window) survives")
  }

  test("databaseName falls back to built-in trim/upper routing when the " +
      "macro library lacks generate_database_name") {
    val empty = new graft.pipeline.Macros.Library(Map.empty)
    assert(Registry.databaseName(Some("  gold "), "dflt", empty) == "GOLD")
    assert(Registry.databaseName(None, "dflt", empty) == "dflt")
    // and the loaded-macro path still routes identically
    assert(Registry.databaseName(Some("  gold "), "dflt") == "GOLD")
  }

  test("analyses/ compile-only: the checked-in analysis renders, its " +
      "refs resolve, and the plan analyzes with ZERO jobs; a malformed " +
      "ref fails loudly by name") {
    import graft.pipeline.SqlModels
    val loaded = SqlModels.loadAnalyses(new java.io.File("analyses"))
    assert(loaded.map(_.name) == Seq("revenue_pareto"))
    val r = loaded.head
    assert(r.deps == Seq("gold_revenue_analysis"))
    assert(r.sql.contains("> 0"), "var() default must substitute")
    val df = SqlModels.compileAnalysis(spark, Sf0001, r)
    // compile-only: the plan must ANALYZE (schema resolves) without the
    // analysis ever executing — accessing the schema and optimized plan
    // is plan work; the query itself never runs an action here
    assert(df.schema.fieldNames.toSeq ==
      Seq("order_year_month", "total_revenue", "ytd_revenue"))
    assert(df.queryExecution.optimizedPlan != null)
    val bad = SqlModels.loadAnalyses(new java.io.File("analyses")).head
      .copy(deps = Seq("no_such_model"))
    val e = intercept[IllegalArgumentException](
      SqlModels.compileAnalysis(spark, Sf0001, bad))
    assert(e.getMessage.contains("no_such_model"))
  }

  test("SQL microbatch model config loads into the Microbatch strategy") {
    import graft.pipeline.SqlModels
    val mb = SqlModels.load(new java.io.File("models"))
      .find(_.name == "orders_daily_mb").get
    assert(mb.materialization == Registry.Incremental(None, "order_date",
      strategy = Registry.IncStrategy.Microbatch("order_date", "month", 1,
        Some("1995-01-01"))))
    assert(mb.deps == Seq("bronze_orders"))
  }

  test("snapshots are exempt from --full-refresh: history survives") {
    import spark.implicits._
    var src = Seq((1L, "a@x.com")).toDF("id", "email")
    val mdl = Seq(Registry.Model("snap_fr", "silver",
      Registry.Snapshot("id", Seq("email")), Seq.empty, (_, _, _) => src))
    val sink = new graft.pipeline.ParquetSink(
      Files.createTempDirectory("graft_wh_snap_fr").toString)
    Registry.run(spark, Sf0001, sink, all = mdl,
      asOf = expr("TIMESTAMP_NTZ '2001-08-15 00:00:00'"))
    src = Seq((1L, "a2@x.com")).toDF("id", "email")
    Registry.run(spark, Sf0001, sink, all = mdl, fullRefresh = true,
      asOf = expr("TIMESTAMP_NTZ '2001-08-16 00:00:00'"))
    val snap = sink.read(spark, "silver", "snap_fr")
    assert(snap.count() == 2,
      "full-refresh must ADVANCE the snapshot (closed + current), never re-init it")
    assert(snap.filter(!col("_is_current")).count() == 1, "closed version retained")
  }

  test("registry incremental --full-refresh rebuilds instead of merging") {
    val spy = new SpySink(new graft.pipeline.ParquetSink(
      Files.createTempDirectory("graft_wh_fr").toString))
    val mdls = incrementalVariant(Registry.Incremental(Some("order_key"), "order_date"))
    Registry.run(spark, Sf0001, spy, all = mdls)
    spy.reset()
    Registry.run(spark, Sf0001, spy, all = mdls, fullRefresh = true)
    assert(spy.of("merge").isEmpty && spy.of("overwrite").contains("silver_orders"))
  }

  test("registry snapshot materialization: scd2 versions open and close across runs") {
    import spark.implicits._
    var src = Seq((1L, "a@x.com"), (2L, "b@x.com")).toDF("id", "email")
    val mdl = Seq(Registry.Model("snap_probe", "silver",
      Registry.Snapshot("id", Seq("email")), Seq.empty, (_, _, _) => src))
    val sink = new graft.pipeline.ParquetSink(
      Files.createTempDirectory("graft_wh_snap").toString)
    Registry.run(spark, Sf0001, sink, all = mdl,
      asOf = expr("TIMESTAMP_NTZ '2001-08-15 00:00:00'"))
    src = Seq((1L, "a-changed@x.com"), (2L, "b@x.com"), (3L, "c@x.com")).toDF("id", "email")
    Registry.run(spark, Sf0001, sink, all = mdl,
      asOf = expr("TIMESTAMP_NTZ '2001-08-16 00:00:00'"))
    val snap = sink.read(spark, "silver", "snap_probe")
    assert(snap.count() == 4, "1 closed + 1 reopened + 1 unchanged + 1 new")
    val closed = snap.filter(!col("_is_current")).as[(Long, String, java.time.LocalDateTime,
      java.time.LocalDateTime, Boolean)].collect()
    assert(closed.map(r => (r._1, r._2)).toSeq == Seq((1L, "a@x.com")))
    assert(closed.head._4 == java.time.LocalDateTime.parse("2001-08-16T00:00"))
    assert(snap.filter(col("_is_current") && col("id") === 1L)
      .select("email").as[String].head() == "a-changed@x.com")
  }

  test("catalog sink snapshot: self-referencing advance stages instead of failing") {
    import spark.implicits._
    var src = Seq((1L, "a@x.com"), (2L, "b@x.com")).toDF("id", "email")
    val mdl = Seq(Registry.Model("snap_cat_probe", "silver",
      Registry.Snapshot("id", Seq("email")), Seq.empty, (_, _, _) => src))
    val sink = new graft.pipeline.CatalogSink()
    Registry.run(spark, Sf0001, sink, all = mdl,
      asOf = expr("TIMESTAMP_NTZ '2001-08-15 00:00:00'"))
    src = Seq((1L, "a2@x.com"), (2L, "b@x.com")).toDF("id", "email")
    // the advance reads silver.snap_cat_probe and overwrites it — without
    // staging, saveAsTable(Overwrite) throws "cannot overwrite a table
    // that is also being read from"
    Registry.run(spark, Sf0001, sink, all = mdl,
      asOf = expr("TIMESTAMP_NTZ '2001-08-16 00:00:00'"))
    val snap = sink.read(spark, "silver", "snap_cat_probe")
    assert(snap.count() == 3, "1 closed + 1 reopened + 1 unchanged")
    assert(spark.catalog.listTables("silver").collect()
      .forall(_.name != "_graft_staging_snap_cat_probe"), "staging dropped")
  }

  test("catalog-sink incremental: merge and partitioned append route correctly") {
    import spark.implicits._
    val sink = new graft.pipeline.CatalogSink()
    // merge path: exists() on the uppercase-created database must be true
    var src = Seq((1L, 1997, "a"), (2L, 1998, "b")).toDF("id", "yr", "v")
    val mergeMdl = Seq(Registry.Model("cat_inc_m", "silver",
      Registry.Incremental(Some("id"), "id"), Seq.empty, (_, _, _) => src))
    Registry.run(spark, Sf0001, sink, all = mergeMdl)
    src = Seq((2L, 1998, "B"), (3L, 1999, "c")).toDF("id", "yr", "v")
    val m2 = Registry.run(spark, Sf0001, sink, all = mergeMdl)
    assert(m2("cat_inc_m").count() == 3)
    assert(spark.table("silver.cat_inc_m").filter(col("v") === "B").count() == 1)
    // append path into a PARTITIONED catalog table: the insert must take
    // the partitioning from table metadata
    src = Seq((1L, 1997, "a"), (2L, 1998, "b")).toDF("id", "yr", "v")
    val appMdl = Seq(Registry.Model("cat_inc_a", "gold",
      Registry.Incremental(None, "id"), Seq.empty, (_, _, _) => src,
      graft.pipeline.TableLayout(partitionBy = Seq("yr"))))
    Registry.run(spark, Sf0001, sink, all = appMdl)
    src = Seq((3L, 1999, "c")).toDF("id", "yr", "v")
    val a2 = Registry.run(spark, Sf0001, sink, all = appMdl)
    assert(a2("cat_inc_a").count() == 3)
    assert(spark.sql("SHOW PARTITIONS gold.cat_inc_a").count() == 3,
      "appended rows must create their partition")
  }

  test("catalog merge rewrite preserves the bucketed layout") {
    import spark.implicits._
    val sink = new graft.pipeline.CatalogSink()
    val layout = graft.pipeline.TableLayout(
      bucketBy = Some((4, Seq("id"))), sortBy = Seq("id"))
    sink.overwrite(spark, "silver", "bucket_probe",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), layout)
    sink.merge(spark, "silver", "bucket_probe",
      Seq((2L, "B"), (3L, "c")).toDF("id", "v"), "id", layout)
    val desc = spark.sql("DESCRIBE TABLE EXTENDED silver.bucket_probe")
      .collect().map(_.mkString(" ")).mkString("\n")
    assert(desc.contains("Num Buckets") && desc.contains("4"),
      s"merge rewrite must keep bucket metadata:\n$desc")
    assert(sink.read(spark, "silver", "bucket_probe").count() == 3)
  }

  test("MergeSql statement + catalog MERGE INTO branch via fake mergeable format") {
    import spark.implicits._
    var captured = List.empty[String]
    // the offline classpath has no Delta/Iceberg jar, so declare parquet
    // merge-capable and intercept the execution seam: the regex match IS
    // the assertion on the generated statement's shape, and the emulation
    // completes the branch end-to-end (temp view up, SQL, temp view down)
    val M = ("""MERGE INTO (\S+) t USING (\S+) s ON t\.(\S+) = s\.(\S+)\n""" +
      """WHEN MATCHED THEN UPDATE SET \*\nWHEN NOT MATCHED THEN INSERT \*""").r
    val sink = new graft.pipeline.CatalogSink("parquet",
        mergeCapableOverride = Some(true)) {
      override protected def executeMerge(s: org.apache.spark.sql.SparkSession,
          statement: String): Unit = {
        captured ::= statement
        statement match {
          case M(target, src, k1, k2) =>
            assert(k1 == k2)
            val merged = graft.pipeline.Incremental.merge(
              s.table(target), s.table(src), k1)
            val rows = merged.collect().toSeq
            s.createDataFrame(
              new java.util.ArrayList(scala.jdk.CollectionConverters
                .SeqHasAsJava(rows).asJava), merged.schema)
              .write.mode("overwrite").format("parquet").saveAsTable(target)
          case other => fail(s"malformed MERGE statement:\n$other")
        }
      }
    }
    sink.overwrite(spark, "silver", "merge_sql_probe",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val merged = sink.merge(spark, "silver", "merge_sql_probe",
      Seq((2L, "B"), (3L, "c")).toDF("id", "v"), "id")
    assert(captured.size == 1)
    assert(captured.head ==
      graft.pipeline.MergeSql.upsertByKey(
        "SILVER.merge_sql_probe", "_graft_merge_src_merge_sql_probe", "id"))
    assert(merged.as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
    assert(spark.catalog.listTables("silver").collect()
      .forall(_.name != "_graft_merge_src_merge_sql_probe"))
  }

  test("delete+insert DML branch: DELETE + INSERT statement pair on a mergeable format") {
    import spark.implicits._
    var captured = List.empty[String]
    val sink = new graft.pipeline.CatalogSink("parquet",
        mergeCapableOverride = Some(true)) {
      override protected def executeMerge(s: org.apache.spark.sql.SparkSession,
          statement: String): Unit = {
        captured ::= statement
        val target = "SILVER.di_sql_probe"
        val src = s.table("_graft_di_src_di_sql_probe")
        if (statement.startsWith("DELETE FROM")) {
          // emulate the DELETE: keep target rows with no key-tuple match
          val kept = s.table(target)
            .join(src.select("cust", "day").distinct(), Seq("cust", "day"),
              "left_anti")
          val rows = kept.collect().toSeq
          s.createDataFrame(
            new java.util.ArrayList(scala.jdk.CollectionConverters
              .SeqHasAsJava(rows).asJava), kept.schema)
            .write.mode("overwrite").format("parquet").saveAsTable(target)
        } else {
          assert(statement.startsWith("INSERT INTO"), s"unexpected: $statement")
          val rows = src.select(s.table(target).columns.map(col): _*)
            .collect().toSeq
          s.createDataFrame(
            new java.util.ArrayList(scala.jdk.CollectionConverters
              .SeqHasAsJava(rows).asJava), s.table(target).schema)
            .write.mode("append").format("parquet").saveAsTable(target)
        }
      }
    }
    sink.overwrite(spark, "silver", "di_sql_probe",
      Seq((1L, "d1", 10.0), (1L, "d2", 20.0), (2L, "d1", 30.0))
        .toDF("cust", "day", "amt"))
    val out = sink.deleteInsert(spark, "silver", "di_sql_probe",
      Seq((1L, "d1", 11.0), (1L, "d1", 12.0)).toDF("cust", "day", "amt"),
      Seq("cust", "day"))
    assert(captured.reverse == List(
      graft.pipeline.MergeSql.deleteByKeys("SILVER.di_sql_probe",
        "_graft_di_src_di_sql_probe", Seq("cust", "day")),
      graft.pipeline.MergeSql.insertAll("SILVER.di_sql_probe",
        "_graft_di_src_di_sql_probe")),
      "DELETE must precede INSERT, both against the aligned source view")
    assert(out.as[(Long, String, Double)].collect().sortBy(r => (r._1, r._2, r._3))
      .toSeq == Seq((1L, "d1", 11.0), (1L, "d1", 12.0), (1L, "d2", 20.0),
        (2L, "d1", 30.0)))
    assert(spark.catalog.listTables("silver").collect()
      .forall(_.name != "_graft_di_src_di_sql_probe"), "source view dropped")
  }

  test("MERGE branch applies schema-drift policies: Ignore projects, AppendNewColumns widens via ALTER") {
    import spark.implicits._
    val M = ("""MERGE INTO (\S+) t USING (\S+) s ON t\.(\S+) = s\.(\S+)\n""" +
      """WHEN MATCHED THEN UPDATE SET \*\nWHEN NOT MATCHED THEN INSERT \*""").r
    val sink = new graft.pipeline.CatalogSink("parquet",
        mergeCapableOverride = Some(true)) {
      override protected def executeMerge(s: org.apache.spark.sql.SparkSession,
          statement: String): Unit = statement match {
        case M(target, src, k1, _) =>
          // a real MERGE rejects source/target schema mismatches — assert
          // the align happened BEFORE the statement, like Delta would
          assert(s.table(src).columns.toSeq == s.table(target).columns.toSeq,
            "source view must be aligned to the target schema pre-MERGE")
          val merged = graft.pipeline.Incremental.merge(
            s.table(target), s.table(src), k1)
          val rows = merged.collect().toSeq
          s.createDataFrame(
            new java.util.ArrayList(scala.jdk.CollectionConverters
              .SeqHasAsJava(rows).asJava), merged.schema)
            .write.mode("overwrite").format("parquet").saveAsTable(target)
        case other => fail(s"malformed MERGE statement:\n$other")
      }
    }
    import graft.pipeline.Incremental
    sink.overwrite(spark, "silver", "drift_probe",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // Ignore: the drifted `extra` column is dropped, not a MERGE failure
    val ignored = sink.merge(spark, "silver", "drift_probe",
      Seq((2L, "B", "x")).toDF("id", "v", "extra"), "id",
      onSchemaChange = Incremental.Ignore)
    assert(ignored.columns.toSeq == Seq("id", "v"))
    assert(ignored.as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "B")))
    // AppendNewColumns: target widens (metadata ALTER, no rewrite of old
    // rows), pre-drift rows read back NULL in the new column
    val widened = sink.merge(spark, "silver", "drift_probe",
      Seq((3L, "c", "x3")).toDF("id", "v", "extra"), "id",
      onSchemaChange = Incremental.AppendNewColumns)
    assert(widened.columns.toSeq == Seq("id", "v", "extra"))
    assert(widened.as[(Long, String, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a", null), (2L, "B", null), (3L, "c", "x3")))
    // FailOnChange: drift is an error before any SQL is issued
    intercept[IllegalArgumentException] {
      sink.merge(spark, "silver", "drift_probe",
        Seq((4L, "d")).toDF("id", "v"), "id",
        onSchemaChange = Incremental.FailOnChange)
    }
    spark.sql("DROP TABLE IF EXISTS silver.drift_probe")
  }

  test("registry two-run incremental widens through the MERGE branch " +
      "(append_new_columns × merge-capable sink)") {
    import spark.implicits._
    // the last policy×sink cell: a REGISTRY-scheduled incremental model
    // whose second run drifts wider, routed through the real-MERGE branch
    // via the fake-mergeable seam (no Delta/Iceberg jar offline)
    val M = ("""MERGE INTO (\S+) t USING (\S+) s ON t\.(\S+) = s\.(\S+)\n""" +
      """WHEN MATCHED THEN UPDATE SET \*\nWHEN NOT MATCHED THEN INSERT \*""").r
    var merges = 0
    val sink = new graft.pipeline.CatalogSink("parquet",
        mergeCapableOverride = Some(true)) {
      override protected def executeMerge(s: org.apache.spark.sql.SparkSession,
          statement: String): Unit = statement match {
        case M(target, src, k1, _) =>
          merges += 1
          assert(s.table(src).columns.toSeq == s.table(target).columns.toSeq,
            "source must be aligned to the (already-widened) target")
          val merged = graft.pipeline.Incremental.merge(
            s.table(target), s.table(src), k1)
          val rows = merged.collect().toSeq
          s.createDataFrame(
            new java.util.ArrayList(scala.jdk.CollectionConverters
              .SeqHasAsJava(rows).asJava), merged.schema)
            .write.mode("overwrite").format("parquet").saveAsTable(target)
        case other => fail(s"malformed MERGE statement:\n$other")
      }
    }
    var src = Seq((1L, 1998, "a"), (2L, 1998, "b")).toDF("id", "yr", "v")
    val mdl = Seq(Registry.Model("cat_inc_widen", "gold",
      Registry.Incremental(Some("id"), "yr",
        graft.pipeline.Incremental.AppendNewColumns),
      Seq.empty, (_, _, _) => src))
    Registry.run(spark, Sf0001, sink, all = mdl)
    assert(merges == 0, "first run full-builds — no MERGE")
    // run 2: the model's output drifts wider (a new upstream column)
    src = Seq((2L, 1998, "B", "x2"), (3L, 1999, "c", "x3"))
      .toDF("id", "yr", "v", "extra")
    val out = Registry.run(spark, Sf0001, sink, all = mdl)("cat_inc_widen")
    assert(merges == 1, "second run must route through the MERGE branch")
    assert(out.columns.toSeq == Seq("id", "yr", "v", "extra"),
      "append_new_columns must widen the catalog table via ALTER")
    assert(out.as[(Long, Int, String, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, 1998, "a", null), (2L, 1998, "B", "x2"), (3L, 1999, "c", "x3")),
      "pre-drift rows read NULL in the new column; merged rows carry it")
    spark.sql("DROP TABLE IF EXISTS gold.cat_inc_widen")
  }

  test("state:modified manifest — stable fingerprints, edit detection, defer") {
    import org.apache.spark.sql.functions._
    // fingerprints are deterministic across manifest() calls (canonicalized
    // plans normalize exprIds, the pinned Clock freezes now())
    val m1 = Registry.manifest(spark, Sf0001)
    val m2 = Registry.manifest(spark, Sf0001)
    assert(m1 == m2 && m1.size == Registry.models.size)
    // round-trip through the state artifact
    val stateDir = java.nio.file.Files.createTempDirectory("graft_state").toString
    Registry.writeManifest(spark, Sf0001, stateDir)
    assert(Registry.readManifest(stateDir) == m1)
    // unchanged project → nothing modified; an edited model (and its
    // descendants, which inline it) show up as modified
    assert(Registry.modifiedSince(spark, Sf0001, m1).isEmpty)
    val edited = Registry.models.map { m =>
      if (m.name == "silver_orders")
        m.copy(build = (s, d, up) =>
          m.build(s, d, up).withColumn("extra", lit(1)))
      else m
    }
    val mod = Registry.modifiedSince(spark, Sf0001, m1, edited)
    assert(mod.contains("silver_orders"))
    assert(mod.contains("gold_order_metrics"),
      "descendants inline the edited plan and must re-select")
    assert(!mod.contains("bronze_orders") && !mod.contains("silver_customers"),
      "untouched subtrees keep their fingerprints")
    // selector integration: state:modified composes like any other method
    assert(Registry.selectClosure("state:modified", edited, Some(mod)) == mod)
    intercept[IllegalArgumentException](Registry.selectClosure("state:modified"))
    // state:new — models ABSENT from the prior manifest, isolated from
    // edits (silver_orders is modified but not new); an added model and
    // its graph-op closure select like any other method
    val added = Registry.models :+ Registry.Model(
      "gold_orders_copy", "gold", Registry.Table, Seq("silver_orders"),
      (_, _, up) => up("silver_orders"))
    val newNames = added.map(_.name).filterNot(m1.keySet).toSet
    assert(newNames == Set("gold_orders_copy"))
    assert(Registry.selectClosure("state:new", added, stateNew = Some(newNames))
      == Set("gold_orders_copy"))
    assert(Registry.selectClosure("+state:new", added, stateNew = Some(newNames))
      == Set("gold_orders_copy", "silver_orders", "silver_customers",
        "bronze_orders", "bronze_customers"))
    intercept[IllegalArgumentException](Registry.selectClosure("state:new", added))
    // --defer: a selected model whose upstream is only in the "prod"
    // warehouse builds against that warehouse instead of failing
    val prodWh = java.nio.file.Files.createTempDirectory("graft_prod").toString
    val devWh = java.nio.file.Files.createTempDirectory("graft_dev").toString
    val prod = new graft.pipeline.ParquetSink(prodWh)
    Registry.run(spark, Sf0001, prod, registerViews = false)
    val dev = new graft.pipeline.ParquetSink(devWh)
    intercept[IllegalArgumentException] {
      Registry.run(spark, Sf0001, dev, select = Some("gold_order_metrics"),
        registerViews = false)
    }
    val out = Registry.run(spark, Sf0001, dev, select = Some("gold_order_metrics"),
      registerViews = false, deferTo = Some(prod))
    assert(out("gold_order_metrics").count() > 0)
    assert(dev.exists(spark, "gold", "gold_order_metrics"),
      "the selected model lands in the dev warehouse")
    assert(!dev.exists(spark, "silver", "silver_orders"),
      "deferred upstreams are read from prod, never copied into dev")
  }

  test("selectClosure implements dbt graph operators") {
    assert(Registry.selectClosure("silver_orders") == Set("silver_orders"))
    assert(Registry.selectClosure("+silver_orders") ==
      Set("bronze_orders", "bronze_customers", "silver_customers", "silver_orders"))
    assert(Registry.selectClosure("silver_orders+") ==
      Set("silver_orders", "silver_payments", "gold_customer_summary",
        "gold_order_metrics", "gold_revenue_analysis"))
    assert(Registry.selectClosure("+silver_orders+") ==
      Registry.selectClosure("+silver_orders") ++ Registry.selectClosure("silver_orders+"))
    assert(Registry.selectClosure("bronze_orders, gold_order_metrics") ==
      Set("bronze_orders", "gold_order_metrics"))
    intercept[IllegalArgumentException](Registry.selectClosure("nope+"))
    // tag: selector — the layer acts as a tag, mirroring the reference's
    // per-directory `+tags` in dbt_project.yml
    assert(Registry.selectClosure("tag:gold") ==
      Set("gold_customer_summary", "gold_order_metrics", "gold_revenue_analysis"))
    assert(Registry.selectClosure("tag:bronze+").contains("gold_revenue_analysis"),
      "graph operators compose with tag selectors")
    // path: selector — dbt directory paths and bare layer names
    assert(Registry.selectClosure("path:models/silver") ==
      Registry.selectClosure("tag:silver"))
    assert(Registry.selectClosure("path:models/gold/gold_order_metrics") ==
      Set("gold_order_metrics"))
    assert(Registry.selectClosure("+path:gold") ==
      Registry.selectClosure("+gold_customer_summary") ++
        Registry.selectClosure("+gold_order_metrics") ++
        Registry.selectClosure("+gold_revenue_analysis"))
    intercept[IllegalArgumentException](Registry.selectClosure("tag:nope"))
    intercept[IllegalArgumentException](Registry.selectClosure("path:models/nope"))
  }

  test("run --select materializes exactly the selected subtree; upstream provided read-only") {
    val wh = Files.createTempDirectory("graft_wh_sel").toString
    Registry.run(spark, Sf0001, wh) // seed warehouse state
    val spy = new SpySink(new graft.pipeline.ParquetSink(wh))
    val out = Registry.run(spark, Sf0001, spy, select = Some("gold_order_metrics"))
    assert(spy.of("overwrite") == Seq("gold_order_metrics"),
      "only the selected model may be written")
    assert(out.contains("silver_orders"), "upstream dep is provided for ref()")
    assert(out("gold_order_metrics").count() > 0)
    spy.reset()
    val out2 = Registry.run(spark, Sf0001, spy, select = Some("silver_orders+"))
    assert(spy.of("overwrite").toSet ==
      Set("silver_orders", "silver_payments", "gold_customer_summary",
        "gold_order_metrics", "gold_revenue_analysis"))
    assert(out2("gold_revenue_analysis").count() > 0)
  }

  test("exclude removes its closure from the selection (dbt --exclude)") {
    val wh = Files.createTempDirectory("graft_wh_excl").toString
    Registry.run(spark, Sf0001, wh) // seed warehouse state
    val spy = new SpySink(new graft.pipeline.ParquetSink(wh))
    // everything except the gold layer's customer-summary subtree
    val out = Registry.run(spark, Sf0001, spy,
      exclude = Some("gold_customer_summary"))
    assert(!spy.of("overwrite").contains("gold_customer_summary"))
    assert(spy.of("overwrite").toSet ==
      Set("silver_customers", "silver_orders", "silver_payments",
        "gold_order_metrics", "gold_revenue_analysis"))
    assert(!out.contains("gold_customer_summary"))
  }

  test("select fails clearly when an unselected upstream table was never materialized") {
    val spy = new SpySink(new graft.pipeline.ParquetSink(
      Files.createTempDirectory("graft_wh_sel_miss").toString))
    val ex = intercept[IllegalArgumentException](
      Registry.run(spark, Sf0001, spy, select = Some("gold_order_metrics")))
    assert(ex.getMessage.contains("not materialized"))
  }

  test("declared-schema gate passes the real DAG and rejects drift") {
    // positive path is exercised by every Registry.run in this suite; the
    // negative path must fail BEFORE anything is written
    val m = Registry.models.find(_.name == "silver_customers").get
    val df = Silver.customers(spark, Sf0001)
    Registry.assertDeclaredSchema(m, df) // real contract holds
    val drifted = m.copy(declaredSchema = Some(Seq("customer_key" -> "string")))
    val ex = intercept[IllegalArgumentException](
      Registry.assertDeclaredSchema(drifted, df))
    assert(ex.getMessage.contains("schema drift in silver_customers"))
  }

  test("Run --docs prints the lineage DOT and exits before any Spark work") {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf)) {
      graft.Run.main(Array("--docs"))
    }
    val out = buf.toString
    assert(out.contains("digraph graft") && out.contains("silver_orders"))
  }

  test("lineage DOT carries every model node and ref edge") {
    val dot = Registry.lineageDot()
    Registry.models.foreach(m => assert(dot.contains(s""""${m.name}"""")))
    assert(dot.contains(""""silver_orders" -> "silver_payments""""))
    assert(dot.contains(""""bronze_customers" -> "silver_customers""""))
    assert(dot.contains("box3d") == false, "default DAG has no incremental models")
    assert(dot.contains("20 cols"), "silver_orders declared column count in label")
  }

  test("source freshness reports error for the stale pinned orders feed") {
    // raw_orders _loaded_at is pinned 5 days before Clock.now (120h > 48h).
    assert(Registry.sourceFreshness(spark, Sf0001)("raw_orders") == "error")
  }

  test("entry smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
