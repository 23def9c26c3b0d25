package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.adapter.RawSources
import graft.bronze.Bronze
import graft.silver.Silver
import graft.gold.Gold

/** dbt-run equivalent: the model DAG with per-layer materialization
  * (SURVEY.md §3.1).
  *
  * `ref()` becomes a lookup of the already-materialized upstream DataFrame;
  * `materialized='view'` (bronze, `dbt_project.yml:19`) becomes a lazy temp
  * view; `materialized='table'` (silver/gold, `dbt_project.yml:24,30`)
  * becomes a [[TableSink]] overwrite followed by a fresh read — the same
  * physical barrier dbt's table materialization creates, which is what makes
  * the gold layer's precomputation an *architecture-level* optimization at
  * 100 TB (downstream readers scan the compact mart, not the raw data).
  *
  * Like dbt's `threads`, independent models materialize concurrently:
  * [[run]] schedules the DAG in dependency waves and submits each wave's
  * models to a fixed-size pool (the gold fan-out runs 3-wide). Spark
  * sessions support concurrent actions, so each model's write is its own
  * job and the scheduler interleaves their stages.
  */
object Registry {

  /** The reference's `generate_database_name` macro
    * (/root/reference/macros/generate_database_name.sql:1-9): a custom
    * database name is trimmed then uppercased (the macro pipes through
    * `trim | upper`), otherwise the target default applies. Catalog
    * resolution in Spark is case-insensitive, so
    * `spark.table("silver.silver_orders")` resolves against the
    * uppercase-created database.
    *
    * Resolution comes from the LOADED macro file
    * (`macros/generate_database_name.sql`, [[Macros.default]]) — the
    * dbt dispatch path, not hardcoded logic; RegistrySpec pins the
    * loaded reference file to the same routing. When no such macro is
    * loaded (the engine jar running outside a project checkout, or a
    * project that never overrides database routing), the built-in
    * default applies — dbt's own behavior when a project defines no
    * `generate_database_name`: the same trim-uppercase-else-target
    * semantics, so a missing `macros/` dir is not a runtime regression
    * for every CatalogSink operation. */
  def databaseName(custom: Option[String], targetDefault: String,
      lib: Macros.Library = Macros.default): String =
    if (lib.contains("generate_database_name"))
      lib.call("generate_database_name", Seq(custom.orNull),
        Map("target" -> Map("database" -> targetDefault))).trim
    else custom match {
      case Some(c) => c.trim.toUpperCase(java.util.Locale.ROOT)
      case None => targetDefault
    }

  sealed trait Materialization
  case object View extends Materialization
  case object Table extends Materialization

  /** dbt `materialized='incremental'` (`dbt_project.yml:16-31` declares the
    * materialization surface): the first run full-builds the table; every
    * later run routes the build output through the sink — upsert by
    * `uniqueKey` when declared (`TableSink.merge`, a real `MERGE INTO` on
    * lakehouse formats), else insert-only above the target's
    * `watermarkCol` high-water mark (`TableSink.append`, writes only the
    * new files). `--full-refresh` rebuilds like dbt's flag. */
  final case class Incremental(
    uniqueKey: Option[String],
    watermarkCol: String,
    onSchemaChange: graft.pipeline.Incremental.OnSchemaChange =
      graft.pipeline.Incremental.Ignore,
    strategy: IncStrategy = IncStrategy.Auto,
    predicates: Seq[String] = Seq.empty) extends Materialization

  /** dbt `incremental_strategy`. [[IncStrategy.Auto]] is the engine's
    * original routing (merge when `uniqueKey` is declared, high-water-mark
    * append otherwise — dbt's default strategy choice per config); the
    * named strategies add what Auto cannot express. */
  sealed trait IncStrategy
  object IncStrategy {
    case object Auto extends IncStrategy
    /** `delete+insert`: composite keys, many-rows-per-key batches
      * ([[graft.pipeline.Incremental.deleteInsert]]). */
    final case class DeleteInsert(keys: Seq[String]) extends IncStrategy
    /** `insert_overwrite`: every partition the batch touches is replaced
      * wholesale; the sink writes only those partitions' files
      * ([[TableSink.overwritePartitions]]). */
    final case class InsertOverwrite(partitionBy: Seq[String]) extends IncStrategy
    /** `microbatch` (dbt 1.9): the model is processed in event-time
      * periods. Each incremental run recomputes every period from
      * `max(period) − lookback` on and replaces exactly those periods'
      * partitions (late data inside the window lands; beyond it, a
      * backfill must reprocess its period). The engine stamps each row's
      * period into the [[Registry.MicrobatchCol]] DATE column and
      * partitions the table by it; `begin` (a DATE literal) bounds the
      * model's history like dbt's required `begin` config. */
    final case class Microbatch(eventTime: String, batchSize: String = "day",
      lookback: Int = 1, begin: Option[String] = None) extends IncStrategy
  }

  /** The auto-stamped event-time period column of microbatch models. */
  val MicrobatchCol = "_batch"

  /** dbt snapshot: SCD2 table keyed by `key` ([[Incremental$.Scd2]]).
    * `updatedAt` empty → `check` strategy, change-tracked on `checkCols`;
    * `updatedAt` set → dbt's default `timestamp` strategy, a version
    * closes when the source re-arrives with a strictly newer audit
    * stamp. First run initializes version 1 for every key; later runs
    * close changed versions at the run's `asOf` instant and open new
    * ones. */
  final case class Snapshot(
    key: String,
    checkCols: Seq[String],
    updatedAt: Option[String] = None,
    invalidateHardDeletes: Boolean = false) extends Materialization

  final case class Model(
    name: String,
    layer: String,
    materialization: Materialization,
    deps: Seq[String],
    build: (SparkSession, String, Map[String, DataFrame]) => DataFrame,
    layout: TableLayout = TableLayout.none,
    declaredSchema: Option[Seq[(String, String)]] = None,
    tags: Seq[String] = Seq.empty,
    preHooks: Seq[String] = Seq.empty,
    postHooks: Seq[String] = Seq.empty,
    alias: Option[String] = None) {
    /** The model's tags plus its layer — the reference's dbt_project.yml
      * applies `+tags: ['bronze'|'silver'|'gold']` per layer directory
      * (/root/reference/dbt_project.yml:21-31), so the layer always
      * behaves as a tag in selectors. */
    def effectiveTags: Seq[String] = tags :+ layer
    /** dbt-style virtual source path, the `path:` selector's target. */
    def path: String = s"models/$layer/$name"
    /** The physical relation name — dbt `alias`: `ref()` and selectors
      * use [[name]]; the sink stores under the alias when one is set. */
    def tableName: String = alias.getOrElse(name)
  }

  /** Declared column contracts for the table-shaped models — the engine's
    * mirror of the reference's schema YAML
    * (`/root/reference/models/silver/silver.yml:3-81`,
    * `models/gold/gold.yml`), extended to every produced column so ANY
    * rename/retype fails [[assertDeclaredSchema]] at materialization time
    * rather than drifting silently into the oracle compare. Bronze views
    * are `select *` pass-throughs over raw feeds and carry no contract,
    * exactly like the reference's bronze layer. */
  private val audit: Seq[(String, String)] = Seq(
    "_loaded_at" -> "timestamp_ntz", "_updated_at" -> "timestamp_ntz",
    "_has_data_quality_issues" -> "int")

  val declaredSchemas: Map[String, Seq[(String, String)]] = Map(
    "silver_customers" -> (Seq(
      "customer_key" -> "string", "customer_id" -> "bigint",
      "first_name" -> "string", "last_name" -> "string",
      "full_name" -> "string", "email" -> "string",
      "created_at" -> "timestamp_ntz") ++ audit),
    "silver_orders" -> (Seq(
      "order_key" -> "string", "customer_key" -> "string",
      "order_id" -> "bigint", "customer_id" -> "bigint",
      "order_date" -> "date", "order_status" -> "string",
      "is_completed" -> "boolean", "is_cancelled" -> "boolean",
      "is_pending" -> "boolean", "order_amount" -> "double",
      "order_year" -> "int", "order_month" -> "int", "order_day" -> "int",
      "order_quarter" -> "int", "order_day_name" -> "string",
      "order_year_month" -> "string", "order_year_quarter" -> "string") ++ audit),
    "silver_payments" -> (Seq(
      "payment_key" -> "string", "order_key" -> "string",
      "payment_id" -> "bigint", "order_id" -> "bigint",
      "payment_method" -> "string", "payment_amount" -> "double",
      "payment_date" -> "timestamp_ntz", "is_successful_payment" -> "boolean",
      "is_failed_payment" -> "boolean", "payment_size_category" -> "string") ++ audit),
    "gold_customer_summary" -> Seq(
      "customer_key" -> "string", "customer_id" -> "bigint",
      "full_name" -> "string", "first_name" -> "string",
      "last_name" -> "string", "email" -> "string",
      "customer_since" -> "timestamp_ntz", "total_orders" -> "bigint",
      "completed_orders" -> "bigint", "cancelled_orders" -> "bigint",
      "pending_orders" -> "bigint", "lifetime_value" -> "double",
      "avg_order_value" -> "double", "max_order_value" -> "double",
      "min_order_value" -> "double", "total_payments" -> "bigint",
      "unique_payment_methods" -> "bigint", "total_paid_amount" -> "double",
      "preferred_payment_method" -> "string", "first_order_date" -> "date",
      "last_order_date" -> "date", "customer_lifetime_days" -> "int",
      "active_months" -> "bigint", "days_since_last_order" -> "int",
      "customer_segment" -> "string", "customer_status" -> "string",
      "recency_score" -> "int", "frequency_score" -> "int",
      "monetary_score" -> "int", "_updated_at" -> "timestamp_ntz"),
    "gold_order_metrics" -> Seq(
      "order_date" -> "date", "order_year" -> "int", "order_month" -> "int",
      "order_day" -> "int", "order_quarter" -> "int",
      "order_year_month" -> "string", "order_year_quarter" -> "string",
      "order_day_name" -> "string", "total_orders" -> "bigint",
      "completed_orders" -> "bigint", "cancelled_orders" -> "bigint",
      "pending_orders" -> "bigint", "unique_customers" -> "bigint",
      "total_revenue" -> "double", "avg_order_value" -> "double",
      "max_order_value" -> "double", "min_order_value" -> "double",
      "potential_revenue" -> "double", "lost_revenue" -> "double",
      "completion_rate" -> "double", "cancellation_rate" -> "double",
      "orders_per_customer" -> "double", "cumulative_revenue" -> "double",
      "cumulative_orders" -> "bigint", "revenue_7day_ma" -> "double",
      "orders_7day_ma" -> "double", "prior_day_revenue" -> "double",
      "week_ago_revenue" -> "double",
      "revenue_growth_vs_prior_day_pct" -> "double",
      "revenue_growth_vs_week_ago_pct" -> "double",
      "_updated_at" -> "timestamp_ntz"),
    "gold_revenue_analysis" -> Seq(
      "order_year_month" -> "string", "order_year" -> "int",
      "order_month" -> "int", "order_quarter" -> "int",
      "order_year_quarter" -> "string", "total_orders" -> "bigint",
      "unique_customers" -> "bigint", "total_revenue" -> "double",
      "avg_order_value" -> "double", "max_order_value" -> "double",
      "min_order_value" -> "double", "orders_per_customer" -> "double",
      "prev_month_revenue" -> "double", "year_ago_revenue" -> "double",
      "prev_month_orders" -> "bigint", "revenue_growth_mom_pct" -> "double",
      "orders_growth_mom_pct" -> "double", "revenue_growth_yoy_pct" -> "double",
      "ytd_revenue" -> "double", "ytd_orders" -> "bigint",
      "credit_card_revenue" -> "double", "bank_transfer_revenue" -> "double",
      "paypal_revenue" -> "double", "cash_revenue" -> "double",
      "other_revenue" -> "double", "_updated_at" -> "timestamp_ntz"))

  /** All nine models; listed in any order — [[topoOrder]] sorts by deps. */
  val models: Seq[Model] = Seq(
    Model("bronze_customers", "bronze", View, Seq.empty,
      (s, dir, _) => Bronze.customers(s, dir)),
    Model("bronze_orders", "bronze", View, Seq.empty,
      (s, dir, _) => Bronze.orders(s, dir)),
    Model("bronze_payments", "bronze", View, Seq.empty,
      (s, dir, _) => Bronze.payments(s, dir)),
    Model("silver_customers", "silver", Table, Seq("bronze_customers"),
      (_, _, up) => Silver.customersFrom(up("bronze_customers")),
      declaredSchema = declaredSchemas.get("silver_customers")),
    // silver fact tables co-bucketed on order_key: the gold
    // payments⋈orders joins (J3/J5) then run shuffle-free under a
    // bucketing-aware sink (the bucketing IS the shuffle, paid at write)
    Model("silver_orders", "silver", Table, Seq("bronze_orders", "silver_customers"),
      (_, _, up) => Silver.ordersFrom(up("bronze_orders"), up("silver_customers")),
      TableLayout(bucketBy = Some((8, Seq("order_key"))), sortBy = Seq("order_key")),
      declaredSchema = declaredSchemas.get("silver_orders")),
    Model("silver_payments", "silver", Table, Seq("bronze_payments", "silver_orders"),
      (_, _, up) => Silver.paymentsFrom(up("bronze_payments"), up("silver_orders")),
      TableLayout(bucketBy = Some((8, Seq("order_key"))), sortBy = Seq("order_key")),
      declaredSchema = declaredSchemas.get("silver_payments")),
    Model("gold_customer_summary", "gold", Table,
      Seq("silver_customers", "silver_orders", "silver_payments"),
      (_, _, up) => Gold.customerSummaryFrom(
        up("silver_customers"), up("silver_orders"), up("silver_payments")),
      declaredSchema = declaredSchemas.get("gold_customer_summary")),
    // date-partitioned marts: downstream year-scoped reads prune whole
    // partition directories instead of scanning the table
    Model("gold_order_metrics", "gold", Table, Seq("silver_orders"),
      (_, _, up) => Gold.orderMetricsFrom(up("silver_orders")),
      TableLayout(partitionBy = Seq("order_year")),
      declaredSchema = declaredSchemas.get("gold_order_metrics")),
    Model("gold_revenue_analysis", "gold", Table,
      Seq("silver_orders", "silver_payments"),
      (_, _, up) => Gold.revenueAnalysisFrom(
        up("silver_orders"), up("silver_payments")),
      TableLayout(partitionBy = Seq("order_year")),
      declaredSchema = declaredSchemas.get("gold_revenue_analysis")))

  /** Kahn topological order; deterministic (stable by declaration order). */
  def topoOrder: Seq[Model] = topoOrderOf(models)

  def topoOrderOf(all: Seq[Model]): Seq[Model] = {
    // Uniqueness is enforced over the ASSEMBLED run set — code-registered
    // + SQL-loaded + snapshot-loaded — not per loader: a snapshot block,
    // SQL model alias, or model name colliding with a code-authored
    // model's relation would otherwise silently overwrite that table at
    // materialize time (each loader's own check can only see itself).
    val dupNames = all.groupBy(_.name).filter(_._2.size > 1).keys
    require(dupNames.isEmpty,
      s"run set contains duplicate model names: ${dupNames.mkString(", ")}")
    // relation uniqueness applies only to models that WRITE a relation —
    // a View never materializes through the sink, so it cannot clobber a
    // same-named table
    val dupRels = all.filter(_.materialization != View)
      .groupBy(m => (m.layer, m.tableName))
      .filter(_._2.size > 1)
    require(dupRels.isEmpty,
      "run set materializes the same relation twice: " +
        dupRels.map { case ((layer, t), ms) =>
          s"'$layer.$t' (${ms.map(_.name).mkString(", ")})" }.mkString("; "))
    val byName = all.map(m => m.name -> m).toMap
    val resolved = scala.collection.mutable.LinkedHashSet.empty[String]
    def visit(n: String, path: Set[String]): Unit = {
      require(!path.contains(n), s"cycle at $n")
      if (!resolved.contains(n)) {
        byName(n).deps.foreach(visit(_, path + n))
        resolved += n
      }
    }
    all.foreach(m => visit(m.name, Set.empty))
    resolved.toSeq.map(byName)
  }

  /** Logical fingerprint per model: md5 of the canonicalized analyzed
    * plan of the model's build over `sourceDir`, with the whole DAG
    * chained lazily (planning only — no job runs). The exprId-normalized
    * canonical form is stable across sessions for unchanged code, and any
    * change to a model's transform (or to an upstream it inlines) changes
    * its fingerprint — the engine's analogue of dbt's manifest checksums,
    * which hash the SQL text. Upstream inlining means an edited silver
    * model marks its gold descendants modified too, matching dbt's
    * `state:modified+` idiom without needing the `+`; `state:modified`
    * alone therefore over-selects relative to dbt (descendants included),
    * which errs toward rebuilding — the safe direction. */
  def manifest(spark: SparkSession, sourceDir: String,
      all: Seq[Model] = models): Map[String, String] = {
    val acc = scala.collection.mutable.Map.empty[String, DataFrame]
    topoOrderOf(all).foreach(m => acc(m.name) = m.build(spark, sourceDir, acc.toMap))
    // source paths are scrubbed from the canonical form so a manifest
    // written over one environment's data directory compares cleanly in
    // another (dbt's checksums hash SQL text, which is path-free; without
    // this, prod-manifest-vs-dev-target — the defer workflow — would mark
    // every model modified)
    val scrub = java.util.regex.Pattern.quote(
      sourceDir.stripSuffix("/"))
    acc.map { case (n, df) =>
      val canon = df.queryExecution.analyzed.canonicalized.toString
        .replaceAll(s"file:$scrub", "<src>")
        .replaceAll(scrub, "<src>")
      n -> java.security.MessageDigest.getInstance("MD5")
        .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }.toMap
  }

  private val ManifestFile = "graft_manifest.json"

  /** Persist the current manifest as the state artifact a later run's
    * `state:modified` compares against (dbt: `target/manifest.json`). */
  def writeManifest(spark: SparkSession, sourceDir: String, stateDir: String,
      all: Seq[Model] = models): Unit = {
    val json = manifest(spark, sourceDir, all).toSeq.sortBy(_._1)
      .map { case (k, v) => s"""  "$k": "$v"""" }.mkString("{\n", ",\n", "\n}\n")
    val p = java.nio.file.Paths.get(stateDir)
    java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.write(p.resolve(ManifestFile), json.getBytes("UTF-8"))
  }

  /** Read a previous run's manifest (empty if the artifact is absent —
    * every model then counts as new, hence modified). */
  def readManifest(stateDir: String): Map[String, String] = {
    val f = java.nio.file.Paths.get(stateDir).resolve(ManifestFile)
    if (!java.nio.file.Files.exists(f)) Map.empty
    else """"([^"]+)":\s*"([^"]+)"""".r
      .findAllMatchIn(new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Models whose fingerprint differs from (or is absent in) the state
    * manifest — dbt `state:modified` (new models included). */
  def modifiedSince(spark: SparkSession, sourceDir: String,
      state: Map[String, String], all: Seq[Model] = models): Set[String] =
    manifest(spark, sourceDir, all).collect {
      case (n, fp) if !state.get(n).contains(fp) => n
    }.toSet

  /** dbt node-selection graph operators (`dbt run --select`): `m` selects
    * the model alone, `m+` adds its transitive descendants, `+m` its
    * transitive ancestors, `+m+` both; multiple space- or comma-separated
    * selectors union. */
  def selectClosure(selector: String, all: Seq[Model] = models,
      stateModified: Option[Set[String]] = None,
      stateNew: Option[Set[String]] = None): Set[String] = {
    val byName = all.map(m => m.name -> m).toMap
    val children = all.flatMap(m => m.deps.map(_ -> m.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def walk(start: String, next: String => Seq[String]): Set[String] = {
      val seen = scala.collection.mutable.Set(start)
      val stack = scala.collection.mutable.Stack(start)
      while (stack.nonEmpty)
        next(stack.pop()).foreach(n => if (seen.add(n)) stack.push(n))
      seen.toSet
    }
    // selector methods (dbt: name, tag:, path:) resolve a token core to
    // the models it names; graph operators +m/m+ then expand per model
    def resolve(core: String): Seq[String] =
      if (core == "state:modified") {
        require(stateModified.isDefined,
          "state:modified requires a state manifest (run with state=<dir>)")
        stateModified.get.toSeq.filter(byName.contains)
      } else if (core == "state:new") {
        // dbt `state:new`: models absent from the prior manifest — the
        // "what did this PR add" selector (state:modified includes these
        // too; state:new isolates them)
        require(stateNew.isDefined,
          "state:new requires a state manifest (run with state=<dir>)")
        stateNew.get.toSeq.filter(byName.contains)
      } else if (core.startsWith("tag:")) {
        val t = core.stripPrefix("tag:")
        val hits = all.filter(_.effectiveTags.contains(t)).map(_.name)
        require(hits.nonEmpty, s"no models carry tag '$t'")
        hits
      } else if (core.startsWith("path:")) {
        val p = core.stripPrefix("path:").stripSuffix("/")
        val hits = all.filter(m => m.path == p || m.path.startsWith(p + "/") ||
          m.layer == p).map(_.name)
        require(hits.nonEmpty, s"no models under path '$p'")
        hits
      } else {
        require(byName.contains(core), s"unknown model in selector: $core")
        Seq(core)
      }
    selector.trim.split("[ ,]+").filter(_.nonEmpty).flatMap { tok =>
      val core = tok.stripPrefix("+").stripSuffix("+")
      resolve(core).flatMap { name =>
        (if (tok.startsWith("+")) walk(name, byName(_).deps) else Set(name)) ++
          (if (tok.endsWith("+")) walk(name, children.getOrElse(_, Seq.empty))
           else Set(name))
      }
    }.toSet
  }

  /** Materialize the whole DAG from `sourceDir` testdata into
    * `warehouseDir` as path-routed parquet ([[ParquetSink]]). */
  def run(spark: SparkSession, sourceDir: String, warehouseDir: String): Map[String, DataFrame] =
    run(spark, sourceDir, new ParquetSink(warehouseDir))

  /** Materialize the DAG through `sink`, dependency-wave parallel (dbt
    * `threads`). Returns each touched model's post-materialization
    * DataFrame (for Table models: a reader over the stored table).
    *
    * `select` narrows the run with dbt graph operators
    * ([[selectClosure]]); unselected models that the selection depends on
    * are *provided*, not rebuilt — views build lazily (they are free
    * until an action), table-shaped models read back from the sink, which
    * is how dbt resolves `ref()` against current warehouse state.
    * `fullRefresh` forces incremental/snapshot models to rebuild from
    * scratch (dbt `--full-refresh`); `asOf` is the run instant snapshots
    * stamp versions with (pinned [[graft.model.Clock]] by default). */
  def run(spark: SparkSession, sourceDir: String, sink: TableSink,
      threads: Int = 4, all: Seq[Model] = models,
      select: Option[String] = None, exclude: Option[String] = None,
      fullRefresh: Boolean = false,
      asOf: org.apache.spark.sql.Column = graft.model.Clock.now,
      registerViews: Boolean = true,
      state: Option[String] = None,
      deferTo: Option[TableSink] = None): Map[String, DataFrame] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // dbt compiles the whole project before any model runs: a custom test
    // name with no matching macro fails HERE on every run, not on the
    // first dq evaluation that happens to force the rendered test SQL
    graft.quality.DataQuality.validateTestNames()
    val ordered = topoOrderOf(all)
    // dbt --state: resolve state:modified selectors against the previous
    // run's manifest (fingerprints compared by [[modifiedSince]]) — but
    // only pay the full-DAG plan-fingerprint pass when a selector
    // actually uses it
    val selectors = select.toSeq ++ exclude.toSeq
    val modified: Option[Set[String]] =
      if (selectors.exists(_.contains("state:modified")))
        state.map(d => modifiedSince(spark, sourceDir, readManifest(d), all))
      else None
    // state:new needs only the prior manifest's NAME SET (no
    // fingerprinting pass): a model is new when the old manifest has no
    // entry for it at all
    val fresh: Option[Set[String]] =
      if (selectors.exists(_.contains("state:new")))
        state.map { d =>
          val prior = readManifest(d).keySet
          all.map(_.name).filterNot(prior).toSet
        }
      else None
    // dbt semantics: --exclude removes its graph closure from whatever
    // --select picked (or from everything)
    val selected: Set[String] =
      select.map(selectClosure(_, all, modified, fresh))
        .getOrElse(ordered.map(_.name).toSet) --
        exclude.map(selectClosure(_, all, modified, fresh)).getOrElse(Set.empty)
    // the provided (read-only) frontier: transitive deps of the selection
    val byName = all.map(m => m.name -> m).toMap
    val needed = scala.collection.mutable.Set.empty[String]
    def visitDeps(n: String): Unit =
      byName(n).deps.foreach(d => if (needed.add(d)) visitDeps(d))
    selected.foreach(visitDeps)
    val touched = ordered.filter(m => selected(m.name) || needed(m.name))
    // wave = longest dependency path length; every dep lands in an earlier
    // wave, so models within a wave are independent of each other
    val wave = scala.collection.mutable.Map.empty[String, Int]
    ordered.foreach(m => wave(m.name) = (m.deps.map(wave) :+ -1).max + 1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val acc = scala.collection.mutable.Map.empty[String, DataFrame]
      touched.groupBy(m => wave(m.name)).toSeq.sortBy(_._1).foreach { case (_, ms) =>
        val upstream = acc.toMap
        val batch = Future.sequence(ms.map(m => Future {
          m.name -> (if (selected(m.name))
            materialize(spark, m, sourceDir, sink, upstream, fullRefresh,
              asOf, registerViews)
          else provide(spark, m, sourceDir, sink, upstream, registerViews,
            deferTo))
        }))
        Await.result(batch, Duration.Inf).foreach { case (n, df) => acc(n) = df }
      }
      acc.toMap
    } finally pool.shutdown()
  }

  /** Reserved upstream-map key under which [[materialize]] hands an
    * incremental/snapshot model's build its CURRENT target table (absent
    * on the first run / full refresh) — dbt's `{{ this }}`: the relation
    * being built, resolvable inside `is_incremental()` blocks for
    * high-water-mark subqueries. Code-authored builds may read it too;
    * view/table builds never receive it (their output replaces the
    * target wholesale, so self-reference would be a cycle). */
  val ThisKey = "this"

  private def materialize(spark: SparkSession, m: Model, sourceDir: String,
      sink: TableSink, upstream: Map[String, DataFrame], fullRefresh: Boolean,
      asOf: org.apache.spark.sql.Column,
      registerViews: Boolean): DataFrame = graft.model.Stage.scoped {
    // incremental runs see their current target under ThisKey (dbt
    // renders is_incremental()=true and resolves {{ this }} exactly when
    // the relation exists and --full-refresh is off; snapshots are
    // full-refresh-exempt, like the snapshot branch below)
    val incrementalRun = m.materialization match {
      case _: Incremental => !fullRefresh && sink.exists(spark, m.layer, m.tableName)
      case _: Snapshot => sink.exists(spark, m.layer, m.tableName)
      case _ => false
    }
    // dbt pre-hooks: run before the build; {{ this }} (rendered to the
    // per-model view name) resolves to the CURRENT target when one
    // exists — the delete-stale-rows / audit-start idioms
    if (m.preHooks.nonEmpty) {
      if (sink.exists(spark, m.layer, m.tableName))
        sink.read(spark, m.layer, m.tableName)
          .createOrReplaceTempView(SqlModels.thisView(m.name))
      m.preHooks.foreach(spark.sql(_))
    }
    val df = m.build(spark, sourceDir,
      if (incrementalRun)
        upstream + (ThisKey -> sink.read(spark, m.layer, m.tableName))
      else upstream)
    assertDeclaredSchema(m, df)
    def firstRun = fullRefresh || !sink.exists(spark, m.layer, m.tableName)
    val materialized = m.materialization match {
      case View => df
      case Table => sink.overwrite(spark, m.layer, m.tableName, df, m.layout)
      case inc: Incremental =>
        import graft.pipeline.{Incremental => I}
        // insert_overwrite declares its partition columns; if the model's
        // layout doesn't partition, adopt them so the first-run table is
        // laid out in the directories later partition-overwrites target
        val layout = inc.strategy match {
          case IncStrategy.InsertOverwrite(parts) if m.layout.partitionBy.isEmpty =>
            m.layout.copy(partitionBy = parts)
          case _: IncStrategy.Microbatch if m.layout.partitionBy.isEmpty =>
            m.layout.copy(partitionBy = Seq(MicrobatchCol))
          case _ => m.layout
        }
        // microbatch: stamp each row's event-time period and bound the
        // history at `begin` — on both the first full build and every
        // refresh batch, so the table is uniformly period-partitioned
        val stamped = inc.strategy match {
          case mb: IncStrategy.Microbatch =>
            import org.apache.spark.sql.functions.{col => c, lit => l, to_date}
            val withPeriod = df.withColumn(MicrobatchCol,
              I.periodOf(c(mb.eventTime), mb.batchSize))
            mb.begin.fold(withPeriod)(b =>
              withPeriod.filter(c(MicrobatchCol) >= to_date(l(b))))
          case _ => df
        }
        if (firstRun) sink.overwrite(spark, m.layer, m.tableName, stamped, layout)
        else inc.strategy match {
          case mb: IncStrategy.Microbatch =>
            import org.apache.spark.sql.functions.{col => c, max => fmax, lit => flit}
            val target = sink.read(spark, m.layer, m.tableName)
            val maxB = target.agg(fmax(c(MicrobatchCol))).head().get(0)
            val batch =
              if (maxB == null) stamped
              else stamped.filter(c(MicrobatchCol) >=
                I.periodsBack(flit(maxB), mb.lookback, mb.batchSize))
            // the logical transform (Incremental.microbatchRefresh)
            // REPLACES every window period >= start; dynamic overwrite
            // only replaces periods the batch carries, so a window
            // period whose recompute came back EMPTY must be dropped
            // explicitly or it silently survives. The batch is PINNED
            // ([[graft.model.Stage.pin]]) before anything reads it twice: the
            // stale-set derivation and the partition write MUST see the
            // same rows — re-evaluating a nondeterministic or
            // moved-underneath source between the two jobs could
            // otherwise drop a freshly written period — and the window-
            // bounded batch is the cheap thing to materialize. The stale
            // set itself (target periods >= start absent from the batch)
            // is lookback-bounded, collected tiny.
            val aligned = graft.model.Stage.pin(
              I.align(target, batch, inc.onSchemaChange))
            val stale =
              if (maxB == null) Seq.empty[Any]
              else target
                .filter(c(MicrobatchCol) >=
                  I.periodsBack(flit(maxB), mb.lookback, mb.batchSize))
                .select(c(MicrobatchCol)).distinct()
                .join(aligned.select(c(MicrobatchCol)).distinct(),
                  Seq(MicrobatchCol), "left_anti")
                .collect().map(_.get(0)).toSeq
            val out = sink.overwritePartitions(spark, m.layer, m.tableName,
              aligned, Seq(MicrobatchCol), layout)
            if (stale.nonEmpty) {
              sink.dropPartitions(spark, m.layer, m.tableName,
                MicrobatchCol, stale)
              sink.read(spark, m.layer, m.tableName)
            } else out
          case IncStrategy.DeleteInsert(keys) =>
            sink.deleteInsert(spark, m.layer, m.tableName, df, keys, layout,
              inc.onSchemaChange)
          case IncStrategy.InsertOverwrite(parts) =>
            inc.onSchemaChange match {
              case I.Ignore | I.FailOnChange =>
                // schema unchanged by policy → only the touched
                // partitions' files are written
                sink.overwritePartitions(spark, m.layer, m.tableName,
                  I.align(sink.read(spark, m.layer, m.tableName), df,
                    inc.onSchemaChange), parts, layout)
              case widening =>
                // a policy that CHANGES the table schema can't land as a
                // partition-scoped write (untouched partitions must widen
                // too) → logical transform + rewrite; lakehouse formats
                // would ALTER first and keep the partition-scoped write
                sink.overwrite(spark, m.layer, m.tableName,
                  I.insertOverwrite(sink.read(spark, m.layer, m.tableName), df,
                    parts, widening), layout)
            }
          case IncStrategy.Auto =>
            autoIncremental(spark, m, inc, df, layout, sink)
        }
      case snap: Snapshot =>
        // SCD2 advance rewrites via overwrite here; on a lakehouse format
        // the same transform lands as a MERGE on (key, _valid_from).
        // Snapshots are EXEMPT from fullRefresh, exactly like dbt's
        // --full-refresh: closed-version history is irrecoverable, so a
        // refresh flag must never re-init an existing snapshot.
        val next =
          if (!sink.exists(spark, m.layer, m.tableName))
            graft.pipeline.Incremental.Scd2.init(df, asOf)
          else {
            val advanced = snap.updatedAt match {
              case Some(at) => graft.pipeline.Incremental.Scd2.advanceTimestamp(
                sink.read(spark, m.layer, m.tableName), df, snap.key, at, asOf)
              case None => graft.pipeline.Incremental.Scd2.advance(
                sink.read(spark, m.layer, m.tableName), df, snap.key, snap.checkCols, asOf)
            }
            // vanished-key invalidation only applies to advances: a first
            // run has no prior current set to close
            if (snap.invalidateHardDeletes)
              graft.pipeline.Incremental.Scd2.invalidateHardDeletes(
                advanced, df, snap.key, asOf)
            else advanced
          }
        sink.overwrite(spark, m.layer, m.tableName, next, m.layout)
    }
    // dbt post-hooks: run after materialization with {{ this }} bound to
    // the landed result — the ANALYZE / GRANT / audit-insert idioms
    if (m.postHooks.nonEmpty) {
      materialized.createOrReplaceTempView(SqlModels.thisView(m.name))
      m.postHooks.foreach(spark.sql(_))
    }
    // the temp view is a SQL-access courtesy, not the dataflow (builds
    // receive upstream DataFrames directly): session-global names, so two
    // concurrent run()s in one session should disable registration on one
    if (registerViews) materialized.createOrReplaceTempView(m.name)
    materialized
  }

  /** [[IncStrategy.Auto]] non-first-run routing — the original per-config
    * choice: merge when `uniqueKey` is declared, high-water-mark append
    * otherwise. */
  private def autoIncremental(spark: SparkSession, m: Model, inc: Incremental,
      df: DataFrame, layout: TableLayout, sink: TableSink): DataFrame = {
    import graft.pipeline.{Incremental => I}
    (inc.uniqueKey, inc.onSchemaChange) match {
      // every keyed policy routes through the sink's merge, which owns
      // the drift contract: Ignore projects to the target schema,
      // AppendNewColumns widens (ALTER TABLE on MERGE-capable formats,
      // a rewriting union on the parquet fallback), FailOnChange
      // rejects — so a lakehouse sink never pays a rewrite for what
      // its format does as a metadata operation
      case (Some(k), policy) =>
        sink.merge(spark, m.layer, m.tableName, df, k, layout, policy,
          inc.predicates)
      case (None, policy) =>
        val target = sink.read(spark, m.layer, m.tableName)
        val fresh = I.freshRows(target, df, inc.watermarkCol)
        policy match {
          case I.AppendNewColumns
              if fresh.columns.toSet != target.columns.toSet =>
            sink.overwrite(spark, m.layer, m.tableName,
              target.unionByName(fresh, allowMissingColumns = true), layout)
          case I.SyncAllColumns
              if fresh.columns.toSet != target.columns.toSet =>
            // the incoming schema becomes the contract — a column-set
            // change reshapes stored rows too, which is a rewrite here
            // (metadata-only ALTERs on lakehouse formats)
            sink.overwrite(spark, m.layer, m.tableName,
              I.syncTarget(target, fresh).unionByName(fresh), layout)
          case _ =>
            // equal column SETS may still differ in order — project to
            // the target's order so appended files match the table
            // layout (SyncAllColumns ≡ Ignore when the sets are equal)
            val p = if (policy == I.SyncAllColumns) I.Ignore else policy
            sink.append(spark, m.layer, m.tableName,
              I.align(target, fresh, p), layout)
        }
    }
  }

  /** dbt resolves `ref()` to an unselected model against current warehouse
    * state; views have no stored state, so they rebuild lazily (free until
    * an action pulls on them). */
  private def provide(spark: SparkSession, m: Model, sourceDir: String,
      sink: TableSink, upstream: Map[String, DataFrame],
      registerViews: Boolean,
      deferTo: Option[TableSink] = None): DataFrame = {
    val df = m.materialization match {
      case View => m.build(spark, sourceDir, upstream)
      case _ =>
        // dbt --defer: an upstream the selection didn't build resolves to
        // the local warehouse when present, else to the deferred (prod)
        // environment — so a dev run of one model needs nothing else built
        if (sink.exists(spark, m.layer, m.tableName))
          sink.read(spark, m.layer, m.tableName)
        else deferTo match {
          case Some(d) if d.exists(spark, m.layer, m.tableName) =>
            d.read(spark, m.layer, m.tableName)
          case _ => throw new IllegalArgumentException(
            s"${m.name} is upstream of the selection but not materialized " +
              "locally" + (if (deferTo.isDefined) " nor in the deferred state"
              else "") + "; include it in the selector, run it first, or defer")
        }
    }
    if (registerViews) df.createOrReplaceTempView(m.name)
    df
  }

  /** Declared-schema gate: a model with a declared column contract must
    * build exactly those (name, type) pairs in order — a refactor that
    * renames or retypes a column fails here, before any oracle sees it.
    * Nullability is excluded: it is inference detail, not contract. */
  private[graft] def assertDeclaredSchema(m: Model, df: DataFrame): Unit =
    m.declaredSchema.foreach { declared =>
      val actual = df.schema.map(f => f.name -> f.dataType.simpleString)
      require(actual == declared,
        s"schema drift in ${m.name}:\n  declared: $declared\n  actual:   $actual")
    }

  /** `dbt docs generate`-style lineage artifact: the model DAG as
    * GraphViz DOT — materialization as node shape, declared column count
    * in the label, one edge per `ref()`. Render with `dot -Tsvg`. */
  def lineageDot(all: Seq[Model] = models): String = {
    val nodes = topoOrderOf(all).map { m =>
      val shape = m.materialization match {
        case View => "ellipse"
        case Table => "box"
        case _: Incremental => "box3d"
        case _: Snapshot => "cylinder"
      }
      val cols = m.declaredSchema.map(s => s"\\n${s.size} cols").getOrElse("")
      s"""  "${m.name}" [shape=$shape, label="${m.name}\\n${m.layer}$cols"];"""
    }
    val edges = all.flatMap(m => m.deps.map(d => s"""  "$d" -> "${m.name}";"""))
    (Seq("digraph graft {", "  rankdir=LR;") ++ nodes ++ edges :+ "}")
      .mkString("\n")
  }

  /** `dbt source freshness` over the raw sources (SURVEY.md §3.3);
    * thresholds come from the loaded schema YAML's freshness block. */
  def sourceFreshness(spark: SparkSession, sourceDir: String): Map[String, String] = Map(
    "raw_orders" -> graft.quality.Checks.freshness(
      RawSources.rawOrders(spark, sourceDir), "_loaded_at", graft.model.Clock.now,
      graft.quality.DataQuality.freshnessWarnHours,
      graft.quality.DataQuality.freshnessErrorHours))
}
