package graft.quality

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.BuildCache

/** Build-once, fingerprint-keyed columnar stage for the silver trio the
  * dq rows share.
  *
  * `dq_summary`, `dq_statuses`, and `dq_failures` each need the three
  * silver tables, and [[DataQuality.summary]] previously re-derived and
  * re-pinned them PER CALL — at the 100× replica that is the dominant dq
  * cost (the silver chains: two joins plus the full-width projections)
  * paid three times per suite. The trio is deterministic given the raw
  * inputs (injectable [[graft.model.Clock]], md5 surrogate keys — no
  * wall-clock, no sampling), so it is a [[BuildCache]] entry: built ONCE
  * per content fingerprint of the raw tables it derives from
  * (`customer.parquet` + `orders.parquet` — every
  * raw_customers/orders/payments column is a function of those two),
  * committed by one staged rename (concurrent cold builds
  * last-writer-lose), and served to every later dq evaluation as a
  * pruned scan of the staged files. Unlike the steady-state dedup store the
  * staged trio is IMMUTABLE after commit, so cross-process sharing is
  * safe — a Verify and a Bench run against the same corpus share one
  * build.
  *
  * The staged layout serves the CHECKS, not just the values: each table
  * is written bucketed by the key the dq family probes ([[BucketKeys]]),
  * so the `unique` fold needs no key-wide exchange and the
  * payments→orders `relationships` anti-join — the dq suite's dominant
  * remaining shuffle at 100× once the silver build itself is amortized —
  * joins bucket-aligned with zero exchanges (PlanSpec pins both).
  * Bucketing is paid once at build by the processes' shared cold build
  * and amortized over every check of every dq row afterwards.
  *
  * The staged frames are pure parquet relations: one evaluation per
  * layer (the staged orders were WRITTEN reading the staged customers),
  * per-branch column pruning, and [[FooterStats]] eligibility (the footer
  * fast path answers its checks from the staged files' statistics).
  */
object SilverStage {

  /** Conf key of the trio cache root ([[BuildCache.DqSilver]]). */
  val RootKey: String = BuildCache.DqSilver.key

  /** Hand-bumped version component of the cache key — kept for recipe
    * changes the plan hash below cannot see (the staged WRITE layout,
    * the bottom-up build order). Semantic changes are covered
    * automatically by [[recipeHash]]. */
  private val Version = "v2"

  /** Code-identity component of the cache key: the
    * [[BuildCache.planHash]] of the trio's plans, composed lazily over
    * the raw inputs — analysis only, never a job. A change to
    * Silver/Bronze/RawSources semantics (or the Clock pins) moves the
    * key, so a trio built by old code is never served. */
  private[graft] def recipeHash(spark: SparkSession, dir: String): String =
    BuildCache.recipe(s"dq_trio|$dir") {
      val sc = graft.silver.Silver.customersFrom(
        graft.bronze.Bronze.customers(spark, dir))
      val so = graft.silver.Silver.ordersFrom(
        graft.bronze.Bronze.orders(spark, dir), sc)
      val sp = graft.silver.Silver.paymentsFrom(
        graft.bronze.Bronze.payments(spark, dir), so)
      BuildCache.planHash(Seq(sc, so, sp))
    }

  /** Cold trio builds that WON the commit race, JVM-wide — test-visible
    * proof that repeated dq evaluations reuse the staged trio. */
  val builds = new AtomicLong(0L)

  val TableNames: Seq[String] =
    Seq("silver_customers", "silver_orders", "silver_payments")

  /** Conf key: buckets per staged trio table (a positive count); UNSET
    * derives the count from input scale ([[derivedBuckets]]). The trio
    * is immutable and probed by a FIXED check family, so its layout can
    * serve the checks: CLUSTERED BY the checked key, uniqueness folds
    * per-bucket without an exchange and the payments→orders
    * `relationships` anti-join — the one fact-fact join in the dq suite,
    * its dominant remaining shuffle at 100× — runs bucket-aligned with
    * ZERO exchanges on either side. The bucket count folds into the
    * cache key (a process configured differently builds its own trio
    * rather than misreading another layout's files). */
  val BucketsKey = "spark.graft.dq.silver.buckets"

  /** Raw input bytes per derived bucket. 16 MiB reproduces round-14's
    * measured 100× configuration (~300 MB of raw facts → 32 buckets,
    * the layout whose serve won −11%) while letting small corpora fall
    * to a near-free single bucket — the fixed 32 taxed sf0.1 by
    * ~1.4–1.9 s of pure file/task overhead it could never repay. */
  private[quality] val TargetBucketBytes = 16L << 20

  /** Derived-count ceiling — conf overrides for fleets beyond it. */
  private[quality] val MaxDerivedBuckets = 4096

  def buckets(spark: SparkSession, dir: String): Int =
    spark.conf.getOption(BucketsKey) match {
      // fail-loud parse: a malformed count silently replaced by a
      // default would change the physical layout (and the cache key)
      // under the operator — see graft.model.Conf's policy split
      case Some(raw) =>
        val n = graft.model.Conf.int(spark, BucketsKey, 0)
        require(n > 0, s"$BucketsKey must be a positive bucket count, got '$raw'")
        n
      case None => derivedBuckets(spark, dir)
    }

  /** Bucket count from input scale: `nextPow2(ceil(bytes / target))`
    * clamped to [1, [[MaxDerivedBuckets]]], over the SAME two raw tables
    * the trio key fingerprints — metadata-only (a content-summary walk,
    * the cost class the fingerprint already pays), deterministic per
    * corpus, and folded into the layout token like any explicit count.
    * This removes both ends of the fixed-count mismatch: a laptop-sized
    * corpus no longer pays fleet-shaped file/task overhead, and a
    * 1000-executor corpus no longer needs an operator to remember the
    * conf before the layout under-parallelizes. */
  private[quality] def derivedBuckets(spark: SparkSession,
      dir: String): Int = {
    val bytes = Seq("customer.parquet", "orders.parquet").map { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t")
      p.getFileSystem(spark.sessionState.newHadoopConf())
        .getContentSummary(p).getLength
    }.sum
    val raw = math.max(1L, (bytes + TargetBucketBytes - 1) / TargetBucketBytes)
    val pow = java.lang.Long.highestOneBit(raw)
    val rounded = if (pow == raw) raw else pow << 1
    math.min(MaxDerivedBuckets.toLong, rounded).toInt
  }

  /** Bucket key per trio table — the column the dq family probes.
    * payments clusters by its FK (order_key, serving the fact-fact
    * relationships join) rather than its unique key: the FK check
    * shuffles BOTH fact sides when unaligned, while payment_key's
    * uniqueness costs one single-column shuffle — the cheaper residual. */
  private[quality] val BucketKeys: Map[String, String] = Map(
    "silver_customers" -> "customer_key",
    "silver_orders" -> "order_key",
    "silver_payments" -> "order_key")

  /** Always true: the staged trio is the only dq path. Kept because the
    * frozen driver main `graft.Bench` asks it before timing the build. */
  def enabled(spark: SparkSession): Boolean = true

  /** Layout token folded into the cache key: bucket COUNT and the
    * bucket KEY COLUMNS. The key columns matter as much as the count —
    * a future [[BucketKeys]] edit without a hand [[Version]] bump would
    * otherwise re-declare old files (physically hashed by the OLD key)
    * as clustered by the new one, and the exchange-free unique fold
    * would silently trust a per-bucket grouping the files don't have. */
  private def layoutToken(spark: SparkSession, dir: String): String = {
    val keys = TableNames.map(BucketKeys).mkString(",")
    s"b${buckets(spark, dir)}k${BuildCache.md5(keys).take(6)}"
  }

  private[quality] def trioRoot(spark: SparkSession, dir: String): String = {
    val fp = BuildCache.fingerprint(spark, dir, "customer.parquet").take(16) +
      BuildCache.fingerprint(spark, dir, "orders.parquet").take(16)
    s"${BuildCache.DqSilver(spark)}/trio_${Version}r${recipeHash(spark, dir)}" +
      s"${layoutToken(spark, dir)}_$fp"
  }

  /** The staged trio for `dir`'s raw tables, building it first if no
    * committed build exists: name → catalog-registered bucketed table
    * over the staged files (the bucket-aligned plans need the catalog's
    * layout metadata; a bare path read would discard it). */
  def tables(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val root = ensure(spark, dir)
    val n = buckets(spark, dir)
    TableNames.map(name =>
      name -> bucketedTable(spark, s"$root/$name", name, n)).toMap
  }

  /** The staged table at `loc` served THROUGH the session catalog so the
    * planner sees its bucketing (`HashPartitioning(key, n)` on the scan).
    * Spark attaches bucket metadata only to catalog tables, so each trio
    * table is registered once per session as an EXTERNAL table over the
    * committed files — named by a hash of its location (one entry per
    * trio generation; IF NOT EXISTS absorbs races and repeat calls). */
  private def bucketedTable(spark: SparkSession, loc: String,
      name: String, n: Int): DataFrame = {
    val key = BucketKeys(name)
    val tbl = s"graft_dq_trio_${BuildCache.md5(loc).take(12)}_$name"
    if (!spark.catalog.tableExists(tbl)) {
      val schema = spark.read.parquet(loc).schema.toDDL
      // the location is conf-derived (the cache root): escape single quotes
      // before interpolating into the DDL string literal, or a quote in
      // the configured root breaks the statement (robustness, not
      // security — the conf is operator-controlled)
      val locSql = loc.replace("'", "\\'")
      spark.sql(s"CREATE TABLE IF NOT EXISTS `$tbl` ($schema) " +
        s"USING PARQUET CLUSTERED BY ($key) SORTED BY ($key) " +
        s"INTO $n BUCKETS LOCATION '$locSql'")
    }
    // ALWAYS drop cached resolutions for this path before serving: the
    // trio location is deterministic, so a vacuumed-then-rebuilt trio
    // lands at the SAME root with fresh part-file names — a session
    // that registered the table before the vacuum would otherwise serve
    // a cached file listing of deleted files (FileNotFoundException on
    // scan). Cache invalidation only; the re-listing it forces is the
    // same metadata cost the first scan of any query pays.
    spark.catalog.refreshByPath(loc)
    spark.table(tbl)
  }

  /** Write one staged table bucketed by its checked key (`bucketBy`
    * requires the catalog writer, so the table routes through a
    * transient EXTERNAL name at the staging path and is dropped
    * immediately — the files stay, the commit rename moves them into
    * place like any other build). */
  private def writeStaged(spark: SparkSession, df: DataFrame,
      path: String, name: String, n: Int): Unit = {
    val key = BucketKeys(name)
    val tmp = "graft_dq_stage_" +
      java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    df.write.format("parquet").bucketBy(n, key).sortBy(key)
      .option("path", path).saveAsTable(tmp)
    spark.sql(s"DROP TABLE `$tmp`")
  }

  /** [[graft.silver.Silver.payments]] through the staged trio — the
    * `dq_failures` row reads only payments, but the build is the shared
    * trio (that sharing is the point: the next dq row's silver work is
    * already on disk). */
  def payments(spark: SparkSession, dir: String): DataFrame =
    tables(spark, dir)("silver_payments")

  /** Build-if-absent; returns the committed trio root. */
  private def ensure(spark: SparkSession, dir: String): String = {
    val root = trioRoot(spark, dir)
    if (BuildCache.build(spark, BuildCache.DqSilver(spark), root)(
        writeTrio(spark, dir, _)))
      builds.incrementAndGet()
    root
  }

  /** Write the trio under `staging`, bottom-up, each layer READ BACK from
    * its staged files before the next derives from it: one evaluation
    * per layer, once per corpus. */
  private def writeTrio(spark: SparkSession, dir: String,
      staging: String): Unit = {
    // one derivation for the whole build: the layout the commit lands
    // must be the layout the key (and the serve path) computed
    val n = buckets(spark, dir)
    val sc = graft.silver.Silver.customersFrom(
      graft.bronze.Bronze.customers(spark, dir))
    writeStaged(spark, sc, s"$staging/silver_customers", "silver_customers", n)
    val scStaged = spark.read.parquet(s"$staging/silver_customers")
    val so = graft.silver.Silver.ordersFrom(
      graft.bronze.Bronze.orders(spark, dir), scStaged)
    writeStaged(spark, so, s"$staging/silver_orders", "silver_orders", n)
    val soStaged = spark.read.parquet(s"$staging/silver_orders")
    val sp = graft.silver.Silver.paymentsFrom(
      graft.bronze.Bronze.payments(spark, dir), soStaged)
    writeStaged(spark, sp, s"$staging/silver_payments", "silver_payments", n)
  }
}
