package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pluggable materialization seam for the engine's lineage-truncation /
  * layout-pin points — every place an operator must freeze ONE evaluation
  * of a subplan before reading it twice ([[graft.ops.RangeRank]]'s range
  * stage, the BPE / connected-components / MMR iteration loops, the
  * microbatch batch pin).
  *
  * Two backends, chosen per session by the runtime conf [[DirKey]]:
  *
  *   - **Unset (default, local/bench):** `localCheckpoint()` — blocks
  *     pinned in executor storage. Cheapest (no serialization to a shared
  *     filesystem), but NOT fault-tolerant: on a real cluster an executor
  *     loss discards blocks that were never persisted anywhere else, and
  *     the job aborts loudly (it can never silently recompute a DIFFERENT
  *     evaluation — Spark fails the stage because the blocks are simply
  *     gone). Acceptable for a single-JVM `local[n]` run; not for a
  *     multi-hour 1000-executor rank.
  *   - **`spark.conf.set("spark.graft.stage.dir", <scratch path>)`
  *     (cluster):** each pin writes the frame ONCE as parquet under a
  *     fresh subdirectory of the scratch path (HDFS/object-store in
  *     production) and returns a reader over it. Executor loss during any
  *     downstream stage recomputes from the durable files — the reliable
  *     form the cluster deployment needs — and the pinned bytes live on
  *     the scratch filesystem instead of competing with shuffle/execution
  *     memory on the executors. Columnar + compressed, so downstream
  *     column pruning still applies (a localCheckpoint block is
  *     row-oriented and always deserializes whole rows).
  *
  * Correctness is backend-independent: both forms freeze the frame's ROWS
  * (including nondeterministic columns like `monotonically_increasing_id`
  * and sampled range-exchange boundaries) after one evaluation, which is
  * the only property callers rely on — [[graft.ops.RangeRank]] reads its
  * partition/position ids back as STORED columns, so physical re-read
  * partitioning is free to differ (RangeRankSpec proves bit-identical
  * ranks through both backends).
  *
  * The scratch directory is job-scoped: stage files must outlive every
  * read of the returned frame (the whole action), so nothing here deletes
  * them mid-run — a deployment points [[DirKey]] at a per-run scratch
  * location and recycles the directory between runs ([[clear]] is the
  * explicit form).
  */
object Stage {

  /** Runtime conf key: when set to a non-empty path, [[pin]] stages
    * through durable parquet under it instead of `localCheckpoint`. */
  val DirKey = "spark.graft.stage.dir"

  /** Runtime conf key: `true` records every localCheckpoint-backed pin in
    * the [[livePins]] ledger (creation site captured). Off by default —
    * the ledger exists so the round-12 leak class (a pin whose blocks
    * outlive their last read, squeezing unified memory for every later
    * query in the JVM) fails a SPEC instead of requiring bench
    * archaeology; production runs leave it off and pay nothing. */
  val LedgerKey = "spark.graft.stage.ledger"

  private val counter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Live localCheckpoint pins by RDD id → creation site. Entries are
    * added by [[pin]]/[[pinColumnar]] only when [[LedgerKey]] is `true`,
    * removed by [[unpin]], and IGNORED by [[livePins]] once the RDD is no
    * longer persisted (explicit unpersist or ContextCleaner collection) —
    * the ledger stores ids, never RDD references, so it cannot itself
    * extend a pin's lifetime. */
  private val ledger =
    new java.util.concurrent.ConcurrentHashMap[Int, String]()

  /** Local-fallback stage directories created by [[pinColumnar]] this
    * JVM — tracked so [[clear]] (and the JVM-exit hook) can delete them;
    * without the per-run clear, a long-lived session repeatedly
    * evaluating dq summaries accumulates tmp-disk for the process
    * lifetime. */
  private val localStages =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def scratchDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(DirKey).map(_.trim).filter(_.nonEmpty)
      .map(_.stripSuffix("/"))

  /** This application's OWN subtree of the scratch dir. Stage paths embed
    * `sparkContext.applicationId` — the one identifier the cluster
    * manager guarantees unique per application — precisely because the
    * realistic fleet deployment points MANY concurrent applications at
    * one shared scratch location (`hdfs:///tmp/graft-stage`): a
    * JVM-local discriminator (an identity hash, a counter) is not unique
    * across JVMs and two apps could generate the same path, killing an
    * innocent job on the ErrorIfExists write. The id is assigned once at
    * application start (no per-pin wall clock), so paths stay
    * deterministic within a run. */
  private[model] def appSubtree(dir: String, appId: String): String =
    s"$dir/app-$appId"

  private def stagePath(spark: SparkSession, dir: String): String =
    s"${appSubtree(dir, spark.sparkContext.applicationId)}" +
      s"/stage-${counter.incrementAndGet()}"

  /** Lease marker name under an app subtree — written once at the app's
    * FIRST durable pin, deleted by [[clear]]; [[clearAll]] skips subtrees
    * whose marker is fresh, so an operator sweep cannot delete a live
    * application's stages out from under it. */
  private[model] val LeaseName = "_live"

  /** Conf key: hours after which a `_live` marker no longer protects its
    * subtree from [[clearAll]] — a crashed application's marker must not
    * shield its leftovers forever (the sweep exists for exactly those). */
  val LeaseHoursKey = "spark.graft.stage.lease.hours"
  private val DefaultLeaseHours = 24

  /** The configured lease horizon, defensively parsed: the lease is a
    * SWEEP-SAFETY setting and must never break the pin hot path — a
    * malformed value falls back to the default instead of throwing
    * NumberFormatException out of every `pin`. `0` (or negative) is a
    * legitimate operator intent — "markers never shield subtrees" — and
    * is honored by [[clearAll]] (everything reads stale) and by
    * [[ensureLease]] (no heartbeat is scheduled: there is nothing a
    * marker could buy). */
  private def leaseHours(spark: SparkSession): Int =
    Conf.intLenient(spark, LeaseHoursKey, DefaultLeaseHours)

  /** App subtrees this JVM holds a lease on → the last marker-write
    * time. The marker is REFRESHED two ways: by any pin once it has aged
    * past a quarter of the configured horizon, and by a background
    * HEARTBEAT on the same cadence — an application that stops pinning
    * for a whole horizon while still lazily READING old stages must keep
    * looking alive to [[clearAll]] too, or a concurrent sweep would
    * reclaim the stages out from under its reads (the round-13 verdict's
    * documented read-path gap). The heartbeat holds its session only
    * WEAKLY and cancels itself once the SparkContext stops or the
    * session is collected, so a finished application's marker still ages
    * out and the sweep still reclaims its leftovers. */
  private val leased =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Heartbeat registrations: subtree → weakly-held owning session. */
  private val heartbeatSessions = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.ref.WeakReference[SparkSession]]()
  private val heartbeatTasks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ScheduledFuture[_]]()

  private lazy val heartbeatExec = {
    val ex = new java.util.concurrent.ScheduledThreadPoolExecutor(1,
      (r: Runnable) => {
        val t = new Thread(r, "graft-stage-lease-heartbeat")
        t.setDaemon(true)
        t
      })
    ex.setRemoveOnCancelPolicy(true)
    ex
  }

  private def writeMarker(spark: SparkSession, sub: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$sub/$LeaseName")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  /** Refresh one subtree's marker from its heartbeat registration;
    * deregisters when the owning session is gone or its context stopped.
    * Marker-write failures are swallowed — the heartbeat is a liveness
    * hint and the next tick (or pin) retries.
    *
    * Two guards keep the heartbeat from RESURRECTING relinquished
    * state: the marker is only written when the subtree still EXISTS
    * (a force-swept or externally-deleted subtree has nothing to
    * protect — recreating its marker would make the next sweep skip an
    * empty orphan for a full horizon), and after the write the `leased`
    * membership is re-checked so a tick racing [[clear]] deletes the
    * marker it just wrote instead of violating clear's "subtree and
    * marker are gone" postcondition. */
  private def refreshLease(sub: String): Unit = {
    val ref = heartbeatSessions.get(sub)
    val spark = if (ref == null) null else ref.get()
    if (spark == null || spark.sparkContext.isStopped) {
      heartbeatSessions.remove(sub)
      heartbeatCadence.remove(sub)
      Option(heartbeatTasks.remove(sub)).foreach(_.cancel(false))
      ()
    } else if (leased.containsKey(sub)) {
      try {
        val subPath = new org.apache.hadoop.fs.Path(sub)
        val fs = subPath.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(subPath)) {
          writeMarker(spark, sub)
          if (leased.containsKey(sub))
            leased.put(sub, System.currentTimeMillis())
          else
            fs.delete(new org.apache.hadoop.fs.Path(s"$sub/$LeaseName"), false)
          ()
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** One synchronous heartbeat pass over every registered subtree — the
    * spec's lever; each scheduled task runs exactly [[refreshLease]]. */
  private[graft] def heartbeatTick(): Unit = {
    val it = heartbeatTasks.keySet().iterator()
    while (it.hasNext) refreshLease(it.next())
  }

  /** Cadence each subtree's heartbeat was scheduled at — so a session
    * that RECONFIGURES its lease horizon after the first pin reschedules
    * instead of keeping a frozen too-slow task (an operator lowering
    * `lease.hours` fleet-wide must not leave live idle-reading apps
    * refreshing at the old cadence, exposed to the faster sweep). */
  private val heartbeatCadence =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def startHeartbeat(spark: SparkSession, sub: String,
      refreshMs: Long): Unit = {
    if (refreshMs <= 0) return // zero horizon: markers shield nothing
    val prev = heartbeatCadence.get(sub)
    if (prev != null && prev != refreshMs) {
      Option(heartbeatTasks.remove(sub)).foreach(_.cancel(false))
      heartbeatCadence.remove(sub)
      ()
    }
    heartbeatTasks.computeIfAbsent(sub, _ => {
      heartbeatSessions.put(sub,
        new java.lang.ref.WeakReference[SparkSession](spark))
      heartbeatCadence.put(sub, refreshMs)
      heartbeatExec.scheduleAtFixedRate(() => refreshLease(sub),
        refreshMs, refreshMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    })
    ()
  }

  private def ensureLease(spark: SparkSession, dir: String): Unit = {
    val sub = appSubtree(dir, spark.sparkContext.applicationId)
    val now = System.currentTimeMillis()
    // cadence derives from the SESSION's configured horizon, not the
    // default: an operator who lowers the lease horizon for faster crash
    // reclaim must not open a window where a live, actively-pinning
    // app's marker goes stale between refreshes
    val refreshMs = leaseHours(spark) * 3600L * 1000L / 4
    startHeartbeat(spark, sub, refreshMs)
    val last = leased.get(sub)
    if (last == null || now - last >= refreshMs) {
      leased.put(sub, now)
      writeMarker(spark, sub)
    }
  }

  /** Freeze one evaluation of `df` (see object doc for backend choice). */
  def pin(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    scratchDir(spark) match {
      case Some(dir) =>
        // unique per pin: the cluster-manager-unique applicationId scopes
        // the subtree to THIS app; the JVM-wide counter separates pins
        // within it (two sessions of one SparkContext share the app id
        // AND the counter, so they cannot collide either)
        val path = stagePath(spark, dir)
        ensureLease(spark, dir)
        df.write.parquet(path)
        spark.read.parquet(path)
      case None => ledgered(spark, df.localCheckpoint())
    }
  }

  /** Like [[pin]], but ALWAYS stages through parquet — for WIDE frames
    * with MANY NARROW consumers, where a columnar stage preserves the
    * column pruning a row-oriented `localCheckpoint` block cannot: each
    * dq check branch reads 1–3 columns of the pinned silver tables, and
    * at 100× deserializing full rows per branch measured 2× WORSE than
    * re-deriving the chains (dq_summary 71→155 s), while the columnar
    * stage beats both. Uses the configured scratch dir when set; on a
    * single-JVM (`local[n]`) session it falls back to a shared
    * shutdown-hook-cleaned tmpdir, and on a multi-executor session with
    * NO scratch dir it degrades to `localCheckpoint` — a driver-local
    * tmpdir is unreadable from remote executors, and a correct
    * row-oriented stage beats a columnar one that loses rows. For frames
    * whose consumers read every column (RangeRank's range stage),
    * [[pin]]'s default backend stays the cheaper choice. */
  def pinColumnar(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    scratchDir(spark) match {
      case Some(dir) =>
        val path = stagePath(spark, dir)
        ensureLease(spark, dir)
        df.write.parquet(path)
        spark.read.parquet(path)
      case None if spark.sparkContext.isLocal =>
        // single-JVM fallback: a shutdown-hook-cleaned tmpdir — every
        // executor IS the driver, so a driver-local path is readable
        val path = s"$localScratch/stage-${counter.incrementAndGet()}"
        df.write.parquet(path)
        localStages.add(path)
        spark.read.parquet(path)
      case None =>
        // multi-executor with no configured scratch dir: a driver-local
        // tmpdir is NOT readable from the executors (file:// resolves to
        // each machine's own disk) — fall back to the row-oriented but
        // universally-correct localCheckpoint rather than produce a
        // stage that loses rows; configure DirKey to get the columnar
        // form on a cluster
        ledgered(spark, df.localCheckpoint())
    }
  }

  /** Record a freshly-checkpointed frame's pin in the ledger (when
    * enabled) and return it. The recorded creation site is the first
    * stack frame outside this object — the operator that asked for the
    * pin, which is what a failing [[livePins]] assertion needs to name. */
  private def ledgered(spark: SparkSession, pinned: DataFrame): DataFrame = {
    if (spark.conf.getOption(LedgerKey).contains("true")) {
      val site = Thread.currentThread.getStackTrace.iterator
        .find { e =>
          val c = e.getClassName
          !c.startsWith("java.lang.Thread") && !c.startsWith("graft.model.Stage")
        }
        .map(e => s"${e.getClassName}.${e.getMethodName}" +
          s"(${e.getFileName}:${e.getLineNumber})")
        .getOrElse("unknown")
      rddIdsOf(pinned).foreach(id => ledger.put(id, site))
    }
    pinned
  }

  /** The localCheckpoint RDD ids referenced ANYWHERE in the frame's
    * analyzed plan — the "still lazily read" set a leak check must
    * except (a returned frame may embed its pins arbitrarily deep:
    * BPE's dict, pagerank's degree table). */
  private def rddIdsOf(df: DataFrame): Set[Int] = {
    val b = Set.newBuilder[Int]
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => b += l.rdd.id
      case _ => ()
    }
    b.result()
  }

  /** Ledgered pins whose blocks are STILL persisted, minus every pin any
    * `except` frame's plan lazily references — after a driver query's
    * terminal action, this must be empty: a surviving entry is exactly
    * the round-12 leak class (a dead pin parked in executor storage,
    * taxing every later query in the JVM). Returns rddId → creation
    * site so the failing assertion names the operator that leaked.
    * Requires [[LedgerKey]] to have been `true` when the pins were
    * created; otherwise trivially empty. */
  def livePins(spark: SparkSession,
      except: Seq[DataFrame] = Seq.empty): Map[Int, String] = {
    val keep = except.flatMap(rddIdsOf).toSet
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    import scala.jdk.CollectionConverters._
    ledger.asScala.toMap.filter { case (id, _) =>
      persisted.contains(id) && !keep.contains(id)
    }
  }

  /** Drop every ledger entry — test isolation between ledgered runs. */
  def ledgerReset(): Unit = ledger.clear()

  /** The DataFrame's parquet stage location when (and only when) the
    * frame is one [[pinColumnar]]/[[pin]] just returned — recovered from
    * the plan's file index so callers that can exploit the staged files'
    * FOOTERS (e.g. answering `not_null` checks from null-count
    * statistics without a row scan) need no side-channel. None for the
    * `localCheckpoint` backends (no files to read footers from), and
    * None for ANY transformed frame: the match demands the plan BE the
    * bare scan (modulo aliasing) — a Filter/Project/Join on top means
    * the files no longer describe the frame's rows, and a path returned
    * for them would let a caller read footers that contradict the
    * frame. */
  def parquetPathOf(df: DataFrame): Option[String] = {
    // analyzed, not logical: Spark 4 reads are lazy (UnresolvedDataSource
    // until analysis); analysis is planning-only, never a job
    def strip(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
      case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        strip(s.child)
      case other => other
    }
    strip(df.queryExecution.analyzed) match {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation
              if h.location.rootPaths.size == 1 =>
            Some(h.location.rootPaths.head.toString)
          case _ => None
        }
      case _ => None
    }
  }

  /** Release a [[pin]]'s executor-storage blocks NOW instead of waiting
    * for the RDD to be garbage-collected — for callers whose pinned
    * frame is provably DEAD (a local variable whose last action has
    * run). After unpin the frame must never be read again: a
    * localCheckpoint's lineage is truncated, so its blocks are the only
    * copy. Parquet-staged pins are untouched (no LogicalRDD at the
    * plan root; their files are reclaimed by [[clear]]/exit hooks and
    * re-reads stay valid). Without an eager release, a build that pins
    * inside a loop (store ingest per crawl shard) parks every
    * iteration's blocks in executor storage until the context cleaner
    * happens to collect them, squeezing execution memory for everything
    * else running in the JVM.
    *
    * Matches only the plan ROOT (modulo SubqueryAlias), mirroring
    * [[parquetPathOf]]'s strictness: the contract is "pass the bare
    * frame [[pin]] returned". A tree-wide sweep would let a caller
    * passing a DERIVED frame silently drop a still-live shared pin
    * embedded in its lineage — the one copy of blocks a later read
    * needs ('checkpoint block not found'). A derived frame here is a
    * caller bug; root-only matching makes it a no-op instead of a
    * delayed crash. */
  /** Release EVERY pinned block the frame's plan lazily references —
    * for callers that have fully MATERIALIZED a derived frame (a further
    * pin, a collect) and no longer need the inputs: e.g. dedupClusters'
    * connectedComponents pins the pair list, after which the LSH band
    * pin feeding it is dead. Only call when nothing else still reads the
    * referenced pins — never on a frame a caller handed in. */
  def unpinAll(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        ledger.remove(l.rdd.id)
        l.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  def unpin(df: DataFrame): Unit = {
    def strip(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
      case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        strip(s.child)
      case other => other
    }
    strip(df.queryExecution.analyzed) match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        ledger.remove(l.rdd.id)
        l.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  /** One JVM-wide tmpdir for [[pinColumnar]]'s local fallback, deleted
    * recursively at JVM exit — without the hook, every dq summary's three
    * silver-table stages would outlive the process. */
  private lazy val localScratch: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-stage")
    sys.addShutdownHook { rmTree(p.toFile) }
    p.toString
  }

  /** Delete THIS application's stages — for a caller recycling a per-run
    * scratch location BETWEEN runs of the application (never mid-run, and
    * APPLICATION-wide: every session sharing the JVM/SparkContext shares
    * the app subtree AND the local-fallback queue, so clear only when no
    * session still holds a live pinned frame). Scoped to the app's own
    * [[appSubtree]]: on the shared fleet scratch dir, another
    * application's live stage files are its to delete, not ours —
    * crashed applications' leftovers are reclaimed by [[clearAll]]. Also
    * drops the local-fallback stage dirs [[pinColumnar]] accumulated this
    * JVM, so a long-lived session can reclaim tmp-disk without waiting
    * for the exit hook. */
  def clear(spark: SparkSession): Unit = {
    scratchDir(spark).foreach { dir =>
      val sub = appSubtree(dir, spark.sparkContext.applicationId)
      // relinquish the lease BEFORE deleting the subtree: a heartbeat
      // tick that already passed its exists-check races the delete, and
      // its writeMarker would otherwise recreate the subtree with a
      // fresh marker while `leased` still names it — the post-write
      // membership recheck only helps once the entry is gone. Removing
      // the entry (and cancelling the task) first means any in-flight
      // tick either fails the leased gate or deletes the marker it just
      // wrote; worst case is an empty markerless directory, which the
      // next sweep reclaims immediately.
      leased.remove(sub)
      heartbeatSessions.remove(sub)
      heartbeatCadence.remove(sub)
      Option(heartbeatTasks.remove(sub)).foreach(_.cancel(false))
      val p = new org.apache.hadoop.fs.Path(sub)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p)) fs.delete(p, true)
      ()
    }
    var path = localStages.poll()
    while (path != null) {
      rmTree(new java.io.File(path))
      path = localStages.poll()
    }
  }

  /** Delete crashed/finished applications' stages under the configured
    * scratch dir — the operator's sweep for a shared fleet scratch
    * location where dead apps left subtrees no surviving [[clear]] will
    * ever scope to (an app-scoped clear reclaims only its own subtree by
    * design). A subtree whose `_live` lease marker is FRESH (younger
    * than [[LeaseHoursKey]], default 24h) is presumed to belong to a
    * still-running application and is SKIPPED — the sweep can run on a
    * live fleet without deleting an innocent app's stages out from under
    * it; a crashed app's stale marker ages out and the next sweep
    * reclaims it. `force = true` restores the unconditional delete (the
    * "I know nothing is live" maintenance-window form). */
  def clearAll(spark: SparkSession, force: Boolean = false): Unit =
    scratchDir(spark).foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p)) {
        if (force) { fs.delete(p, true); () }
        else {
          val leaseMs = leaseHours(spark) * 3600L * 1000L
          val now = System.currentTimeMillis()
          fs.listStatus(p).foreach { st =>
            // per-subtree try/catch: the freshness check races the owning
            // app's own clear() (exists → getFileStatus is a TOCTOU) — a
            // subtree/lease that vanishes mid-check is ALREADY reclaimed,
            // and one racing app must not abort the sweep before later
            // stale subtrees are visited
            try {
              val lease = new org.apache.hadoop.fs.Path(st.getPath, LeaseName)
              val fresh = st.isDirectory && fs.exists(lease) &&
                now - fs.getFileStatus(lease).getModificationTime < leaseMs
              if (!fresh) fs.delete(st.getPath, true)
            } catch {
              case _: java.io.FileNotFoundException => ()
            }
          }
        }
      }
    }
}
