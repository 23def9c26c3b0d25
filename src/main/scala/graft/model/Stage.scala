package graft.model

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.execution.LogicalRDD

/** Pluggable materialization seam for the engine's lineage-truncation /
  * layout-pin points — every place an operator must freeze ONE evaluation
  * of a subplan before reading it twice ([[graft.ops.RangeRank]]'s range
  * stage, the connected-components / MMR iteration loops, the microbatch
  * batch pin).
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
  *   - **`spark.graft.stage.dir` set to a scratch path
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
  * '''Ownership.''' A `localCheckpoint` pin's blocks are the only copy of
  * its rows, and parked blocks squeeze unified memory for every later
  * query in the JVM, so each pin is owned by the innermost [[scoped]]
  * block open on the creating thread. When the block exits, every pin it
  * owns that the returned value's frames do not reference is released;
  * the referenced ones move to the enclosing block, or — with none — stay
  * until the ContextCleaner collects the returned frame. A block that
  * throws releases everything it owns. A pin made outside the block (a
  * caller's) is never owned by it, so no operator can release its
  * caller's pins. [[step]] is the loop form: each iteration's block also
  * owns the previous generation, which is released as soon as the next
  * one is pinned.
  *
  * Parquet-staged pins (made only under [[DirKey]]) own no executor
  * storage. Their files are job-scoped: they must outlive every read of
  * the returned frame (the whole action), so nothing here deletes them
  * mid-run — a deployment points [[DirKey]] at a per-run scratch
  * location and recycles the directory between runs ([[clear]] is the
  * explicit form).
  */
object Stage {

  /** Runtime conf key: when set to a non-empty path, [[pin]] stages
    * through durable parquet under it instead of `localCheckpoint`. */
  val DirKey = "spark.graft.stage.dir"

  private val counter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The creating thread's open [[scoped]] blocks, innermost first: the
    * `localCheckpoint` pins each one owns, by RDD id. */
  private val scopes =
    ThreadLocal.withInitial[List[mutable.Map[Int, RDD[_]]]](() => Nil)

  def scratchDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(DirKey).map(_.trim).filter(_.nonEmpty)
      .map(_.stripSuffix("/"))

  /** This application's OWN subtree of the scratch dir. Stage paths embed
    * `sparkContext.applicationId` — the one identifier the cluster
    * manager guarantees unique per application — because a fleet
    * deployment may point MANY concurrent applications at one shared
    * scratch location: a JVM-local discriminator (an identity hash, a
    * counter) is not unique across JVMs and two apps could generate the
    * same path, killing an innocent job on the ErrorIfExists write. The
    * id is assigned once at application start (no per-pin wall clock),
    * so paths stay deterministic within a run. */
  private def appSubtree(dir: String, appId: String): String =
    s"$dir/app-$appId"

  private def stagePath(spark: SparkSession, dir: String): String =
    s"${appSubtree(dir, spark.sparkContext.applicationId)}" +
      s"/stage-${counter.incrementAndGet()}"

  /** Freeze one evaluation of `df` (see object doc for backend choice). */
  def pin(df: DataFrame): DataFrame =
    scratchDir(df.sparkSession) match {
      // unique per pin: the cluster-manager-unique applicationId scopes
      // the subtree to THIS app; the JVM-wide counter separates pins
      // within it (two sessions of one SparkContext share the app id
      // AND the counter, so they cannot collide either)
      case Some(dir) => staged(df, stagePath(df.sparkSession, dir))
      case None => own(df.localCheckpoint())
    }

  private def staged(df: DataFrame, path: String): DataFrame = {
    df.write.parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Hand a fresh `localCheckpoint` pin to the innermost open block. */
  private def own(pinned: DataFrame): DataFrame = {
    for (owned <- scopes.get().headOption; r <- rootRdd(pinned)) owned(r.id) = r
    pinned
  }

  /** Run `body` as one ownership block (see the object doc): on exit,
    * every `localCheckpoint` pin created inside it and not referenced by
    * a frame in the result (a `Dataset`, or one nested in a tuple,
    * case class, `Option` or collection) is unpersisted; referenced pins
    * pass to the enclosing block. On a throw, every owned pin is
    * released. */
  def scoped[T](body: => T): T = within(None)(body)

  /** One loop iteration as a nested [[scoped]] block that ALSO owns
    * `prev` — the previous iteration's pinned frame, when the enclosing
    * block owns it — so the replaced generation is released as soon as
    * the iteration returns its successor. Only `prev`'s own pin (its plan
    * root) moves, never a pin its lineage merely reads. */
  def step[T](prev: DataFrame)(body: => T): T = within(Some(prev))(body)

  private def within[T](adopt: Option[DataFrame])(body: => T): T = {
    val outer = scopes.get()
    val owned = mutable.Map.empty[Int, RDD[_]]
    for (o <- outer.headOption; p <- adopt; r <- rootRdd(p); rdd <- o.remove(r.id))
      owned(r.id) = rdd
    scopes.set(owned :: outer)
    var keep = Set.empty[Int]
    try {
      val result = body
      keep = rddIdsOf(result)
      result
    } finally {
      scopes.set(outer)
      owned.foreach { case (id, rdd) =>
        if (keep(id)) outer.headOption.foreach(_(id) = rdd)
        else rdd.unpersist(blocking = false)
      }
    }
  }

  /** The analyzed plan of every frame a block's result holds. */
  private def plansIn(x: Any): Iterator[LogicalPlan] = x match {
    case d: Dataset[_] => Iterator(d.queryExecution.analyzed)
    case i: Iterable[_] => i.iterator.flatMap(plansIn)
    case p: Product => p.productIterator.flatMap(plansIn)
    case _ => Iterator.empty
  }

  /** The RDD ids the frames in `result` read, subquery expressions
    * included — a pin read only inside a scalar subquery is still live,
    * and releasing it would fail the query with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. */
  private[graft] def rddIdsOf(result: Any): Set[Int] = {
    val b = Set.newBuilder[Int]
    plansIn(result).foreach(_.foreachWithSubqueries {
      case l: LogicalRDD => b += l.rdd.id
      case _ => ()
    })
    b.result()
  }

  private def stripAlias(p: LogicalPlan): LogicalPlan = p match {
    case s: SubqueryAlias => stripAlias(s.child)
    case other => other
  }

  /** The pinned RDD when `df` IS a `localCheckpoint` pin (modulo aliasing). */
  private def rootRdd(df: DataFrame): Option[RDD[_]] =
    stripAlias(df.queryExecution.analyzed) match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Delete THIS application's stages under [[DirKey]] — for a caller
    * recycling a per-run scratch location BETWEEN runs of the application
    * (never mid-run, and APPLICATION-wide: every session sharing the
    * JVM/SparkContext shares the app subtree, so clear only when no
    * session still holds a live pinned frame). Scoped to the app's own
    * [[appSubtree]]: on a shared scratch dir, another application's live
    * stage files are its to delete, not ours. */
  def clear(spark: SparkSession): Unit =
    scratchDir(spark).foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(
        appSubtree(dir, spark.sparkContext.applicationId))
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p)) fs.delete(p, true)
      ()
    }
}
