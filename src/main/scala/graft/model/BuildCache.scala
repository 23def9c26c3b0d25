package graft.model

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{RebalancePartitions,
  RepartitionOperation}
import org.apache.spark.sql.types.StructType

/** The build-once protocol of every fingerprint-keyed cache: the dq
  * silver trio ([[graft.quality.SilverStage]]), the ANN index tables
  * ([[graft.ops.IvfIndex]], [[graft.ops.LshIndex]]) and the dedup stores
  * ([[graft.ops.IncrementalDedup]]). These caches exist so that later
  * queries, and later processes, reuse one build; this object owns the
  * policy that makes that safe:
  *
  *  - where a cache lives ([[Root]]);
  *  - how an entry is keyed: the content [[fingerprint]] of its inputs
  *    plus a [[recipe]] hash of the code that derives it (each caller
  *    adds its own hand-bumped version literal for what no plan shows);
  *  - how an entry lands ([[build]]): `write` fills a fresh directory
  *    under `<root>/.staging/` and one [[commit]] renames it into place,
  *    so a reader never sees a half-written entry and concurrent cold
  *    builds resolve last-writer-loses (dbt's stage-then-swap, without
  *    the swap: a committed entry is never replaced).
  */
object BuildCache {

  /** A cache root: the session conf `key`, else the system property named
    * like the key without its `spark.` prefix (a launcher-level
    * override), else `default`. Session-scoped, not a JVM global: two
    * sessions can point at different warehouses. */
  final class Root private[BuildCache] (val key: String,
      default: () => String) {
    def apply(spark: SparkSession): String =
      spark.conf.getOption(key).map(_.trim).filter(_.nonEmpty)
        .orElse(sys.props.get(key.stripPrefix("spark.")))
        .getOrElse(default())
  }

  private def tmp(dir: String): () => String =
    () => s"${sys.props("java.io.tmpdir")}/$dir"

  /** Staged dq silver trios. Safe to share across processes: a
    * committed trio is immutable. */
  val DqSilver = new Root("spark.graft.dq.silver.root", tmp("graft_dq_silver"))

  /** ANN index tables (under `<root>/ann`) and their deletion ledgers.
    * Immutable once committed, so shared across processes. */
  val AnnIndex = new Root("spark.graft.ann.index.root", tmp("graft_ann_index"))

  /** The DAG-scheduled crawl store that `dedup_store_*` models tick. */
  val DedupStore =
    new Root("spark.graft.dedup.store.root", tmp("graft_dedup_store"))

  /** Steady-state takedown stores. The default is JVM-private scratch
    * (removed at exit): every takedown MUTATES its store (tombstone
    * append, now and then an auto-fold that deletes folded directories),
    * and two processes sharing one root would race a reader in one
    * against a compaction in the other. A deployment that points this at
    * the real crawl store serializes takedowns through one operator. */
  val DedupSteady = new Root("spark.graft.dedup.steady.root",
    () => jvmSteadyRoot)

  private lazy val jvmSteadyRoot: String = Scratch.dir("graft_dedup_steady")

  private[graft] def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Content fingerprint of `dir/table`: md5 over the absolute path plus
    * every data file's (root-relative path, length, mtime), directories
    * walked recursively — the relative path (not the bare name) so files
    * swapped between partition subdirectories change the fingerprint.
    * Metadata only: the cost class of planning the scan, never a job. */
  def fingerprint(spark: SparkSession, dir: String, table: String): String = {
    val p = new Path(s"$dir/$table")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val rootUri = p.toUri.getPath
    def rel(st: FileStatus): String =
      st.getPath.toUri.getPath.stripPrefix(rootUri)
    def walk(st: FileStatus): Seq[String] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.sortBy(_.getPath.getName).flatMap(walk)
      else Seq(s"${rel(st)}:${st.getLen}:${st.getModificationTime}")
    md5((p.toString +: walk(fs.getFileStatus(p))).mkString("|"))
  }

  /** Hex md5 of `s`: the digest every cache key component is made of. */
  private[graft] def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private val recipes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The recipe hash named `name`, computed by `hash` once per JVM. A
    * cache that outlives the JVM folds the RECIPE into its key, not just
    * the data: a code change to the cached derivation without a version
    * bump would otherwise serve rows built by old code, surfacing as a
    * baffling oracle mismatch. Not `computeIfAbsent`: a hash that asks
    * for another recipe while computing must not trip the map's
    * recursive-update check. */
  def recipe(name: String)(hash: => String): String =
    Option(recipes.get(name)).getOrElse {
      recipes.putIfAbsent(name, hash)
      recipes.get(name)
    }

  /** md5 (truncated) over the schema DDL and the ANALYZED plan of each
    * frame — callers hash the SAME composed functions the build
    * executes, so the hash cannot drift from the recipe. Analysis is
    * planning cost only, never a job; a spurious difference (a Spark
    * upgrade changing plan strings) costs one rebuild, never staleness.
    *
    * The string is made independent of JVM state, so processes sharing
    * one cache root compute one key:
    *  - expression ids (`#123`) and the numeric suffixes of lambda
    *    variables (`x_45`) come from JVM-wide counters; both are
    *    renumbered by first appearance;
    *  - the analyzed plan is hashed, not `.canonicalized`: canonical
    *    form orders commutative operands by `hashCode`, which folds in
    *    `Class` identity hashes and so can flip per JVM;
    *  - repartition and rebalance hints are dropped: they are
    *    semantics-neutral and embed the host's core count. */
  def planHash(frames: Seq[DataFrame]): String = {
    val desc = frames.map { df =>
      val plan = df.queryExecution.analyzed.transformUp {
        case r: RepartitionOperation => r.child
        case r: RebalancePartitions => r.child
      }
      df.schema.toDDL + "|" +
        plan.treeString(verbose = true, maxFields = Int.MaxValue)
    }.mkString("‖")
    md5(renumber(renumber(desc, "(#)(\\d+)()".r), "(lambda \\w+?_)(\\d+)(#)".r))
      .take(12)
  }

  /** Replace the number each `pattern` match captures in its middle
    * group by the number's order of first appearance. */
  private def renumber(s: String, pattern: scala.util.matching.Regex): String = {
    val seen = scala.collection.mutable.HashMap.empty[String, Int]
    pattern.replaceAllIn(s, m => {
      val n = seen.getOrElseUpdate(m.group(2), seen.size)
      scala.util.matching.Regex.quoteReplacement(s"${m.group(1)}$n${m.group(3)}")
    })
  }

  /** An empty frame of `schemaDdl`: the shaped stand-in that recipe
    * hashes compose over, and the view of a store with no entries. */
  def emptyOf(spark: SparkSession, schemaDdl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType.fromDDL(schemaDdl))

  /** The directory under each root that in-flight builds write into. A
    * crashed build leaves its staging directory behind here, where
    * readers never look and [[graft.pipeline.Maintenance.vacuumCache]]
    * sweeps it. */
  val Staging = ".staging"

  /** Build `dst` unless it is already committed: `write` fills a fresh
    * staging directory under `root` (on the same filesystem as `dst`),
    * then [[commit]] moves it into place. True iff this call's build
    * became `dst` (callers count cold builds with it); false when `dst`
    * was already there, before or during the build. */
  def build(spark: SparkSession, root: String, dst: String)
      (write: String => Unit): Boolean = {
    val fs = this.fs(spark, dst)
    if (fs.exists(new Path(dst))) return false
    val staging = s"$root/$Staging/${java.util.UUID.randomUUID.toString.take(12)}"
    write(staging)
    commit(fs, new Path(staging), new Path(dst))
  }

  /** Move `staging` into place at `dst`. Returns true when it did; false
    * when a winner was already in place (another build committed first;
    * its entry is equally valid, and `staging` is dropped). Throws,
    * naming both paths, when the rename failed with no winner in place
    * (IO error, permissions): reporting that as a lost race would let
    * callers read a missing entry as an empty one.
    *
    * A bare `fs.rename` is NOT a safe last-writer-loses primitive: on
    * RawLocalFileSystem a failed `File.renameTo` (e.g. dst is a non-empty
    * directory) falls through to `FileUtil.copy`, whose checkDest NESTS
    * staging *inside* the existing dst and reports success — the loser's
    * files would land inside the winner's entry and corrupt every later
    * read. So an existing dst is a lost race before renaming, and
    * afterwards the copy-fallback signature (staging nested under dst,
    * for a dst that appeared between the check and the rename) is
    * repaired. */
  def commit(fs: FileSystem, staging: Path, dst: Path): Boolean = {
    if (fs.exists(dst)) { fs.delete(staging, true); return false }
    fs.mkdirs(dst.getParent)
    val renamed =
      try fs.rename(staging, dst)
      catch { case _: java.io.IOException => false }
    if (!renamed) {
      if (fs.exists(staging)) fs.delete(staging, true)
      if (fs.exists(dst)) return false
      throw new java.io.IOException(s"commit rename of $staging -> $dst " +
        "failed with no winner in place; the staged build is dropped. " +
        "Check filesystem permissions and health under the cache root.")
    }
    val nested = new Path(dst, staging.getName)
    if (fs.exists(nested)) {
      fs.delete(nested, true)
      if (fs.exists(staging)) fs.delete(staging, true)
      false
    } else true
  }
}
