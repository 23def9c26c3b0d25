package graft.pipeline

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse maintenance: the background jobs a parquet lakehouse needs
  * that dbt itself leaves to the platform (Delta's OPTIMIZE, Iceberg's
  * rewrite_data_files). The engine's incremental appends and streaming
  * micro-batch upserts each write small files; left alone, a month of
  * 5-minute micro-batches turns a table scan into ~8 600 file opens per
  * partition — at 100 TB the file-listing and task-scheduling overhead
  * dominates the read.
  */
object Maintenance {

  /** Number of data files currently backing `layer`.`name` in a
    * path-routed parquet warehouse (metadata-only). */
  def fileCount(spark: SparkSession, warehouseDir: String, layer: String,
      name: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$warehouseDir/$layer/$name")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(st: org.apache.hadoop.fs.FileStatus): Long = {
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) 0L
      else if (st.isDirectory) fs.listStatus(st.getPath).map(walk).sum
      else if (n.endsWith(".parquet")) 1L else 0L
    }
    if (fs.exists(p)) walk(fs.getFileStatus(p)) else 0L
  }

  /** Total bytes of data files (metadata-only, same walk). */
  def tableBytes(spark: SparkSession, warehouseDir: String, layer: String,
      name: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$warehouseDir/$layer/$name")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(st: org.apache.hadoop.fs.FileStatus): Long = {
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) 0L
      else if (st.isDirectory) fs.listStatus(st.getPath).map(walk).sum
      else if (n.endsWith(".parquet")) st.getLen else 0L
    }
    if (fs.exists(p)) walk(fs.getFileStatus(p)) else 0L
  }

  /** File listing of `layer`.`name` as a change-detection fingerprint:
    * every data file's (path, length, mtime), sorted. Metadata-only —
    * the same walk as [[tableBytes]], never a job. */
  private[graft] def listingFingerprint(spark: SparkSession,
      warehouseDir: String, layer: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$warehouseDir/$layer/$name")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(st: org.apache.hadoop.fs.FileStatus): Seq[String] = {
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Seq.empty
      else if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.sortBy(_.getPath.getName).flatMap(walk)
      else Seq(s"${st.getPath.toUri.getPath}:${st.getLen}:${st.getModificationTime}")
    }
    if (fs.exists(p)) walk(fs.getFileStatus(p)).mkString("|") else ""
  }

  /** Stage the rewrite produced by `build`, then swap it in ONLY if the
    * table's file listing is unchanged since before the rewrite — rows
    * appended or merged by a concurrent incremental run during the
    * rewrite job would otherwise be silently discarded (lost update).
    * On conflict the staged rewrite is dropped and
    * `ConcurrentModificationException` thrown: rerun when the table is
    * quiet.
    *
    * Compaction remains a SINGLE-WRITER operation: the listing check
    * shrinks the lost-update window from the whole rewrite job down to
    * the metadata-check→rename gap, it does not eliminate it. Schedule
    * maintenance in the same orchestration slot as the table's writers
    * (or on a lakehouse format whose OPTIMIZE takes a real table lock). */
  private[graft] def guardedRewrite(spark: SparkSession,
      warehouseDir: String, layer: String, name: String, layout: TableLayout)
      (build: () => org.apache.spark.sql.DataFrame): Unit = {
    val before = listingFingerprint(spark, warehouseDir, layer, name)
    val staging = new org.apache.hadoop.fs.Path(s"$warehouseDir/$layer/_maint_$name")
    val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(staging)) fs.delete(staging, true)
    val w = build().write.mode("overwrite")
    val wp = if (layout.partitionBy.nonEmpty) w.partitionBy(layout.partitionBy: _*) else w
    wp.parquet(staging.toString)
    val after = listingFingerprint(spark, warehouseDir, layer, name)
    if (after != before) {
      fs.delete(staging, true)
      throw new java.util.ConcurrentModificationException(
        s"$layer.$name changed while its compaction rewrite ran " +
          "(concurrent append/merge); the staged rewrite was dropped to " +
          "avoid a lost update — rerun maintenance when the table is quiet")
    }
    // same backup-rename swap as ParquetSink.overwrite: old data stays
    // recoverable under _backup_ if a rename fails mid-swap
    val target = new org.apache.hadoop.fs.Path(s"$warehouseDir/$layer/$name")
    val backup = new org.apache.hadoop.fs.Path(s"$warehouseDir/$layer/_backup_$name")
    if (fs.exists(backup)) fs.delete(backup, true)
    require(fs.rename(target, backup), s"rename $target -> $backup failed")
    require(fs.rename(staging, target), s"rename $staging -> $target failed")
    fs.delete(backup, true)
    ()
  }

  /** Compact `layer`.`name` to ~`targetFileBytes` files: staged rewrite
    * swapped in by rename (readers never see a partial table) with the
    * row set unchanged, guarded against concurrent writers by
    * [[guardedRewrite]]'s listing check.
    *
    * Un-partitioned tables repartition to ceil(bytes/target) (sized from
    * file metadata, no job); partitioned tables repartition on their
    * partition columns so each directory collapses to one file — the
    * layout-preserving compaction an append-heavy partitioned table
    * needs, since appends add a file per batch per partition.
    *
    * At 100 TB this runs per-partition as a scheduled job over recently
    * appended partitions, not table-wide; the same call shape applies —
    * point it at a narrower layer/name (or run it on a lakehouse format
    * where OPTIMIZE does it natively). */
  def compact(spark: SparkSession, sink: ParquetSink, warehouseDir: String,
      layer: String, name: String,
      layout: TableLayout = TableLayout.none,
      targetFileBytes: Long = 128L * 1024 * 1024): Unit =
    guardedRewrite(spark, warehouseDir, layer, name, layout) { () =>
      val df = sink.read(spark, layer, name)
      if (layout.partitionBy.nonEmpty)
        df.repartition(layout.partitionBy.map(col): _*)
      else {
        val bytes = tableBytes(spark, warehouseDir, layer, name)
        val parts = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
        df.repartition(parts.toInt)
      }
    }

  /** Z-order clustering compaction: rewrite `layer`.`name` so rows that
    * are close in EVERY one of `clusterBy`'s dimensions land in the same
    * file. Each dimension is scaled to 16 bits against its min/max (one
    * aggregate job), the bits are interleaved into a single z-value, and
    * the rewrite range-partitions + sorts on it — so every output file
    * covers a small hyper-rectangle of the key space and its parquet
    * footer min/max excludes it from most multi-predicate scans. A sort
    * on (a, b) clusters only the leading column; the z-curve is what lets
    * BOTH `WHERE a = …` and `WHERE b = …` skip files, which is why
    * lakehouse OPTIMIZE commands cluster this way.
    *
    * For tables with a partition layout, partition columns already prune
    * at directory level — z-order the remaining filter columns instead.
    * This rewrite is for unpartitioned (or single-partition-scoped)
    * tables; file count follows `targetFileBytes` like [[compact]]. */
  def zOrderCompact(spark: SparkSession, sink: ParquetSink,
      warehouseDir: String, layer: String, name: String,
      clusterBy: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    require(clusterBy.nonEmpty && clusterBy.size <= 4,
      s"z-order needs 1-4 cluster columns, got ${clusterBy.size}")
    guardedRewrite(spark, warehouseDir, layer, name, TableLayout.none) { () =>
      val df = sink.read(spark, layer, name)
      // one metadata-cheap aggregate for all bounds; doubles are fine — the
      // z-value orders the rewrite, it never lands in the data
      val aggs = clusterBy.flatMap(c => Seq(
        min(col(c).cast("double")).as(s"lo_$c"),
        max(col(c).cast("double")).as(s"hi_$c")))
      val bounds = df.agg(aggs.head, aggs.tail: _*).head()
      def at(i: Int) = if (bounds.isNullAt(i)) 0.0 else bounds.getDouble(i)
      val z = zValue(clusterBy.zipWithIndex.map { case (c, i) =>
        scaleToU16(col(c), at(2 * i), at(2 * i + 1))
      })
      val bytes = tableBytes(spark, warehouseDir, layer, name)
      val parts = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      df.repartitionByRange(parts, z).sortWithinPartitions(z)
    }
  }

  /** `c` scaled to [0, 65535] against [lo, hi]; nulls and degenerate
    * ranges collapse to 0 (they cluster together, which is the point). */
  private[pipeline] def scaleToU16(c: Column, lo: Double, hi: Double): Column =
    if (hi <= lo) lit(0L)
    else coalesce(least(lit(65535L), greatest(lit(0L),
      floor((c.cast("double") - lit(lo)) / lit(hi - lo) * lit(65535.0))
        .cast("long"))), lit(0L))

  /** Bit-interleave d 16-bit values: bit b of dimension i lands at
    * position b·d + i, so the high interleaved bits split the space into
    * quadrants/octants — a balanced expression tree of 16·d shift/mask
    * ops, well inside whole-stage codegen. */
  private[pipeline] def zValue(dims: Seq[Column]): Column =
    dims.zipWithIndex.flatMap { case (u, i) =>
      (0 until 16).map(b => shiftleft(shiftright(u, b).bitwiseAND(lit(1L)),
        b * dims.size + i))
    }.reduce(_ bitwiseOR _)

  /** Per-data-file (min, max) of integral column `column` under `path`,
    * read from parquet footers (metadata-only; same walk as
    * [[graft.sources.ParquetStats]]). The clustering audit: after
    * [[zOrderCompact]] on (a, b), a point predicate on either column
    * should exclude most files by these ranges — which is exactly the
    * file/row-group skipping a scan's pushed filters perform. */
  def fileColumnRanges(spark: SparkSession, path: String,
      column: String): Seq[(Long, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    def walk(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.Path] = {
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Seq.empty
      else if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else if (n.endsWith(".parquet")) Seq(st.getPath) else Seq.empty
    }
    import scala.jdk.CollectionConverters._
    walk(fs.getFileStatus(root)).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val stats = r.getFooter.getBlocks.asScala.flatMap { blk =>
          blk.getColumns.asScala
            .find(_.getPath.toDotString == column).map(_.getStatistics)
        }
        (stats.map(s => asLong(s.genericGetMin: Any)).min,
          stats.map(s => asLong(s.genericGetMax: Any)).max)
      } finally r.close()
    }
  }

  private def asLong(v: Any): Long = v match {
    case n: java.lang.Number => n.longValue()
    case other => other.toString.toLong
  }

  /** Delete crash debris under a path-routed warehouse: `_staging_*` /
    * `_backup_*` directories that [[ParquetSink.overwrite]]'s staged
    * swap leaves behind ONLY when a run died between its write and its
    * renames. `graceMs` keeps anything newer than the grace window — a
    * live overwrite's in-flight staging directory must never be swept.
    * Returns the deleted paths. */
  def vacuumDebris(spark: SparkSession, warehouseDir: String,
      graceMs: Long, nowMs: Long): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(warehouseDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Seq.empty
    for {
      layerSt <- fs.listStatus(root).toSeq if layerSt.isDirectory
      st <- fs.listStatus(layerSt.getPath).toSeq
      n = st.getPath.getName
      if (n.startsWith("_staging_") || n.startsWith("_backup_")) &&
        st.getModificationTime < nowMs - graceMs &&
        fs.delete(st.getPath, true)
    } yield st.getPath.toString
  }

  /** GC one fingerprint-keyed cache directory ([[graft.model.BuildCache]]
    * entries): the dq trios (`trio_<ver>_<fp>` under the
    * [[graft.model.BuildCache.DqSilver]] root), the steady dedup stores
    * (`store_<ver>_<fp>_c<fp>` under
    * [[graft.model.BuildCache.DedupSteady]]) and the ANN index tables
    * (`<name>_<fp>` under `<`[[graft.model.BuildCache.AnnIndex]]`>/ann`).
    * Each accumulates one entry per superseded data version, plus staging
    * leftovers from builds that crashed or lost a commit race. Keeps
    * entries whose name CONTAINS a live fingerprint (callers pass the
    * same — possibly truncated — form the cache key embeds) and deletes
    * every other entry older than `retentionMs` (retention, not
    * immediate: a query started against the old data version may still
    * be serving from its entry). Staging leftovers go on age alone: a
    * staging directory is never an entry, whatever its build was keyed
    * by. Returns deleted entry names (a staging leftover as
    * `<`[[graft.model.BuildCache.Staging]]`>/<name>`).
    *
    * Catalog registrations of BUCKETED trios
    * (`graft_dq_trio_<lochash>_*` EXTERNAL tables) whose location no
    * longer exists are DROPPED in the same pass — a vacuumed trio would
    * otherwise leave its registration behind forever in a persistent
    * metastore. Safe on both sides of the race: the trio location is
    * deterministic, so a rebuild at the same root re-creates an
    * identical registration (and SilverStage refreshes the path's
    * cached file listing on every serve, so a survivor registration
    * can never serve a vacuumed listing); a registration whose
    * location still exists — any live or retained trio — is left
    * untouched regardless of fingerprint, because the lochash name
    * does not reveal which corpus it serves. */
  def vacuumCache(spark: SparkSession, cacheDir: String,
      liveFingerprints: Set[String], retentionMs: Long,
      nowMs: Long): Seq[String] = {
    val fs = graft.model.BuildCache.fs(spark, cacheDir)
    val root = new org.apache.hadoop.fs.Path(cacheDir)
    if (!fs.exists(root)) return Seq.empty
    def aged(st: org.apache.hadoop.fs.FileStatus) =
      st.getModificationTime < nowMs - retentionMs
    def drop(st: org.apache.hadoop.fs.FileStatus, name: String) =
      if (aged(st) && fs.delete(st.getPath, true)) Seq(name) else Nil
    val deleted = fs.listStatus(root).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n == graft.model.BuildCache.Staging)
        fs.listStatus(st.getPath).toSeq
          .flatMap(s => drop(s, s"$n/${s.getPath.getName}"))
      else if (liveFingerprints.exists(fp => fp.nonEmpty && n.contains(fp)))
        Nil
      else drop(st, n)
    }
    dropOrphanedTrioTables(spark)
    deleted
  }

  /** Drop `graft_dq_trio_*` catalog registrations whose external
    * location no longer exists (the registration outlives the files
    * after a vacuum — this is the reaper). Exposed for deployments
    * that vacuum trio roots by other means. Per-entry try/catch: one
    * concurrently-dropped table must not abort the sweep. */
  def dropOrphanedTrioTables(spark: SparkSession): Seq[String] = {
    val cat = spark.sessionState.catalog
    val db = cat.getCurrentDatabase
    cat.listTables(db, "graft_dq_trio_*").flatMap { ident =>
      try {
        val meta = cat.getTableMetadata(ident)
        val loc = new org.apache.hadoop.fs.Path(meta.location)
        val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
        if (!fs.exists(loc)) {
          spark.sql(s"DROP TABLE IF EXISTS `${ident.table}`")
          Some(ident.table)
        } else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Refresh catalog statistics for a [[CatalogSink]]-materialized table:
    * row count + size, then per-column min/max/ndv/null counts. This is
    * what turns Catalyst's cost-based optimizer on for real — without
    * ANALYZE, join reordering and broadcast decisions fall back to file
    * sizes; with it, a 100-way star join orders itself from actual
    * cardinalities. Run it on the same cadence as [[compact]]. */
  def analyze(spark: SparkSession, layer: String, name: String,
      targetDatabase: String = "default"): Unit = {
    val table = s"${Registry.databaseName(Some(layer), targetDatabase)}.$name"
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR ALL COLUMNS")
  }
}
