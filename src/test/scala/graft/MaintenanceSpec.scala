package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Maintenance, ParquetSink, TableLayout}

/** Compaction: small files collapse, rows are untouched, partition
  * layouts survive, and the rewrite goes through the sink's atomic
  * staged-rename overwrite. */
class MaintenanceSpec extends SparkSpec {

  test("compact collapses an append-fragmented table; rows unchanged") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val sink = new ParquetSink(wh)
    sink.overwrite(spark, "silver", "frag",
      (1L to 100L).toDF("id").repartition(8))
    (1 to 3).foreach(i => sink.append(spark, "silver", "frag",
      Seq(100L + i).toDF("id").repartition(2)))
    val before = Maintenance.fileCount(spark, wh, "silver", "frag")
    assert(before >= 10, s"setup must fragment the table (saw $before files)")
    Maintenance.compact(spark, sink, wh, "silver", "frag")
    assert(Maintenance.fileCount(spark, wh, "silver", "frag") == 1L,
      "a tiny table compacts to a single file")
    assert(sink.read(spark, "silver", "frag").as[Long].collect().sorted.toSeq ==
      (1L to 103L))
  }

  test("partitioned compact: one file per partition directory, layout intact") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_compact_p").toString
    val sink = new ParquetSink(wh)
    val layout = TableLayout(partitionBy = Seq("y"))
    val df = Seq.tabulate(40)(i => (i.toLong, 2000 + i % 2)).toDF("id", "y")
    sink.overwrite(spark, "gold", "fragp", df.repartition(6), layout)
    sink.append(spark, "gold", "fragp",
      Seq((100L, 2000), (101L, 2001)).toDF("id", "y").repartition(2), layout)
    assert(Maintenance.fileCount(spark, wh, "gold", "fragp") > 2)
    Maintenance.compact(spark, sink, wh, "gold", "fragp", layout)
    assert(Maintenance.fileCount(spark, wh, "gold", "fragp") == 2L,
      "one file per order-year-style partition directory")
    val root = new java.io.File(s"$wh/gold/fragp")
    assert(root.listFiles().count(_.getName.startsWith("y=")) == 2,
      "partition directories survive the rewrite")
    assert(sink.read(spark, "gold", "fragp").count() == 42)
  }

  test("zOrderCompact: point predicates on BOTH dimensions skip most files") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val sink = new ParquetSink(wh)
    // a 100x100 grid written in row-shuffled order across 8 files: every
    // file's footer covers nearly the full range of both x and y, so a
    // point predicate can skip nothing
    val grid = Seq.tabulate(10000) { i =>
      (((i * 2654435761L) % 10000).toInt, i % 100, i / 100)
    }.sortBy(_._1).map { case (_, x, y) => (x.toLong, y.toLong) }
    sink.overwrite(spark, "silver", "zt", grid.toDF("x", "y").repartition(8))
    def matching(colName: String, v: Long): Int =
      Maintenance.fileColumnRanges(spark, s"$wh/silver/zt", colName)
        .count { case (lo, hi) => lo <= v && v <= hi }
    assert(matching("x", 5L) == 8 && matching("y", 5L) == 8,
      "pre-compaction every file straddles both dimensions")
    // size the target from the measured table so parts ≈ 16 regardless of
    // the parquet codec in play — a fixed byte target made the file count
    // hostage to compression ratios. ~16 z-ranges resolve the top TWO bits
    // of each interleaved dimension, so a point query matches ~1/4 of the
    // files and the ≤ half assertion below has real margin (at ~7 files
    // only the single leading bit of x is resolved and matching sits at
    // exactly half ± sampling noise).
    val srcBytes = Maintenance.tableBytes(spark, wh, "silver", "zt")
    Maintenance.zOrderCompact(spark, sink, wh, "silver", "zt", Seq("x", "y"),
      targetFileBytes = math.max(1L, srcBytes / 16))
    val files = Maintenance.fileCount(spark, wh, "silver", "zt")
    assert(files >= 4, s"rewrite must keep multiple files (saw $files)")
    assert(matching("x", 5L) <= files / 2,
      "z-order clusters x: a point on x excludes at least half the files")
    assert(matching("y", 5L) <= files / 2,
      "z-order clusters y too — the property a plain sort on (x, y) lacks")
    assert(sink.read(spark, "silver", "zt").count() == 10000,
      "rewrite preserves the row set")
  }

  test("vacuumDebris sweeps aged _staging_/_backup_ dirs, keeps fresh ones") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_vac").toString
    val sink = new ParquetSink(wh)
    sink.overwrite(spark, "silver", "keepme", Seq(1L).toDF("id"))
    val old = new java.io.File(s"$wh/silver/_staging_dead"); old.mkdirs()
    old.setLastModified(1000L)
    val oldB = new java.io.File(s"$wh/silver/_backup_dead"); oldB.mkdirs()
    oldB.setLastModified(1000L)
    val fresh = new java.io.File(s"$wh/silver/_staging_live"); fresh.mkdirs()
    val now = fresh.lastModified()
    val deleted = Maintenance.vacuumDebris(spark, wh, graceMs = 3600_000L,
      nowMs = now)
    assert(deleted.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet ==
      Set("_staging_dead", "_backup_dead"))
    assert(fresh.exists(), "in-flight staging inside the grace window survives")
    assert(sink.read(spark, "silver", "keepme").count() == 1,
      "real tables are never touched")
  }

  test("vacuumCache drops superseded ANN tables and aged staging " +
      "leftovers, keeps live ones") {
    val root = java.nio.file.Files.createTempDirectory("graft_annvac").toString
    val live = "aaaa1111"
    val mk = (n: String) => {
      val d = new java.io.File(s"$root/ann/$n"); d.mkdirs(); d
    }
    val keep = mk(s"ivf_a2_$live")
    val stale = mk("ivf_a2_dead0000"); stale.setLastModified(1000L)
    val lost = mk(s".staging/b12ab34cd_$live"); lost.setLastModified(1000L)
    val inFlight = mk(".staging/c0ffee12")
    val recent = mk("ivf_a2_new0000")
    val now = recent.lastModified()
    val deleted = Maintenance.vacuumCache(spark, s"$root/ann", Set(live),
      retentionMs = 3600_000L, nowMs = now).toSet
    assert(deleted == Set("ivf_a2_dead0000", s".staging/b12ab34cd_$live"),
      "aged non-live tables and staged leftovers go; note the staged " +
        "leftover is swept even though its name CONTAINS the live fingerprint")
    assert(keep.exists(), "the live-fingerprint index survives at any age")
    assert(recent.exists(), "a non-live table inside retention survives")
    assert(inFlight.exists(), "an in-flight build inside retention survives")
  }

  test("vacuumCache sweeps superseded trios/stores and staging " +
      "leftovers, keeps live fingerprints and fresh entries") {
    val root = java.nio.file.Files.createTempDirectory("graft_fpvac").toString
    val live = "bbbb2222cccc3333"
    val mk = (n: String) => {
      val d = new java.io.File(s"$root/$n"); d.mkdirs(); d
    }
    val keep = mk(s"trio_v1_${live}dddd4444eeee5555")
    keep.setLastModified(1000L) // live fingerprint survives at ANY age
    val stale = mk("trio_v1_dead00000000000000000000000000000000")
    stale.setLastModified(1000L)
    val lostRace = mk(".staging/a1b2c3d4e5f6"); lostRace.setLastModified(1000L)
    val recent = mk("trio_v1_new000000000000000000000000000000000")
    val now = recent.lastModified()
    val deleted = Maintenance.vacuumCache(spark, root, Set(live),
      retentionMs = 3600_000L, nowMs = now).toSet
    assert(deleted == Set(stale.getName, ".staging/a1b2c3d4e5f6"))
    assert(keep.exists() && recent.exists())
  }

  test("vacuum drops a vacuumed bucketed trio's catalog registration; " +
      "a rebuild re-registers and serves") {
    import graft.quality.{DataQuality, SilverStage}
    val root = java.nio.file.Files
      .createTempDirectory("graft_trio_orphan").toString
    spark.conf.set(SilverStage.RootKey, root)
    try {
      DataQuality.summary(spark, Sf0001).collect()
      def trioTables() = spark.sessionState.catalog
        .listTables(spark.sessionState.catalog.getCurrentDatabase,
          "graft_dq_trio_*").map(_.table)
      def orphans() = trioTables().filter { t =>
        val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
          .getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(t)).location)
        !loc.getFileSystem(spark.sessionState.newHadoopConf()).exists(loc)
      }
      assert(trioTables().nonEmpty,
        "the bucketed trio must be catalog-registered")
      // vacuum EVERYTHING under this root (no live fingerprints, zero
      // retention) — the registration must not outlive the files
      Maintenance.vacuumCache(spark, root, Set.empty,
        retentionMs = 0L, nowMs = System.currentTimeMillis() + 10_000L)
      assert(orphans().isEmpty,
        "no graft_dq_trio_* registration may dangle after a vacuum")
      // rebuild at the same deterministic location: re-registers, serves
      val rows = DataQuality.summary(spark, Sf0001).collect()
      assert(rows.nonEmpty)
      assert(orphans().isEmpty)
    } finally {
      spark.conf.unset(SilverStage.RootKey)
    }
  }

  test("compaction aborts instead of discarding concurrently appended rows") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_compact_cc").toString
    val sink = new ParquetSink(wh)
    sink.overwrite(spark, "silver", "busy", (1L to 50L).toDF("id").repartition(4))
    intercept[java.util.ConcurrentModificationException] {
      Maintenance.guardedRewrite(spark, wh, "silver", "busy",
        TableLayout.none) { () =>
        // a concurrent incremental append lands while the rewrite runs —
        // without the listing guard the swap would silently drop it
        sink.append(spark, "silver", "busy", Seq(999L).toDF("id"))
        sink.read(spark, "silver", "busy").repartition(1)
      }
    }
    assert(sink.read(spark, "silver", "busy").as[Long].collect().toSet ==
      (1L to 50L).toSet + 999L,
      "the concurrently appended row survives; no lost update")
    assert(!new java.io.File(s"$wh/silver/_maint_busy").exists,
      "the staged rewrite is cleaned up on abort")
  }

  test("analyze lands row/column statistics in the catalog") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.warehouse.dir")
    val sink = new graft.pipeline.CatalogSink()
    sink.overwrite(spark, "silver", "stats_t",
      (1L to 77L).toDF("id").withColumn("grp", col("id") % 3))
    Maintenance.analyze(spark, "silver", "stats_t")
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("stats_t", Some("silver")))
    val stats = meta.stats.getOrElse(fail("ANALYZE must record table stats"))
    assert(stats.rowCount.contains(BigInt(77)))
    assert(stats.colStats.keySet == Set("id", "grp"),
      "FOR ALL COLUMNS must cover every column")
    assert(stats.colStats("id").max.map(_.toString).contains("77"))
  }
}
