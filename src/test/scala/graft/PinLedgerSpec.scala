package graft

import graft.model.Stage

/** The round-12 leak class — a [[Stage.pin]] whose localCheckpoint
  * blocks outlive their last read, squeezing unified memory for every
  * later query in the JVM — was found by bench archaeology (same-binary
  * A/B + bisect). This spec makes that class fail HERE instead: with the
  * opt-in ledger on (`spark.graft.stage.ledger=true`), every driver
  * query must end its terminal action with ZERO leaked pins — each pin
  * either [[Stage.unpin]]ned at its provably-dead point or lazily
  * referenced by the returned frame (BPE segmentation, greedy decode,
  * pagerank — passed via the `except` set, never an allowlist). */
class PinLedgerSpec extends SparkSpec {

  test("every driver query releases its dead pins " +
      "(ledger on, all SparkEntry.queries, loop-heavy rows included)") {
    spark.conf.set(Stage.LedgerKey, "true")
    try {
      val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          Stage.ledgerReset()
          val df = fn(spark, Sf0001)
          df.count() // the terminal action the driver/bench runs
          val leaked = Stage.livePins(spark, except = Seq(df))
          if (leaked.isEmpty) None
          else Some(s"$name leaked ${leaked.size} pin(s): " +
            leaked.values.toSeq.sorted.mkString("; "))
      }
      assert(failures.isEmpty, failures.mkString("\n"))
    } finally {
      spark.conf.unset(Stage.LedgerKey)
      Stage.ledgerReset()
    }
  }

  test("a re-introduced ingest-style leak fails the check; " +
      "unpin and the except set clear it") {
    spark.conf.set(Stage.LedgerKey, "true")
    try {
      Stage.ledgerReset()
      import spark.implicits._
      // the r12 defect shape: a build step pins, acts, and forgets
      val pinned = Stage.pin((1 to 100).toDF("v"))
      pinned.count()
      val leaked = Stage.livePins(spark)
      assert(leaked.size == 1, s"the dead pin must surface: $leaked")
      assert(leaked.values.head.contains("PinLedgerSpec"),
        s"the creation site must name the leaking caller: $leaked")
      // a returned frame lazily reading the pin is NOT a leak
      assert(Stage.livePins(spark, except = Seq(pinned.filter($"v" > 1)))
        .isEmpty)
      // ...and the seam's own release clears it for real
      Stage.unpin(pinned)
      assert(Stage.livePins(spark).isEmpty)
    } finally {
      spark.conf.unset(Stage.LedgerKey)
      Stage.ledgerReset()
    }
  }

  test("ledger off: pins are not recorded (zero overhead by default)") {
    Stage.ledgerReset()
    import spark.implicits._
    val pinned = Stage.pin((1 to 10).toDF("v"))
    pinned.count()
    assert(Stage.livePins(spark).isEmpty)
    Stage.unpin(pinned)
  }

  test("unpin matches only the plan root: a derived frame embedding a " +
      "still-live shared pin is a no-op, never a block drop") {
    import spark.implicits._
    val pinned = Stage.pin((1 to 50).toDF("v"))
    val derived = pinned.filter($"v" > 10).select(($"v" * 2).as("w"))
    Stage.unpin(derived) // caller bug: must NOT reach the shared pin
    assert(pinned.count() == 50, "the shared pin's blocks must survive")
    assert(derived.count() == 40)
    Stage.unpin(pinned) // the bare-frame contract releases it
  }

  test("clearAll skips a live application's leased subtree; " +
      "force sweeps everything") {
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_stage_lease").toString
    spark.conf.set(Stage.DirKey, scratch)
    try {
      import spark.implicits._
      // our app's first durable pin writes the lease marker
      Stage.pin((1 to 10).toDF("v")).count()
      val appDir = new java.io.File(scratch,
        s"app-${spark.sparkContext.applicationId}")
      assert(new java.io.File(appDir, "_live").exists(),
        "first durable pin must write the lease marker")
      // a crashed app's leftovers: a subtree with a STALE lease (older
      // than the horizon) and one with no lease at all
      val crashed = new java.io.File(scratch, "app-crashed/stage-1")
      assert(crashed.mkdirs())
      val staleLease = new java.io.File(scratch, "app-crashed/_live")
      assert(staleLease.createNewFile())
      assert(staleLease.setLastModified(
        System.currentTimeMillis() - 48L * 3600 * 1000))
      val unleased = new java.io.File(scratch, "app-unleased/stage-1")
      assert(unleased.mkdirs())
      Stage.clearAll(spark)
      assert(appDir.exists(),
        "another session's sweep must not delete a live app's stages")
      assert(!crashed.exists(), "stale-leased subtree is reclaimed")
      assert(!unleased.exists(), "unleased subtree is reclaimed")
      Stage.clearAll(spark, force = true)
      assert(!appDir.exists(), "force restores the unconditional sweep")
    } finally {
      spark.conf.unset(Stage.DirKey)
    }
  }

  test("lease heartbeat: an app idle past the horizon (reading, not " +
      "pinning) survives a non-force clearAll") {
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_stage_hb").toString
    spark.conf.set(Stage.DirKey, scratch)
    try {
      import spark.implicits._
      Stage.pin((1 to 10).toDF("v")).count()
      val appDir = new java.io.File(scratch,
        s"app-${spark.sparkContext.applicationId}")
      val marker = new java.io.File(appDir, "_live")
      assert(marker.exists())
      // a full horizon passes with NO pins (the app only lazily reads):
      // backdate the marker past the 24h default — the r13 exposure.
      // Control first: with no heartbeat tick the sweep reclaims.
      val stale = System.currentTimeMillis() - 48L * 3600 * 1000
      assert(marker.setLastModified(stale))
      Stage.clearAll(spark)
      assert(!appDir.exists(),
        "control: an aged marker with no heartbeat is reclaimed")
      Stage.clear(spark) // reset this app's in-memory lease state
      // same aging, but the heartbeat ticks before the sweep — the
      // idle-reading app keeps looking alive
      Stage.pin((1 to 10).toDF("v")).count()
      assert(marker.exists())
      assert(marker.setLastModified(stale))
      Stage.heartbeatTick()
      assert(marker.lastModified() > stale,
        "the heartbeat must rewrite the aged marker")
      Stage.clearAll(spark)
      assert(appDir.exists(),
        "a heartbeat-fresh subtree survives the non-force sweep")
    } finally {
      Stage.clear(spark)
      spark.conf.unset(Stage.DirKey)
    }
  }

  test("clear relinquishes the lease FIRST: a heartbeat tick after " +
      "clear cannot resurrect the subtree or its marker") {
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_stage_clr").toString
    spark.conf.set(Stage.DirKey, scratch)
    try {
      import spark.implicits._
      Stage.pin((1 to 10).toDF("v")).count()
      val appDir = new java.io.File(scratch,
        s"app-${spark.sparkContext.applicationId}")
      assert(new java.io.File(appDir, "_live").exists())
      Stage.clear(spark)
      assert(!appDir.exists(), "clear deletes the app subtree")
      // the tick a concurrent heartbeat would have run mid-clear: with
      // the lease entry removed before the delete, it must be a no-op
      Stage.heartbeatTick()
      assert(!appDir.exists(),
        "a post-clear tick must not recreate the relinquished subtree")
    } finally {
      Stage.clear(spark)
      spark.conf.unset(Stage.DirKey)
    }
  }
}
