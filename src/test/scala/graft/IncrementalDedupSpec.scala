package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, IncrementalDedup, TextOps}

/** The incremental fingerprint store: per-shard ingest cost bounds (only
  * unseen texts are fingerprinted), detection over the index alone (no
  * raw-corpus re-read), and bit-equality with the from-scratch operator. */
class IncrementalDedupSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("inc_dedup_spec").toString

  test("two-batch replay bit-equals the full-corpus near-dup operator") {
    val full = Dedup.winnowNearDup(spark, Sf0001)
      .collect().map(_.toSeq).toSet
    val replayed = IncrementalDedup.replay(spark, Sf0001)
      .collect().map(_.toSeq).toSet
    assert(replayed == full,
      "batching the corpus through the store must not change a single pair")
  }

  test("re-ingesting overlapping shards fingerprints only unseen texts") {
    val root = freshRoot()
    val docs = TextOps.documents(spark, Sf0001)
    val half = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
    val distinctIn = half.select(md5(col("text"))).distinct().count()
    assert(IncrementalDedup.ingest(spark, root, 0, half) == distinctIn,
      "a cold store fingerprints every distinct text of the first shard")
    // second shard = the WHOLE corpus (an at-least-once recrawl): only
    // texts absent from shard 1 may pay the winnow pass
    val unseenTexts = docs.join(half.select(md5(col("text")).as("h")).distinct(),
        md5(col("text")) === col("h"), "left_anti")
      .select(md5(col("text"))).distinct().count()
    assert(IncrementalDedup.ingest(spark, root, 1, docs) == unseenTexts,
      "already-indexed texts must not be re-fingerprinted on re-delivery")
    // the recrawl delivered every doc_id, so detection over the store
    // equals the full-corpus operator
    val full = Dedup.winnowNearDup(spark, Sf0001).collect().map(_.toSeq).toSet
    assert(IncrementalDedup.nearDupPairs(spark, root)
      .collect().map(_.toSeq).toSet == full)
  }

  test("8-batch replay compacts twice; pairs bit-equal; directory count bounded") {
    val root = freshRoot()
    val docs = TextOps.documents(spark, Sf0001)
    val mod = 8L
    val before = IncrementalDedup.compactions.get
    (0 until mod.toInt).foreach { b =>
      IncrementalDedup.ingest(spark, root, b,
        docs.filter(pmod(col("doc_id"), lit(mod)) === b))
    }
    assert(IncrementalDedup.compactions.get == before + 2,
      s"8 ingests at CompactEvery=${IncrementalDedup.CompactEvery} fold twice")
    // bounded listing: after thousands of crawls the store is one
    // generation + at most CompactEvery-1 uncompacted batches — here the
    // 8th ingest just folded, so batches/ is empty and compact/ holds ONE
    // generation (the previous one was swept)
    def dirs(sub: String): Seq[String] = {
      val d = new java.io.File(s"$root/$sub")
      if (d.isDirectory) d.listFiles().map(_.getName).toSeq else Seq.empty
    }
    assert(dirs("compact") == Seq("w=7"), dirs("compact").toString)
    assert(dirs("batches").isEmpty, dirs("batches").toString)
    // folding must not change a single pair
    val full = Dedup.winnowNearDup(spark, Sf0001).collect().map(_.toSeq).toSet
    assert(IncrementalDedup.nearDupPairs(spark, root)
      .collect().map(_.toSeq).toSet == full,
      "compaction must be invisible to detection")
    // the watermark fences re-delivery of folded batch ids
    intercept[IllegalArgumentException] {
      IncrementalDedup.ingest(spark, root, 3, docs.limit(1))
    }
  }

  test("delta detection equals the full pairs restricted to the new shard") {
    val root = freshRoot()
    val docs = TextOps.documents(spark, Sf0001)
    IncrementalDedup.ingest(spark, root, 0,
      docs.filter(pmod(col("doc_id"), lit(2L)) === 0))
    IncrementalDedup.ingest(spark, root, 1,
      docs.filter(pmod(col("doc_id"), lit(2L)) === 1))
    val all = IncrementalDedup.nearDupPairs(spark, root).collect()
      .map(_.toSeq).toSet
    // shard = global representatives of texts delivered in batch 1
    val shardDocs = docs.filter(pmod(col("doc_id"), lit(2L)) === 1)
      .select(md5(col("text")).as("h")).distinct()
      .join(docs.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")), Seq("h"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = all.filter(r =>
      shardDocs(r.head.asInstanceOf[Long]) ||
        shardDocs(r(1).asInstanceOf[Long]))
    val delta = IncrementalDedup.nearDupPairsDelta(spark, root, 1)
      .collect().map(_.toSeq).toSet
    assert(delta == expected,
      "delta must be exactly the touching subset — no misses, no extras, " +
        "no double-counted shard-shard pairs")
    assert(delta.nonEmpty && delta != all,
      "the restriction must be exercised (some pairs touch, some don't)")
  }

  test("ingest commits atomically: a crashed write leaves no half-batch") {
    val root = freshRoot()
    val docs = TextOps.documents(spark, Sf0001)
    IncrementalDedup.ingest(spark, root, 0,
      docs.filter(pmod(col("doc_id"), lit(2L)) === 0))
    // simulate the crash the old two-write layout feared: an in-flight
    // staging directory with reps written but the commit rename never run
    val staging = new java.io.File(s"$root/.staging/deadc0de")
    new java.io.File(staging, "reps").mkdirs()
    // staging garbage is invisible: the half-store detects exactly what
    // the from-scratch operator computes on the half corpus (reps and DF
    // bounds are corpus-global, so this is the only valid mid-stream check)
    val pairsBefore = IncrementalDedup.nearDupPairs(spark, root)
      .collect().map(_.toSeq).toSet
    assert(pairsBefore == Dedup
      .winnowNearDupFrom(docs.filter(pmod(col("doc_id"), lit(2L)) === 0))
      .collect().map(_.toSeq).toSet,
      "the crashed staging dir must not leak into detection")
    // readers never see staging garbage: texts are NOT marked seen, so a
    // retry under a fresh batch id re-fingerprints and loses nothing
    val n = IncrementalDedup.ingest(spark, root, 1,
      docs.filter(pmod(col("doc_id"), lit(2L)) === 1))
    assert(n > 0, "retry after crash must re-fingerprint the shard")
    val full = Dedup.winnowNearDup(spark, Sf0001).collect().map(_.toSeq).toSet
    assert(IncrementalDedup.nearDupPairs(spark, root)
      .collect().map(_.toSeq).toSet == full,
      "no pair may be lost to a crashed ingest")
    // committing the same batch id twice is refused, not silently merged
    intercept[IllegalArgumentException] {
      IncrementalDedup.ingest(spark, root, 1, docs.limit(1))
    }
  }

  test("store ingest + detection run as registry DAG nodes") {
    spark.conf.set(IncrementalDedup.StoreRootKey,
      java.nio.file.Files.createTempDirectory("inc_dedup_dag").toString)
    try {
      val wh = java.nio.file.Files.createTempDirectory("inc_dedup_wh").toString
      val sink = new graft.pipeline.ParquetSink(wh)
      graft.pipeline.Registry.run(spark, Sf0001, sink,
        all = Seq(IncrementalDedup.ingestRegistryModel,
          IncrementalDedup.pairsRegistryModel),
        registerViews = false)
      val receipt = sink.read(spark, "dedup", "dedup_store_ingest").collect()
      assert(receipt.length == 1 && receipt(0).getLong(1) > 0,
        "the tick materializes a one-row ingest receipt")
      val full = Dedup.winnowNearDup(spark, Sf0001).collect().map(_.toSeq).toSet
      assert(sink.read(spark, "dedup", "dedup_store_pairs").collect()
        .map(_.toSeq).toSet == full,
        "the DAG-landed pair table equals the from-scratch operator")
      // the fold runs as a DAG node too: a pending delete is applied and
      // the receipt reports a clean store
      IncrementalDedup.delete(spark, graft.model.BuildCache.DedupStore(spark),
        TextOps.documents(spark, Sf0001).limit(1).select("doc_id"))
      graft.pipeline.Registry.run(spark, Sf0001, sink,
        all = Seq(IncrementalDedup.ingestRegistryModel,
          IncrementalDedup.compactRegistryModel),
        registerViews = false)
      val foldReceipt = sink.read(spark, "dedup", "dedup_store_compact")
        .collect()
      assert(foldReceipt.length == 1 &&
        foldReceipt(0).getInt(1) == 0 && foldReceipt(0).getInt(2) == 0,
        s"the scheduled fold leaves no pending batches or tombstones: " +
          foldReceipt.mkString)
    } finally spark.conf.unset(IncrementalDedup.StoreRootKey)
  }

  test("delete: tombstones are visible immediately and fold to bit-equality " +
      "with never having ingested") {
    val root = freshRoot()
    val docs = TextOps.documents(spark, Sf0001)
    (0 until 2).foreach { b =>
      IncrementalDedup.ingest(spark, root, b,
        docs.filter(pmod(col("doc_id"), lit(2L)) === b))
    }
    val survivors = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3)
    val expected = Dedup.winnowNearDupFrom(survivors)
      .collect().map(_.toSeq).toSet
    IncrementalDedup.delete(spark, root,
      docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id"))
    // BEFORE the fold: readers anti-join the pending tombstones, so the
    // delete is already bit-equal to a store that never saw those docs
    assert(IncrementalDedup.nearDupPairs(spark, root)
      .collect().map(_.toSeq).toSet == expected,
      "a pending delete must already be invisible to detection")
    IncrementalDedup.compact(spark, root)
    // AFTER the fold: same pairs, deletions now physical, ledger swept
    assert(IncrementalDedup.nearDupPairs(spark, root)
      .collect().map(_.toSeq).toSet == expected,
      "folding tombstones must not change a single pair")
    assert(!new java.io.File(s"$root/tombstones").exists() ||
      new java.io.File(s"$root/tombstones").listFiles().isEmpty,
      "folded tombstone directories must be swept")
    def genDirs = new java.io.File(s"$root/compact").listFiles().map(_.getName)
    assert(genDirs.length == 1, genDirs.mkString(","))
    // the folded member table physically contains no deleted doc
    val deleted = docs.filter(pmod(col("doc_id"), lit(7L)) === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val stored = spark.read.parquet(s"$root/compact/${genDirs.head}/reps")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stored.intersect(deleted).isEmpty,
      "compaction must remove deleted docs from disk, not just from view")
    // tombstone-only compaction (no new batches) folds under a bumped
    // rewrite tick — immutable staged-rename, nothing rewritten in place
    IncrementalDedup.delete(spark, root,
      docs.filter(pmod(col("doc_id"), lit(7L)) === 5).select("doc_id"))
    IncrementalDedup.compact(spark, root)
    assert(new java.io.File(s"$root/compact").listFiles()
      .map(_.getName).exists(_.contains("r1")),
      "a tombstone-only fold commits a new generation under a rewrite tick")
    val expected2 = Dedup.winnowNearDupFrom(docs.filter(
      pmod(col("doc_id"), lit(7L)) =!= 3 &&
        pmod(col("doc_id"), lit(7L)) =!= 5)).collect().map(_.toSeq).toSet
    assert(IncrementalDedup.nearDupPairs(spark, root)
      .collect().map(_.toSeq).toSet == expected2)
  }

  test("delete every copy of a text: fps vanish at the fold; re-ingest " +
      "re-fingerprints like a fresh store") {
    val root = freshRoot()
    val docs = TextOps.documents(spark, Sf0001)
    // the corpus has no exact-duplicate texts, so synthesize a second
    // copy of every doc under shifted ids — texts genuinely have two
    // members, making rep reassignment and full removal both real
    val corpus = docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + 10000L))
    IncrementalDedup.ingest(spark, root, 0, corpus)
    // rep reassignment: delete the MIN member of one text; its twin
    // (id+10000) takes over as the representative in every pair
    IncrementalDedup.delete(spark, root,
      spark.range(1).select(lit(0L).as("doc_id")))
    assert(IncrementalDedup.nearDupPairs(spark, root)
      .collect().map(_.toSeq).toSet ==
      Dedup.winnowNearDupFrom(corpus.filter(col("doc_id") =!= 0L))
        .collect().map(_.toSeq).toSet,
      "deleting a representative must promote the next surviving member")
    // full removal: delete the twin too, then fold
    IncrementalDedup.delete(spark, root,
      spark.range(1).select(lit(10000L).as("doc_id")))
    IncrementalDedup.compact(spark, root)
    // physically gone: no fingerprint row for the text survives the fold
    val h = docs.filter(col("doc_id") === 0L)
      .select(md5(col("text"))).collect()(0).getString(0)
    val gen = new java.io.File(s"$root/compact").listFiles()(0).getName
    assert(spark.read.parquet(s"$root/compact/$gen/fps")
      .filter(col("text_hash") === h).count() == 0,
      "a fully-deleted text's fingerprints must be dropped at the fold")
    // re-ingest both copies: the store treats the text as brand new
    val n = IncrementalDedup.ingest(spark, root, 1,
      corpus.filter(col("doc_id") === 0L || col("doc_id") === 10000L))
    assert(n == 1,
      s"re-ingesting a purged text must re-fingerprint it (got $n)")
    assert(IncrementalDedup.nearDupPairs(spark, root)
      .collect().map(_.toSeq).toSet ==
      Dedup.winnowNearDupFrom(corpus).collect().map(_.toSeq).toSet,
      "takedown-then-resubmit must restore full-corpus detection")
  }

  test("deletes auto-fold once CompactEvery tombstone directories accumulate") {
    val root = freshRoot()
    val docs = TextOps.documents(spark, Sf0001)
    IncrementalDedup.ingest(spark, root, 0, docs)
    IncrementalDedup.compact(spark, root)
    val before = IncrementalDedup.compactions.get
    (0 until IncrementalDedup.CompactEvery).foreach { i =>
      IncrementalDedup.delete(spark, root,
        docs.filter(col("doc_id") === i.toLong).select("doc_id"))
    }
    assert(IncrementalDedup.compactions.get == before + 1,
      "a delete-only workload must stay bounded by auto-folding")
    assert(new java.io.File(s"$root/tombstones").listFiles().isEmpty)
  }

  test("detection reads only the index, never the raw corpus") {
    val root = freshRoot()
    val docs = TextOps.documents(spark, Sf0001)
    IncrementalDedup.ingest(spark, root, 0, docs)
    val pairs = IncrementalDedup.nearDupPairs(spark, root)
    assert(pairs.count() > 0, "sf0.001 contains near-dup pairs")
    val leaves = pairs.queryExecution.executedPlan.collectLeaves()
      .mkString("\n")
    assert(!leaves.contains("documents.parquet"),
      s"detection must be index-only — old shards' text is never " +
        s"re-read:\n$leaves")
    assert(leaves.contains(root),
      s"detection must scan the store at $root:\n$leaves")
  }
}
