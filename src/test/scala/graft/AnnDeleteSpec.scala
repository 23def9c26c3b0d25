package graft

import org.apache.spark.sql.functions._
import graft.ops.{IvfIndex, Similarity}

/** The ANN index deletion lifecycle: tombstones anti-joined by every
  * row-level serving path immediately, folded physically by
  * [[IvfIndex.compactIndex]] into a retrained generation bit-identical
  * to a fresh build on a corpus that never held the deleted vectors. */
class AnnDeleteSpec extends SparkSpec {

  private def withFreshCache[A](body: => A): A = {
    spark.conf.set(IvfIndex.RootKey,
      java.nio.file.Files.createTempDirectory("graft_ann_del_idx").toString)
    try body
    finally {
      IvfIndex.clearCache(spark)
      spark.conf.unset(IvfIndex.RootKey)
    }
  }

  // a deterministic non-query victim set (query ids are multiples of 250)
  private def victimIds =
    Similarity.embeddings(spark, Sf0001)
      .filter(pmod(col("vec_id"), lit(7L)) === 3L &&
        pmod(col("vec_id"), lit(250L)) =!= 0L)
      .select("vec_id")

  test("tombstone phase: pending deletes vanish from serving immediately, " +
      "warm index untouched") {
    withFreshCache {
      val base = Similarity.annIvfTopK(spark, Sf0001)
        .collect().map(_.toSeq).toSet
      val led = IvfIndex.defaultLedger(spark, Sf0001)
      IvfIndex.deleteVectors(spark, led, victimIds)
      val victims = victimIds.collect().map(_.getLong(0)).toSet
      val trainingsBefore = IvfIndex.trainings.get
      val served = Similarity.annIvfTopK(spark, Sf0001).collect()
      assert(IvfIndex.trainings.get == trainingsBefore,
        "a logical delete must not trigger any retraining — serving stays warm")
      assert(served.forall(r => !victims(r.getAs[Long]("neighbor_id"))),
        "no serving path may return a deleted vector")
      assert(served.map(_.toSeq).toSet != base,
        "the victim set must actually perturb some top-k list")
      // rows for queries whose base top-k had no victim are bit-unchanged
      val untouched = base.groupBy(_.head).filter { case (_, rows) =>
        rows.forall(r => !victims(r(1).asInstanceOf[Long]))
      }.keySet
      val servedByQ = served.map(_.toSeq).groupBy(_.head)
      untouched.foreach { q =>
        assert(servedByQ(q).toSet == base.filter(_.head == q),
          s"query $q had no deleted neighbor; its ranking must not move")
      }
      // the compressed path honors the same ledger
      val int8 = Similarity.annInt8TopK(spark, Sf0001).collect()
      assert(int8.forall(r => !victims(r.getAs[Long]("neighbor_id"))),
        "int8 code serving must anti-join the same ledger")
    }
  }

  test("compactIndex folds to a generation bit-identical to a fresh build " +
      "on the surviving corpus; old generation swept from disk") {
    withFreshCache {
      assert(Similarity.annIvfTopK(spark, Sf0001).count() > 0) // warm base
      val baseFp = graft.model.BuildCache.fingerprint(spark, Sf0001,
        "embeddings.parquet")
      val led = IvfIndex.defaultLedger(spark, Sf0001)
      IvfIndex.deleteVectors(spark, led, victimIds)
      IvfIndex.compactIndex(spark, Sf0001)
      // the never-ingested twin: a corpus directory holding only survivors
      val freshDir = java.nio.file.Files
        .createTempDirectory("graft_ann_survivors").toString
      spark.read.parquet(s"$Sf0001/embeddings.parquet")
        .join(victimIds.withColumnRenamed("vec_id", "v"),
          col("vec_id") === col("v"), "left_anti")
        .write.parquet(s"$freshDir/embeddings.parquet")
      // retrained quantizer: bit-identical centroids
      assert(IvfIndex.centroids(spark, Sf0001).collect().map(_.toSeq).toSet ==
        Similarity.ivfCentroids(spark, freshDir).collect().map(_.toSeq).toSet,
        "the folded generation must retrain — bit-equal to a fresh build " +
          "on a corpus that never held the deleted vectors")
      // end-to-end serving parity across the families
      assert(Similarity.annIvfTopK(spark, Sf0001).collect().map(_.toSeq).toSet ==
        Similarity.annIvfTopK(spark, freshDir).collect().map(_.toSeq).toSet)
      assert(Similarity.annInt8TopK(spark, Sf0001).collect().map(_.toSeq).toSet ==
        Similarity.annInt8TopK(spark, freshDir).collect().map(_.toSeq).toSet)
      assert(Similarity.annPqAdc(spark, Sf0001).collect().map(_.toSeq).toSet ==
        Similarity.annPqAdc(spark, freshDir).collect().map(_.toSeq).toSet)
      // physical sweep: no cached table still keyed by the pre-delete
      // corpus (those carried deleted rows at rest)
      val leftovers = new java.io.File(s"${graft.model.BuildCache.AnnIndex(spark)}/ann")
        .listFiles().map(_.getName)
        .filter(n => n.endsWith(s"_$baseFp") && !n.startsWith("del_"))
      assert(leftovers.isEmpty,
        s"old-generation tables must be deleted at the fold: " +
          leftovers.mkString(","))
      // post-fold serving is warm: zero further trainings
      val t = IvfIndex.trainings.get
      assert(Similarity.annIvfTopK(spark, Sf0001).count() > 0)
      assert(IvfIndex.trainings.get == t,
        "the fold eagerly warms the new generation")
      // idempotent: nothing pending, compact is a no-op
      IvfIndex.compactIndex(spark, Sf0001)
      assert(IvfIndex.trainings.get == t)
    }
  }

  test("the fold runs as a registry DAG node and lands a receipt") {
    withFreshCache {
      assert(Similarity.annIvfTopK(spark, Sf0001).count() > 0)
      IvfIndex.deleteVectors(spark,
        IvfIndex.defaultLedger(spark, Sf0001), victimIds)
      val wh = java.nio.file.Files
        .createTempDirectory("graft_ann_compact_dag").toString
      val sink = new graft.pipeline.ParquetSink(wh)
      graft.pipeline.Registry.run(spark, Sf0001, sink,
        all = Seq(IvfIndex.compactRegistryModel), registerViews = false)
      val r = sink.read(spark, "ann", "ann_index_compact").collect()
      assert(r.length == 1 && r(0).getInt(0) >= 0 &&
        r(0).getLong(1) == victimIds.count(),
        s"the receipt reports the folded mark and ledger size: ${r.mkString}")
      val victims = victimIds.collect().map(_.getLong(0)).toSet
      assert(Similarity.annIvfTopK(spark, Sf0001).collect()
        .forall(row => !victims(row.getAs[Long]("neighbor_id"))),
        "post-fold serving excludes the deleted vectors physically")
    }
  }

  test("the ann_delete_topk driver row uses an isolated ledger: the shared " +
      "index keeps serving the full corpus") {
    withFreshCache {
      val base = Similarity.annIvfTopK(spark, Sf0001)
        .collect().map(_.toSeq).toSet
      val victims = victimIds.collect().map(_.getLong(0)).toSet
      val deleted = Similarity.annIvfTopKDeleted(spark, Sf0001).collect()
      assert(deleted.nonEmpty)
      assert(deleted.forall(r => !victims(r.getAs[Long]("neighbor_id"))))
      assert(Similarity.annIvfTopK(spark, Sf0001)
        .collect().map(_.toSeq).toSet == base,
        "the row's throwaway ledger must never leak into shared serving")
    }
  }
}
