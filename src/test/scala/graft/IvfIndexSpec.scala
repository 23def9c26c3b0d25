package graft

import graft.ops.{IvfIndex, Similarity}

/** Lifecycle guarantees of the persisted IVF index: train once, serve
  * many, retrain only on data change, results bit-identical to fresh
  * training. */
class IvfIndexSpec extends SparkSpec {

  private def withFreshCache[A](body: => A): A = {
    spark.conf.set(IvfIndex.RootKey,
      java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString)
    try body
    finally {
      IvfIndex.clearCache(spark)
      spark.conf.unset(IvfIndex.RootKey)
    }
  }

  test("cold query builds the index once; warm queries run zero Lloyd trainings") {
    withFreshCache {
      val before = IvfIndex.trainings.get
      assert(Similarity.annIvfTopK(spark, Sf0001).count() > 0)
      assert(IvfIndex.trainings.get == before + 1,
        "first query against a cold cache trains exactly once")
      assert(Similarity.annIvfTopK(spark, Sf0001).count() > 0)
      assert(Similarity.annIvfMultiProbeTopK(spark, Sf0001).count() > 0)
      assert(IvfIndex.trainings.get == before + 1,
        "warm-index queries must serve from the materialized centroid " +
          "table and run ZERO Lloyd iterations")
    }
  }

  test("pq: cold query trains codebooks once; warm ADC queries train zero") {
    withFreshCache {
      val before = IvfIndex.trainings.get
      assert(Similarity.annPqAdc(spark, Sf0001).count() > 0)
      // cold = two trainings, each exactly once: the product quantizer,
      // plus the IVF coarse quantizer whose assignment the code table
      // co-materializes (codes land partitioned by ivf_centroid)
      assert(IvfIndex.trainings.get == before + 2,
        "cold cache trains PQ codebooks + coarse quantizer exactly once each")
      assert(Similarity.annPqAdc(spark, Sf0001).count() > 0)
      assert(IvfIndex.trainings.get == before + 2,
        "warm ADC serving reads the materialized codebooks — zero Lloyd loops")
      // served codebooks are bit-identical to fresh training
      val served = Similarity.annPqAdc(spark, Sf0001)
        .collect().map(_.toSeq).toSet
      val fresh = Similarity.annPqAdc(spark, Sf0001,
        codebooks = Some(Similarity.pqCodebooks(spark, Sf0001)))
        .collect().map(_.toSeq).toSet
      assert(served == fresh,
        "doubles round-trip parquet exactly; served codebooks must not " +
          "perturb a single ADC score or rank")
    }
  }

  test("int8: cold query encodes once; warm serving scans codes at rest") {
    withFreshCache {
      val before = IvfIndex.codeBuilds.get
      val served = Similarity.annInt8TopK(spark, Sf0001)
      assert(served.count() > 0)
      assert(IvfIndex.codeBuilds.get == before + 1,
        "first compressed query against a cold cache quantizes exactly once")
      val warm = Similarity.annInt8TopK(spark, Sf0001)
      assert(warm.count() > 0)
      assert(IvfIndex.codeBuilds.get == before + 1,
        "warm compressed queries must serve from the materialized code " +
          "table and re-quantize NOTHING")
      // the whole point of int8 at scale is the 4×-smaller scan: the warm
      // serve plan must read the code table, never embeddings.parquet
      val scans = warm.queryExecution.executedPlan.collectLeaves().mkString("\n")
      assert(!scans.contains("embeddings.parquet"),
        s"warm int8 serving must not scan the float table:\n$scans")
      assert(scans.contains("int8_codes_"),
        s"warm int8 serving must scan the materialized code table:\n$scans")
      // served codes are bit-identical to a fresh quantization pass
      val fresh = Similarity.annInt8TopK(spark, Sf0001,
        codes = Some(Similarity.int8Codes(spark, Sf0001)))
        .collect().map(_.toSeq).toSet
      assert(served.collect().map(_.toSeq).toSet == fresh,
        "double/int/bigint round-trip parquet exactly; served codes must " +
          "not perturb a single cosine or rank")
    }
  }

  test("pq: codes materialize once; warm ADC database side scans codes only") {
    withFreshCache {
      val before = IvfIndex.codeBuilds.get
      assert(Similarity.annPqAdc(spark, Sf0001).count() > 0)
      assert(IvfIndex.codeBuilds.get == before + 1,
        "cold cache encodes the PQ codes exactly once")
      val warm = Similarity.annPqAdc(spark, Sf0001)
      assert(warm.count() > 0)
      assert(IvfIndex.codeBuilds.get == before + 1,
        "warm ADC serving reads the materialized code table — zero encode passes")
      val scans = warm.queryExecution.executedPlan.collectLeaves().mkString("\n")
      assert(scans.contains("pq_codes_"),
        s"warm ADC must serve the database side from the code table:\n$scans")
    }
  }

  test("rerank: codes carry ivf_centroid at rest; candidate scan DPP-prunes, no shuffle join") {
    withFreshCache {
      val before = IvfIndex.codeBuilds.get
      assert(Similarity.annIvfAdcRerank(spark, Sf0001).count() > 0)
      assert(IvfIndex.codeBuilds.get == before + 1,
        "cold rerank encodes the code table exactly once")
      val warm = Similarity.annIvfAdcRerank(spark, Sf0001)
      assert(warm.count() > 0)
      assert(IvfIndex.codeBuilds.get == before + 1,
        "warm rerank serves codes at rest — zero encode passes")
      // the on-disk layout IS the candidate index: one directory per IVF
      // list, so a probe set is an nprobe-directory read
      val annDir = new java.io.File(s"${graft.model.BuildCache.AnnIndex(spark)}/ann")
      val codesDir = annDir.listFiles()
        .find(_.getName.startsWith("pq_codes_"))
        .getOrElse(fail("code table was not materialized"))
      assert(codesDir.listFiles().exists(_.getName.startsWith("ivf_centroid=")),
        "codes must land partitioned by their IVF list id")
      // the code-table scan itself must carry the runtime pruning filter —
      // candidate generation reads nprobe partitions, not the corpus
      val codeScan = warm.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).filter(_.contains("pq_codes_"))
      assert(codeScan.nonEmpty, "warm rerank must scan the cached code table")
      assert(codeScan.forall(_.contains("dynamicpruning")),
        s"the broadcast probe join must DPP-prune the code scan:\n" +
          codeScan.mkString("\n").take(800))
      // zero corpus-wide exchanges in candidate generation: with the
      // broadcast fallback disabled, an unhinted corpus-sized join (the
      // old per-query codes ⋈ assignment shape) would surface as a
      // SortMergeJoin — every query-time join must be an explicit
      // broadcast over the DPP-pruned candidates
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val p = Similarity.annIvfAdcRerank(spark, Sf0001)
          .queryExecution.executedPlan.toString
        assert(!p.contains("SortMergeJoin"),
          "candidate generation must never shuffle-join corpus-sized tables")
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("served centroids are bit-identical to fresh training") {
    withFreshCache {
      val served = Similarity.annIvfTopK(spark, Sf0001)
        .collect().map(_.toSeq).toSet
      val fresh = Similarity.annIvfTopK(spark, Sf0001,
        centroids = Some(Similarity.ivfCentroids(spark, Sf0001)))
        .collect().map(_.toSeq).toSet
      assert(served == fresh,
        "doubles round-trip parquet exactly; the served index must not " +
          "perturb a single cosine or rank")
    }
  }

  test("fingerprint is content-addressed: distinct datasets never share an index") {
    def fp(dir: String) =
      graft.model.BuildCache.fingerprint(spark, dir, "embeddings.parquet")
    assert(fp(Sf0001) != fp("/root/testdata/sf0.01"))
  }

  test("inverted lists: one directory per centroid, probes prune via DPP") {
    withFreshCache {
      assert(Similarity.annIvfTopK(spark, Sf0001).count() > 0)
      val annDir = new java.io.File(s"${graft.model.BuildCache.AnnIndex(spark)}/ann")
      val listsDir = annDir.listFiles()
        .find(_.getName.startsWith("ivf_lists_"))
        .getOrElse(fail("lists table was not materialized"))
      assert(listsDir.listFiles().exists(_.getName.startsWith("centroid_id=")),
        "the on-disk layout must be one partition directory per centroid — " +
          "that layout IS the index structure")
      val p = Similarity.annIvfMultiProbeTopK(spark, Sf0001)
        .queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"),
        "the probe join must prune list directories at runtime (dynamic " +
          "partition pruning), so query cost tracks nprobe/k, not N:\n" +
          p.take(600))
    }
  }

  test("LSH signatures served from the index; prefix directories prune via DPP") {
    withFreshCache {
      assert(Similarity.annLshTopK(spark, Sf0001).count() > 0)
      val annDir = new java.io.File(s"${graft.model.BuildCache.AnnIndex(spark)}/ann")
      val sigs = annDir.listFiles().find(_.getName.startsWith("lsh_sigs_"))
        .getOrElse(fail("signature table was not materialized"))
      assert(sigs.listFiles().exists(_.getName.startsWith("bucket_prefix=p")),
        "signatures must be laid out by letter-prefixed bucket prefix")
      val p = Similarity.annLshMultiProbeTopK(spark, Sf0001)
        .queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"),
        "the probe join must prune signature directories at runtime:\n" +
          p.take(600))
    }
  }

  test("registry DAG rebuilds quantizer then lists in dependency order") {
    val wh = java.nio.file.Files.createTempDirectory("graft_ivf_reg2").toString
    val sink = new graft.pipeline.ParquetSink(wh)
    graft.pipeline.Registry.run(spark, Sf0001, sink,
      all = Seq(IvfIndex.registryModel, IvfIndex.listsRegistryModel,
        IvfIndex.pqRegistryModel),
      registerViews = false)
    assert(sink.exists(spark, "ann", "ann_ivf_lists"))
    assert(sink.read(spark, "ann", "ann_ivf_lists").count() == 500L)
    assert(new java.io.File(s"$wh/ann/ann_ivf_lists").listFiles()
      .exists(_.getName.startsWith("centroid_id=")),
      "the Registry-materialized lists must honor the partition layout")
    // the PQ codebooks land through the same run: m subspaces x k codes
    assert(sink.exists(spark, "ann", "ann_pq_codebooks"))
    assert(sink.read(spark, "ann", "ann_pq_codebooks").count() ==
      Similarity.PqSubspaces.toLong * Similarity.PqK)
  }

  test("registry model materializes the centroid table through the run's sink") {
    val wh = java.nio.file.Files.createTempDirectory("graft_ivf_reg").toString
    val sink = new graft.pipeline.ParquetSink(wh)
    graft.pipeline.Registry.run(spark, Sf0001, sink,
      all = Seq(IvfIndex.registryModel), registerViews = false)
    assert(sink.exists(spark, "ann", "ann_ivf_index"))
    val idx = sink.read(spark, "ann", "ann_ivf_index")
    assert(idx.columns.toSeq == Seq("centroid_id", "c_vec", "c_nrm"))
    // sf0.001 has 500 vectors -> k = ivfK(500) = 16 centroids
    assert(idx.count() == Similarity.ivfK(500L))
  }
}
