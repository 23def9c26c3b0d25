package graft

/** Human-facing pipeline CLI — the `dbt run && dbt test && dbt source
  * freshness` equivalent in one shot:
  *
  *   sbt "runMain graft.Run <sourceDir> <warehouseDir>"            # parquet paths
  *   sbt "runMain graft.Run <sourceDir> --catalog"                 # SQL databases
  *   sbt "runMain graft.Run <sourceDir> <wh> --select=silver_orders+"  # dbt graph selector
  *   sbt "runMain graft.Run <sourceDir> <wh> --full-refresh"       # rebuild incrementals
  *   sbt "runMain graft.Run <sourceDir> <wh> --corpus --ann-index" # + corpus release + ANN index builds
  *   sbt "runMain graft.Run <sourceDir> --docs=<outDir>"           # docs bundle, nothing materializes
  *
  * Materializes the nine-model DAG into the warehouse (bronze views,
  * silver/gold tables — path-routed parquet, or `--catalog` for the
  * reference's BRONZE/SILVER/GOLD database routing), prints per-model
  * rowcounts, source freshness, and the full declared data-quality
  * inventory.
  */
object Run {
  def main(args: Array[String]): Unit = {
    if (args.contains("--docs")) {
      // dbt docs generate analog: print the lineage DOT and exit
      println(pipeline.Registry.lineageDot())
      return
    }
    // opt-in DAG extensions: the corpus-release pipeline
    // (clean → chunks/pack) and the ANN index builds (IVF quantizer +
    // partitioned lists, PQ codebooks) join the run as ordinary models —
    // selectors, threads, sinks, and the docs bundle all see one list
    val extraModels =
      (if (args.contains("--corpus")) pipeline.CorpusPipeline.models
       else Seq.empty) ++
      (if (args.contains("--ann-index"))
        Seq(ops.IvfIndex.registryModel, ops.IvfIndex.listsRegistryModel,
          ops.IvfIndex.pqRegistryModel)
       else Seq.empty)
    // --docs=<dir>: write the docs bundle (manifest.json node graph,
    // catalog.json column types off the ANALYZED plans, lineage.dot) and
    // exit — like `dbt docs generate`, nothing materializes. The
    // MANIFEST covers the whole selected run set (metadata only); the
    // CATALOG sticks to the core DAG: an extension model's build is not
    // plan-only (index builds train k-means at DataFrame-construction
    // time), and docs generation must never pay a training job.
    // --docs-warehouse=<dir> (after a --corpus/--ann-index run into that
    // warehouse) additionally catalogs the extension relations from
    // their written parquet footers — schema reads only, still no job.
    args.collectFirst { case a if a.startsWith("--docs=") =>
        a.stripPrefix("--docs=") }.foreach { outDir =>
      val srcDir = args.filterNot(_.startsWith("--")).headOption
        .getOrElse("/root/testdata/sf0.001")
      val docsSink = args.collectFirst {
        case a if a.startsWith("--docs-warehouse=") =>
          new pipeline.ParquetSink(a.stripPrefix("--docs-warehouse="))
      }
      // respect an externally-configured master (spark-submit --master
      // sets the spark.master system property); default local[2] only
      // when none is — docs generation is planning-only either way
      val b = Session.builder(2)
      sys.props.get("spark.master").foreach(b.master)
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      try {
        pipeline.Docs.write(s, srcDir, outDir,
          pipeline.Registry.models ++ extraModels,
          catalogModels = Some(pipeline.Registry.models), sink = docsSink)
        println(s"== docs bundle (manifest.json, catalog.json, lineage.dot) -> $outDir")
      } finally s.stop()
      return
    }
    // the run ends with the declared dq inventory: a missing models YAML
    // (a run outside the project root) must fail here, not after every
    // model has materialized
    quality.SchemaYaml.loadDir(quality.DataQuality.modelsRoot)
    val catalogMode = args.contains("--catalog")
    val fullRefresh = args.contains("--full-refresh")
    val select = args.collectFirst { case a if a.startsWith("--select=") =>
      a.stripPrefix("--select=") }
    val exclude = args.collectFirst { case a if a.startsWith("--exclude=") =>
      a.stripPrefix("--exclude=") }
    val threads = args.collectFirst { case a if a.startsWith("--threads=") =>
      a.stripPrefix("--threads=").toInt }.getOrElse(4)
    // dbt state/defer surface: --state points at a previous run's
    // artifacts (enables state:modified selectors), --defer-warehouse
    // resolves unbuilt upstreams from another warehouse, --write-manifest
    // saves this project's fingerprints as the next --state baseline
    val state = args.collectFirst { case a if a.startsWith("--state=") =>
      a.stripPrefix("--state=") }
    val deferWh = args.collectFirst { case a if a.startsWith("--defer-warehouse=") =>
      a.stripPrefix("--defer-warehouse=") }
    val writeManifest = args.collectFirst { case a if a.startsWith("--write-manifest=") =>
      a.stripPrefix("--write-manifest=") }
    val positional = args.filterNot(_.startsWith("--"))
    val sourceDir = positional.headOption.getOrElse("/root/testdata/sf0.001")
    val warehouse = if (positional.length > 1) positional(1)
      else java.nio.file.Files.createTempDirectory("graft_warehouse").toString
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val sinkDesc = if (catalogMode) "catalog (bronze/silver/gold databases)" else warehouse
    println(s"== graft run: $sourceDir -> $sinkDesc")
    val t0 = System.nanoTime()
    val sink: pipeline.TableSink =
      if (catalogMode) new pipeline.CatalogSink()
      else new pipeline.ParquetSink(warehouse)
    select.foreach(s => println(s"==   --select $s"))
    exclude.foreach(s => println(s"==   --exclude $s"))
    state.foreach(s => println(s"==   --state $s"))
    val models = pipeline.Registry.run(spark, sourceDir, sink,
      threads = threads, all = pipeline.Registry.models ++ extraModels,
      select = select, exclude = exclude,
      fullRefresh = fullRefresh, state = state,
      deferTo = deferWh.map(new pipeline.ParquetSink(_)))
    writeManifest.foreach { d =>
      pipeline.Registry.writeManifest(spark, sourceDir, d)
      println(s"==   manifest written to $d")
    }
    pipeline.Registry.topoOrderOf(pipeline.Registry.models ++ extraModels)
      .filter(m => models.contains(m.name)).foreach { m =>
      println(f"  ${m.name}%-24s ${m.materialization}%-6s ${models(m.name).count()}%8d rows")
    }
    println(f"== run completed in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    if (catalogMode)
      println(s"==   spark.table(\"silver.silver_orders\") -> " +
        s"${spark.table("silver.silver_orders").count()} rows")

    println("== source freshness")
    pipeline.Registry.sourceFreshness(spark, sourceDir).foreach {
      case (src, status) => println(f"  $src%-24s $status")
    }

    println("== data-quality checks (declared inventory)")
    val dq = quality.DataQuality.summary(spark, sourceDir)
      .orderBy("check_name").collect()
    val failed = dq.filter(_.getLong(1) > 0)
    dq.foreach(r => println(f"  ${r.getString(0)}%-55s ${r.getLong(1)}%6d"))
    println(s"== ${dq.length - failed.length}/${dq.length} checks clean" +
      (if (failed.nonEmpty) s"; ${failed.length} with violations" else ""))
    spark.stop()
  }
}
