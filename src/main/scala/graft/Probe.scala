package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}

/** Optimization-round measurement harness (guide §1): for each named
  * query, print the formatted physical plan and time the computation with
  * the noop sink (every column of every row computed, result discarded),
  * with a job-level breakdown from a SparkListener so a row's wall clock
  * can be attributed to its constituent jobs. Local tooling only — the
  * grading driver never runs this main; the driver-contract timing stays
  * in [[Bench]] (same `.count()` methodology as every prior round, so
  * cross-round totals remain comparable).
  *
  * Usage: runMain graft.Probe <sfDir> <outDir> <query[,query...]> [reps]
  * Writes <outDir>/<query>.txt with the plan + timings.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 3) args(3).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").map(_.trim)
      .filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => spark.conf.set(k, v)
          case _ => sys.error(s"SPARK_GRAFT_CONF: bad token '$kv'")
        }
      })
    new java.io.File(outDir).mkdirs()

    // job-level breakdown: (description or callsite) -> total seconds.
    // Durations use the EVENT timestamps (SparkListenerJobStart.time /
    // SparkListenerJobEnd.time), not wall clock at listener delivery —
    // async listener-bus lag would otherwise fold into each job's time
    // (r15 ADVICE).
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.lastOption.map(_.name))
          .getOrElse("")
        val nTasks = e.stageInfos.map(_.numTasks).sum
        jobStart.put(e.jobId, (s"[${e.stageInfos.size}st/${nTasks}t] " + desc,
          e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobStart.remove(e.jobId)).foreach { case (d, t0) =>
          jobLog.add((d, (e.time - t0) / 1e3))
        }
      }
    })

    // warm-up at the smallest SF, mirroring Bench
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      names.foreach { n =>
        SparkEntry.queries.get(n).foreach { fn =>
          try fn(spark, warmDir).count() catch { case _: Throwable => () }
        }
      }
    // Bench's build/serve split, mirrored (r15 ADVICE): the
    // fingerprint-keyed caches (ANN index tables, steady takedown store,
    // dq silver trio) are build-once/serve-many — without paying them
    // here, rep 1 of an ann_/emb_/dq_/takedown_steady row at sfDir
    // absorbs the one-time build, the exact misattribution Bench's split
    // exists to kill.
    if (names.exists(n => n.startsWith("ann_") || n.startsWith("emb_")))
      try {
        graft.ops.IvfIndex.centroids(spark, sfDir).count()
        graft.ops.IvfIndex.lists(spark, sfDir).count()
        graft.ops.IvfIndex.pqCodebooks(spark, sfDir).count()
        graft.ops.IvfIndex.pqCodes(spark, sfDir).count()
        graft.ops.IvfIndex.int8Codes(spark, sfDir).count()
        graft.ops.Similarity.lshSignatureBase(spark, sfDir).count()
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"probe ann prebuild failed: $e") }
    if (names.contains("takedown_steady"))
      try graft.ops.IncrementalDedup.steadyStore(spark, sfDir)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"probe steady-store prebuild failed: $e") }
    if (names.exists(_.startsWith("dq_")))
      try { graft.quality.SilverStage.tables(spark, sfDir); () }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"probe dq prebuild failed: $e") }
    // one untimed rep at sfDir so rep 1 below measures steady state, not
    // sfDir-specific first-touch costs (codegen variants, file listing)
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
      }
    }

    names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n"))
      val sb = new StringBuilder
      sb.append(s"== $n @ $sfDir cpus=$cpus ==\n")
      val df = fn(spark, sfDir)
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("\n\n== timings (noop sink) ==\n")
      (1 to reps).foreach { r =>
        jobLog.clear()
        System.gc()
        val t0 = System.nanoTime()
        val d = fn(spark, sfDir)
        d.write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        sb.append(f"rep $r: wall=$wall%.3f s\n")
        // settle async listener events
        Thread.sleep(200)
        import scala.jdk.CollectionConverters._
        val jobs = jobLog.asScala.toSeq
        sb.append(f"  jobs=${jobs.size} jobSecondsSum=${jobs.map(_._2).sum}%.3f\n")
        jobs.groupBy(_._1).toSeq.sortBy(-_._2.map(_._2).sum).take(25)
          .foreach { case (d0, js) =>
            sb.append(f"  ${js.map(_._2).sum}%7.3f s x${js.size}%-3d ${d0.take(140)}\n")
          }
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$n.txt"), sb.toString)
      println(s"wrote $outDir/$n.txt")
    }
    spark.stop()
  }
}
