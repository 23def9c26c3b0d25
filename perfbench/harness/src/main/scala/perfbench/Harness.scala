package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry
import graft.pipeline.{ParquetSink, Registry}
import graft.quality.DataQuality

/** One benchmark run of one workload in a fresh JVM.
  *
  *   Harness <workload> <inputDir> <expected.json> <ops> <warm> <passes>
  *           <trace> <seed> <out.json> <scratchDir>
  *
  * `ops` is a comma-separated list of SparkEntry query names; the name
  * `pipeline` stands for one medallion iteration (Registry.run of the nine
  * models into a fresh ParquetSink warehouse, then DataQuality.summary,
  * then Registry.sourceFreshness).
  *
  * One closed-loop client runs the ops: `warm` warm-up passes (part of
  * set-up; with 0 the first timed pass is the process's first, cold:
  * class loading, JIT, codegen), then `passes` timed passes. A pass starts
  * with `pipeline` when the workload has it; the other ops follow in an
  * order seeded by the run's seed and the pass. Each op is timed alone, after a System.gc(); a query op is a
  * noop write of its DataFrame, which computes every column. Wall and
  * process CPU time bracket the op's body only. Each op's row count is
  * then checked against `expected.json` (DuckDB counts of the oracle SQL
  * on the same input).
  *
  * With trace = 1, after at least one warm-up pass, one pass is run
  * untraced, then with a SparkListener
  * and a QueryExecutionListener attached, then untraced again; a workload
  * with the `pipeline` op then has its medallion layers probed. `out.json`
  * then carries the per-layer metrics and the spans. */
object Harness {
  private val mapper = new ObjectMapper()

  /** One op's measured body and its deferred row-count check. */
  final case class OpRun(wallNs: Long, cpuNs: Long, check: () => Option[String])
  final case class Timed(name: String, pass: Int, wallNs: Long, cpuNs: Long, ok: Boolean)

  def main(argv: Array[String]): Unit = {
    val Array(workload, dir, expectedPath, opsArg, warmArg, passesArg, traceArg,
      seedArg, outPath, scratch) = argv
    val ops = opsArg.split(",").toSeq
    val timedPasses = passesArg.toInt
    val traced = traceArg == "1"
    val seed = seedArg.toLong
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val expected: Map[String, Long] = mapper
      .readValue(new File(expectedPath), classOf[java.util.Map[String, Object]])
      .asScala.map { case (k, v) => k -> v.toString.toLong }.toMap
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .withExtensions(new graft.plans.GraftExtensions()(_))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val out = mutable.LinkedHashMap.empty[String, Any]
    var failed = 0
    var attempted = 0
    val errors = mutable.ArrayBuffer.empty[String]

    def fail(what: String): Unit = {
      failed += 1
      if (errors.size < 20) errors += what
      System.err.println(s"[perfbench] FAILED $what")
    }

    // ---- ops ---------------------------------------------------------
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    /** Wall and process CPU time of `body`, with its deferred check. */
    def measure(body: => (() => Option[String])): OpRun = {
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val check = body
      val wall = System.nanoTime() - t0
      OpRun(wall, osBean.getProcessCpuTime - c0, check)
    }

    var warehouseSeq = 0
    def runOp(name: String): OpRun =
      if (name == "pipeline") {
        warehouseSeq += 1
        val wh = s"$scratch/warehouse-$warehouseSeq"
        measure {
          val models = Registry.run(spark, dir, new ParquetSink(wh), threads = cores)
          val dq = DataQuality.summary(spark, dir).collect()
          val fresh = Registry.sourceFreshness(spark, dir)
          () => {
            val bad = Registry.models.map(_.name).flatMap { m =>
              val n = models(m).count()
              val want = expected(s"model:$m")
              if (n != want) Some(s"$m rows $n != oracle $want") else None
            } ++ (if (dq.length.toLong != expected("dq_summary"))
                Some(s"dq_summary rows ${dq.length} != ${expected("dq_summary")}")
              else None) ++
              (if (!fresh.contains("raw_orders")) Some("no raw_orders freshness")
               else None)
            deleteTree(new File(wh))
            bad.headOption
          }
        }
      } else {
        val obs = Observation(s"rows_$name")
        measure {
          SparkEntry.queries(name)(spark, dir)
            .observe(obs, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          () => {
            val n = obs.get("n").asInstanceOf[Long]
            val want = expected(name)
            if (n != want) Some(s"$name rows $n != oracle $want") else None
          }
        }
      }

    val heap = ManagementFactory.getMemoryMXBean
    var heapLivePeak = 0L
    var storagePeakMb = 0.0
    var tracer: Tracer = null
    val records = mutable.ArrayBuffer.empty[OpRecord]
    var groupSeq = 0

    /** GC, then run `body` (which returns its wall time) as its own job
      * group; when a tracer is attached, the engine work it causes is
      * recorded against it. */
    def span(name: String, family: String, pass: Int)(body: => Long): OpRecord = {
      System.gc()
      heapLivePeak = math.max(heapLivePeak, heap.getHeapMemoryUsage.getUsed)
      groupSeq += 1
      val rec = new OpRecord(name, family, s"perfbench-$groupSeq-$name", pass)
      sc.setJobGroup(rec.group, s"perfbench $workload $name", interruptOnCancel = false)
      sc.setLocalProperty(Tracer.OpKey, rec.group)
      if (tracer != null) tracer.current = rec
      rec.startMs = System.currentTimeMillis()
      try rec.wallNs = body
      finally {
        rec.endMs = rec.startMs + rec.wallNs / 1000000
        sc.clearJobGroup()
        sc.setLocalProperty(Tracer.OpKey, null)
        if (tracer != null) {
          ListenerBusAccess.drain(sc)
          tracer.current = null
          records += rec
          storagePeakMb = math.max(storagePeakMb, Layers.storageMb(sc))
        }
      }
      rec
    }

    /** Runs one op in its span, then checks its row count outside it. */
    def timedOp(name: String, pass: Int): Timed = {
      attempted += 1
      try {
        var run: OpRun = null
        span(name, Families.of(name), pass) { run = runOp(name); run.wallNs }
        val bad = run.check()
        if (tracer != null) ListenerBusAccess.drain(sc)
        bad.foreach(fail)
        Timed(name, pass, run.wallNs, run.cpuNs, bad.isEmpty)
      } catch {
        case scala.util.control.NonFatal(e) =>
          fail(s"$name threw $e")
          Timed(name, pass, 0L, 0L, ok = false)
      }
    }

    def passOrder(p: Int): Seq[String] = {
      val (first, rest) = ops.partition(_ == "pipeline")
      first ++ new Random(seed * 7919 + p).shuffle(rest)
    }
    def runPass(p: Int, order: Int): Seq[Timed] = passOrder(order).map(timedOp(_, p))

    // ---- passes ----------------------------------------------------------
    // Untraced runs time a fixed number of passes, so every run does the
    // same work at the same stage of JVM warm-up. Traced runs time one warm
    // pass untraced, traced, then untraced again: the overhead compares the
    // traced copy with the mean of the two untraced ones, which cancels
    // most of the JVM's continuing warm-up.
    def attach(on: Boolean): Unit =
      if (on) {
        tracer = new Tracer
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      } else if (tracer != null) {
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        tracer = null
      }
    val warm = (1 to math.max(warmArg.toInt, if (traced) 1 else 0))
      .flatMap(p => runPass(-p, -p))
    val firstTimedMs = System.currentTimeMillis()
    val timed = (0 until (if (traced) 1 else timedPasses)).flatMap(p => runPass(p, p))
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      def perPass(f: Timed => Long): Double = Stats.quantile(
        timed.groupBy(_.pass).values.map(_.map(f).sum / 1e9).toSeq.sorted, 0.5)
      metrics("setup_s") = ((firstTimedMs - jvmStartMs) / 1e3, "s")
      metrics("pass_s") = (perPass(_.wallNs), "s")
      metrics("cpu_per_pass_s") = (perPass(_.cpuNs), "s")
    }
    val walls = timed.filter(_.ok).map(_.wallNs / 1e9).sorted
    out("warm_up_op_s") = warm.map(t => t.name -> t.wallNs / 1e9).toMap.asJava
    out("timed_passes") = timed.map(_.pass).distinct.size
    out("op_p50_s") = Stats.quantile(walls, 0.5)
    out("op_p90_s") = Stats.quantile(walls, 0.9)
    out("op_median_s") = timed.filter(_.ok).groupBy(_.name).map {
      case (k, v) => k -> Stats.quantile(v.map(_.wallNs / 1e9).sorted, 0.5)
    }.asJava

    // ---- traced mode ---------------------------------------------------
    // Layers and families a workload does not run read 0.
    if (traced) {
      attach(true)
      val tracedNs = runPass(1, 0).map(_.wallNs).sum
      attach(false)
      val untracedNs = (timed.map(_.wallNs).sum + runPass(2, 0).map(_.wallNs).sum) / 2.0
      System.gc()
      heapLivePeak = math.max(heapLivePeak, heap.getHeapMemoryUsage.getUsed)
      val opRecs = records.toSeq
      Layers.engine(opRecs, cores).foreach { case (k, v) => metrics(s"engine.$k") = v }
      metrics("engine.trace_overhead_frac") = (tracedNs / untracedNs - 1.0, "ratio")
      metrics("engine.storage_mb_peak") = (storagePeakMb, "MB")
      metrics("engine.heap_live_mb") = (heapLivePeak / 1048576.0, "MB")
      Layers.families(opRecs).foreach { case (k, v) => metrics(k) = v }

      records.clear()
      if (ops.contains("pipeline")) {
        attach(true)
        def probeStep(name: String, layer: String, body: () => Unit): OpRecord =
          span(name, layer, -1) {
            val t0 = System.nanoTime()
            try body()
            catch { case scala.util.control.NonFatal(e) => fail(s"probe $name threw $e") }
            System.nanoTime() - t0
          }
        new MedallionProbe(spark, dir, scratch, cores, probeStep).run()
          .foreach { case (k, v) => metrics(k) = v }
        attach(false)
      } else MedallionProbe.zeros.foreach { case (k, v) => metrics(k) = v }
      out("spans") = Layers.spans(workload, seed, firstTimedMs, opRecs ++ records)
    }

    out("workload") = workload
    out("attempted") = attempted
    out("failed") = failed
    out("errors") = errors.asJava
    out("metrics") = metrics.map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u).asJava }.asJava
    spark.stop()
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new File(outPath), toJava(out))
  }

  private def toJava(m: mutable.LinkedHashMap[String, Any]): java.util.Map[String, Any] = {
    val j = new java.util.LinkedHashMap[String, Any]()
    m.foreach { case (k, v) => j.put(k, v) }
    j
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length() else 0L
}

object Stats {
  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
    }
}
