package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** Per-layer metrics computed from traced op records. */
object Layers {
  private val MB = 1048576.0

  /** Engine cut: sums over the ops of the traced pass. */
  def engine(recs: Seq[OpRecord], cores: Int): Seq[(String, (Double, String))] = {
    def sum(f: OpRecord => Double) = recs.map(f).sum
    val jobS = sum(_.jobS)
    val execRun = sum(_.execRunMs / 1e3)
    Seq(
      "plan_s" -> (sum(_.planMs / 1e3), "s"),
      "jobs" -> (sum(_.jobs.size.toDouble), "count"),
      "tiny_jobs" -> (sum(_.tinyJobs.toDouble), "count"),
      "tasks" -> (sum(_.tasks.toDouble), "count"),
      "job_s" -> (jobS, "s"),
      "driver_s" -> (sum(_.driverS), "s"),
      "exec_run_s" -> (execRun, "s"),
      "exec_cpu_s" -> (sum(_.execCpuNs / 1e9), "s"),
      "sched_delay_s" -> (sum(_.schedDelayMs / 1e3), "s"),
      "gc_s" -> (sum(_.gcMs / 1e3), "s"),
      "shuffle_write_mb" -> (sum(_.shuffleWriteB / MB), "MB"),
      "shuffle_read_mb" -> (sum(_.shuffleReadB / MB), "MB"),
      "spill_mb" -> (sum(_.spillB / MB), "MB"),
      "input_mb" -> (sum(_.inputB / MB), "MB"),
      "output_mb" -> (sum(_.outputB / MB), "MB"),
      "slot_util" -> (if (jobS > 0) execRun / (jobS * cores) else 0.0, "ratio"),
      "unattributed_jobs" -> (sum(_.unattributed.toDouble), "count"))
  }

  /** Medallion cut of one layer's probe steps. */
  def layer(recs: Seq[OpRecord]): Seq[(String, (Double, String))] = {
    def sum(f: OpRecord => Double) = recs.map(f).sum
    Seq(
      "wall_s" -> (sum(_.wallS), "s"),
      "plan_s" -> (sum(_.planMs / 1e3), "s"),
      "jobs" -> (sum(_.jobs.size.toDouble), "count"),
      "tasks" -> (sum(_.tasks.toDouble), "count"),
      "exec_run_s" -> (sum(_.execRunMs / 1e3), "s"),
      "shuffle_write_mb" -> (sum(_.shuffleWriteB / MB), "MB"),
      "output_mb" -> (sum(_.outputB / MB), "MB"))
  }

  /** Operator-family cut of the traced pass, for every family in
    * `Families.reported`; a family the workload does not run reads 0. */
  def families(recs: Seq[OpRecord]): Seq[(String, (Double, String))] =
    Families.reported.flatMap { fam =>
      val rs = recs.filter(_.family == fam)
      def sum(f: OpRecord => Double) = rs.map(f).sum
      Seq(
        "wall_s" -> (sum(_.wallS), "s"),
        "plan_s" -> (sum(_.planMs / 1e3), "s"),
        "jobs" -> (sum(_.jobs.size.toDouble), "count"),
        "tiny_jobs" -> (sum(_.tinyJobs.toDouble), "count"),
        "driver_s" -> (sum(_.driverS), "s"),
        "shuffle_write_mb" -> (sum(_.shuffleWriteB / MB), "MB"))
        .map { case (k, v) => s"$fam.$k" -> v }
    }

  /** Storage memory in use on the block managers (pins, caches,
    * broadcasts), in MB. */
  def storageMb(sc: SparkContext): Double =
    sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / MB

  /** Spans run -> pass -> op -> job, with ids and parents. */
  def spans(workload: String, seed: Long, startMs: Long,
      recs: Seq[OpRecord]): java.util.Map[String, Any] = {
    val passIds = recs.map(_.pass).distinct.sorted
    val passSpans = passIds.map { p =>
      val rs = recs.filter(_.pass == p)
      Map[String, Any]("id" -> s"pass-$p", "parent" -> "run",
        "name" -> (if (p < 0) "probe" else s"pass $p"),
        "start_ms" -> rs.map(_.startMs).min, "end_ms" -> rs.map(_.endMs).max).asJava
    }
    val opSpans = recs.zipWithIndex.map { case (r, i) =>
      Map[String, Any]("id" -> s"op-$i", "parent" -> s"pass-${r.pass}",
        "name" -> r.name, "family" -> r.family, "job_group" -> r.group,
        "start_ms" -> r.startMs, "end_ms" -> r.endMs,
        "plan_ms" -> r.planMs, "tasks" -> r.tasks,
        "jobs" -> r.jobs.map { j =>
          Map[String, Any]("id" -> s"job-${j.id}", "parent" -> s"op-$i",
            "job_group" -> j.group, "start_ms" -> j.startMs,
            "end_ms" -> j.endMs, "tasks" -> j.tasks).asJava
        }.asJava).asJava
    }
    Map[String, Any](
      "run" -> Map[String, Any]("id" -> "run", "workload" -> workload,
        "seed" -> seed, "start_ms" -> startMs,
        "end_ms" -> (startMs +: recs.map(_.endMs)).max).asJava,
      "passes" -> passSpans.asJava,
      "ops" -> opSpans.asJava).asJava
  }
}
