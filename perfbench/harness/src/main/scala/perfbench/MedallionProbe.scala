package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.adapter.RawSources
import graft.bronze.Bronze
import graft.pipeline.{ParquetSink, Registry}
import graft.quality.{DataQuality, SilverStage}

/** Medallion cut of the traced run: each layer timed from outside.
  *   - adapter: a noop write of each RawSources.raw*
  *   - bronze: a noop write of each Bronze.* (inclusive of the adapter)
  *   - silver, gold: one Registry.run(select = model) per model, in
  *     topological order, upstream models provided from the sink
  *   - quality: DataQuality.summary + Registry.sourceFreshness
  * `pipeline.parallel_gain` is the sum of the per-model walls over the
  * wall of a warm full run; `pipeline.write_amp` is the parquet bytes that
  * run writes over the bytes of the source tables it reads;
  * `dq.stage_build_s` is a build of the dq silver stage into a fresh cache
  * root. */
final class MedallionProbe(spark: SparkSession, dir: String, scratch: String,
    cores: Int, step: (String, String, () => Unit) => OpRecord) {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(): Seq[(String, (Double, String))] = {
    val recs = mutable.ArrayBuffer.empty[OpRecord]
    Seq("raw_customers" -> RawSources.rawCustomers _,
      "raw_orders" -> RawSources.rawOrders _,
      "raw_payments" -> RawSources.rawPayments _).foreach { case (n, f) =>
      recs += step(s"adapter.$n", "adapter", () => noop(f(spark, dir)))
    }
    Seq("bronze_customers" -> Bronze.customers _,
      "bronze_orders" -> Bronze.orders _,
      "bronze_payments" -> Bronze.payments _).foreach { case (n, f) =>
      recs += step(s"bronze.$n", "bronze", () => noop(f(spark, dir)))
    }
    val sink = new ParquetSink(s"$scratch/probe-wh1")
    Registry.topoOrderOf(Registry.models)
      .filter(m => m.layer == "silver" || m.layer == "gold").foreach { m =>
        recs += step(s"${m.layer}.${m.name}", m.layer, () =>
          Registry.run(spark, dir, sink, threads = cores, select = Some(m.name)))
      }
    recs += step("quality.test", "quality", () => {
      DataQuality.summary(spark, dir).collect()
      Registry.sourceFreshness(spark, dir)
    })
    val whFull = s"$scratch/probe-wh2"
    val full = step("pipeline.full_run", "pipeline", () =>
      Registry.run(spark, dir, new ParquetSink(whFull), threads = cores))
    // the dq silver stage DataQuality.summary serves from, built again into
    // a fresh cache root
    spark.conf.set(SilverStage.RootKey, s"$scratch/probe-dq")
    val stage = step("dq.stage_build", "stage", () => SilverStage.tables(spark, dir))

    val perModel = recs.filter(r => r.family == "silver" || r.family == "gold")
    val sourceBytes = Seq("orders", "customer")
      .map(t => new File(s"$dir/$t.parquet").length()).sum.toDouble
    val layers = MedallionProbe.layers
      .flatMap(l => Layers.layer(recs.filter(_.family == l).toSeq)
        .map { case (k, v) => s"$l.$k" -> v })
    Harness.deleteTree(new File(s"$scratch/probe-wh1"))
    val written = Harness.dirBytes(new File(whFull))
    Harness.deleteTree(new File(whFull))
    layers ++ Seq(
      "pipeline.parallel_gain" -> (perModel.map(_.wallS).sum / full.wallS, "ratio"),
      "pipeline.run_s" -> (full.wallS, "s"),
      "pipeline.write_amp" -> (written / sourceBytes, "ratio"),
      "dq.stage_build_s" -> (stage.wallS, "s"))
  }
}

object MedallionProbe {
  val layers: Seq[String] = Seq("adapter", "bronze", "silver", "gold", "quality")

  /** The probe's metric names, all 0: for workloads without the medallion
    * op. */
  def zeros: Seq[(String, (Double, String))] =
    (layers.flatMap(l => Layers.layer(Nil).map { case (k, v) => s"$l.$k" -> v }) ++
      Seq("pipeline.parallel_gain" -> "ratio", "pipeline.run_s" -> "s",
        "pipeline.write_amp" -> "ratio", "dq.stage_build_s" -> "s")
        .map { case (k, u) => k -> (0.0, u) })
}
