package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Train-once / serve-many lifecycle for the hyperplane-LSH signatures —
  * the [[IvfIndex]] pattern applied to the second ANN family. The
  * signature table `(vec_id, vec, nrm, bucket)` is deterministic given
  * the data (planes derive from footer row counts, coefficients from
  * md5), so it is a pure materialization: serve it from the warehouse
  * instead of recomputing a full scan + SignBits pass per query.
  *
  * Layout: partitioned by `bucket_prefix` — the first
  * min(planes, [[MaxPrefixBits]]) sign bits, letter-prefixed so the
  * 0/1 string never gets numeric partition-type inference. Unlike IVF's
  * one-directory-per-centroid (k ≤ 16384), full LSH buckets can number
  * 2²⁴ — far too many directories — but a 10-bit prefix caps the layout
  * at 1024 while still letting a probe's equi-join on
  * (bucket_prefix, bucket) dynamically prune to the handful of
  * directories its probes touch: prefix pruning reads ≤ probes/1024 of
  * the index, the remaining selection happens inside the row groups.
  */
object LshIndex {

  val MaxPrefixBits = 10

  def prefixLen(planes: Int): Int = math.min(planes, MaxPrefixBits)

  private[ops] def prefixCol(bucket: org.apache.spark.sql.Column,
      planes: Int): org.apache.spark.sql.Column =
    concat(lit("p"), substring(bucket, 1, prefixLen(planes)))

  /** Version of the signature table: the DERIVATION (the signature
    * expression, the prefix column, SignBits' md5 coefficient scheme and
    * fold order) is covered by [[AnnIdentity.lshRecipeHash]] — a recipe
    * edit moves the key without a hand bump; the literal tracks what the
    * hash cannot see (directory layout, commit protocol). */
  private def sigVersion(spark: SparkSession): String =
    s"s1r${AnnIdentity.lshRecipeHash(spark)}"

  /** The signature table for `dir`'s embeddings (with `planes` sign bits)
    * served from the index warehouse, built once per data fingerprint.
    * Returns columns (vec_id, vec, nrm, bucket, bucket_prefix).
    *
    * Deletion-aware like every row-level index table ([[IvfIndex]]'s
    * ledger): `build` is a function of the SOURCE DIRECTORY so the
    * signatures are computed over the deletion ledger's current survivor
    * generation (a fold purges deleted vectors from the table at rest),
    * and serving anti-joins the pending ledger. `planes` stays derived
    * from the pre-deletion row count by the callers — a recall
    * parameter, not a correctness input, and takedown volumes never move
    * log₂N. */
  def signatures(spark: SparkSession, dir: String, planes: Int,
      build: String => DataFrame): DataFrame = synchronized {
    val led = IvfIndex.defaultLedger(spark, dir)
    val eff = IvfIndex.effectiveDir(spark, dir)
    val name = s"lsh_sigs_${sigVersion(spark)}p${planes}_" +
      IvfIndex.corpusFingerprint(spark, eff)
    // one file per prefix directory (see IvfIndex.lists: a p-way
    // partitionBy from t tasks otherwise writes t×p small files)
    val sigs = IvfIndex.cached(spark, name, Seq("bucket_prefix"))(
      build(eff).withColumn("bucket_prefix", prefixCol(col("bucket"), planes))
        .repartition(col("bucket_prefix")))
    IvfIndex.minusDeleted(spark, sigs
      .select(col("vec_id"), col("vec"), col("nrm"), col("bucket"),
        col("bucket_prefix")), led)
  }
}
