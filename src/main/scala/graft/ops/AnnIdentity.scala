package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
import graft.model.BuildCache.{emptyOf, md5, planHash, recipe}

/** Code-identity hashing for the persistent ANN index caches — the
  * [[graft.model.BuildCache.recipe]] discipline applied to the engine's
  * largest cache family ([[IvfIndex]] centroids/lists/codes,
  * [[LshIndex]] signatures). These tables persist across JVMs, so a
  * recipe change without a key change serves stale trained models as a
  * baffling oracle mismatch; round 14 killed that class for the dq trio
  * and steady store, and these hashes extend it to the index warehouse.
  *
  * Two complementary fingerprints, both computed ONCE per JVM and both
  * job-free:
  *
  *  - **Plan hashes** over the SAME extracted derivations the builds
  *    execute ([[Similarity.kmeansInit]], [[Similarity.lloydMeanUpdate]],
  *    [[Similarity.trainSample]], [[Similarity.buildListsFrom]],
  *    [[Similarity.int8CodesFrom]], [[Similarity.pqSliceFrom]],
  *    [[Similarity.lshSignatureFrom]]), composed over empty shaped
  *    stand-ins with sentinel (n, k) — analysis only. Any expression or
  *    schema edit reaches the canonical plan string and the key.
  *  - **Value fingerprints** for what a canonical plan CANNOT see:
  *    the internals of the native expressions (VecDot's fold order and
  *    widening, VecDotInt's accumulator, SignBits' md5 coefficient
  *    scheme) are evaluated driver-side on pinned sentinel inputs whose
  *    results move under any such change, and the k-sizing rule
  *    [[Similarity.ivfK]] is evaluated at sentinel cardinalities (its
  *    output is not in any plan, but it decides the trained k for a
  *    given corpus, so a formula change without a key change would
  *    serve wrong-k centroids under the same fingerprint).
  *
  * What remains hand-bump territory in the index objects' literals:
  * driver-side mechanics outside any plan (the Lloyd `localized`
  * collect/sort), iteration counts, storage layout (partition columns,
  * directory naming), and commit protocol.
  */
object AnnIdentity {

  /** Sentinel shape constants for the hashed plans — arbitrary but
    * FROZEN: they are part of the canonical strings, so changing them
    * re-keys every cache (one rebuild, never staleness). */
  private val SentinelK = 16
  private val SentinelN = 1024L
  private[ops] val SentinelPlanes = 8

  /** Driver-side evaluation of the native vector expressions on pinned
    * sentinel inputs (no job — Literal children, direct `eval`). The
    * dot-product sentinels are chosen so FOLD ORDER changes the result
    * (1e16 + 1 − 1e16 ≠ 1e16 − 1e16 + 1 in IEEE doubles); the SignBits
    * sentinel covers the md5 coefficient scheme and the sign rule. */
  private[ops] def exprFingerprint: String = {
    val dot = graft.functions.VecDot(
      Literal.create(Array(1e16, 1.0, -1e16, 2.0, 0.25, -3.5),
        ArrayType(DoubleType)),
      Literal.create(Array(1.0, 1.0, 1.0, 0.5, -4.0, 2.0),
        ArrayType(DoubleType))).eval(null)
    val dotInt = graft.functions.VecDotInt(
      Literal.create(Array(3, -7, 11, 127), ArrayType(IntegerType)),
      Literal.create(Array(5, 9, -2, 127), ArrayType(IntegerType))).eval(null)
    val sig = graft.functions.SignBits(
      Literal.create(Array(0.3, -1.2, 0.0, 2.5, -0.7, 0.9, 1.1, -2.2),
        ArrayType(DoubleType)),
      Literal(SentinelPlanes)).eval(null)
    s"vd=$dot|vdi=$dotInt|sb=$sig"
  }

  /** [[Similarity.ivfK]] evaluated at sentinel cardinalities spanning
    * the floor, the growth region, and the cap. */
  private def ivfKFingerprint: String =
    Seq(1L, 1000L, 131072L, 1L << 30, 1L << 44)
      .map(Similarity.ivfK).mkString("k", ",", "")

  private def tokenOf(parts: String*): String =
    md5(parts.mkString("‖")).take(12)

  /** The raw-embeddings stand-in and the two shaped frames every hash
    * composes over. `vec` is ARRAY<FLOAT> like the real scan (the
    * float→double widening inside the natives is part of the recipe —
    * and it IS covered, via normedBatch's plan and the value
    * fingerprints). */
  private def shapes(spark: SparkSession) = {
    val raw = emptyOf(spark, "vec_id BIGINT, embedding ARRAY<FLOAT>")
      .withColumn("vec", col("embedding"))
    val base = Similarity.normedBatch(raw)
    val cents = emptyOf(spark,
      "centroid_id BIGINT, c_vec ARRAY<DOUBLE>, c_nrm DOUBLE")
    (raw, base, cents)
  }

  /** Key component for the IVF quantizer + inverted lists: the norm
    * pass, the training-sample predicate, the init rule, one Lloyd
    * mean-update step, and the list build — plus the ivfK rule and the
    * native-expression internals. */
  def ivfRecipeHash(spark: SparkSession): String = recipe("ann_ivf") {
    val (raw, base, cents) = shapes(spark)
    tokenOf(
      planHash(Seq(
        Similarity.normedBatch(raw),
        Similarity.trainSample(base, SentinelN,
          Similarity.IvfTrainPerCentroid.toLong * SentinelK),
        Similarity.kmeansInit(base, SentinelK),
        Similarity.lloydMeanUpdate(base, cents),
        Similarity.buildListsFrom(base, cents))),
      ivfKFingerprint, exprFingerprint)
  }

  /** Key component for the PQ codebooks + codes: the subspace slice
    * geometry, the (PqK-sized) init, the shared Lloyd step, and the
    * encode assignment. */
  def pqRecipeHash(spark: SparkSession): String = recipe("ann_pq") {
    val (_, base, cents) = shapes(spark)
    val raw = emptyOf(spark, "vec_id BIGINT, vec ARRAY<FLOAT>")
    tokenOf(
      planHash(Seq(
        Similarity.pqSliceFrom(raw, 0),
        Similarity.trainSample(base, SentinelN,
          Similarity.IvfTrainPerCentroid.toLong * Similarity.PqK),
        Similarity.kmeansInit(base, Similarity.PqK),
        Similarity.lloydMeanUpdate(base, cents),
        Similarity.assignToCentroids(base, cents))),
      exprFingerprint)
  }

  /** Key component for the int8 code table: the quantize-on-write
    * derivation plus VecDotInt's internals. */
  def int8RecipeHash(spark: SparkSession): String = recipe("ann_int8") {
    val (raw, _, _) = shapes(spark)
    tokenOf(planHash(Seq(Similarity.int8CodesFrom(raw))), exprFingerprint)
  }

  /** Key component for the LSH signature table: the signature + prefix
    * derivation plus SignBits' coefficient scheme. The plane COUNT is
    * not hashed here — it is in the key explicitly (`p<planes>`), and
    * the table's contents depend on the derivation and the count, not
    * on the formula that picked the count. */
  def lshRecipeHash(spark: SparkSession): String = recipe("ann_lsh") {
    val (_, base, _) = shapes(spark)
    val sig = Similarity.lshSignatureFrom(base, SentinelPlanes)
      .withColumn("bucket_prefix",
        LshIndex.prefixCol(col("bucket"), SentinelPlanes))
    tokenOf(planHash(Seq(sig)), exprFingerprint)
  }
}
