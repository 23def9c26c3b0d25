package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Code-identity keys for the persistent ANN index caches
  * ([[AnnIdentity]]): a one-expression recipe edit must move every
  * affected cache key (the staleness class round 14 killed for the dq
  * trio, extended here to the engine's largest cache family), and the
  * value fingerprints must pin the native expressions' numeric recipe —
  * coefficients, fold order, widening — that no canonical plan string
  * can see. */
class AnnIdentitySpec extends SparkSpec {

  private def emptyOf(ddl: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  test("recipe hashes are deterministic across computations") {
    assert(AnnIdentity.ivfRecipeHash(spark) == AnnIdentity.ivfRecipeHash(spark))
    assert(AnnIdentity.pqRecipeHash(spark) == AnnIdentity.pqRecipeHash(spark))
    assert(AnnIdentity.int8RecipeHash(spark)
      == AnnIdentity.int8RecipeHash(spark))
    assert(AnnIdentity.lshRecipeHash(spark) == AnnIdentity.lshRecipeHash(spark))
    // distinct families must not collide on one shared hash
    assert(Set(AnnIdentity.ivfRecipeHash(spark),
      AnnIdentity.pqRecipeHash(spark), AnnIdentity.int8RecipeHash(spark),
      AnnIdentity.lshRecipeHash(spark)).size == 4)
  }

  test("a one-expression edit to a build derivation moves its plan hash " +
      "(the 'deliberate recipe change with no version bump')") {
    val base = emptyOf("vec_id BIGINT, vec ARRAY<DOUBLE>, nrm DOUBLE")
    val cents = emptyOf("centroid_id BIGINT, c_vec ARRAY<DOUBLE>, c_nrm DOUBLE")
    def h(df: DataFrame) = graft.model.BuildCache.planHash(Seq(df))
    // Lloyd step: e.g. a changed grid constant or tie-break reaches the plan
    assert(h(Similarity.lloydMeanUpdate(base.filter(col("nrm") > -1), cents))
      != h(Similarity.lloydMeanUpdate(base, cents)))
    // signature derivation: a changed plane count or expression reaches it
    assert(h(Similarity.lshSignatureFrom(base, 8))
      != h(Similarity.lshSignatureFrom(base, 9)))
    // int8 quantize: any expression edit reaches it
    val raw = emptyOf("vec_id BIGINT, vec ARRAY<FLOAT>")
    assert(h(Similarity.int8CodesFrom(raw))
      != h(Similarity.int8CodesFrom(raw.filter(col("vec_id") > 0))))
  }

  test("value fingerprints pin the native expressions' numeric recipe " +
      "against an independent driver-side replay") {
    val fp = AnnIdentity.exprFingerprint
    // VecDot: explicit left-to-right IEEE fold over the same sentinels —
    // chosen so fold order changes the value (1e16 + 1 - 1e16 != 1 + ...)
    val xs = Array(1e16, 1.0, -1e16, 2.0, 0.25, -3.5)
    val ys = Array(1.0, 1.0, 1.0, 0.5, -4.0, 2.0)
    var dot = 0.0
    var i = 0
    while (i < xs.length) { dot += xs(i) * ys(i); i += 1 }
    // VecDotInt: long accumulator over int products
    val qa = Array(3, -7, 11, 127)
    val qb = Array(5, 9, -2, 127)
    var dotInt = 0L
    i = 0
    while (i < qa.length) { dotInt += qa(i).toLong * qb(i); i += 1 }
    // SignBits: per-plane left-to-right fold of coef(j, c) * v(c-1)
    val v = Array(0.3, -1.2, 0.0, 2.5, -0.7, 0.9, 1.1, -2.2)
    val sig = (0 until AnnIdentity.SentinelPlanes).map { j =>
      var acc = 0.0
      var c = 1
      while (c <= v.length) {
        acc += graft.functions.SignBits.coef(j, c) * v(c - 1); c += 1
      }
      if (acc > 0) '1' else '0'
    }.mkString
    assert(fp == s"vd=$dot|vdi=$dotInt|sb=$sig",
      "the sentinel evaluations must match an independent replay of the " +
        "documented recipe — a coefficient/fold/widening change moves them " +
        "(and therefore every ANN cache key)")
  }

  test("the materialized index tables embed the recipe hashes in their " +
      "on-disk cache names") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ann_ident").toString
    spark.conf.set(IvfIndex.RootKey, root)
    try {
      IvfIndex.centroids(spark, Sf0001)
      IvfIndex.int8Codes(spark, Sf0001).count()
      Similarity.lshSignatureBase(spark, Sf0001).count()
      val names = new java.io.File(s"$root/ann").list().toSeq
      def containing(s: String) = names.filter(_.contains(s))
      assert(containing(s"r${AnnIdentity.ivfRecipeHash(spark)}").nonEmpty,
        s"centroid/list tables must be keyed by the ivf recipe hash: $names")
      assert(containing(s"r${AnnIdentity.int8RecipeHash(spark)}").nonEmpty,
        s"int8 code table must be keyed by its recipe hash: $names")
      assert(containing(s"r${AnnIdentity.lshRecipeHash(spark)}").nonEmpty,
        s"lsh signature table must be keyed by its recipe hash: $names")
    } finally spark.conf.unset(IvfIndex.RootKey)
  }
}
