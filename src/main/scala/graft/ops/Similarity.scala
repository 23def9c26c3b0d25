package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`Array[Float]`, dim 64).
  *
  * Baseline: brute-force cosine top-k for a deterministic query sample —
  * the exact-answer reference any ANN variant is validated against.
  *
  * Every ANN serving path is one generate → score → top-k pipeline and
  * differs only in its candidate generator: a cross join ([[annTopK]]),
  * an LSH bucket or its Hamming-1 probes, an IVF list or its nearest
  * lists, a label-keyed probe, int8 codes, or PQ codes. Scoring and
  * ranking are shared — [[rankByCosine]] / [[topK]] on the Spark side,
  * the `*Duck` CTE builders on the oracle side — so every path breaks
  * ties the same way (score descending, then neighbor id).
  *
  * Float-parity design: products and sums are computed as an explicit
  * left-to-right fold over float→double-cast components
  * (`aggregate(zip_with(...))` in Spark ≡ `list_reduce(list_transform(...))`
  * in DuckDB, both sequential with a zero/first-element start), so the
  * cosine doubles are bit-identical across engines — verified empirically;
  * DuckDB's fused `list_dot_product` uses a different summation order and
  * is deliberately NOT used in the oracle.
  *
  * Scale: brute force is O(Q·N·d) with perfect data parallelism — right
  * whenever Q is small (the broadcast side). The scale paths replace its
  * cross join with an equi-join on a bucket or list key (bucketed LSH,
  * the band-join pattern of [[Dedup.minhashLsh]]; IVF's k-means coarse
  * quantizer with per-centroid inverted lists), leaving the scorer and
  * the top-k untouched.
  */
object Similarity {

  def embeddings(spark: SparkSession, dir: String): DataFrame = {
    // `vec` is the raw float array: VecDot/SignBits accept it natively and
    // widen per element inside their primitive loops (float→double is
    // exact, so every downstream double is bit-unchanged). The previous
    // `transform(embedding, cast)` pre-pass was an interpreted HOF —
    // CodegenFallback, one converted copy of every vector per row — in
    // front of otherwise fully codegen'd stages.
    graft.sources.ParquetStats.read(spark, s"$dir/embeddings.parquet")
      .withColumn("vec", col("embedding"))
  }

  // Codegen'd sequential-fold dot product (graft.functions.VecDot) — same
  // IEEE summation order as the HOF form and the DuckDB list_reduce mirror.
  private val dotExpr = "vec_dot(a_vec, b_vec)"
  private val normExpr = "vec_dot(vec, vec)"

  private val dotSqlDuck =
    """list_reduce(list_transform(range(1, len(a_vec) + 1),
         i -> a_vec[i] * b_vec[i]), (x, y) -> x + y)"""
  private val normSqlDuck =
    """list_reduce(list_transform(range(1, len(vec) + 1),
         i -> vec[i] * vec[i]), (x, y) -> x + y)"""

  /** Oracle twin of [[rankByCosine]]: the `scored`/`ranked` CTEs over a
    * `pairs` CTE of `(query_id, neighbor_id, a_vec, b_vec, na, nb)` and
    * the final top-k select. */
  private def cosineRankTailDuck(k: Int): String =
    s"""scored AS (
      SELECT query_id, neighbor_id,
        $dotSqlDuck / (sqrt(na) * sqrt(nb)) AS cosine
      FROM pairs),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine
    FROM ranked WHERE rank <= $k"""

  private def withNorm(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir).withColumn("nrm", expr(normExpr))
      .select("vec_id", "vec", "nrm")

  /** Row count of the `embeddings` table for the adaptive sizing rules
    * ([[lshPlanes]], [[ivfK]], [[nearDupBandPlanes]]): parquet footer
    * statistics (a driver-side metadata read, zero Spark jobs — at
    * 100 TB a count() is a full job over every split), else count() as
    * the documented last resort. */
  private def vectorCount(spark: SparkSession, dir: String): Long =
    graft.sources.ParquetStats.rowCount(spark, s"$dir/embeddings.parquet")
      .getOrElse(embeddings(spark, dir).count())

  /** The query side of a candidate join: `(vec_id, vec, nrm)` renamed to
    * `(query_id, a_vec, na)`, plus the join keys in `keep`. */
  private def querySide(df: DataFrame, keep: Column*): DataFrame =
    df.select(Seq(col("vec_id").as("query_id"), col("vec").as("a_vec"),
      col("nrm").as("na")) ++ keep: _*)

  /** The candidate side: `(vec_id, vec, nrm)` renamed to
    * `(neighbor_id, b_vec, nb)`, plus the join keys in `keep`. */
  private def candidateSide(df: DataFrame, keep: Column*): DataFrame =
    df.select(Seq(col("vec_id").as("neighbor_id"), col("vec").as("b_vec"),
      col("nrm").as("nb")) ++ keep: _*)

  /** Cosine of a joined `(a_vec, na, b_vec, nb)` pair — the sequential
    * fold that [[cosineRankTailDuck]]'s `scored` CTE mirrors. */
  private def cosineCol: Column =
    expr(dotExpr) / (sqrt(col("na")) * sqrt(col("nb")))

  /** Per-query top-k: `row_number()` by `score` descending, ties on
    * ascending `neighbor_id`, kept while `rankCol <= k`. The `rank <= k`
    * filter over a row_number is what Catalyst turns into a
    * WindowGroupLimit (PlanSpec pins it), so ranking is a per-group heap
    * of k rows, not a full sort. */
  private def topK(df: DataFrame, score: String, k: Int,
      rankCol: String = "rank"): DataFrame =
    df.withColumn(rankCol, row_number().over(Window.partitionBy("query_id")
        .orderBy(col(score).desc, col("neighbor_id"))))
      .filter(col(rankCol) <= k)

  /** Score and rank a generated candidate set: `pairs` are joined
    * [[querySide]] × [[candidateSide]] rows (self pairs already removed);
    * output is `(query_id, carry…, neighbor_id, rank, cosine)`. */
  private def rankByCosine(pairs: DataFrame, k: Int,
      carry: Seq[String] = Nil): DataFrame =
    topK(pairs.withColumn("cosine", cosineCol), "cosine", k)
      .select((("query_id" +: carry) ++
        Seq("neighbor_id", "rank", "cosine")).map(col): _*)

  /** Fixed-size pinned query set for the ANN family. A modulus predicate
    * (`vec_id % 250 == 0`) makes Q grow with N and turns the exact baseline
    * into O(N²/250); a pinned id list keeps it O(Q·N) with constant Q — the
    * honest brute-force cost at any scale. The ids happen to coincide with
    * the old modulus at the test SFs (≤ 5 000 vectors), so results are
    * unchanged there while the asymptotics are fixed. */
  val AnnQueryIds: Seq[Long] = (0 until 20).map(_ * 250L)
  private[graft] val annQueryIdsSql = AnnQueryIds.mkString(", ")
  private val annQueryFilter = col("vec_id").isin(AnnQueryIds: _*)

  /** Exact cosine top-k for each pinned query vector ([[AnnQueryIds]]):
    * (query_id, neighbor_id, rank, cosine). */
  def annTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val base = withNorm(spark, dir)
    rankByCosine(querySide(base.filter(annQueryFilter))
      .join(candidateSide(base), col("query_id") =!= col("neighbor_id")), k)
  }

  def annTopKOracle(k: Int = 5): String =
    s"""WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    normed AS (
      SELECT vec_id, vec, $normSqlDuck AS nrm FROM base),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        q.vec AS a_vec, c.vec AS b_vec, q.nrm AS na, c.nrm AS nb
      FROM normed q JOIN normed c ON q.vec_id != c.vec_id
      WHERE q.vec_id IN ($annQueryIdsSql)),
    ${cosineRankTailDuck(k)}"""

  /** Johnson–Lindenstrauss output dimensionality for [[annRpTopK]]. */
  val RpDim = 16

  /** Deterministic ±1 random-projection matrix ([[RpDim]] × d): row j's sign
    * for component i is the first-nibble parity of md5("rp:j:i") — a
    * digest both engines compute identically, so the DuckDB oracle
    * rebuilds the exact matrix in SQL (and a re-run on any cluster
    * rebuilds it without storing anything). */
  private[graft] def rpSigns(d: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until RpDim).map(j => (0 until d).map { i =>
      val hex = md.digest(
        s"rp:$j:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val nib = (hex(0) >> 4) & 0xF
      if (nib % 2 == 0) 1.0 else -1.0
    })
  }

  /** Top-k under Johnson–Lindenstrauss ±1 random projection — embedding
    * compression for the retrieval stack: d→[[RpDim]] dims (4× fewer
    * bytes than int8 at d=64) while approximately preserving angles, the
    * JL lever a 100 TB corpus pulls before building any index. The
    * projection is [[RpDim]] codegen'd `vec_dot`s against BROADCAST
    * LITERAL sign rows (no shuffle, no stored matrix — [[rpSigns]] is
    * derived, so every executor and the oracle regenerate it); ranking is
    * then the pinned-Q exact scan of [[annTopK]] over the SHORT vectors —
    * the exactness-baseline family; a production serving path feeds the
    * projected vectors to the LSH/IVF stack instead. Quality is measured,
    * not assumed: [[annRecallReport]] carries an 'rp' variant next to
    * int8/LSH. */
  def annRpTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val base = embeddings(spark, dir)
    val d = base.select(size(col("vec"))).head().getInt(0)
    val comps = rpSigns(d).map(row =>
      expr(s"vec_dot(vec, array(${row.map(v => s"${v}D").mkString(", ")}))"))
    val proj = base.select(col("vec_id"), array(comps: _*).as("vec"))
      .withColumn("nrm", expr(normExpr))
    rankByCosine(querySide(proj.filter(annQueryFilter))
      .join(candidateSide(proj), col("query_id") =!= col("neighbor_id")), k)
  }

  def annRpTopKOracle(k: Int = 5): String =
    s"""WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    dim AS (SELECT max(len(vec)) AS d FROM base),
    r AS (
      SELECT j, list_transform(range(1, d + 1), i ->
        CASE WHEN (strpos('0123456789abcdef',
            substr(md5('rp:' || j || ':' || (i - 1)), 1, 1)) - 1) % 2 = 0
          THEN 1.0e0 ELSE -1.0e0 END) AS s
      FROM (SELECT unnest(range($RpDim)) AS j), dim),
    proj AS (
      SELECT b.vec_id,
        list(list_reduce(list_transform(range(1, len(b.vec) + 1),
          i -> b.vec[i] * r.s[i]), (x, y) -> x + y) ORDER BY r.j) AS vec
      FROM base b CROSS JOIN r GROUP BY b.vec_id),
    normed AS (
      SELECT vec_id, vec, $normSqlDuck AS nrm FROM proj),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        q.vec AS a_vec, c.vec AS b_vec, q.nrm AS na, c.nrm AS nb
      FROM normed q JOIN normed c ON q.vec_id != c.vec_id
      WHERE q.vec_id IN ($annQueryIdsSql)),
    ${cosineRankTailDuck(k)}"""

  /** Adaptive ANN bucket width: with fixed planes the expected bucket
    * size is N/2^p, so per-query candidate cost grows linearly with N;
    * growing p with log₂N keeps it constant (~32 expected vectors per
    * bucket). Same formula, floor, cap, and oracle-parity discipline as
    * [[nearDupBandPlanes]] — the cap additionally bounds the multi-probe
    * fan-out at planes+1 ≤ 25 probes per query. All locally-verified SFs
    * (N ≤ 2 000) sit at the floor, so results are unchanged there while
    * the 100 TB asymptotics are fixed. */
  def lshPlanes(n: Long): Int = nearDupBandPlanes(n)

  /** Embedding dimensionality of the `embeddings` table (TESTDATA.md). */
  val EmbeddingDim = 64

  /** Sign-bit string over `planes` md5-derived ±1 hyperplanes, via the
    * native [[graft.functions.SignBits]] expression (one primitive loop
    * per row; a per-plane vec_dot-against-literal formulation built a
    * planes×dim-literal tree that fell out of JIT-able codegen and went
    * ~75× slower at 66 planes). Fold order and coefficients are identical
    * to the oracle's per-row md5 derivation ([[graft.functions.SignBits.coef]]). */
  private def signBitsExpr(vecCol: String, planes: Int): String =
    s"sign_bits($vecCol, $planes)"

  /** Signature SQL with the plane count as a SQL expression (a column or
    * scalar subquery), for oracles whose banding adapts to cardinality. */
  private def signBitsSqlDuckExpr(vecCol: String, planesSql: String): String =
    s"""array_to_string(list_transform(range(0, $planesSql), j ->
         CASE WHEN list_reduce(list_transform(range(1, len($vecCol) + 1),
           c -> (2 * ((strpos('0123456789abcdef',
             substr(md5(CAST(j AS VARCHAR) || '_' || CAST(c AS VARCHAR)), 1, 1)) - 1) & 1) - 1)
             * $vecCol[c]), (x, y) -> x + y) > 0
         THEN '1' ELSE '0' END), '')"""

  /** The materialized sign-bit signature table both LSH serving paths
    * ([[annLshTopK]], [[annLshMultiProbeTopK]]) read — built once per
    * data fingerprint like the IVF/PQ/int8 tables, and EXPOSED so a
    * build/serve split (Bench's ANN prebuild) can pay it outside the
    * per-query wall clock: charged to whichever LSH row runs first, a
    * ~6 s 100× signature build masquerades as a per-query regression
    * (exactly the misattribution round 14's direct-vs-stacked replica
    * check tripped over before this split). */
  def lshSignatureBase(spark: SparkSession, dir: String): DataFrame =
    lshSignatureBaseFor(spark, dir, resolvedLshPlanes(spark, dir))

  /** [[lshPlanes]] at N = [[vectorCount]] — a row that also needs the
    * plane count for its own expressions resolves it ONCE, not once per
    * use (the footer read is metadata, but the stats-less fallback is a
    * real job). */
  private def resolvedLshPlanes(spark: SparkSession, dir: String): Int =
    lshPlanes(vectorCount(spark, dir))

  /** The signature derivation over an arbitrary `(vec_id, vec, nrm)`
    * frame — extracted so [[AnnIdentity]] hashes the same composition
    * the LSH index build executes. */
  private[graft] def lshSignatureFrom(base: DataFrame,
      planes: Int): DataFrame =
    base.withColumn("bucket", expr(signBitsExpr("vec", planes)))

  private def lshSignatureBaseFor(spark: SparkSession, dir: String,
      planes: Int): DataFrame =
    // signatures served from the materialized index (built once per data
    // fingerprint); joining on (bucket_prefix, bucket) — the prefix is a
    // function of the bucket — lets DPP prune the prefix directories
    LshIndex.signatures(spark, dir, planes,
      d => lshSignatureFrom(withNorm(spark, d), planes))

  /** Bucketed-LSH approximate top-k: random-hyperplane sign buckets, exact
    * cosine ranking *within* the query's bucket only. The scale path for
    * ann: candidate generation is an equi-join on the bucket key (linear
    * shuffle) instead of a cross join; recall tunes with plane count and
    * multi-probe. May return fewer than k neighbors per query. */
  def annLshTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val base = lshSignatureBase(spark, dir)
    val keys = Seq(col("bucket"), col("bucket_prefix"))
    rankByCosine(querySide(base.filter(annQueryFilter), keys: _*)
      .join(candidateSide(base, keys: _*), Seq("bucket_prefix", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id")), k)
  }

  def annLshTopKOracle(k: Int = 5): String =
    s"""WITH params AS (
      SELECT ${nearDupBandPlanesSqlDuck("count(*)")} AS planes FROM embeddings),
    base AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    normed AS (
      SELECT vec_id, vec, $normSqlDuck AS nrm,
        ${signBitsSqlDuckExpr("vec", "p.planes")} AS bucket
      FROM base, params p),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        q.vec AS a_vec, c.vec AS b_vec, q.nrm AS na, c.nrm AS nb
      FROM normed q JOIN normed c
        ON q.bucket = c.bucket AND q.vec_id != c.vec_id
      WHERE q.vec_id IN ($annQueryIdsSql)),
    ${cosineRankTailDuck(k)}"""

  /** Multi-probe LSH ANN: each query searches its own hyperplane bucket
    * plus every bucket at Hamming distance 1 ([[lshPlanes]] single-bit
    * flips) — the standard recall lever that avoids building more hash
    * tables: probe count multiplies only the tiny query side (Q×(planes+1)
    * rows), while the candidate index and its linear shuffle stay
    * unchanged. Probe buckets are disjoint, so no pair dedup is needed. */
  def annLshMultiProbeTopK(spark: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    val planes = resolvedLshPlanes(spark, dir)
    val base = lshSignatureBaseFor(spark, dir, planes)
    val flip =
      s"""CASE WHEN p = 0 THEN bucket
          ELSE concat(substring(bucket, 1, p - 1),
            CASE WHEN substring(bucket, p, 1) = '1' THEN '0' ELSE '1' END,
            substring(bucket, p + 1, $planes - p)) END"""
    val q = querySide(base.filter(annQueryFilter), col("bucket"))
      .withColumn("p", explode(expr(s"sequence(0, $planes)")))
      .withColumn("probe_bucket", expr(flip))
      .withColumn("probe_prefix", LshIndex.prefixCol(col("probe_bucket"), planes))
      .drop("bucket", "bucket_prefix", "p")
    val c = candidateSide(base, col("bucket").as("probe_bucket"),
      col("bucket_prefix").as("probe_prefix"))
    rankByCosine(q.join(c, Seq("probe_prefix", "probe_bucket"))
      .filter(col("query_id") =!= col("neighbor_id")), k)
  }

  def annLshMultiProbeTopKOracle(k: Int = 5): String =
    s"""WITH params AS (
      SELECT ${nearDupBandPlanesSqlDuck("count(*)")} AS planes FROM embeddings),
    base AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    normed AS (
      SELECT vec_id, vec, $normSqlDuck AS nrm,
        ${signBitsSqlDuckExpr("vec", "p.planes")} AS bucket
      FROM base, params p),
    probes AS (
      SELECT vec_id AS query_id, vec AS a_vec, nrm AS na,
        CASE WHEN p = 0 THEN bucket
        ELSE substr(bucket, 1, CAST(p - 1 AS INTEGER)) ||
          (CASE WHEN substr(bucket, CAST(p AS INTEGER), 1) = '1'
                THEN '0' ELSE '1' END) ||
          substr(bucket, CAST(p + 1 AS INTEGER), CAST(pp.planes - p AS INTEGER)) END
          AS probe_bucket
      FROM normed CROSS JOIN range(0, 25) t(p), params pp
      WHERE vec_id IN ($annQueryIdsSql) AND t.p <= pp.planes),
    pairs AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
        q.a_vec, c.vec AS b_vec, q.na, c.nrm AS nb
      FROM probes q JOIN normed c
        ON c.bucket = q.probe_bucket AND q.query_id != c.vec_id),
    ${cosineRankTailDuck(k)}"""

  val IvfKMin = 16
  /** Cap keeps the centroid table broadcast-able and driver-holdable:
    * 16384 × 64 doubles ≈ 8 MB. Beyond N ≈ 2^29 vectors raise it with the
    * executor/driver memory budget. */
  val IvfKMax = 16384
  val IvfIters = 2

  /** Adaptive IVF centroid count: k ≈ √(2N) via integer bit-length
    * arithmetic (k = 2^⌊bitlen(N)/2⌋ clamped to [[IvfKMin]]..[[IvfKMax]]),
    * so per-list occupancy N/k grows only as √N — the FAISS-style sizing
    * rule — instead of linearly as it would with a fixed k. Integer form
    * for the same reason as [[nearDupBandPlanes]]: the DuckDB oracle
    * computes the identical k in SQL (`1 << (length(bin(N)) // 2)`), and
    * float `sqrt`/`log` could land a hair under a power of two and
    * silently desynchronize the engines. At the verified SFs: N=200/500 →
    * k=16 (the floor, results unchanged vs the old fixed k), N=2000 →
    * k=32. */
  def ivfK(n: Long): Int = {
    val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(math.max(n, 1L))
    // clamp the shift BEFORE 1<<s: an Int shift by 31 wraps negative and
    // would silently pin k at the floor for n >= 2^62 (DuckDB's BIGINT
    // shift has headroom to 63, so only this side needs the guard)
    val shift = math.min(30, bitlen / 2)
    math.min(IvfKMax, math.max(IvfKMin, 1 << shift))
  }

  /** [[ivfK]] as DuckDB SQL over a BIGINT rowcount expression. */
  private def ivfKSqlDuck(nExpr: String): String =
    s"least($IvfKMax, greatest($IvfKMin, 1 << (length(bin(greatest($nExpr, 1))) // 2)))"

  /** Argmin-L2 centroid assignment: dist = ||v||² - 2·v·c + ||c||², every
    * term a deterministic sequential fold, tie-broken by centroid id via
    * struct-min — so assignment is bit-stable across engines. The centroid
    * side broadcasts (k rows); assignment is one map-side pass over N. */
  private[graft] def assignToCentroids(base: DataFrame, cents: DataFrame): DataFrame =
    base.select(col("vec_id"), col("vec"), col("nrm"))
      .crossJoin(broadcast(cents))
      .withColumn("dist",
        col("nrm") - lit(2) * expr("vec_dot(vec, c_vec)") + col("c_nrm"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("centroid_id"))).getField("centroid_id")
        .as("centroid_id"))

  /** Training-sample multiple: the quantizer trains on at most
    * `IvfTrainPerCentroid × k` vectors (FAISS's default heuristic is this
    * same shape), chosen by the deterministic u16-hash threshold
    * `u16(vec_id) · N < 65536 · cap`. When cap ≥ N the inequality holds
    * for every u16, so ALL vectors train — which is the case at every
    * locally-verifiable SF (engages at N > 131 072 with k's √(2N)
    * growth); beyond it, training cost is O(256·k²·iters) instead of
    * O(N·k·iters) — the difference between a bounded index build and one
    * that rescans 100 TB per Lloyd pass. The oracle applies the identical
    * integer threshold in SQL. */
  val IvfTrainPerCentroid = 256

  // the md5→u16 derivation is shared with TextOps (hash splits and
  // stratified sampling) — one definition keeps the Spark↔DuckDB pair in
  // lockstep everywhere it is used
  private def u16Expr(idCol: String): String = TextOps.md5U16Expr(idCol)
  private def u16SqlDuck(idCol: String): String = TextOps.md5U16SqlDuck(idCol)

  /** The k-means init rule — the k smallest train vec_ids as the seed
    * centroids. Extracted so [[AnnIdentity]] hashes the SAME composition
    * [[deterministicKmeans]] executes (a change to the init rule must
    * move every trained-index cache key). */
  private[graft] def kmeansInit(train: DataFrame, k: Int): DataFrame =
    train.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("centroid_id"), col("vec").as("c_vec"),
        col("nrm").as("c_nrm"))

  /** One Lloyd mean-update step: assignment, grid-quantized component
    * means, new centroid norms. Extracted for [[AnnIdentity]] — the grid
    * constant, the assignment tie-break, and the mean arithmetic all
    * live in this plan, so an edit to any of them reaches the
    * code-identity hash of every trained-index cache key. */
  private[graft] def lloydMeanUpdate(train: DataFrame,
      cents: DataFrame): DataFrame = {
    val meanComp = (col("s").cast("double") / lit(1000000.0)) / col("n")
    assignToCentroids(train, cents)
      .join(train, Seq("vec_id"))
      .select(col("centroid_id"), posexplode(col("vec")))
      .toDF("centroid_id", "pos", "comp")
      .groupBy("centroid_id", "pos")
      .agg(sum(round(col("comp") * lit(1000000.0)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .groupBy("centroid_id")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), meanComp.as("m")))),
        x => x.getField("m")).as("c_vec"))
      .withColumn("c_nrm", expr("vec_dot(c_vec, c_vec)"))
  }

  /** Deterministic Lloyd k-means over a `(vec_id, vec, nrm)` training
    * frame: init = the k smallest train vec_ids ([[kmeansInit]]),
    * [[IvfIters]] fixed iterations of [[lloydMeanUpdate]], L2 assignment
    * tie-broken by centroid id — the training core shared by the IVF
    * coarse quantizer ([[ivfK]] centroids) and the PQ sub-codebooks,
    * replicated CTE-for-CTE by their DuckDB oracles.
    *
    * Cross-engine float discipline: a cluster mean is a float sum whose
    * order Spark does not guarantee, so components are quantized to a
    * 1e-6 integer grid first — `sum(cast(round(comp*1e6) as bigint))` is
    * order-independent, and `(sum/1e6)/n` then yields the identical IEEE
    * double in both engines (sums stay < 2^53). Per-iteration cost is one
    * broadcast assignment pass plus one (centroid, component) aggregation
    * — both linear in N.
    *
    * k×dim doubles live driver-side between iterations (like MLlib's
    * KMeansModel): each Lloyd step is one distributed job whose plan
    * reads the input once, instead of a lineage that re-derives every
    * earlier iteration recursively.
    *
    * DRIVER-MEMORY CEILING, at the clamp: the localization holds
    * k × (dim + 2) doubles per iteration — at k = [[IvfKMax]] (16384)
    * and a 512-dim embedding that is 16384 × 514 × 8 B ≈ 67 MB, held
    * [[IvfIters]]+1 times transiently ≈ 135 MB peak, far under any
    * driver sized for Spark work (MLlib's KMeansModel carries the same
    * footprint). The bound is k-clamped by construction — [[ivfK]] can
    * never exceed [[IvfKMax]] no matter how large N grows — so raising
    * the clamp is the ONLY way this grows, and [[IvfKMax]]'s doc ties
    * that decision to the memory budget. Pinned by OpsSpec's
    * "kmeans at the k clamp" boundary spec. */
  private[graft] def deterministicKmeans(spark: SparkSession, train: DataFrame,
      k: Int): DataFrame = {
    import spark.implicits._
    def localized(cents: DataFrame): DataFrame = {
      val rows = cents.select("centroid_id", "c_vec", "c_nrm")
        .as[(Long, Seq[Double], Double)].collect().toSeq.sortBy(_._1)
      spark.createDataset(rows).toDF("centroid_id", "c_vec", "c_nrm")
    }
    var cents = localized(kmeansInit(train, k))
    for (_ <- 1 to IvfIters)
      cents = localized(lloydMeanUpdate(train, cents))
    cents
  }

  /** The IVF coarse quantizer trained from the source table — k sized
    * from [[vectorCount]] (metadata, not a count() job). */
  def ivfCentroids(spark: SparkSession, dir: String): DataFrame =
    retrainFrom(spark, withNorm(spark, dir), vectorCount(spark, dir))

  /** The inverted lists: every vector with its centroid assignment,
    * carrying (vec, nrm) so a probe never has to revisit the embeddings
    * table. [[IvfIndex.lists]] materializes this partitioned BY
    * `centroid_id` — the on-disk layout IS the index: a probe of p
    * centroids reads p list directories and leaves the other k−p
    * untouched. */
  private[graft] def buildIvfLists(spark: SparkSession, dir: String,
      cents: DataFrame): DataFrame =
    buildListsFrom(withNorm(spark, dir), cents)

  /** Inverted-list rows for an arbitrary `(vec_id, vec, nrm)` frame —
    * the assignment seam shared by the full build above and the
    * streaming maintenance path ([[graft.streaming.StreamingOps
    * .streamIntoIvfLists]]), which assigns each micro-batch against the
    * frozen quantizer. */
  private[graft] def buildListsFrom(base: DataFrame,
      cents: DataFrame): DataFrame =
    assignToCentroids(base, cents)
      .join(base.select(col("vec_id"), col("vec"), col("nrm")), Seq("vec_id"))

  /** `(vec_id, vec, nrm)` from a raw `(vec_id, embedding)` batch — the
    * norm pass a streaming ingest runs per micro-batch. */
  private[graft] def normedBatch(batch: DataFrame): DataFrame = {
    batch.withColumn("vec", col("embedding"))
      .withColumn("nrm", expr(normExpr))
      .select("vec_id", "vec", "nrm")
  }

  /** The u16-hash-capped training sample: every vector whose id hashes
    * under the `cap / n` quantile (integer inequality, oracle-identical).
    * Extracted for [[AnnIdentity]] — the sampling predicate decides which
    * vectors train, so its shape is part of every trained cache key. */
  private[graft] def trainSample(base: DataFrame, n: Long,
      cap: Long): DataFrame =
    base.filter(
      expr(u16Expr("vec_id")).cast("long") * lit(n) < lit(65536L) * cap)

  /** Retrain the coarse quantizer from an arbitrary `(vec_id, vec, nrm)`
    * frame (the warehouse lists table, in the staleness-rebuild path) —
    * same k sizing, hash-capped training sample, and deterministic Lloyd
    * loop as [[ivfCentroids]], so a rebuild from warehouse rows is
    * bit-identical to a fresh build from the source table. */
  private[graft] def retrainFrom(spark: SparkSession, base: DataFrame,
      n: Long): DataFrame = {
    IvfIndex.trainings.incrementAndGet()
    val k = ivfK(n)
    deterministicKmeans(spark,
      trainSample(base, n, IvfTrainPerCentroid.toLong * k), k)
  }

  /** IVF ANN: k-means coarse quantizer (trained once and served from the
    * materialized index table — [[IvfIndex.centroids]]; pass `centroids`
    * to serve from an explicitly-managed index), one assignment pass, then
    * exact cosine ranking only within the query's inverted list
    * (nprobe = 1). At scale the per-centroid lists are exactly the
    * partitions of one linear shuffle on the centroid key. */
  def annIvfTopK(spark: SparkSession, dir: String, k: Int = 5,
      centroids: Option[DataFrame] = None,
      ledger: Option[String] = None): DataFrame = {
    val lists = centroids match {
      case Some(c) => buildIvfLists(spark, dir, c)
      case None => IvfIndex.lists(spark, dir, ledger)
    }
    rankByCosine(querySide(lists.filter(annQueryFilter), col("centroid_id"))
      .join(candidateSide(lists, col("centroid_id")), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id")), k)
  }

  /** Probe selection for the multi-probe IVF paths: each query row of
    * `queries` (`vec_id, vec, nrm`, plus any payload) crossed with the
    * broadcast centroids, keeping its `nprobe` nearest lists by
    * (L2 distance, centroid_id) — Q×k rows, never the corpus. */
  private def nearestLists(queries: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame =
    queries.crossJoin(broadcast(cents))
      .withColumn("dist",
        col("nrm") - lit(2) * expr("vec_dot(vec, c_vec)") + col("c_nrm"))
      .withColumn("probe", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("dist"), col("centroid_id"))))
      .filter(col("probe") <= nprobe)

  /** Default probe count, chosen from the measured recall ladder
    * (AnnRecallSpec, sf0.001: nprobe 1/2/4/8 → recall@5
    * 0.30/0.60/0.70/0.90): 8 is the first rung at or above the 0.9
    * target. Probe cost stays bounded as data grows because k scales
    * ~√(2N) ([[ivfK]]) while nprobe stays fixed — at sf0.001 8 probes
    * scan half the 16 lists, at N=2²⁸ they scan 8/16384 ≈ 0.05%. */
  val IvfNProbe = 8

  /** Multi-probe IVF ANN: each query searches its [[IvfNProbe]] nearest
    * inverted lists instead of one — the same recall lever already proven
    * for LSH ([[annLshMultiProbeTopK]]): the probe expansion multiplies
    * only the tiny query side (Q×nprobe rows ranked against k broadcast
    * centroids), while the candidate index — one linear shuffle on the
    * centroid key — is untouched. Lists are disjoint (each vector lives in
    * exactly one), so probing n distinct centroids can never produce a
    * duplicate candidate pair and no dedup step is needed.
    *
    * Recall@5 at sf0.001: 0.30/0.60/0.70/0.90 for nprobe 1/2/4/8
    * (ladder pinned in AnnRecallSpec) — the quantizer's nearest list holds
    * only ~N/k vectors, so most of the exact top-5 lives in the next few
    * lists; at production scale nprobe (and k ~ √N) are the recall/cost
    * dial exactly as in FAISS-style IVF indexes. */
  def annIvfMultiProbeTopK(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = IvfNProbe): DataFrame = {
    val q = querySide(nearestLists(withNorm(spark, dir).filter(annQueryFilter),
      IvfIndex.centroids(spark, dir), nprobe), col("centroid_id"))
    val c = candidateSide(IvfIndex.lists(spark, dir), col("centroid_id"))
    rankByCosine(q.join(c, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id")), k)
  }

  def annIvfMultiProbeTopKOracle(k: Int = 5, nprobe: Int = IvfNProbe): String =
    s"""WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    $ivfAssignedCtesDuck,
    $ivfListsCteDuck,
    probes AS (
      SELECT vec_id AS query_id, vec AS a_vec, nrm AS na, centroid_id FROM (
        SELECT n.vec_id, n.vec, n.nrm, c.centroid_id,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            n.nrm - 2 * list_reduce(list_transform(range(1, len(n.vec) + 1),
              i -> n.vec[i] * c.c_vec[i]), (x, y) -> x + y) + c.c_nrm,
            c.centroid_id) AS probe
        FROM normed n CROSS JOIN cents$IvfIters c
        WHERE n.vec_id IN ($annQueryIdsSql)) WHERE probe <= $nprobe),
    pairs AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
        q.a_vec, c.vec AS b_vec, q.na, c.nrm AS nb
      FROM probes q JOIN lists c
        ON q.centroid_id = c.centroid_id AND q.query_id != c.vec_id),
    ${cosineRankTailDuck(k)}"""

  /** FILTERED ANN — metadata-constrained retrieval, the "hybrid search"
    * shape every production vector store serves (top-k among candidates
    * matching an attribute predicate; here: the query's own `label`,
    * i.e. within-class nearest neighbors). The predicate is part of the
    * JOIN KEY — `(centroid_id, label)` — so non-matching candidates are
    * dropped during candidate generation, never scored: pre-filtering,
    * not post-filtering, which is what keeps k results per query instead
    * of `k × selectivity`. Runs multi-probe ([[IvfNProbe]]) because a
    * selective filter thins each list and probing more lists is the
    * standard recall compensation.
    *
    * The filter column rides a `vec_id` equi-join from the source table
    * (linear, the payload-join fallback); a production index serves hot
    * filter attributes co-materialized IN the lists exactly as the code
    * tables carry `ivf_centroid` at rest ([[IvfIndex.int8Codes]]) — the
    * join then disappears entirely. */
  def annIvfTopKFiltered(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = IvfNProbe): DataFrame = {
    val labels = embeddings(spark, dir).select(col("vec_id"), col("label"))
    val keys = Seq(col("centroid_id"), col("label"))
    val q = querySide(nearestLists(withNorm(spark, dir).filter(annQueryFilter)
      .join(labels, Seq("vec_id")), IvfIndex.centroids(spark, dir), nprobe),
      keys: _*)
    val c = candidateSide(IvfIndex.lists(spark, dir).join(labels, Seq("vec_id")),
      keys: _*)
    rankByCosine(q.join(c, Seq("centroid_id", "label"))
      .filter(col("query_id") =!= col("neighbor_id")), k, carry = Seq("label"))
  }

  def annIvfTopKFilteredOracle(k: Int = 5, nprobe: Int = IvfNProbe): String =
    s"""WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    lab AS (SELECT vec_id, label FROM embeddings),
    $ivfAssignedCtesDuck,
    lists AS (
      SELECT a.vec_id, a.centroid_id, n.vec, n.nrm, l.label
      FROM assigned a JOIN normed n ON a.vec_id = n.vec_id
      JOIN lab l ON a.vec_id = l.vec_id),
    probes AS (
      SELECT vec_id AS query_id, vec AS a_vec, nrm AS na, centroid_id,
        label FROM (
        SELECT n.vec_id, n.vec, n.nrm, l.label, c.centroid_id,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            n.nrm - 2 * list_reduce(list_transform(range(1, len(n.vec) + 1),
              i -> n.vec[i] * c.c_vec[i]), (x, y) -> x + y) + c.c_nrm,
            c.centroid_id) AS probe
        FROM normed n JOIN lab l ON n.vec_id = l.vec_id
        CROSS JOIN cents$IvfIters c
        WHERE n.vec_id IN ($annQueryIdsSql)) WHERE probe <= $nprobe),
    pairs AS (
      SELECT q.query_id, q.label, c.vec_id AS neighbor_id,
        q.a_vec, c.vec AS b_vec, q.na, c.nrm AS nb
      FROM probes q JOIN lists c
        ON q.centroid_id = c.centroid_id AND q.label = c.label
          AND q.query_id != c.vec_id),
    scored AS (
      SELECT query_id, label, neighbor_id,
        $dotSqlDuck / (sqrt(na) * sqrt(nb)) AS cosine
      FROM pairs),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, label, neighbor_id, CAST(rank AS INTEGER) AS rank,
      cosine
    FROM ranked WHERE rank <= $k"""

  /** DuckDB assignment CTE vs a given centroid CTE — the row_number
    * formulation of the same (dist, centroid_id) argmin. `over` is the
    * vector set being assigned (training subset vs the whole table). */
  private def assignCteDuck(name: String, centsCte: String,
      over: String = "normed"): String =
    s"""$name AS (
      SELECT vec_id, centroid_id FROM (
        SELECT n.vec_id, c.centroid_id,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            n.nrm - 2 * list_reduce(list_transform(range(1, len(n.vec) + 1),
              i -> n.vec[i] * c.c_vec[i]), (x, y) -> x + y) + c.c_nrm,
            c.centroid_id) AS rn
        FROM $over n CROSS JOIN $centsCte c) WHERE rn = 1)"""

  /** The IVF quantizer replay every IVF-backed oracle opens with, after
    * its `base` CTE: norms, the k sizing, the hash-capped training set,
    * the [[IvfIters]] Lloyd iterations, and the `assigned`
    * `(vec_id, centroid_id)` table against the trained centroids. */
  private def ivfAssignedCtesDuck: String =
    s"""normed AS (
      SELECT vec_id, vec, $normSqlDuck AS nrm FROM base),
    params AS (
      SELECT ${ivfKSqlDuck("count(*)")} AS k FROM embeddings),
    $trainCtesDuck,
    ${(1 to IvfIters).map(kmeansIterCteDuck("", s"$EmbeddingDim + 1"))
      .mkString(",\n    ")},
    ${assignCteDuck("assigned", s"cents$IvfIters")}"""

  /** The inverted lists: `assigned` joined back to its vectors. */
  private def ivfListsCteDuck: String =
    s"""lists AS (
      SELECT a.vec_id, a.centroid_id, n.vec, n.nrm
      FROM assigned a JOIN normed n ON a.vec_id = n.vec_id)"""

  /** The deterministic hash-capped training set (mirrors `train` in
    * [[ivfCentroids]]; keeps every row when 256·k ≥ N — all verified
    * SFs) and the init centroids (k smallest train vec_ids). */
  private def trainCtesDuck: String =
    s"""train AS (
      SELECT n.* FROM normed n, params p,
        (SELECT count(*) AS nn FROM embeddings) t
      WHERE ${u16SqlDuck("n.vec_id")} * t.nn
              < 65536 * ($IvfTrainPerCentroid * p.k)),
    cents0 AS (
      SELECT vec_id AS centroid_id, vec AS c_vec, nrm AS c_nrm FROM (
        SELECT *, row_number() OVER (ORDER BY vec_id) AS rn FROM train)
      WHERE rn <= (SELECT k FROM params))"""

  /** One Lloyd iteration in DuckDB SQL: assign vs cents(i-1) over the
    * training set, then the grid-quantized component means — mirrors
    * [[lloydMeanUpdate]] exactly. `sfx` suffixes every CTE name (a PQ
    * subspace's `_p<s>`; empty for the IVF quantizer) and `rangeEnd` is
    * the exclusive end of the 1-based component range. */
  private def kmeansIterCteDuck(sfx: String, rangeEnd: String)(i: Int): String =
    s"""${assignCteDuck(s"a$i$sfx", s"cents${i - 1}$sfx", s"train$sfx")},
    sums$i$sfx AS (
      SELECT a.centroid_id, t.i AS pos,
        sum(CAST(round(n.vec[t.i] * 1000000.0) AS BIGINT)) AS s,
        count(*) AS n
      FROM a$i$sfx a JOIN train$sfx n USING (vec_id)
      CROSS JOIN range(1, $rangeEnd) t(i)
      GROUP BY 1, 2),
    cvec$i$sfx AS (
      SELECT centroid_id,
        list((CAST(s AS DOUBLE) / 1000000.0) / n ORDER BY pos) AS c_vec
      FROM sums$i$sfx GROUP BY 1),
    cents$i$sfx AS (
      SELECT centroid_id, c_vec,
        list_reduce(list_transform(range(1, len(c_vec) + 1),
          i -> c_vec[i] * c_vec[i]), (x, y) -> x + y) AS c_nrm
      FROM cvec$i$sfx)"""

  def annIvfTopKOracle(k: Int = 5): String =
    s"""WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    $ivfAssignedCtesDuck,
    $ivfListsCteDuck,
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        q.vec AS a_vec, c.vec AS b_vec, q.nrm AS na, c.nrm AS nb
      FROM lists q JOIN lists c
        ON q.centroid_id = c.centroid_id AND q.vec_id != c.vec_id
      WHERE q.vec_id IN ($annQueryIdsSql)),
    ${cosineRankTailDuck(k)}"""

  /** MMR geometry: select [[MmrK]] of [[MmrCandidates]] IVF-served
    * candidates at relevance weight [[MmrLambda]]. */
  val MmrK = 5
  val MmrCandidates = 20
  val MmrLambda = 0.7

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein,
    * "The use of MMR, diversity-based reranking") — the serving-side
    * rerank that stops a result page from being k near-copies of the
    * same hit (after dedup, the #1 retrieval complaint): greedily pick
    * `argmax λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s)` for [[MmrK]]
    * rounds over the [[MmrCandidates]] IVF-served candidates.
    *
    * Scale shape: candidates come from the index ([[annIvfTopK]] —
    * DPP-pruned lists), are pinned once ([[graft.model.Stage.pin]]), and
    * everything after is bounded per query: the pairwise-cosine table is
    * ≤ nCand² rows per query (the candidate POOL is the unit of work,
    * never the corpus), and each greedy round is one anti-join + one
    * grouped max + one per-query window over ≤ nCand rows. Selected
    * sets are pinned per round ([[graft.model.Stage.step]]) so the
    * 5-round loop plans flat instead of exponentially nesting.
    *
    * Round 1 has an empty selected set, so its score is `λ·cos` (the
    * uniform formula with the diversity term at 0) and the pick equals
    * the relevance argmax. */
  def annMmrTopK(spark: SparkSession, dir: String, k: Int = MmrK,
      nCand: Int = MmrCandidates,
      lam: Double = MmrLambda): DataFrame = graft.model.Stage.scoped {
    val cand = graft.model.Stage.pin(annIvfTopK(spark, dir, nCand))
    val v = withNorm(spark, dir)
    val a = cand.select(col("query_id"), col("neighbor_id").as("id_a"))
      .join(v.select(col("vec_id").as("id_a"), col("vec").as("a_vec"),
        col("nrm").as("na")), Seq("id_a"))
    val b = cand.select(col("query_id"), col("neighbor_id").as("id_b"))
      .join(v.select(col("vec_id").as("id_b"), col("vec").as("b_vec"),
        col("nrm").as("nb")), Seq("id_b"))
    val pairs = graft.model.Stage.pin(a.join(b, Seq("query_id"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("pcos", cosineCol)
      .select("query_id", "id_a", "id_b", "pcos"))
    var selected = graft.model.Stage.pin(cand.filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"),
        lit(1).as("mmr_rank"), col("cosine").as("relevance"),
        (lit(lam) * col("cosine")).as("mmr_score")))
    (2 to k).foreach { r =>
      val selIds = selected.select(col("query_id"),
        col("neighbor_id").as("id_b"))
      val divers = pairs.join(selIds, Seq("query_id", "id_b"))
        .groupBy(col("query_id"), col("id_a").as("neighbor_id"))
        .agg(max(col("pcos")).as("max_sel"))
      val rem = cand.join(
        selected.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti")
      val w = Window.partitionBy("query_id")
        .orderBy(col("mmr").desc, col("neighbor_id"))
      selected = graft.model.Stage.step(selected)(graft.model.Stage.pin(
        selected.union(rem.join(divers, Seq("query_id", "neighbor_id"))
          .withColumn("mmr",
            lit(lam) * col("cosine") - lit(1 - lam) * col("max_sel"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("query_id"), col("neighbor_id"),
            lit(r).as("mmr_rank"), col("cosine").as("relevance"),
            col("mmr").as("mmr_score")))))
    }
    selected
  }

  /** Oracle twin of [[annMmrTopK]]: the IVF candidate oracle nested as a
    * subquery, then the same greedy rounds unrolled — every sel CTE is
    * MATERIALIZED (referenced three times per round; plain CTEs inline
    * per reference, the [[graft.ops.Learn]] lesson). The `(1 − λ)`
    * literal is written as double arithmetic so it lands on the same
    * bits as Spark's `lit(1 - lam)`. */
  def annMmrTopKOracle(k: Int = MmrK, nCand: Int = MmrCandidates,
      lam: Double = MmrLambda): String = {
    val l = s"CAST($lam AS DOUBLE)"
    val mmrExpr =
      s"$l * c.cosine - (1 - $l) * m.max_sel"
    val rounds = (2 to k).map { r =>
      val prev = s"sel${r - 1}"
      s"""sel$r AS MATERIALIZED (
      SELECT query_id, neighbor_id, mmr_rank, relevance, mmr_score
      FROM $prev
      UNION ALL
      SELECT query_id, neighbor_id, $r AS mmr_rank, relevance,
        mmr AS mmr_score FROM (
        SELECT c.query_id, c.neighbor_id, c.cosine AS relevance,
          $mmrExpr AS mmr,
          row_number() OVER (PARTITION BY c.query_id
            ORDER BY $mmrExpr DESC, c.neighbor_id) AS rn
        FROM cand c
        JOIN (SELECT p.query_id, p.id_a, max(p.pcos) AS max_sel
              FROM mmr_pairs p JOIN $prev s
                ON s.query_id = p.query_id AND s.neighbor_id = p.id_b
              GROUP BY 1, 2) m
          ON m.query_id = c.query_id AND m.id_a = c.neighbor_id
        WHERE NOT EXISTS (SELECT 1 FROM $prev s2
          WHERE s2.query_id = c.query_id
            AND s2.neighbor_id = c.neighbor_id))
      WHERE rn = 1)"""
    }.mkString(",\n    ")
    s"""WITH cand AS MATERIALIZED (
      SELECT * FROM (${annIvfTopKOracle(nCand)}) c),
    nv AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec,
        list_reduce(list_transform(range(1, len(embedding) + 1),
          i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE),
          (x, y) -> x + y) AS nrm
      FROM embeddings),
    mmr_pairs AS MATERIALIZED (
      SELECT a.query_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b,
        list_reduce(list_transform(range(1, len(va.vec) + 1),
          i -> va.vec[i] * vb.vec[i]), (x, y) -> x + y)
          / (sqrt(va.nrm) * sqrt(vb.nrm)) AS pcos
      FROM cand a JOIN cand b
        ON a.query_id = b.query_id AND a.neighbor_id != b.neighbor_id
      JOIN nv va ON va.vec_id = a.neighbor_id
      JOIN nv vb ON vb.vec_id = b.neighbor_id),
    sel1 AS MATERIALIZED (
      SELECT query_id, neighbor_id, 1 AS mmr_rank, cosine AS relevance,
        $l * cosine AS mmr_score
      FROM cand WHERE rank = 1),
    $rounds
    SELECT query_id, neighbor_id, CAST(mmr_rank AS INTEGER) AS mmr_rank,
      relevance, mmr_score
    FROM sel$k"""
  }

  /** Deleted-id predicate for the [[annIvfTopKDeleted]] driver row:
    * `vec_id % 7 == 3`, explicitly excluding the pinned query ids
    * ([[AnnQueryIds]] — 500 ≡ 3 mod 7 would otherwise delete a query).
    * The exclusion is the ID LIST, not `% 250` — the list only
    * coincides with the modulus at ≤ 5000 vectors, and a modulus guard
    * would wrongly exempt real vectors beyond that. Queries are the
    * CALLER's input to an ANN lookup — deleting a query id means you
    * stop asking it, which is the caller's choice, not the index's; the
    * lifecycle contract covers the candidate/database side. */
  private val annDeletePred =
    pmod(col("vec_id"), lit(7L)) === 3L && !annQueryFilter
  private val annDeletePredSql =
    s"(vec_id % 7 = 3 AND vec_id NOT IN ($annQueryIdsSql))"

  /** Driver row for the index deletion lifecycle's SERVING phase: commit
    * a tombstone set through [[IvfIndex.deleteVectors]] (an isolated
    * throwaway ledger, so the suite's shared warm index is untouched),
    * then run the standard IVF top-k — the same warm partition-pruned
    * list scan, now anti-joined against the ledger. The oracle replays
    * full-corpus training (pre-fold serving uses the stale quantizer —
    * that is the documented contract) and excludes deleted ids from the
    * candidate side only. The fold half of the lifecycle
    * ([[IvfIndex.compactIndex]] — retrain on survivors, bit-equal to a
    * fresh build) is pinned by AnnDeleteSpec, where the cold rebuild
    * cost belongs. */
  def annIvfTopKDeleted(spark: SparkSession, dir: String): DataFrame = {
    val ledger = graft.model.Scratch.dir("graft_ann_del")
    IvfIndex.deleteVectors(spark, ledger,
      embeddings(spark, dir).filter(annDeletePred).select("vec_id"))
    annIvfTopK(spark, dir, ledger = Some(ledger))
  }

  /** [[annIvfTopKOracle]] with the deleted ids excluded from the
    * candidate side — training replayed over the FULL corpus, matching
    * the pre-fold stale-quantizer serving contract. `deletedPredSql`
    * parameterizes WHICH ids are gone (default: the ann_delete_topk
    * modulus; the takedown receipt passes its ownership-derived set). */
  def annIvfTopKDeletedOracle(k: Int = 5,
      deletedPredSql: String = annDeletePredSql): String =
    s"""WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    $ivfAssignedCtesDuck,
    lists AS (
      SELECT a.vec_id, a.centroid_id, n.vec, n.nrm
      FROM assigned a JOIN normed n ON a.vec_id = n.vec_id
      WHERE NOT ${deletedPredSql.replace("vec_id", "a.vec_id")}),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        q.vec AS a_vec, c.vec AS b_vec, q.nrm AS na, c.nrm AS nb
      FROM lists q JOIN lists c
        ON q.centroid_id = c.centroid_id AND q.vec_id != c.vec_id
      WHERE q.vec_id IN ($annQueryIdsSql)),
    ${cosineRankTailDuck(k)}"""

  val NearDupBands = 6
  /** Planes per band at the test SFs: [[nearDupBandPlanes]] yields exactly
    * this for every N ≤ 4 095, which covers all locally-verified scales
    * (sf0.001/sf0.01/sf0.1 have 200/500/2 000 vectors) — so the static
    * oracle SQL stays bit-valid there, and adaptivity only engages beyond
    * the scales any oracle run sees. */
  val NearDupBandPlanes = 6

  /** Adaptive planes-per-band: with fixed planes the expected bucket size
    * is N/2^p, so banded candidate generation is still O(bands·N²/2^p) —
    * quadratic in N (measured 1.3 s → 32 s for a 10× replica). Growing p
    * with log₂N keeps expected bucket occupancy — and therefore candidate
    * pairs per row — constant: p = max(6, ⌊log₂(N/32)⌋), i.e. ~32 expected
    * vectors per bucket. Recall concentrates on high-similarity pairs as p
    * grows (true duplicates always collide), which is the production
    * near-dup regime; the same knob role as [[Dedup.MaxShingleDocFrequency]].
    *
    * Computed in INTEGER arithmetic (bit length of N/32) rather than a
    * float log: the DuckDB oracle now computes the same value in SQL
    * (`length(bin(n // 32)) - 1`), and a float `log(x)/log(2)` can land on
    * 6.999… at exact power-of-two boundaries, silently desynchronizing the
    * two engines — the adaptive-parameter oracle trap. */
  def nearDupBandPlanes(n: Long): Int = {
    val x = math.max(n, 1L) / 32L
    val lg = if (x < 1L) 0 else 63 - java.lang.Long.numberOfLeadingZeros(x)
    math.min(24, // bound plan size: ≤ 6×24 plane projections per row
      math.max(NearDupBandPlanes, lg))
  }

  /** [[nearDupBandPlanes]] as a DuckDB SQL expression over a BIGINT
    * rowcount expression — kept textually tiny so the oracle stays
    * readable; bit-for-bit the Scala formula above. */
  private def nearDupBandPlanesSqlDuck(nExpr: String): String =
    s"CAST(least(24, greatest($NearDupBandPlanes, length(bin(greatest($nExpr, 1) // 32)) - 1)) AS INTEGER)"

  /** Embedding-cosine near-duplicate pairs, banded-LSH shape: candidates
    * are pairs sharing at least one of [[NearDupBands]] hyperplane-sign
    * bands ([[NearDupBandPlanes]] planes each), scored by exact cosine and
    * kept at cosine ≥ threshold.
    *
    * Scale: candidate generation is an equi-join on (band, band_key) —
    * a linear shuffle, never an all-pairs nested loop; per-band bucket
    * count is 2^planes, so planes-per-band is the knob that bounds bucket
    * fan-out as N grows (same role as the stop-shingle DF cutoff in
    * [[Dedup.ngramJaccard]]). Recall is the standard banded-LSH curve:
    * ~(1-(1-p^planes)^bands) for per-plane agreement p = 1 - θ/π; at the
    * test threshold 0.35 (θ≈69°, chosen so the synthetic corpus — which
    * has no true near-dups — yields rows at all) recall is ~0.28, while at
    * a production dedup threshold of 0.9 (θ≈26°) the same banding gives
    * ~0.87 and stays cheap. The oracle runs the identical banded
    * algorithm, so results stay bit-matched.
    *
    * Staged on one representative (min vec_id) per DISTINCT vector —
    * the same discipline as every text near-dup operator
    * ([[Dedup]] "distinctDocs"), arrived at the same way: the round-7
    * 100× probe measured 210 s here because the replica's sign-flip
    * pattern cycles mod 3, giving every vector ~33 byte-identical
    * twins — and twins share EVERY band, so each twin group pays
    * all-pairs inside its buckets. Exact duplicates are
    * [[exactVecDedup]]'s finding; the banded join only ever sees
    * distinct vectors, whose bucket occupancy the adaptive planes
    * actually control. Banding stays sized to the RAW corpus count
    * (footer stats — reps ≤ N, so occupancy only shrinks), keeping the
    * params CTE identical in both engines.
    *
    * OUTPUT CONTRACT (since the rep staging): pairs involving a
    * non-keeper exact twin — including the keeper–twin pair at cosine
    * 1.0 — are NOT emitted here; full duplicate coverage is this row
    * COMPOSED with [[exactVecDedup]] (`emb_dedup_exact`), whose keeper
    * mapping expands each rep pair to its twin group. */
  def cosineNearDup(spark: SparkSession, dir: String,
      threshold: Double = 0.35): DataFrame = {
    val base = withNorm(spark, dir)
      .groupBy(col("vec"))
      .agg(min(col("vec_id")).as("vec_id"), min(col("nrm")).as("nrm"))
      .select("vec_id", "vec", "nrm")
    // banding sized to the RAW corpus count, like the oracle's params CTE
    val planes = nearDupBandPlanes(vectorCount(spark, dir))
    val bands = base
      .withColumn("sig", expr(signBitsExpr("vec", NearDupBands * planes)))
      .withColumn("band", explode(expr(s"sequence(0, ${NearDupBands - 1})")))
      .withColumn("band_key", expr(s"substring(sig, 1 + band * $planes, $planes)"))
      .select("vec_id", "band", "band_key")
    val cand = bands.as("a").join(bands.as("b"), Seq("band", "band_key"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
      .distinct()
    cand
      .join(base.select(col("vec_id").as("doc_a"), col("vec").as("a_vec"),
        col("nrm").as("na")), Seq("doc_a"))
      .join(base.select(col("vec_id").as("doc_b"), col("vec").as("b_vec"),
        col("nrm").as("nb")), Seq("doc_b"))
      .withColumn("cosine", cosineCol)
      .filter(col("cosine") >= threshold)
      .select("doc_a", "doc_b", "cosine")
  }

  /** Oracle for [[cosineNearDup]]. The banding is ADAPTIVE here too: a
    * `params` CTE computes planes-per-band from the live table cardinality
    * with the same integer formula as [[nearDupBandPlanes]], so engine and
    * oracle agree at EVERY scale a compare can run at — not just the SFs
    * where the adaptive value happens to equal the old static 6
    * (the round-2 latent verification gap, ADVICE medium). */
  def cosineNearDupOracle(threshold: Double = 0.35): String =
    s"""WITH params AS (
      SELECT ${nearDupBandPlanesSqlDuck("count(*)")} AS planes FROM embeddings),
    base AS (
      SELECT min(vec_id) AS vec_id, vec FROM
        (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
      GROUP BY vec),
    normed AS (
      SELECT vec_id, vec, $normSqlDuck AS nrm FROM base),
    sigs AS (
      SELECT vec_id, ${signBitsSqlDuckExpr("vec", s"$NearDupBands * p.planes")} AS sig,
        p.planes
      FROM normed, params p),
    banded AS (
      SELECT vec_id, band,
        substr(sig, CAST(1 + band * planes AS INTEGER), CAST(planes AS INTEGER)) AS band_key
      FROM (SELECT vec_id, sig, planes, unnest(range(0, $NearDupBands)) AS band FROM sigs)),
    cand AS (
      SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.vec_id < b.vec_id),
    pairs AS (
      SELECT c.doc_a, c.doc_b, na.vec AS a_vec, nb.vec AS b_vec,
        na.nrm AS na, nb.nrm AS nb
      FROM cand c
      JOIN normed na ON na.vec_id = c.doc_a
      JOIN normed nb ON nb.vec_id = c.doc_b),
    scored AS (
      SELECT doc_a, doc_b, $dotSqlDuck / (sqrt(na) * sqrt(nb)) AS cosine
      FROM pairs)
    SELECT doc_a, doc_b, cosine FROM scored WHERE cosine >= $threshold"""

  /** Exact-duplicate vectors: one row per distinct embedding with the
    * kept id (min) and the multiplicity — the embedding-side twin of
    * [[Dedup.exact]], and the staging that keeps [[cosineNearDup]]
    * linear on duplicate-heavy corpora (see there). One hash-aggregate
    * on the vector bytes; float equality is exact, so both engines
    * group identically. */
  def exactVecDedup(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .groupBy(col("vec"))
      .agg(min(col("vec_id")).as("keeper_id"), count(lit(1)).as("dup_count"))
      .select("keeper_id", "dup_count")

  def exactVecDedupOracle: String =
    """SELECT min(vec_id) AS keeper_id, count(*) AS dup_count
       FROM embeddings GROUP BY embedding"""

  /** Semantic deduplication, SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): mark every vector that has a LOWER-id in-cluster
    * neighbor at cosine ≥ threshold as a semantic duplicate of the
    * smallest such neighbor, clusters being the SERVING INDEX's inverted
    * lists ([[IvfIndex.lists]] — the same deterministic Lloyd quantizer,
    * [[ivfK]] sizing). Emits one row per dropped vector:
    * (vec_id, centroid_id, keeper_id, cosine-to-keeper); the keep set is
    * the complement. The dominated-by-earliest rule is the deterministic
    * stand-in for the paper's keep-one-per-group choice — duplicate
    * GROUPS (connected components) are already covered exactly by
    * [[Dedup.duplicateClusters]]; this row is the cluster-scoped
    * candidate-generation economics.
    *
    * Sharing the index quantizer is the scale design, measured, not
    * assumed: an earlier occupancy-constant sizing (k = N/64, its own
    * training) kept pairing linear but paid N·k ≈ N²/64 quantizer
    * assignment per call — 18× wall for 10× data at the probe, every
    * run, cache-blind. With [[ivfK]] (k = √2N) assignment is N^1.5 — the
    * SAME class as the index build it now shares, paid ONCE per corpus
    * fingerprint through [[IvfIndex]]'s staged-rename cache — and a warm
    * call is pairs-only: one `centroid_id` equi-join of the lists with
    * themselves (exactly [[annIvfTopK]]'s serving join, un-restricted),
    * N × √(N/2) candidate work, map-side-combinable min-keeper at the
    * end. At the verified SFs the two sizings coincide (both clamp to
    * k = 16/16/32 at N = 200/500/2 000), so the oracle results are
    * unchanged — the formulas only diverge beyond oracle-verified scale,
    * the same adaptivity discipline as [[NearDupBandPlanes]]. Beyond the
    * [[IvfKMax]] cap occupancy grows again and the cap is the knob, as
    * documented there. */
  def semDedup(spark: SparkSession, dir: String,
      threshold: Double = 0.35): DataFrame = {
    val lists = IvfIndex.lists(spark, dir)
    val a = lists.select(col("centroid_id"), col("vec_id").as("keeper_id"),
      col("vec").as("a_vec"), col("nrm").as("na"))
    val b = lists.select(col("centroid_id"), col("vec_id"),
      col("vec").as("b_vec"), col("nrm").as("nb"))
    a.join(b, Seq("centroid_id"))
      .filter(col("keeper_id") < col("vec_id"))
      .withColumn("cosine", cosineCol)
      .filter(col("cosine") >= threshold)
      .groupBy(col("vec_id"), col("centroid_id"))
      .agg(min(struct(col("keeper_id"), col("cosine"))).as("m"))
      .select(col("vec_id"), col("centroid_id"),
        col("m.keeper_id").as("keeper_id"), col("m.cosine").as("cosine"))
  }

  /** Oracle for [[semDedup]] — replays the index quantizer training
    * (the same CTE builders and `params.k` as [[annIvfTopKOracle]])
    * and the dominated-by-earliest rule in SQL. */
  def semDedupOracle(threshold: Double = 0.35): String =
    s"""WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    $ivfAssignedCtesDuck,
    $ivfListsCteDuck,
    scored AS (
      SELECT keeper_id, vec_id, centroid_id,
        $dotSqlDuck / (sqrt(na) * sqrt(nb)) AS cosine
      FROM (
        SELECT a.vec_id AS keeper_id, b.vec_id AS vec_id, b.centroid_id,
          a.vec AS a_vec, b.vec AS b_vec, a.nrm AS na, b.nrm AS nb
        FROM lists a JOIN lists b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)),
    dom AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY keeper_id) AS rn
      FROM scored WHERE cosine >= $threshold)
    SELECT vec_id, centroid_id, keeper_id, cosine FROM dom WHERE rn = 1"""

  /** Int8 scalar quantization of the embedding column — the standard
    * model-serving compression (4× smaller than float32, 8× than the
    * doubles they widen to): per-vector scale = max|component| / 127,
    * q_i = round(v_i / scale) ∈ [−127, 127]. Emits per-vector audit rows
    * (scale + L2 reconstruction error) rather than the int8 payload so
    * the driver can value-compare them; the quantized array itself is the
    * `transform(...)` column inside, reusable as a real output.
    *
    * Cross-engine float discipline: scale is an order-independent max;
    * the error sum is a left fold seeded with 0.0 (exact no-op add), so
    * every double matches DuckDB's list_reduce bit-for-bit. A zero
    * vector's scale degenerates to 1.0 on both sides (guard, not NaN).
    * Scale: map-only — one narrow pass, no shuffle; at 100 TB this is
    * the compress-on-write step of an embedding store. */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame =
    withInt8Scale(embeddings(spark, dir))
      .withColumn("l2_err", sqrt(expr(
        """aggregate(zip_with(vec, q, (x, qi) ->
             pow(qi * scale - cast(x as double), 2)),
           cast(0.0 as double), (a, e) -> a + e)""")))
      .select(col("vec_id"), col("scale"), col("l2_err"))

  def quantizeInt8Oracle: String =
    s"""WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    scaled AS (
      SELECT vec_id, vec,
        CASE WHEN m = 0.0 THEN 1.0 ELSE m / 127.0 END AS scale
      FROM (
        SELECT vec_id, vec,
          list_reduce(list_transform(range(1, len(vec) + 1),
            i -> abs(vec[i])), (x, y) -> greatest(x, y)) AS m
        FROM base))
    SELECT vec_id, scale,
      sqrt(list_reduce(list_transform(range(1, len(vec) + 1),
        i -> pow(round(vec[i] / scale) * scale - vec[i], 2)),
        (x, y) -> x + y)) AS l2_err
    FROM scaled"""

  /** The int8 code table `(vec_id, scale, q, qq)` — quantize-on-write: one
    * map-only pass over the float embeddings producing, per vector, the
    * scale, the int8 code array, and the exact integer squared code norm.
    * This is the BUILD pass; [[IvfIndex.int8Codes]] materializes it once
    * per corpus fingerprint and [[annInt8TopK]] serves from that table,
    * so compressed queries scan codes AT REST (4× less IO than the floats)
    * instead of re-paying quantization of the whole corpus per query.
    * Every column round-trips parquet exactly (double / int array /
    * bigint), so served codes are bit-identical to a fresh pass. */
  def int8Codes(spark: SparkSession, dir: String): DataFrame =
    int8CodesFrom(embeddings(spark, dir))

  /** The quantize pass over an arbitrary `(vec_id, vec)` frame —
    * extracted so [[AnnIdentity]] hashes the SAME derivation the code
    * build executes (scale rule, rounding, norm arithmetic). */
  private[graft] def int8CodesFrom(emb: DataFrame): DataFrame =
    withInt8Scale(emb)
      // integer self dot product = squared code norm (exact, order-free)
      .withColumn("qq", expr("vec_dot_int(q, q)"))
      .select("vec_id", "scale", "q", "qq")

  /** The per-vector int8 quantizer columns: `max_abs`, `scale =
    * max_abs / 127` (1.0 for a zero vector) and the codes `q`. */
  private def withInt8Scale(emb: DataFrame): DataFrame =
    emb
      .withColumn("max_abs", expr(
        "aggregate(vec, cast(0.0 as double), (a, x) -> greatest(a, abs(cast(x as double))))"))
      .withColumn("scale", expr(
        "CASE WHEN max_abs = 0.0 THEN 1.0 ELSE max_abs / 127.0 END"))
      .withColumn("q", expr(
        "transform(vec, x -> cast(round(cast(x as double) / scale) as int))"))

  /** Top-k serving over the int8-quantized vectors ([[quantizeInt8]]'s
    * codes) — the compressed read path of an embedding store: the scan
    * touches int8 codes + one float scale per vector (4× less IO/memory
    * than float32, the difference between an index fitting in cluster RAM
    * or not at 100 TB), and similarity is an INTEGER dot product scaled by
    * `scale_a·scale_b` afterwards.
    *
    * Cross-engine exactness is structural here, stronger than the float
    * family's fold-order discipline: the code dot product and code norms
    * are sums of int×int (order-free), and the only float ops are two
    * multiplies, two sqrts, and a divide on exactly-agreed operands.
    * Ranking ties break on neighbor id. Same pinned query set and
    * O(Q·N·d) brute-force shape as [[annTopK]] — the bucketed variants
    * compose orthogonally (quantize the lists of the IVF index). */
  def annInt8TopK(spark: SparkSession, dir: String, k: Int = 5,
      codes: Option[DataFrame] = None): DataFrame = {
    // served from the materialized code table (built once per data
    // fingerprint) — the whole query, both sides, touches only codes
    val codeTab = codes.getOrElse(IvfIndex.int8Codes(spark, dir))
    val qside = codeTab.filter(annQueryFilter)
      .select(col("vec_id").as("query_id"), col("q").as("qa"),
        col("scale").as("sa"), col("qq").as("qqa"))
    val scored = qside.join(
        codeTab.select(col("vec_id").as("neighbor_id"), col("q").as("qb"),
          col("scale").as("sb"), col("qq").as("qqb")),
        col("query_id") =!= col("neighbor_id"))
      // native codegen'd integer dot — the old aggregate(zip_with(...))
      // was an interpreted HOF allocating a zipped array per pair in the
      // scan's hottest loop
      .withColumn("dot_int", expr("vec_dot_int(qa, qb)"))
      // cosine of the DEQUANTIZED vectors: (sa·sb·dot)/(sa·|qa|·sb·|qb|)
      // — scales cancel, so it is the pure code-space cosine
      .withColumn("cosine",
        col("dot_int") / (sqrt(col("qqa")) * sqrt(col("qqb"))))
    topK(scored, "cosine", k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  // ---- Product quantization (PQ) ----

  /** PQ geometry: the 64-dim embedding splits into [[PqSubspaces]]
    * contiguous 16-dim subvectors, each quantized against its own
    * [[PqK]]-centroid codebook (Jégou/Douze/Schmid, "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011). Storage per vector is
    * m log₂k = 4×4 bits vs 64×4 bytes — the representation that lets a
    * 100 TB embedding store keep its whole index in memory; int8
    * ([[annInt8TopK]]) compresses 4×, PQ compresses 128×. */
  val PqSubspaces = 4
  val PqSubDim: Int = EmbeddingDim / PqSubspaces
  val PqK = 16

  private def pqBase(spark: SparkSession, dir: String, s: Int): DataFrame =
    pqSliceFrom(embeddings(spark, dir), s)

  /** Subspace `s`'s slice of an arbitrary `(vec_id, vec)` frame — the PQ
    * geometry, extracted so [[AnnIdentity]] hashes the slicing the
    * codebook training and encode passes actually run ([[PqSubDim]] is a
    * literal inside this plan). */
  private[graft] def pqSliceFrom(emb: DataFrame, s: Int): DataFrame =
    emb
      .withColumn("vec", expr(s"slice(vec, ${s * PqSubDim + 1}, $PqSubDim)"))
      .withColumn("nrm", expr(normExpr))
      .select("vec_id", "vec", "nrm")

  /** One codebook per subspace, trained by the shared deterministic Lloyd
    * loop ([[deterministicKmeans]]) on the same u16-hash-capped sample
    * discipline as IVF (256·k rows — everything at verified SFs). This is
    * the TRAINING pass; [[IvfIndex.pqCodebooks]] materializes its output
    * once per corpus fingerprint and [[annPqAdc]] serves from that table
    * (train once / serve many). */
  def pqCodebooks(spark: SparkSession, dir: String): DataFrame = {
    IvfIndex.trainings.incrementAndGet()
    val n = vectorCount(spark, dir)
    (0 until PqSubspaces).map { s =>
      val train = trainSample(pqBase(spark, dir, s), n,
        IvfTrainPerCentroid.toLong * PqK)
      deterministicKmeans(spark, train, PqK).withColumn("subspace", lit(s))
    }.reduce(_ unionByName _)
  }

  /** The PQ code table `(vec_id, subspace, centroid_id)` — encode-on-write:
    * one assignment pass per subspace against the (broadcast) trained
    * codebooks. This is the BUILD pass; [[IvfIndex.pqCodes]] materializes
    * it once per corpus fingerprint next to the cached codebooks, and
    * [[annPqAdc]]'s database side serves from it — the 2-byte-per-subspace
    * scan the 128× compression promises, instead of re-encoding the float
    * corpus on every query. Longs round-trip parquet exactly. */
  def pqAssignCodes(spark: SparkSession, dir: String,
      books: DataFrame): DataFrame =
    (0 until PqSubspaces).map { s =>
      val book = books.filter(col("subspace") === s).drop("subspace")
      assignToCentroids(pqBase(spark, dir, s), book)
        .withColumn("subspace", lit(s))
        .select("vec_id", "subspace", "centroid_id")
    }.reduce(_ unionByName _)

  /** Subspace `s`'s query lookup table `(query_id, subspace, centroid_id,
    * dot_q)`: every pinned query's slice dotted with each of the
    * (broadcast) codebook's centroids, floor(·1e6)-quantized — Q×k rows. */
  private def pqQueryTable(spark: SparkSession, dir: String, book: DataFrame,
      s: Int): DataFrame =
    pqBase(spark, dir, s).filter(annQueryFilter)
      .select(col("vec_id").as("query_id"), col("vec").as("a_vec"))
      .crossJoin(broadcast(
        book.select(col("centroid_id"), col("c_vec").as("b_vec"))))
      .select(col("query_id"), lit(s).as("subspace"), col("centroid_id"),
        floor(expr(dotExpr) * 1e6).cast("bigint").as("dot_q"))

  /** ADC cosine of `(query_id, neighbor_id, dot_q, cn_q)` contributions:
    * the BIGINT sums are order-free, and the denominator pairs the
    * full-precision query norm with the reconstructed (code-word)
    * database norm — ADC approximates COSINE, the family's ranking
    * objective (raw dot would rank by vector length). */
  private def adcCosine(spark: SparkSession, dir: String,
      contrib: DataFrame): DataFrame = {
    val qn = withNorm(spark, dir).filter(annQueryFilter)
      .select(col("vec_id").as("query_id"), col("nrm").as("q_nrm"))
    contrib.groupBy("query_id", "neighbor_id")
      .agg(sum(col("dot_q")).as("score_q"), sum(col("cn_q")).as("recon_q"))
      .join(broadcast(qn), Seq("query_id"))
      .withColumn("adc_cosine",
        (col("score_q") / lit(1e6)) /
          (sqrt(col("q_nrm")) * sqrt(col("recon_q") / lit(1e6))))
  }

  /** Asymmetric-distance (ADC) top-k over the PQ codes: the query stays
    * full-precision, every database vector is its 4 codebook ids, and the
    * score is the sum of 4 lookup-table entries —
    * `Σ_s dot(q_s, centroid[code_s(x)])`, the PQ approximation of the
    * full dot product.
    *
    * Shape: the lookup tables are Q×m×k rows (20×4×16 here) built by a
    * tiny crossJoin and BROADCAST; the database side touches only its
    * 2-byte codes — the scan the 128× compression buys. Per-subspace
    * contributions are floor(·1e6)-quantized BIGINTs so the 4-way sum is
    * order-free exact (the BM25 discipline); ranking ties break on
    * neighbor id. */
  def annPqAdc(spark: SparkSession, dir: String, k: Int = 5,
      codebooks: Option[DataFrame] = None): DataFrame = {
    // train-once / serve-many: codebooks AND codes come from the
    // materialized index cache (one Lloyd training + one encode pass per
    // corpus fingerprint), not per-query passes — same lifecycle as
    // IvfIndex.centroids. An explicit `codebooks` frame (tests) bypasses
    // the cache entirely: codes are re-derived from it inline.
    val books = codebooks.getOrElse(IvfIndex.pqCodebooks(spark, dir))
    val codeTab = codebooks match {
      case Some(b) => pqAssignCodes(spark, dir, b)
      case None => IvfIndex.pqCodes(spark, dir)
    }
    val perSub = (0 until PqSubspaces).map { s =>
      val book = books.filter(col("subspace") === s).drop("subspace")
      val codes = codeTab.filter(col("subspace") === s).drop("subspace")
        // carry the assigned centroid's squared norm (1e6-quantized so the
        // 4-way reconstruction-norm sum is order-free like the dot sum)
        .join(broadcast(book.select(col("centroid_id"),
          floor(col("c_nrm") * 1e6).cast("bigint").as("cn_q"))),
          Seq("centroid_id"))
      codes.join(broadcast(pqQueryTable(spark, dir, book, s)), Seq("centroid_id"))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("dot_q"), col("cn_q"))
    }
    topK(adcCosine(spark, dir, perSub.reduce(_ unionByName _)), "adc_cosine", k)
      .select("query_id", "neighbor_id", "rank", "adc_cosine")
  }

  /** The PQ training + coding + ADC pipeline in DuckDB SQL: per subspace,
    * the same train/init/iterate CTEs as the IVF oracle over the sliced
    * DOUBLE[] subvectors (slicing a widened double array equals widening
    * a sliced float array), then codes, lookup tables, and the quantized
    * 4-way sum. */
  def annPqAdcOracle(k: Int = 5): String = {
    s"""WITH $pqCtesDuck,
    scored AS (
      SELECT query_id, neighbor_id, sum(dot_q) AS score_q,
        sum(cn_q) AS recon_q
      FROM ($pqContribsDuck)
      GROUP BY 1, 2),
    cos AS (
      SELECT s.query_id, s.neighbor_id,
        (s.score_q / 1e6) / (sqrt(q.q_nrm) * sqrt(s.recon_q / 1e6))
          AS adc_cosine
      FROM scored s JOIN qn q USING (query_id)),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY adc_cosine DESC, neighbor_id) AS rank
      FROM cos)
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, adc_cosine
    FROM ranked WHERE rank <= $k"""
  }

  /** PQ subspace `s` in DuckDB SQL: the sliced subvectors, the same
    * train/init/iterate CTEs as the IVF oracle (slicing a widened double
    * array equals widening a sliced float array), the codes, the query
    * lookup table and the per-pair quantized contributions. */
  private def pqSubCtesDuck(s: Int): String = {
    val lo = s * PqSubDim + 1
    val hi = (s + 1) * PqSubDim
    s"""sub_p$s AS (
      SELECT vec_id, fullvec[$lo:$hi] AS vec FROM pqbase),
    normed_p$s AS (
      SELECT vec_id, vec, $normSqlDuck AS nrm FROM sub_p$s),
    train_p$s AS (
      SELECT n.* FROM normed_p$s n, pqnn t
      WHERE ${u16SqlDuck("n.vec_id")} * t.nn
              < 65536 * ($IvfTrainPerCentroid * $PqK)),
    cents0_p$s AS (
      SELECT vec_id AS centroid_id, vec AS c_vec, nrm AS c_nrm FROM (
        SELECT *, row_number() OVER (ORDER BY vec_id) AS rn FROM train_p$s)
      WHERE rn <= $PqK),
    ${(1 to IvfIters).map(kmeansIterCteDuck(s"_p$s", s"${PqSubDim + 1}"))
      .mkString(",\n    ")},
    ${assignCteDuck(s"codes_p$s", s"cents${IvfIters}_p$s", s"normed_p$s")},
    qtab_p$s AS (
      SELECT q.vec_id AS query_id, c.centroid_id,
        CAST(floor(list_reduce(list_transform(range(1, len(q.vec) + 1),
          i -> q.vec[i] * c.c_vec[i]), (x, y) -> x + y) * 1e6) AS BIGINT)
          AS dot_q
      FROM normed_p$s q CROSS JOIN cents${IvfIters}_p$s c
      WHERE q.vec_id IN ($annQueryIdsSql)),
    contrib_p$s AS (
      SELECT t.query_id, d.vec_id AS neighbor_id, t.dot_q,
        CAST(floor(c.c_nrm * 1e6) AS BIGINT) AS cn_q
      FROM codes_p$s d
      JOIN cents${IvfIters}_p$s c ON c.centroid_id = d.centroid_id
      JOIN qtab_p$s t ON d.centroid_id = t.centroid_id
      WHERE t.query_id != d.vec_id)"""
  }

  /** The PQ prelude both PQ oracles open with: the full vectors, the
    * corpus count, full-precision query norms, and every subspace. */
  private def pqCtesDuck: String =
    s"""pqbase AS (
      SELECT vec_id, embedding::DOUBLE[] AS fullvec FROM embeddings),
    pqnn AS (SELECT count(*) AS nn FROM embeddings),
    qn AS (
      SELECT vec_id AS query_id,
        list_reduce(list_transform(range(1, len(fullvec) + 1),
          i -> fullvec[i] * fullvec[i]), (x, y) -> x + y) AS q_nrm
      FROM pqbase WHERE vec_id IN ($annQueryIdsSql)),
    ${(0 until PqSubspaces).map(pqSubCtesDuck).mkString(",\n    ")}"""

  /** Union of the per-subspace contributions, summed into ADC scores. */
  private def pqContribsDuck: String =
    (0 until PqSubspaces).map(s => s"SELECT * FROM contrib_p$s")
      .mkString(" UNION ALL ")

  /** Positives per query / hard-negative depth / random negatives for
    * [[annNegatives]]. */
  val NegPosK = 5
  val NegHardK = 15
  val NegRandK = 5

  /** Contrastive training-set generation — the (anchor, positive,
    * negative) table an embedding/reranker fine-tune consumes: per
    * pinned query, the exact top-[[NegPosK]] as positives, ranks
    * [[NegPosK]]+1..[[NegHardK]] as HARD negatives (the near-misses
    * that carry the gradient signal), and [[NegRandK]] RANDOM negatives
    * chosen by per-(query, candidate) md5 order over everything outside
    * the top-[[NegHardK]] — deterministic "randomness", so the sampled
    * training set is reproducible run-to-run and reshard-stable, the
    * same discipline as the split/sample family. Scale: the candidate
    * pool is Q·N with CONSTANT pinned Q (the exact-baseline economics),
    * one anti-join against the Q·[[NegHardK]]-row top table, and a
    * per-query bottom-k window. */
  def annNegatives(spark: SparkSession, dir: String): DataFrame = {
    val top = annTopK(spark, dir, NegHardK)
      .select("query_id", "neighbor_id", "rank")
    val ids = embeddings(spark, dir).select("vec_id")
    val cand = ids.filter(annQueryFilter)
      .select(col("vec_id").as("query_id"))
      .crossJoin(ids.select(col("vec_id").as("neighbor_id")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(top.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti")
      .withColumn("h", md5(concat(col("query_id").cast("string"), lit(":"),
        col("neighbor_id").cast("string"))))
    negativesFrom(top, cand)
  }

  /** The (anchor, kind, rank, neighbor) table both negatives rows emit:
    * `top` is a `(query_id, neighbor_id, rank)` list to [[NegHardK]]
    * (ranks ≤ [[NegPosK]] are positives, the rest hard negatives); `cand`
    * is the random-negative pool already anti-joined against `top`, with
    * an ordering hash `h` — its first [[NegRandK]] rows per anchor by
    * (h, neighbor_id) are the random negatives. */
  private def negativesFrom(top: DataFrame, cand: DataFrame): DataFrame = {
    val pos = top.filter(col("rank") <= NegPosK).withColumn("kind", lit("pos"))
    val hard = top.filter(col("rank") > NegPosK).withColumn("kind", lit("hard"))
    val w = Window.partitionBy("query_id").orderBy("h", "neighbor_id")
    val rand = cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= NegRandK)
      .withColumn("kind", lit("rand"))
      .select("query_id", "neighbor_id", "rank", "kind")
    pos.unionByName(hard).unionByName(rand)
      .select("query_id", "kind", "rank", "neighbor_id")
  }

  def annNegativesOracle: String =
    s"""WITH top AS (
      SELECT query_id, neighbor_id, rank FROM (${annTopKOracle(NegHardK)}) t),
    ids AS (SELECT vec_id FROM embeddings),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        md5(CAST(q.vec_id AS VARCHAR) || ':' || CAST(c.vec_id AS VARCHAR)) AS h
      FROM ids q, ids c
      WHERE q.vec_id IN ($annQueryIdsSql) AND q.vec_id != c.vec_id
        AND NOT EXISTS (SELECT 1 FROM top t
          WHERE t.query_id = q.vec_id AND t.neighbor_id = c.vec_id)),
    rand AS (
      SELECT query_id, 'rand' AS kind, rank, neighbor_id FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id ORDER BY h, neighbor_id)
            AS rank
        FROM cand) r WHERE rank <= $NegRandK)
    SELECT query_id, 'pos' AS kind, rank, neighbor_id FROM top
    WHERE rank <= $NegPosK
    UNION ALL
    SELECT query_id, 'hard', rank, neighbor_id FROM top WHERE rank > $NegPosK
    UNION ALL
    SELECT query_id, kind, rank, neighbor_id FROM rand"""

  /** Target expected size of the shared random-negative candidate pool
    * behind [[annNegativesIndexed]] — the threshold adapts ∝ 1/N, so the
    * pool stays ~this size at any corpus cardinality. */
  val NegRandPool = 64

  /** Shared random-negative candidate pool: ~[[NegRandPool]] vector ids
    * chosen by a single-id integer md5 threshold that ADAPTS to N
    * (`u16(md5(vec_id)) · N < 65536 · pool` — the all-integer
    * reshard-stable discipline of [[TextOps.stratifiedSample]]). ONE
    * map-only scan of the corpus computing one hash per row — no
    * per-(query, candidate) work, so sampler cost is O(N) total no matter
    * how many anchors consume the pool. Sharing one pool across anchors
    * is the in-batch-negatives economics of contrastive training (the
    * batch's negatives are shared by every anchor in it); per-anchor
    * variety comes from the per-pair ordering hash downstream. */
  private[graft] def annNegativePool(spark: SparkSession, dir: String): DataFrame = {
    val nn = embeddings(spark, dir)
      .agg(count(lit(1)).cast("long").as("nn"))
    embeddings(spark, dir).select(col("vec_id").as("neighbor_id"))
      .withColumn("hk", expr(u16Expr("neighbor_id")).cast("long"))
      .crossJoin(broadcast(nn))
      .filter(col("hk") * col("nn") < lit(65536L) * NegRandPool)
      .select("neighbor_id")
  }

  /** Index-served contrastive training-set generation — the PRODUCTION
    * form of [[annNegatives]], whose brute-force ranker and Q·N candidate
    * enumeration are the exact-baseline economics, not a pipeline shape.
    * Here every stage is the one you'd run at corpus scale:
    *
    *   - positives (rank ≤ [[NegPosK]]) and hard negatives (ranks
    *     [[NegPosK]]+1..[[NegHardK]]) come from [[annIvfAdcRerank]] — the
    *     serving index's two-stage DPP-pruned candidate path, recall-pinned
    *     by AnnRecallSpec, zero corpus-wide exchanges per query;
    *   - random negatives are drawn from the shared [[annNegativePool]]
    *     (one O(N) map-only scan, threshold ∝ 1/N) by per-(anchor, cand)
    *     md5 order, anti-joined against the anchor's top list — per-anchor
    *     cost is O(pool), so anchors can scale to the corpus without the
    *     Q·N blowup.
    *
    * Determinism: the pool membership and the per-pair ordering hash are
    * integer md5 arithmetic; ties break on neighbor id. Output schema is
    * identical to [[annNegatives]] (the exact twin kept as the baseline
    * this row's recall economics are measured against). */
  def annNegativesIndexed(spark: SparkSession, dir: String): DataFrame = {
    val top = annIvfAdcRerank(spark, dir, k = NegHardK)
      .select("query_id", "neighbor_id", "rank")
    val queries = embeddings(spark, dir).filter(annQueryFilter)
      .select(col("vec_id").as("query_id"))
    val cand = queries
      .join(broadcast(annNegativePool(spark, dir)),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("h", expr(u16Expr(
        "concat(cast(query_id as string), ':', cast(neighbor_id as string))"))
        .cast("long"))
      .join(broadcast(top.select("query_id", "neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
    negativesFrom(top, cand)
  }

  /** Oracle: the [[annIvfAdcRerankOracle]] composition (nested WITH
    * subquery, the recall-report pattern) for the pos/hard ranks, plus the
    * same integer-threshold pool and per-pair md5 ordering in DuckDB. */
  def annNegativesIndexedOracle: String =
    s"""WITH itop AS (
      SELECT query_id, neighbor_id, rank
      FROM (${annIvfAdcRerankOracle(NegHardK)}) t),
    nn AS (SELECT count(*) AS nn FROM embeddings),
    pool AS (
      SELECT e.vec_id AS neighbor_id FROM embeddings e, nn
      WHERE ${u16SqlDuck("e.vec_id")} * nn.nn < 65536 * $NegRandPool),
    qs AS (
      SELECT vec_id AS query_id FROM embeddings
      WHERE vec_id IN ($annQueryIdsSql)),
    cand AS (
      SELECT q.query_id, p.neighbor_id,
        ${u16SqlDuck(
          "CAST(q.query_id AS VARCHAR) || ':' || CAST(p.neighbor_id AS VARCHAR)")} AS h
      FROM qs q CROSS JOIN pool p
      WHERE q.query_id != p.neighbor_id
        AND NOT EXISTS (SELECT 1 FROM itop t
          WHERE t.query_id = q.query_id AND t.neighbor_id = p.neighbor_id)),
    rnd AS (
      SELECT query_id, 'rand' AS kind, rank, neighbor_id FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id ORDER BY h, neighbor_id)
            AS rank
        FROM cand) r WHERE rank <= $NegRandK)
    SELECT query_id, 'pos' AS kind, rank, neighbor_id FROM itop
    WHERE rank <= $NegPosK
    UNION ALL
    SELECT query_id, 'hard', rank, neighbor_id FROM itop WHERE rank > $NegPosK
    UNION ALL
    SELECT query_id, kind, rank, neighbor_id FROM rnd"""

  /** The training-free approximate rankers [[annRecallReport]] and
    * [[annMrr]] audit against the exact baseline — the ones whose
    * oracles replay without a Lloyd loop. */
  private def auditVariants(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] = Seq(
    "int8" -> annInt8TopK(spark, dir),
    "lsh" -> annLshTopK(spark, dir),
    "lsh_multiprobe" -> annLshMultiProbeTopK(spark, dir),
    "rp" -> annRpTopK(spark, dir))

  /** Index-quality audit: overlap@k of each TRAINING-FREE approximate
    * ranker against the exact baseline, as an oracle-checked table —
    * the recall report a retrieval deployment watches after every index
    * rebuild, here exact-by-construction because every ranker is
    * deterministic. Scope is the rankers whose oracles replay without a
    * Lloyd loop (LSH single/multi-probe, int8): the IVF family's recall
    * is pinned by AnnRecallSpec instead, keeping this row's DuckDB twin
    * free of 4+ k-means replays. Shape: each ranker's (query, neighbor)
    * list is Q·k rows; the audit is three tiny equi-joins + one-row
    * aggregates unioned — negligible next to the rankers themselves. */
  def annRecallReport(spark: SparkSession, dir: String): DataFrame = {
    val keys = Seq("query_id", "neighbor_id")
    val exact = annTopK(spark, dir).select(keys.map(col): _*)
    val exactPairs = exact.agg(count(lit(1)).as("exact_pairs"))
    auditVariants(spark, dir).map { case (name, df) =>
      df.select(keys.map(col): _*).join(exact, keys)
        .agg(count(lit(1)).as("hits"))
        .select(lit(name).as("variant"), col("hits"))
    }.reduce(_.unionByName(_))
      .crossJoin(broadcast(exactPairs))
      .withColumn("recall", col("hits") * lit(1.0) / col("exact_pairs"))
      .select("variant", "hits", "exact_pairs", "recall")
  }

  def annRecallReportOracle: String =
    s"""WITH exact AS (
      SELECT query_id, neighbor_id FROM (${annTopKOracle()}) e),
    ep AS (SELECT count(*) AS exact_pairs FROM exact),
    v AS (
      SELECT 'int8' AS variant, count(*) AS hits
      FROM (${annInt8TopKOracle()}) a JOIN exact USING (query_id, neighbor_id)
      UNION ALL
      SELECT 'lsh', count(*)
      FROM (${annLshTopKOracle()}) a JOIN exact USING (query_id, neighbor_id)
      UNION ALL
      SELECT 'lsh_multiprobe', count(*)
      FROM (${annLshMultiProbeTopKOracle()}) a
        JOIN exact USING (query_id, neighbor_id)
      UNION ALL
      SELECT 'rp', count(*)
      FROM (${annRpTopKOracle()}) a JOIN exact USING (query_id, neighbor_id))
    SELECT v.variant, v.hits, ep.exact_pairs,
      v.hits * 1.0 / ep.exact_pairs AS recall
    FROM v, ep"""

  /** Reciprocal-rank quantization grid: 2^24 micro-units. */
  val MrrQuant = 16777216L

  /** Mean reciprocal rank of the true nearest neighbor under each
    * training-free approximate ranker — the rank-position complement of
    * [[annRecallReport]]'s overlap@k (recall says the true NN is
    * somewhere in the top k; MRR says how close to the top). For every
    * query, the exact ranker's rank-1 neighbor is looked up in the
    * variant's list; its reciprocal rank is carried as the exact integer
    * `floor(2^24 / rank)` (rank is a small positive int, so the floor
    * division is bit-identical everywhere) and SUMMED AS BIGINT —
    * order- and partitioning-invariant like every score in this repo —
    * with misses contributing 0. `mrr = rr_q / (2^24 · n_queries)`, one
    * IEEE division at the end.
    *
    * Shape: each variant side is its own Q·k ranked list; the audit is
    * one (query, neighbor) equi-join per variant + a 1-row aggregate —
    * negligible next to the rankers. Variant scope matches
    * annRecallReport (the oracles that replay without a Lloyd loop). */
  def annMrr(spark: SparkSession, dir: String): DataFrame = {
    val truth = annTopK(spark, dir).filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id"))
    val nQ = truth.agg(count(lit(1)).as("n_queries"))
    auditVariants(spark, dir).map { case (name, df) =>
      df.select(col("query_id"), col("neighbor_id"), col("rank"))
        .join(truth, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("found"),
          sum(expr(s"$MrrQuant div rank")).as("rr_q"))
        .select(lit(name).as("variant"), col("found"),
          coalesce(col("rr_q"), lit(0L)).as("rr_q"))
    }.reduce(_.unionByName(_))
      .crossJoin(broadcast(nQ))
      .withColumn("mrr",
        col("rr_q") * lit(1.0) / (lit(MrrQuant) * col("n_queries")))
      .select("variant", "n_queries", "found", "rr_q", "mrr")
  }

  def annMrrOracle: String =
    s"""WITH truth AS (
      SELECT query_id, neighbor_id FROM (${annTopKOracle()}) WHERE rank = 1),
    nq AS (SELECT count(*) AS n_queries FROM truth),
    v AS (
      SELECT 'int8' AS variant, count(*) AS found,
        coalesce(sum($MrrQuant // rank), 0) AS rr_q
      FROM (${annInt8TopKOracle()}) a JOIN truth USING (query_id, neighbor_id)
      UNION ALL
      SELECT 'lsh', count(*), coalesce(sum($MrrQuant // rank), 0)
      FROM (${annLshTopKOracle()}) a JOIN truth USING (query_id, neighbor_id)
      UNION ALL
      SELECT 'lsh_multiprobe', count(*), coalesce(sum($MrrQuant // rank), 0)
      FROM (${annLshMultiProbeTopKOracle()}) a
        JOIN truth USING (query_id, neighbor_id)
      UNION ALL
      SELECT 'rp', count(*), coalesce(sum($MrrQuant // rank), 0)
      FROM (${annRpTopKOracle()}) a JOIN truth USING (query_id, neighbor_id))
    SELECT v.variant, nq.n_queries, v.found, CAST(v.rr_q AS BIGINT) AS rr_q,
      v.rr_q * 1.0 / ($MrrQuant * nq.n_queries) AS mrr
    FROM v, nq"""

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR 2009) of two
    * rankers over the same pinned query set: the exact float ranker
    * ([[annTopK]]) and the compressed int8 ranker ([[annInt8TopK]]).
    * `rrf = Σ_rankers 1/(60 + rank)`, absent → no contribution; rerank by
    * fused score, ties on neighbor id. THE standard hybrid-retrieval
    * combiner (lexical+vector in production; two vector rankers here —
    * [[Search.bm25TopK]]'s term queries live in a different query-id
    * space, so fusing it would be a type error, not a design win).
    *
    * Determinism: ranks are integers, each contribution is one
    * correctly-rounded division, and the sum is two fixed-order adds —
    * no quantization needed. Scale: a full-outer equi-join of two
    * (Q·k)-row lists + one rank window — negligible next to the rankers
    * themselves. */
  def annRrfFusion(spark: SparkSession, dir: String,
      inputK: Int = 10, k: Int = 5, rrfK: Int = 60): DataFrame = {
    val a = annTopK(spark, dir, inputK)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("rank_exact"))
    val b = annInt8TopK(spark, dir, inputK)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("rank_int8"))
    val fused = a.join(b, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("rank_exact")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK) + col("rank_int8")), lit(0.0)))
    topK(fused, "rrf", k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("rrf"))
  }

  def annRrfFusionOracle(inputK: Int = 10, k: Int = 5, rrfK: Int = 60): String =
    s"""WITH a AS (${annTopKOracle(inputK)}),
    b AS (${annInt8TopKOracle(inputK)}),
    fused AS (
      SELECT coalesce(a.query_id, b.query_id) AS query_id,
        coalesce(a.neighbor_id, b.neighbor_id) AS neighbor_id,
        coalesce(1.0e0 / ($rrfK + a.rank), 0.0e0)
          + coalesce(1.0e0 / ($rrfK + b.rank), 0.0e0) AS rrf
      FROM a FULL OUTER JOIN b
        ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, rrf,
        row_number() OVER (PARTITION BY query_id
          ORDER BY rrf DESC, neighbor_id) AS rank
      FROM fused)
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, rrf
    FROM ranked WHERE rank <= $k"""

  def annInt8TopKOracle(k: Int = 5): String =
    s"""WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    scaled AS (
      SELECT vec_id,
        CASE WHEN m = 0.0 THEN 1.0 ELSE m / 127.0 END AS scale, vec
      FROM (
        SELECT vec_id, vec,
          list_reduce(list_transform(range(1, len(vec) + 1),
            i -> abs(vec[i])), (x, y) -> greatest(x, y)) AS m
        FROM base)),
    codes AS (
      SELECT vec_id, scale,
        list_transform(vec, x -> CAST(round(x / scale) AS BIGINT)) AS q
      FROM scaled),
    normed AS (
      SELECT vec_id, scale, q,
        list_reduce(list_transform(range(1, len(q) + 1),
          i -> q[i] * q[i]), (x, y) -> x + y) AS qq
      FROM codes),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        list_reduce(list_transform(range(1, len(a.q) + 1),
          i -> a.q[i] * b.q[i]), (x, y) -> x + y) AS dot_int,
        a.qq AS qqa, b.qq AS qqb
      FROM normed a JOIN normed b ON a.vec_id != b.vec_id
      WHERE a.vec_id IN ($annQueryIdsSql)),
    ranked AS (
      SELECT query_id, neighbor_id,
        dot_int / (sqrt(qqa) * sqrt(qqb)) AS cosine,
        row_number() OVER (PARTITION BY query_id
          ORDER BY dot_int / (sqrt(qqa) * sqrt(qqb)) DESC, neighbor_id) AS rank
      FROM pairs)
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine
    FROM ranked WHERE rank <= $k"""

  // ---- Two-stage retrieval: IVF-ADC candidates + exact rerank ----

  /** Probe count for the two-stage path: one rung BELOW the single-stage
    * default ([[IvfNProbe]] = 8). Candidate-set recall@5 at sf0.001 is
    * 0.90 at nprobe=7 (measured on the same ladder as AnnRecallSpec), and
    * the exact rerank recovers everything the candidate set contains —
    * so the two-stage path meets the 0.9 floor while its expensive
    * full-precision stage touches only [[RerankC]] vectors per query
    * instead of every vector in 8 probed lists. */
  val IvfRerankNProbe = 7

  /** Candidates kept past the ADC stage for exact rerank. At the verified
    * SFs a probe set holds ~nprobe·N/k ≈ 440–875 candidates; keeping 50
    * bounds the float-precision stage at Q×50 rows while losing nothing
    * the coarse ADC ranking placed plausibly near the top (recall floor
    * pinned in AnnRecallSpec). At production scale C stays fixed as
    * N/k grows √N — the rerank stage's cost is O(Q·C·d) regardless of
    * corpus size. */
  val RerankC = 50

  /** FAISS-style `IVF,PQ+refine` two-stage retrieval
    * (Jégou/Douze/Schmid 2011 §V): the query probes its [[IvfRerankNProbe]]
    * nearest inverted lists, every candidate in those lists is scored by
    * ADC against the materialized PQ code table (2 bytes/subspace at
    * rest — no float IO), the top-[[RerankC]] by ADC cosine survive, and
    * only those C are re-scored with the exact sequential-fold cosine and
    * ranked. Output is exact-cosine ranked, so the oracle's final stage is
    * the same bit-exact fold as [[annTopK]].
    *
    * Scale shape: probe selection is Q×k against broadcast centroids;
    * candidate generation is ONE scan of the PQ code table — which carries
    * each vector's IVF list id AT REST, partitioned by it
    * ([[IvfIndex.pqCodes]]) — restricted to the probed lists by the
    * broadcast probe join, so dynamic partition pruning reads nprobe
    * directories and the corpus-sized assignment join happens at index
    * build time, never per query. ADC scoring is then a chain of broadcast
    * lookups (codebook norms, Q×m×k query tables) over the pruned
    * candidates; the final float fetch is a broadcast semi-join of Q×C ids
    * against the embeddings table. The full-precision read is thus C rows
    * per query vs nprobe·N/k for the single-stage IVF path — at N=2²⁸,
    * 50 rows instead of ~100k.
    *
    * Determinism: ADC scores are sums of floor(·1e6)-quantized BIGINTs
    * (order-free), top-C ties break on neighbor id, and the rerank
    * cosine is the cross-engine bit-exact fold — so the C-cut and the
    * final ranking are stable across engines. */
  def annIvfAdcRerank(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = IvfRerankNProbe, c: Int = RerankC): DataFrame = {
    val base = withNorm(spark, dir)
    val cents = IvfIndex.centroids(spark, dir)
    val books = IvfIndex.pqCodebooks(spark, dir)
    // probe selection: Q queries × k broadcast centroids, keep nprobe
    val probes = nearestLists(base.filter(annQueryFilter), cents, nprobe)
      .select(col("vec_id").as("query_id"),
        col("centroid_id").as("ivf_centroid"))
    // candidate generation: ONE scan of the code table, which carries
    // ivf_centroid AT REST (co-materialized and partitioned by the index
    // build), so no two corpus-sized tables join at query time; the
    // broadcast probe join dynamic-partition-prunes the scan to the
    // nprobe probed list directories
    val cand = IvfIndex.pqCodes(spark, dir).join(broadcast(probes), Seq("ivf_centroid"))
      .filter(col("query_id") =!= col("vec_id"))
    // ADC scoring over the pruned candidates is a chain of broadcast
    // lookups: per-subspace codebook norms (m×k rows) and the Q×m×k query
    // dot tables, joined once on (subspace, code) instead of a 4-way union
    // of per-subspace corpus branches
    val bookNorms = books.select(col("subspace"), col("centroid_id"),
      floor(col("c_nrm") * 1e6).cast("bigint").as("cn_q"))
    val qtab = (0 until PqSubspaces).map { s =>
      pqQueryTable(spark, dir,
        books.filter(col("subspace") === s).drop("subspace"), s)
    }.reduce(_ unionByName _)
    val contrib = cand
      .join(broadcast(bookNorms), Seq("subspace", "centroid_id"))
      .join(broadcast(qtab), Seq("query_id", "subspace", "centroid_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("dot_q"), col("cn_q"))
    val topc = topK(adcCosine(spark, dir, contrib), "adc_cosine", c, "crank")
      .select("query_id", "neighbor_id")
    // exact rerank: Q×C surviving ids broadcast against the float table
    rankByCosine(candidateSide(base).join(broadcast(topc), Seq("neighbor_id"))
      .join(broadcast(querySide(base.filter(annQueryFilter))), Seq("query_id")), k)
  }

  /** The composed oracle: IVF training/assignment CTEs (probe set at
    * `nprobe`), PQ training/coding/lookup CTEs per subspace, candidate
    * restriction, BIGINT ADC top-C, then the bit-exact sequential-fold
    * rerank — each stage the same SQL already proven for the single-stage
    * oracles it is composed from. */
  def annIvfAdcRerankOracle(k: Int = 5, nprobe: Int = IvfRerankNProbe,
      c: Int = RerankC): String = {
    s"""WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    $ivfAssignedCtesDuck,
    probes AS (
      SELECT vec_id AS query_id, centroid_id FROM (
        SELECT n.vec_id, c.centroid_id,
          row_number() OVER (PARTITION BY n.vec_id ORDER BY
            n.nrm - 2 * list_reduce(list_transform(range(1, len(n.vec) + 1),
              i -> n.vec[i] * c.c_vec[i]), (x, y) -> x + y) + c.c_nrm,
            c.centroid_id) AS probe
        FROM normed n CROSS JOIN cents$IvfIters c
        WHERE n.vec_id IN ($annQueryIdsSql)) WHERE probe <= $nprobe),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM assigned a JOIN probes p USING (centroid_id)
      WHERE p.query_id != a.vec_id),
    $pqCtesDuck,
    scored AS (
      SELECT u.query_id, u.neighbor_id, sum(u.dot_q) AS score_q,
        sum(u.cn_q) AS recon_q
      FROM ($pqContribsDuck) u
      JOIN cand USING (query_id, neighbor_id)
      GROUP BY 1, 2),
    topc AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
          row_number() OVER (PARTITION BY s.query_id ORDER BY
            (s.score_q / 1e6) / (sqrt(q.q_nrm) * sqrt(s.recon_q / 1e6))
              DESC, s.neighbor_id) AS crank
        FROM scored s JOIN qn q USING (query_id))
      WHERE crank <= $c),
    rrpairs AS (
      SELECT t.query_id, t.neighbor_id, q.vec AS a_vec, q.nrm AS na,
        n.vec AS b_vec, n.nrm AS nb
      FROM topc t
      JOIN normed q ON q.vec_id = t.query_id
      JOIN normed n ON n.vec_id = t.neighbor_id),
    rrscored AS (
      SELECT query_id, neighbor_id,
        $dotSqlDuck / (sqrt(na) * sqrt(nb)) AS cosine
      FROM rrpairs),
    rrranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id) AS rank
      FROM rrscored)
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine
    FROM rrranked WHERE rank <= $k"""
  }

  /** Prune the closest 1/[[PrototypePruneDenom]] of each cluster. */
  val PrototypePruneDenom = 4

  /** SSL-prototype data pruning (Sorscher et al. 2022, arXiv:2206.14486,
    * "Beyond neural scaling laws"): rank every vector by cosine to its
    * cluster centroid and prune the MOST prototypical quarter — on
    * abundant data, the easy/redundant examples nearest the prototypes
    * contribute least, and dropping them beats random pruning. Clusters
    * and centroids are the SERVING INDEX's ([[IvfIndex.lists]] /
    * [[IvfIndex.centroids]] — the same build-once quantizer every other
    * embedding row shares), so the prune is a free by-product of the
    * index: one broadcast join of the k-row centroid table onto the
    * lists and one window per cluster, cluster-parallel, nothing
    * pairwise. Tercile-free integer edge (`rank*4 <= size`), cosine
    * ordering tie-broken by vec_id; tiny clusters (size < 4) prune
    * nothing by construction. */
  def prototypePrune(spark: SparkSession, dir: String): DataFrame = {
    val lists = IvfIndex.lists(spark, dir)
    val cents = IvfIndex.centroids(spark, dir)
    val w = Window.partitionBy("centroid_id")
    lists.join(broadcast(cents), Seq("centroid_id"))
      .withColumn("cosine",
        expr("vec_dot(vec, c_vec)") / (sqrt(col("nrm")) * sqrt(col("c_nrm"))))
      .withColumn("proto_rank", row_number().over(
        w.orderBy(col("cosine").desc, col("vec_id"))).cast("int"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("pruned",
        (col("proto_rank") * PrototypePruneDenom <= col("cluster_size"))
          .cast("int"))
      .select("vec_id", "centroid_id", "cluster_size", "proto_rank",
        "cosine", "pruned")
  }

  /** Oracle for [[prototypePrune]] — replays the quantizer training (the
    * [[annIvfTopKOracle]] CTE builders) and the per-cluster prototype
    * ranking in SQL. */
  def prototypePruneOracle(): String =
    s"""WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    $ivfAssignedCtesDuck,
    scored AS (
      SELECT n.vec_id, a.centroid_id,
        list_reduce(list_transform(range(1, len(n.vec) + 1),
          i -> n.vec[i] * c.c_vec[i]), (x, y) -> x + y)
          / (sqrt(n.nrm) * sqrt(c.c_nrm)) AS cosine
      FROM assigned a
      JOIN normed n ON n.vec_id = a.vec_id
      JOIN cents$IvfIters c ON c.centroid_id = a.centroid_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY centroid_id
          ORDER BY cosine DESC, vec_id) AS proto_rank,
        count(*) OVER (PARTITION BY centroid_id) AS cluster_size
      FROM scored)
    SELECT vec_id, centroid_id, cluster_size,
      CAST(proto_rank AS INTEGER) AS proto_rank, cosine,
      CAST(proto_rank * $PrototypePruneDenom <= cluster_size AS INTEGER)
        AS pruned
    FROM ranked"""

  /** Per-cluster cap for [[clusterCap]]. */
  val ClusterCapK = 16

  /** Cluster-balanced embedding sampling: cap every IVF cluster at
    * [[ClusterCapK]] members, chosen by a content-stable hash order
    * (`md5("cap:" || vec_id)`) — the balanced-sampling step of
    * SemDeDup-style pipelines (DataComp/DatologyAI recipes): dense
    * regions of embedding space contribute at most K examples each, so
    * the selected set spans modes instead of mirroring the density. The
    * hash order makes the within-cluster choice uniform yet
    * deterministic — re-running, resharding, or growing OTHER clusters
    * never changes a cluster's picks ([[prototypePrune]] is the
    * distance-ranked sibling; this one is density-flattening).
    *
    * Shape: clusters and assignments come from the shared build-once
    * quantizer ([[IvfIndex.lists]]); the cap is one row_number window
    * per cluster — cluster-parallel, nothing pairwise, no global sort. */
  def clusterCap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("centroid_id")
    IvfIndex.lists(spark, dir)
      .withColumn("cap_key",
        md5(concat(lit("cap:"), col("vec_id").cast("string"))))
      .withColumn("cap_rank", row_number().over(
        w.orderBy(col("cap_key"), col("vec_id"))).cast("int"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("kept", (col("cap_rank") <= ClusterCapK).cast("int"))
      .select("vec_id", "centroid_id", "cluster_size", "cap_rank", "kept")
  }

  /** Oracle for [[clusterCap]] — replays the quantizer training and the
    * per-cluster hash-ordered cap in SQL. */
  def clusterCapOracle(): String =
    s"""WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    $ivfAssignedCtesDuck,
    ranked AS (
      SELECT vec_id, centroid_id,
        row_number() OVER (PARTITION BY centroid_id
          ORDER BY md5('cap:' || CAST(vec_id AS VARCHAR)), vec_id)
          AS cap_rank,
        count(*) OVER (PARTITION BY centroid_id) AS cluster_size
      FROM assigned)
    SELECT vec_id, centroid_id, cluster_size,
      CAST(cap_rank AS INTEGER) AS cap_rank,
      CAST(cap_rank <= $ClusterCapK AS INTEGER) AS kept
    FROM ranked"""
}
