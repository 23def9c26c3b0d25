package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField,
  StructType}

/** In-engine model training: the corpus-quality classifiers a
  * training-data pipeline fits ON the corpus it is curating (fastText-style
  * quality filters, Gopher/CCNet-style heuristic gates are all trained over
  * the same tables they then filter).
  *
  * The demonstrator is a logistic-style classifier fit by full-batch
  * gradient descent, DISTILLING the engine's heuristic quality gate
  * ([[TextOps.textStats]]'s composite `quality_score`, thresholded) into
  * a smooth trainable model — the fastText-quality-filter workflow,
  * where a rule-labeled corpus teaches a classifier that then
  * generalizes past the rule. (The corpus's `lang` column would be the
  * other natural label, but the synthetic text carries no cross-language
  * signal at all — a classifier on it can only learn the base rate, and
  * a demo that cannot outperform majority-class is a demo of nothing.)
  * Two deliberate determinism choices, both the repo-wide discipline:
  *   - the link is the ALGEBRAIC sigmoid `σ̂(z) = 1/2 + z / (2(1+|z|))`
  *     (Elliott, "A better activation function for artificial neural
  *     networks", 1993) — monotone, bounded to (0,1), σ̂(0)=1/2 like the
  *     logistic, but built from +,·,/,|·| only, which are IEEE
  *     correctly-rounded in BOTH engines; `exp` is not ulp-stable
  *     cross-engine (the same reason [[TextOps.mixture]] fixes T=2 to
  *     stay on `sqrt`);
  *   - fixed iteration count and learning rate, so the DuckDB oracle
  *     unrolls the identical descent as chained CTEs (the
  *     [[Similarity]] k-means oracle's pattern).
  *
  * Scale shape: the gradient of a row depends only on its `(x1, x2, y)`
  * triple, so the corpus reduces ONCE to the sufficient table
  * `(x1, x2, y, c)` — one map-side-combined aggregate, a few hundred rows
  * for thousands of documents. Below [[DriverStatsRows]] that table is
  * collected and all [[LogRegIters]] iterations plus the accuracy count
  * run on the driver: no per-iteration job at all (the ICDE 2025
  * pure-SQL inference paper's operator fusion, applied to training).
  * Above it, the table is pinned and each iteration is one aggregate
  * over it. Both paths are BIT-IDENTICAL to the per-row descent: every
  * summed term is a multiple of 2^-24 of magnitude ≤ 1 (see [[quant]]),
  * so the weighted term `c·q` and every partial sum are exact below 2^53
  * and no summation order can change a bit. The weight vector (d+1
  * doubles) lives on the driver between iterations either way — the
  * bounded-driver-state pattern of `deterministicKmeans` (MLlib's
  * LBFGS/OWLQN hold their coefficient vector the same way).
  */
object Learn {

  val LogRegIters = 32
  val LogRegLr = 2.0

  /** Gate threshold distilled by [[logregQuality]]: `quality_score >`
    * this labels a document "high quality". */
  val QualityGate = 0.55

  /** Feature projection: bounded, integer-derived doubles from the raw
    * text (the same arithmetic as [[TextOps.textStats]]) plus the
    * rule label y = quality gate. The model sees only x1/x2 — the
    * gate's third ingredient (the word-length band) stays hidden, so the
    * fit is a genuine distillation, not an identity. x0 is the bias. */
  private def featurized(spark: SparkSession, dir: String): DataFrame =
    TextOps.documents(spark, dir)
      .withColumn("words", split(col("text"), " "))
      .withColumn("word_count", size(col("words")).cast("double"))
      .withColumn("stop_count",
        expr(s"size(filter(words, w -> w in ${TextOps.inList(TextOps.StopwordsEn)}))")
          .cast("double"))
      .withColumn("nonspace",
        length(regexp_replace(col("text"), " ", "")).cast("double"))
      .withColumn("x1", least(col("word_count") / 100.0, lit(1.0)))
      .withColumn("x2", col("stop_count") / col("word_count"))
      .withColumn("awl", col("nonspace") / col("word_count"))
      .withColumn("qs",
        col("x1") * 0.4 + least(col("x2") * 4.0, lit(1.0)) * 0.3 +
          when(col("awl") >= 3 && col("awl") <= 8, 0.3).otherwise(0.0))
      .withColumn("y", (col("qs") > QualityGate).cast("int").cast("double"))
      .select(col("doc_id"), col("x1"), col("x2"), col("y"))

  private def sigmoidHat(z: Column): Column =
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))

  /** [[sigmoidHat]] in driver arithmetic: the same IEEE operations in
    * the same order, so the same bits. */
  private def sigmoidHat(z: Double): Double =
    0.5 + z / (2.0 * (1.0 + math.abs(z)))

  /** Per-row gradient contributions are quantized to multiples of 2^-24
    * (floor — no tie semantics) before summing: every term is then
    * exactly representable, the partial sums stay integer-exact (terms
    * are bounded by 1, so even 10^8 rows keep the scaled sum < 2^51 ≪
    * 2^53), and the summation is ORDER- AND PARTITIONING-INVARIANT —
    * the same gradient bits on any core count, SF, or engine. Without
    * this, Spark's task-completion-order float sums (which change with
    * SPARK_GRAFT_CPUS and corpus partitioning) amplified across 32
    * chained iterations at lr=2.0 made the oracle compare
    * config-sensitive. The 2^-24 truncation perturbs each term by
    * ≤ 6e-8 — irrelevant to the descent, and the oracle replays the
    * identical quantization. The same invariance lets a term be
    * weighted by its row multiplicity `c` with no rounding either. */
  private val GradQuant = 16777216.0 // 2^24
  private def quant(c: Column): Column =
    floor(c * lit(GradQuant)) / lit(GradQuant)
  private def quant(v: Double): Double =
    math.floor(v * GradQuant) / GradQuant

  /** Row bound on the collected sufficient table: at most this many
    * distinct `(x1, x2, y)` triples run the descent on the driver. */
  val DriverStatsRows: Int = graft.model.Bounded.DriverRows

  /** Fit and report: one wide row with the final weights, the corpus
    * size, and the training accuracy. Accuracy is INTEGER-exact despite
    * the float model: σ̂ is strictly monotone with σ̂(0)=1/2, so
    * `p > 1/2 ⇔ z > 0` — the decision boundary needs no sigmoid at
    * all. */
  def logregQuality(spark: SparkSession, dir: String,
      iters: Int = LogRegIters, lr: Double = LogRegLr): DataFrame =
    logregQualityGated(spark, dir, iters, lr, DriverStatsRows)

  /** [[logregQuality]] with an explicit sufficient-table gate; `gate = 0`
    * forces the distributed loop. */
  private[graft] def logregQualityGated(spark: SparkSession, dir: String,
      iters: Int, lr: Double, gate: Long): DataFrame =
    graft.model.Stage.scoped {
      val stats = featurized(spark, dir)
        .groupBy("x1", "x2", "y").agg(count(lit(1)).as("c"))
      val (w, nDocs, nCorrect) =
        graft.model.Bounded.collect(stats, gate) match {
          case Some(rows) => descendOnDriver(rows.map(r => (r.getDouble(0),
            r.getDouble(1), r.getDouble(2), r.getLong(3))), iters, lr)
          case None =>
            descendDistributed(graft.model.Stage.pin(stats), iters, lr)
        }
      spark.createDataFrame(
        java.util.Collections.singletonList(
          Row(nDocs, nCorrect, w(0), w(1), w(2))),
        ResultSchema)
    }

  /** The result row's schema, nullability included: what an aggregate
    * of `count`, `sum` and `first` would report, so the written parquet
    * is the same whichever path produced the row. */
  private val ResultSchema = StructType(Seq(
    StructField("n_docs", LongType, nullable = false),
    StructField("n_correct", LongType),
    StructField("w_bias", DoubleType),
    StructField("w_len", DoubleType),
    StructField("w_stop", DoubleType)))

  /** One descent step from the gradient sums `g` over `n` documents. */
  private def step(w: Array[Double], g: Array[Double], n: Double,
      lr: Double): Array[Double] =
    Array(w(0) - lr * g(0) / n, w(1) - lr * g(1) / n, w(2) - lr * g(2) / n)

  /** The descent over the collected `(x1, x2, y, c)` table, written as
    * the Column expressions of [[descendDistributed]] in driver
    * arithmetic: `z = (w0 + w1·x1) + w2·x2`, `err = σ̂(z) − y`, and the
    * gradient sums `Σ c·quant(term)`. Every summand is an exact multiple
    * of 2^-24, so these sums equal Spark's per-row sums bit for bit. */
  private def descendOnDriver(table: Array[(Double, Double, Double, Long)],
      iters: Int, lr: Double): (Array[Double], Long, Long) = {
    val nDocs = table.iterator.map(_._4).sum
    val n = nDocs.toDouble
    var w = Array(0.0, 0.0, 0.0) // bias, x1, x2
    (1 to iters).foreach { _ =>
      val g = Array(0.0, 0.0, 0.0)
      table.foreach { case (x1, x2, y, c) =>
        val err = sigmoidHat(w(0) + w(1) * x1 + w(2) * x2) - y
        g(0) += c * quant(err)
        g(1) += c * quant(err * x1)
        g(2) += c * quant(err * x2)
      }
      w = step(w, g, n, lr)
    }
    val nCorrect = table.iterator.collect {
      case (x1, x2, y, c) if (w(0) + w(1) * x1 + w(2) * x2 > 0) == (y.toInt == 1) => c
    }.sum
    (w, nDocs, nCorrect)
  }

  /** The descent above the gate: one aggregate over the pinned
    * sufficient table per iteration (the weighted sums are exact for the
    * same reason as the driver's), then one for the accuracy count. */
  private def descendDistributed(stats: DataFrame, iters: Int,
      lr: Double): (Array[Double], Long, Long) = {
    def z(w: Array[Double]) =
      lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2")
    val c = col("c")
    var w = Array(0.0, 0.0, 0.0)
    (1 to iters).foreach { _ =>
      val err = sigmoidHat(z(w)) - col("y")
      val g = stats.agg(
        sum(c * quant(err)), sum(c * quant(err * col("x1"))),
        sum(c * quant(err * col("x2"))), sum(c).cast("double")).head()
      w = step(w, Array(g.getDouble(0), g.getDouble(1), g.getDouble(2)),
        g.getDouble(3), lr)
    }
    val acc = stats.agg(sum(c),
      sum(when((z(w) > 0).cast("int") === col("y").cast("int"), c)
        .otherwise(0L))).head()
    (w, acc.getLong(0), acc.getLong(1))
  }

  /** Oracle twin: the identical descent unrolled — iteration i's weights
    * are a 1-row CTE computed from iteration i−1's via the same
    * gradient sums over the same feature CTE. */
  def logregQualityOracle(iters: Int = LogRegIters,
      lr: Double = LogRegLr): String = {
    val stop = TextOps.StopwordsEn.map(s => s"'$s'").mkString("[", ", ", "]")
    def zExpr(w: String) =
      s"($w.w0 + $w.w1 * f.x1 + $w.w2 * f.x2)"
    def pExpr(w: String) = {
      val z = zExpr(w)
      s"(0.5 + $z / (2.0 * (1.0 + abs($z))))"
    }
    // ONE MATERIALIZED CTE per iteration: DuckDB inlines plain CTEs per
    // REFERENCE, and each round reads its predecessor's three weight
    // columns several times — across 32 chained rounds that expansion is
    // exponential (first seen as an fd-exhaustion error at 32 rounds,
    // still ~3×/round at 14+ after a single-back-reference rewrite).
    // AS MATERIALIZED pins each round to one evaluation: 0.28 s at 32
    // rounds, bit-identical weights to the Spark descent.
    // the same 2^-24 floor-quantization as the Spark side ([[quant]]):
    // each summed term is exactly representable, so DuckDB's sum order
    // (parallel or sequential) cannot change the gradient bits either
    def qq(term: String) = s"floor(($term) * 16777216.0) / 16777216.0"
    val rounds = (1 to iters).map { i =>
      val p = pExpr("p")
      s"""w$i AS MATERIALIZED (
      SELECT p.w0 - $lr * sum(${qq(s"$p - f.y")})
          / CAST(count(*) AS DOUBLE) AS w0,
        p.w1 - $lr * sum(${qq(s"($p - f.y) * f.x1")})
          / CAST(count(*) AS DOUBLE) AS w1,
        p.w2 - $lr * sum(${qq(s"($p - f.y) * f.x2")})
          / CAST(count(*) AS DOUBLE) AS w2
      FROM feats f CROSS JOIN w${i - 1} p
      GROUP BY p.w0, p.w1, p.w2)"""
    }.mkString(",\n    ")
    s"""WITH raw AS (
      SELECT doc_id,
        least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
          AS x1,
        CAST(len(list_filter(string_split(text, ' '),
          w -> list_contains($stop, w))) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x2,
        CAST(length(replace(text, ' ', '')) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS awl
      FROM documents),
    feats AS MATERIALIZED (
      SELECT doc_id, x1, x2,
        CAST(CASE WHEN x1 * 0.4 + least(x2 * 4.0, 1.0) * 0.3 +
          (CASE WHEN awl >= 3 AND awl <= 8 THEN 0.3 ELSE 0.0 END)
          > $QualityGate THEN 1 ELSE 0 END AS DOUBLE) AS y
      FROM raw),
    w0 AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1,
      CAST(0 AS DOUBLE) AS w2),
    $rounds
    SELECT count(*) AS n_docs,
      sum(CASE WHEN (${zExpr(s"w$iters")} > 0) = (f.y = 1)
          THEN 1 ELSE 0 END) AS n_correct,
      any_value(w$iters.w0) AS w_bias,
      any_value(w$iters.w1) AS w_len,
      any_value(w$iters.w2) AS w_stop
    FROM feats f CROSS JOIN w$iters"""
  }
}
