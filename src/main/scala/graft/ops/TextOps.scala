package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines over the
  * `documents` table: token counting, quality scoring, language-ID
  * heuristic, document fingerprinting.
  *
  * All expressions are narrow per-row transforms (no shuffle except the
  * final presentation sort) — at 100 TB they run embarrassingly parallel
  * directly over the parquet scan with full column pruning (only `text` +
  * keys are read). Word splitting is single-space (the corpus is
  * space-joined); `split` on a literal space keeps the expression inside
  * whole-stage codegen, and every formula is mirrored 1:1 in the DuckDB
  * oracle (higher-order `filter`/`transform` ≡ DuckDB `list_filter`/
  * `list_transform`).
  */
object TextOps {

  /** Small function-word inventories per language for the LID heuristic. */
  val StopwordsEn = Seq("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  def documents(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ParquetStats.read(spark, s"$dir/documents.parquet")

  /** Explode an EXPENSIVELY-COMPUTED array column without evaluating the
    * computation twice — or worse, once per RAW row below an upstream
    * dedup aggregate.
    *
    * A plain (inner) `explode(arr)` lets `InferFiltersFromGenerate`
    * plant `size(arr) > 0 AND isnotnull(arr)` under the Generate, and
    * predicate pushdown then substitutes the array EXPRESSION into that
    * filter and drives it through every deterministic operator below —
    * including aggregations whose grouping keys it references. Measured
    * at the 100× probe (round 15): `dedup_winnow`'s fingerprint pass ran
    * the whole winnow_fps computation at the RAW SCAN (500 k docs,
    * 145 M grams) instead of over the 5 k distinct-text representatives
    * the aggregate reduces to — 80 s of the row's 82 s — and
    * `bpe_subword_freq` evaluated its 64-replace merge chain twice per
    * token (+~35 s). The OUTER generate is exempt from the rule, and the
    * null-compaction filter here references the GENERATOR OUTPUT, which
    * pushdown cannot move below the Generate.
    *
    * Semantics are identical to inner explode whenever the array has no
    * null ELEMENTS (every call site's arrays are built by
    * split/transform/concat over non-null inputs): a null or empty array
    * yields one null-valued row under the outer generate, which the
    * filter drops — exactly the rows inner explode never emits. */
  private[graft] def explodeComputed(df: DataFrame,
      arr: org.apache.spark.sql.Column, out: String): DataFrame =
    df.withColumn(out, explode_outer(arr)).filter(col(out).isNotNull)

  /** Fan a NARROW scan out to the session's parallelism before a
    * CPU-bound per-row map (gram hashing, signature computation): a small
    * parquet file is one row group = one task, serializing work the rest
    * of the cluster could share. No-op — no shuffle — when the input
    * already has more partitions than cores, which is always
    * the case at warehouse scale; the repartition only ever fires on
    * boutique inputs where the shuffled bytes are trivial. */
  private[ops] def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // <= par, not < par: getNumPartitions is the PRE-AQE number — a plan
    // reporting exactly `par` shuffle partitions of a few MB gets
    // runtime-coalesced to ONE, re-serializing the map (observed: the
    // fingerprint stage fused above a coalesced distinct-texts aggregate,
    // 38 s single-task at the 10x probe). An explicit user repartition(n)
    // is exempt from AQE coalescing, which is the point.
    if (df.rdd.getNumPartitions <= par) df.repartition(par) else df
  }

  private[ops] def inList(vals: Seq[String]) = vals.map(v => s"'$v'").mkString("(", ",", ")")

  /** Deterministic hash-based train/val/test split (80/10/10): the
    * document's bucket is 16 bits of md5(doc_id) mod 100, computed with
    * per-nibble hex arithmetic so the identical integer falls out of both
    * engines (no `conv()` in DuckDB 1.0; four substr lookups stay inside
    * whole-stage codegen). Content-stable assignment is the training-data
    * requirement: re-running the pipeline — or re-sharding the corpus —
    * never migrates a document across splits, because the bucket depends
    * only on the id, not on row order, partitioning, or a seed table.
    * Per-split rollup is one narrow hash aggregate over the scan. */
  /** First 16 md5 bits of the id as an integer in [0, 65536) — the
    * deterministic uniform variate behind hash splits and sampling.
    * Nibble-by-nibble arithmetic because DuckDB has no hex→int conv. */
  private[graft] def md5U16Expr(idCol: String): String = {
    def nib(i: Int) =
      s"(instr('0123456789abcdef', substring(md5(cast($idCol as string)), $i, 1)) - 1)"
    s"(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)})"
  }

  private[ops] def md5U16SqlDuck(idCol: String): String = {
    def nib(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5(CAST($idCol AS VARCHAR)), $i, 1)) - 1)"
    s"(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)})"
  }

  private def md5BucketExpr(idCol: String): String =
    s"${md5U16Expr(idCol)} % 100"

  private def md5BucketSqlDuck(idCol: String): String =
    s"${md5U16SqlDuck(idCol)} % 100"

  /** Deterministic stratified sampling: ~`targetPerStratum` docs per
    * language, chosen by hash threshold — keep iff
    * `u16(doc_id) * n_lang < 65536 * target`, all-integer arithmetic so
    * both engines agree bit-exactly AND membership is stable under
    * resharding/re-runs (the property `df.sample` lacks: its Bernoulli
    * draw depends on partition layout, so two runs of a pipeline sample
    * different training sets). Over-represented languages are thinned
    * toward the target; strata at or under it pass through whole.
    * Scale: one tiny per-stratum count aggregate broadcast back — the
    * corpus-side pass is a map-only filter, no shuffle of the data. */
  def stratifiedSample(spark: SparkSession, dir: String,
      targetPerStratum: Int = 100): DataFrame = {
    val d = documents(spark, dir)
      .withColumn("sample_key", expr(md5U16Expr("doc_id")).cast("long"))
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    d.join(broadcast(counts), Seq("lang"))
      .filter(col("sample_key") * col("n_lang") <
        lit(65536L) * targetPerStratum)
      .select("doc_id", "lang", "sample_key")
  }

  def stratifiedSampleOracle(targetPerStratum: Int = 100): String =
    s"""WITH u AS (
      SELECT doc_id, lang, ${md5U16SqlDuck("doc_id")} AS sample_key
      FROM documents),
    c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1)
    SELECT u.doc_id, u.lang, CAST(u.sample_key AS BIGINT) AS sample_key
    FROM u JOIN c USING (lang)
    WHERE u.sample_key * c.n_lang < 65536 * $targetPerStratum"""

  /** Synthetic v2 edit moduli for [[corpusDiff]]: every
    * [[DiffChangeMod]]th doc's text is edited, every [[DiffDropMod]]th
    * is removed, and [[DiffAdded]] new docs appear (ids offset by
    * [[DiffAddBase]]) — the same replayed-next-release discipline as the
    * SCD2 snapshot's day-1 table. */
  val DiffChangeMod = 13
  val DiffDropMod = 17
  val DiffAdded = 10
  val DiffAddBase = 1000000000L

  /** Corpus snapshot diff — dataset versioning's core query: what
    * changed between release v1 and v2? Each side reduces to
    * `(doc_id, md5(text))`; one full-outer equi-join on doc_id
    * classifies every document as added / removed / changed (present
    * both sides, fingerprints differ), and the unchanged mass — the
    * overwhelming majority of a real release — is filtered out so the
    * output is bounded by the CHANGE volume, not the corpus. At 100 TB
    * this is one fingerprint shuffle (32-hex keys, not text) exactly
    * like [[Dedup.exact]]; with both releases bucketed on doc_id at
    * rest even that shuffle disappears. */
  /** The synthetic v2 release shared by [[corpusDiff]] and
    * [[corpusDriftChi2]]. */
  private[ops] def v2Docs(spark: SparkSession, dir: String): DataFrame = {
    val base = documents(spark, dir)
    val edited = base
      .filter(col("doc_id") % DiffDropMod =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % DiffChangeMod === 0,
          concat(col("text"), lit(" [v2-erratum]"))).otherwise(col("text"))
          .as("text"))
    val added = base.filter(col("doc_id") < DiffAdded)
      .select((col("doc_id") + DiffAddBase).as("doc_id"), col("text"))
    edited.union(added)
  }

  private[ops] val v2DocsSqlDuck: String =
    s"""SELECT doc_id,
        CASE WHEN doc_id % $DiffChangeMod = 0
            THEN text || ' [v2-erratum]' ELSE text END AS text
      FROM documents WHERE doc_id % $DiffDropMod != 0
      UNION ALL
      SELECT doc_id + $DiffAddBase, text
      FROM documents WHERE doc_id < $DiffAdded"""

  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("fp_old"))
    val v2 = v2Docs(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("fp_new"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") =!= col("fp_new"), "changed")
          .otherwise("unchanged"))
      .filter(col("status") =!= "unchanged")
      .select("doc_id", "status", "fp_old", "fp_new")
  }

  def corpusDiffOracle: String =
    s"""WITH v1 AS (
      SELECT doc_id, md5(text) AS fp_old FROM documents),
    v2 AS (
      SELECT doc_id,
        md5(CASE WHEN doc_id % $DiffChangeMod = 0
            THEN text || ' [v2-erratum]' ELSE text END) AS fp_new
      FROM documents WHERE doc_id % $DiffDropMod != 0
      UNION ALL
      SELECT doc_id + $DiffAddBase, md5(text)
      FROM documents WHERE doc_id < $DiffAdded)
    SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
      CASE WHEN v1.doc_id IS NULL THEN 'added'
           WHEN v2.doc_id IS NULL THEN 'removed'
           ELSE 'changed' END AS status,
      v1.fp_old, v2.fp_new
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL OR v1.fp_old != v2.fp_new"""

  /** Distribution-drift monitor between corpus releases — the check a
    * training pipeline runs before swapping v2 in: has the LENGTH
    * DISTRIBUTION shifted, not just which documents changed
    * ([[corpusDiff]] answers that)? The statistic is the two-sample
    * chi-square over log-free length decades (digit count of n_chars,
    * the [[docsLengthHistogram]] discipline): per bucket
    * `(n1·N2 − n2·N1)² / (N1·N2·(n1+n2))`, summed by the consumer
    * against the χ² table. All-rational — counts in, one division out
    * (products evaluated in doubles with matched operation order, so
    * both engines land on the same bits; `ln`-based divergences like KL
    * are NOT ulp-stable cross-engine, the repo-wide rule).
    *
    * Scale: two histogram aggregates (map-side combined, ≤ a dozen
    * buckets each) + a bucket-keyed join of the two — nothing
    * corpus-sized after the scans. */
  def corpusDriftChi2(spark: SparkSession, dir: String): DataFrame = {
    def hist(df: DataFrame, n: String) = df
      .select(length(length(col("text")).cast("string")).as("decade"))
      .groupBy("decade").agg(count(lit(1)).as(n))
    val h1 = hist(documents(spark, dir), "n1")
    val h2 = hist(v2Docs(spark, dir), "n2")
    val joined = h1.join(h2, Seq("decade"), "full_outer")
      .select(col("decade"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"))
    val totals = joined.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
    joined.crossJoin(broadcast(totals))
      .withColumn("num",
        col("n1").cast("double") * col("t2").cast("double")
          - col("n2").cast("double") * col("t1").cast("double"))
      .withColumn("chi2_term",
        col("num") * col("num") /
          (col("t1").cast("double") * col("t2").cast("double")
            * (col("n1") + col("n2")).cast("double")))
      .select("decade", "n1", "n2", "chi2_term")
  }

  def corpusDriftChi2Oracle: String =
    s"""WITH h1 AS (
      SELECT length(CAST(length(text) AS VARCHAR)) AS decade,
        count(*) AS n1
      FROM documents GROUP BY 1),
    h2 AS (
      SELECT length(CAST(length(text) AS VARCHAR)) AS decade,
        count(*) AS n2
      FROM ($v2DocsSqlDuck) GROUP BY 1),
    j AS (
      SELECT coalesce(h1.decade, h2.decade) AS decade,
        coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2
      FROM h1 FULL OUTER JOIN h2 ON h1.decade = h2.decade),
    t AS (SELECT sum(n1) AS t1, sum(n2) AS t2 FROM j)
    SELECT CAST(decade AS INTEGER) AS decade,
      CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      (CAST(n1 AS DOUBLE) * CAST(t2 AS DOUBLE)
        - CAST(n2 AS DOUBLE) * CAST(t1 AS DOUBLE))
      * (CAST(n1 AS DOUBLE) * CAST(t2 AS DOUBLE)
        - CAST(n2 AS DOUBLE) * CAST(t1 AS DOUBLE))
      / (CAST(t1 AS DOUBLE) * CAST(t2 AS DOUBLE)
        * CAST(n1 + n2 AS DOUBLE)) AS chi2_term
    FROM j CROSS JOIN t"""

  /** Expected sample size of [[weightedSample]]. */
  val WeightedSampleTarget = 100

  /** Weight-proportional (Poisson PPS) sampling: each document kept with
    * probability ∝ its token count — the sampling design behind
    * token-budgeted corpus draws, where sampling DOCUMENTS uniformly
    * under-represents long documents' tokens. Inclusion is the same
    * reshard-stable all-integer hash-threshold discipline as
    * [[stratifiedSample]]: keep iff `u16(doc_id) · W < 65536 · k · w`
    * (W = Σw, k = [[WeightedSampleTarget]]), i.e. P(keep) =
    * min(1, k·w/W), expectation ≈ k docs with E[tokens] ∝ k·W/n — and
    * membership can never change under resharding or re-runs. Documents
    * heavy enough that `k·w ≥ W` are always kept (the threshold
    * saturates), exactly the certainty-stratum rule of classical PPS
    * designs.
    *
    * Scale: one tiny total-weight aggregate broadcast back; the
    * corpus-side pass is a map-only filter — no shuffle of the data,
    * no global sort, no prefix sum (systematic PPS would need one;
    * Poisson PPS is the shape that parallelizes). */
  def weightedSample(spark: SparkSession, dir: String,
      target: Int = WeightedSampleTarget): DataFrame = {
    val d = documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("sample_key", expr(md5U16Expr("doc_id")).cast("long"))
    val total = d.agg(sum("n_tokens").as("total_tokens"))
    d.crossJoin(broadcast(total))
      .filter(col("sample_key") * col("total_tokens") <
        lit(65536L) * target * col("n_tokens"))
      .select("doc_id", "n_tokens", "sample_key", "total_tokens")
  }

  def weightedSampleOracle(target: Int = WeightedSampleTarget): String =
    s"""WITH d AS (
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        CAST(${md5U16SqlDuck("doc_id")} AS BIGINT) AS sample_key
      FROM documents),
    t AS (SELECT sum(n_tokens) AS total_tokens FROM d)
    SELECT doc_id, n_tokens, sample_key, total_tokens
    FROM d CROSS JOIN t
    WHERE sample_key * total_tokens < 65536 * $target * n_tokens"""

  /** Temperature-weighted mixture resampling: rebalance the corpus across
    * language strata with the multilingual-pretraining sampling rule
    * p_l ∝ n_l^(1/T) at T = 2 — i.e. weight = sqrt(n_l), the standard
    * head-suppressing / tail-boosting exponent. `sqrt` is the one
    * fractional power that is IEEE-correctly-rounded in both engines
    * (general `pow` is not ulp-stable cross-engine), which is why the
    * temperature is fixed rather than a parameter; weights are quantized
    * to 1e-6 BIGINTs so their sum is order-free.
    *
    * Every document gets an exact integer copy count:
    * `n_copies = target_l div n_l` whole epochs, plus one extra copy for
    * the documents selected by the same reshard-stable hash threshold as
    * [[stratifiedSample]] (`u16(doc_id) · n_l < 65536 · remainder`) — so
    * over-represented languages thin to ~target (copies 0/1) and rare
    * languages repeat (copies ≥ 1), deterministically: re-running or
    * re-sharding the corpus can never change a document's copy count.
    * The target total is the corpus size N (resample-in-place).
    *
    * Scale: one tiny per-language count aggregate, a driver-free scalar
    * cross-join of its 2-row totals, and a broadcast join back — the
    * corpus-side pass is map-only, no shuffle of the data. The per-copy
    * expansion stays virtual (a count column, not exploded rows); the
    * training loader multiplies by it. */
  def mixture(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
      .withColumn("sample_key", expr(md5U16Expr("doc_id")).cast("long"))
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val weights = counts.withColumn("w",
      floor(sqrt(col("n_lang").cast("double")) * 1e6).cast("long"))
    val totals = weights.agg(
      sum("n_lang").cast("long").as("n_total"),
      sum("w").cast("long").as("sum_w"))
    val targets = weights.crossJoin(broadcast(totals))
      .withColumn("target_docs",
        floor(col("n_total").cast("double") * col("w") / col("sum_w"))
          .cast("long"))
      .select("lang", "n_lang", "target_docs")
    d.join(broadcast(targets), Seq("lang"))
      .withColumn("n_copies",
        expr("target_docs div n_lang") +
          when(col("sample_key") * col("n_lang") <
            lit(65536L) * (col("target_docs") % col("n_lang")), 1L)
            .otherwise(0L))
      .select("doc_id", "lang", "n_lang", "target_docs", "n_copies")
  }

  def mixtureOracle: String =
    s"""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
    w AS (SELECT lang, n_lang,
      CAST(floor(sqrt(CAST(n_lang AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
      FROM c),
    t AS (SELECT CAST(sum(n_lang) AS BIGINT) AS n_total,
      CAST(sum(w) AS BIGINT) AS sum_w FROM w),
    g AS (SELECT lang, n_lang,
      CAST(floor(CAST(t.n_total AS DOUBLE) * w.w / t.sum_w) AS BIGINT)
        AS target_docs
      FROM w, t)
    SELECT d.doc_id, d.lang, g.n_lang, g.target_docs,
      (g.target_docs // g.n_lang) +
      CASE WHEN ${md5U16SqlDuck("d.doc_id")} * g.n_lang
        < 65536 * (g.target_docs % g.n_lang) THEN 1 ELSE 0 END AS n_copies
    FROM documents d JOIN g USING (lang)"""

  /** Corpus length profile: documents bucketed by the decimal order of
    * magnitude of their whitespace word count (1 digit = 1–9 words,
    * 2 = 10–99, …) with per-bucket document counts, word mass, and
    * min/max — the distribution report that picks length-filter
    * thresholds and catches truncation/concatenation regressions between
    * corpus versions. Decade bucketing by DIGIT COUNT of the integer
    * (`length(cast(n AS string))`) is deliberately log-free: `log10` is
    * not ulp-stable cross-engine at power boundaries, while the decimal
    * rendering of an integer is identical everywhere. Map-only per-row
    * profile ahead of one ~10-row hash aggregate. */
  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(expr(
        "size(filter(split(text, ' '), w -> length(w) > 0))").as("n_words"))
      .withColumn("bucket_digits",
        length(col("n_words").cast("string")).cast("int"))
      .groupBy("bucket_digits")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").cast("long").as("total_words"),
        min("n_words").cast("long").as("min_words"),
        max("n_words").cast("long").as("max_words"))

  def lengthHistogramOracle: String =
    """WITH w AS (
      SELECT len(list_filter(string_split(text, ' '), x -> len(x) > 0))
        AS n_words
      FROM documents)
    SELECT CAST(length(CAST(n_words AS VARCHAR)) AS INTEGER)
        AS bucket_digits,
      count(*) AS n_docs,
      CAST(sum(n_words) AS BIGINT) AS total_words,
      CAST(min(n_words) AS BIGINT) AS min_words,
      CAST(max(n_words) AS BIGINT) AS max_words
    FROM w GROUP BY 1"""

  /** Vocabulary building: the corpus-wide token frequency table, ranked —
    * the aggregation that feeds tokenizer training (BPE seed vocab,
    * frequency cutoffs) and corpus drift monitoring. Shape: explode to
    * one row per token occurrence, hash-aggregate on the token, rank.
    * Scale: the explode is map-side (no pre-shuffle materialization),
    * partial aggregation collapses each partition's counts before the
    * single shuffle on the token — the canonical word-count at 100 TB;
    * doc_freq (documents containing the token) rides the same aggregate
    * via a distinct count inside per-doc pre-grouping. Ties rank by
    * token for cross-engine determinism.
    *
    * The top-k is `orderBy + limit` — Spark's TakeOrderedAndProject, a
    * per-partition heap + driver merge — NOT a global row_number window,
    * which would sort every distinct token of the corpus in ONE
    * partition (millions of tokens at real scale); the rank is then
    * assigned over the already-bounded `top` rows. */
  def vocabulary(spark: SparkSession, dir: String, top: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokens = documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val perDoc = tokens.groupBy("token", "doc_id")
      .agg(count(lit(1)).as("n_in_doc"))
    val vocab = perDoc.groupBy("token")
      .agg(sum(col("n_in_doc")).as("term_freq"),
        count(lit(1)).as("doc_freq"))
    val topK = vocab.orderBy(col("term_freq").desc, col("token")).limit(top)
    val w = Window.orderBy(col("term_freq").desc, col("token"))
    topK.withColumn("rank", row_number().over(w))
      .select("rank", "token", "term_freq", "doc_freq")
  }

  def vocabularyOracle(top: Int = 100): String =
    s"""WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    per_doc AS (
      SELECT token, doc_id, count(*) AS n_in_doc
      FROM tokens WHERE length(token) > 0
      GROUP BY 1, 2),
    vocab AS (
      SELECT token, sum(n_in_doc) AS term_freq, count(*) AS doc_freq
      FROM per_doc GROUP BY 1),
    ranked AS (
      SELECT token, term_freq, doc_freq,
        row_number() OVER (ORDER BY term_freq DESC, token) AS rank
      FROM vocab)
    SELECT rank, token, term_freq, doc_freq
    FROM ranked WHERE rank <= $top"""

  /** PII-style redaction pass: emails → `<EMAIL>`, digit runs → `<NUM>`,
    * with per-document replacement counts — the pre-training cleanup
    * every public-corpus pipeline runs. Patterns are deliberately
    * ASCII-class-only so Java regex (Spark) and RE2 (DuckDB) agree
    * byte-for-byte; the md5 of the redacted text is emitted and
    * oracle-compared, which proves the cross-engine redaction is
    * IDENTICAL on every byte of every document, not merely count-equal.
    * Narrow per-row transform — embarrassingly parallel over the scan. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val NumberPattern = "[0-9]+"

  /** The synthetic corpus is letters-only, so each doc is augmented with
    * deterministic PII-shaped content derived from its id (the adapter
    * fabrication pattern, RawSources-style) — redaction and regex
    * tokenization then have real matches (emails, digit runs,
    * punctuation) to prove themselves on, and `%31` docs get a second
    * email to exercise multi-match behavior. */
  private[ops] def augmented(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).withColumn("full_text",
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com id "), (col("doc_id") * 7919).cast("string"),
        when(col("doc_id") % 31 === 0,
          concat(lit(" cc admin"), col("doc_id").cast("string"),
            lit("@corp.example.org"))).otherwise(lit(""))))

  private[ops] val augmentedSql: String =
    """SELECT doc_id, lang, source,
      text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      '@example.com id ' || CAST(doc_id * 7919 AS VARCHAR) ||
      CASE WHEN doc_id % 31 = 0
           THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@corp.example.org'
           ELSE '' END AS full_text
    FROM documents"""

  def redact(spark: SparkSession, dir: String): DataFrame = {
    val aug = augmented(spark, dir)
    aug
      .withColumn("n_emails",
        size(split(col("full_text"), EmailPattern, -1)) - 1)
      // count digit runs on the email-redacted text so an address's
      // digits are not double-counted
      .withColumn("n_numbers",
        size(split(regexp_replace(col("full_text"), EmailPattern, "<EMAIL>"),
          NumberPattern, -1)) - 1)
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("full_text"), EmailPattern, "<EMAIL>"),
          NumberPattern, "<NUM>"))
      .select(col("doc_id"), col("n_emails"), col("n_numbers"),
        length(col("redacted")).as("redacted_len"),
        md5(col("redacted")).as("redacted_md5"))
  }

  def redactOracle: String =
    s"""WITH aug AS ($augmentedSql)
    SELECT doc_id,
      len(regexp_split_to_array(full_text, '$EmailPattern')) - 1 AS n_emails,
      len(regexp_split_to_array(
        regexp_replace(full_text, '$EmailPattern', '<EMAIL>', 'g'),
        '$NumberPattern')) - 1 AS n_numbers,
      length(regexp_replace(regexp_replace(full_text, '$EmailPattern', '<EMAIL>', 'g'),
        '$NumberPattern', '<NUM>', 'g')) AS redacted_len,
      md5(regexp_replace(regexp_replace(full_text, '$EmailPattern', '<EMAIL>', 'g'),
        '$NumberPattern', '<NUM>', 'g')) AS redacted_md5
    FROM aug"""

  val WinnowK = 8 // k-gram length in chars
  val WinnowW = 4 // winnowing window in hashes

  /** Winnowing fingerprint selection over any DataFrame with a `text`
    * column (Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for
    * Document Fingerprinting", SIGMOD 2003): hash every k-char gram,
    * slide a w-hash window, keep each window's minimum hash. Guarantees:
    * any shared substring of length ≥ k+w-1 contributes at least one
    * shared fingerprint (the detection floor), and expected density is
    * 2/(w+1) of grams — position-robust fingerprints at a bounded
    * fraction of the document size, which is what makes them joinable at
    * corpus scale where full minhash signatures would be recomputed per
    * pair.
    *
    * Production engines compute the gram hash with a Karp–Rabin ROLLING
    * hash (O(1) per gram); here each gram is md5-hashed (O(k) per gram)
    * because both engines produce identical md5 bytes, making the
    * selection byte-for-byte reproducible in the DuckDB oracle.
    *
    * The selection runs as the native [[graft.functions.WinnowFps]]
    * expression — one O(ng·w) pass hashing each gram once. The equivalent
    * HOF formulation (`hs` transform + windowed `array_min(slice(...))`)
    * is an optimizer trap: CollapseProject inlines `hs` into the window
    * lambda (O(ng²) md5 per row) and the `size(fps) > 0` filter planted
    * under `explode(fps)` evaluates the whole inlined chain again,
    * interpreted — one sf0.1 bench task measured >8 min of CPU in that
    * predicate. */
  private[ops] def withFingerprints(docs: DataFrame): DataFrame = {
    // serial gram hashing measured 12 s for dedup_winnow at sf0.1 before
    // the fan-out (one row group = one task)
    spread(docs)
      .withColumn("ng", greatest(length(col("text")) - lit(WinnowK - 1), lit(1)))
      .withColumn("fps", expr(s"winnow_fps(text, $WinnowK, $WinnowW)"))
  }

  /** One row per selected fingerprint — the joinable form two corpora
    * match on (MOSS-style overlap detection). */
  def winnowFingerprints(docs: DataFrame): DataFrame =
    explodeComputed(withFingerprints(docs), col("fps"), "fingerprint")
      .select(col("doc_id"), col("fingerprint"))

  /** Driver row: per-document fingerprint digest. `fp_digest` is md5 over
    * the sorted fingerprint set, so the oracle hash compare proves EVERY
    * selected fingerprint of every document matches, at one row per doc. */
  def winnow(spark: SparkSession, dir: String): DataFrame =
    withFingerprints(documents(spark, dir))
      .select(col("doc_id"), col("ng").cast("bigint").as("n_grams"),
        size(col("fps")).cast("bigint").as("n_fingerprints"),
        md5(array_join(array_sort(col("fps")), ",")).as("fp_digest"))

  /** The winnowing selection as DuckDB CTEs ending in
    * `w(doc_id, ng, fps)` — shared by [[winnowOracle]] and
    * [[Dedup.winnowNearDupOracle]] so both mirror one definition.
    * `source` is the relation fingerprinted (the raw table for the digest
    * row; distinct-text representatives for the near-dup join). */
  private[ops] def winnowCte(source: String = "documents"): String =
    s"""d AS (
      SELECT doc_id, text, greatest(length(text) - ${WinnowK - 1}, 1) AS ng
      FROM $source),
    h AS (
      SELECT doc_id, ng,
        list_transform(range(1, ng + 1),
          i -> md5(substr(text, CAST(i AS INTEGER), $WinnowK))) AS hs
      FROM d),
    w AS (
      SELECT doc_id, ng,
        list_distinct(list_transform(range(1, greatest(ng - ${WinnowW - 1}, 1) + 1),
          j -> list_min(hs[j : j + ${WinnowW - 1}]))) AS fps
      FROM h)"""

  def winnowOracle: String =
    s"""WITH ${winnowCte()}
    SELECT doc_id, CAST(ng AS BIGINT) AS n_grams,
      CAST(len(fps) AS BIGINT) AS n_fingerprints,
      md5(array_to_string(list_sort(fps), ',')) AS fp_digest
    FROM w"""

  /** GPT-2-style pre-tokenizer regex, restricted to constructs Java regex
    * (Spark) and RE2 (DuckDB) match identically: contraction suffixes,
    * optional-leading-space letter runs, digit runs, symbol runs,
    * residual spaces. ASCII classes only — no lookarounds (RE2 has
    * none), no \\p classes (engine-dependent tables). */
  val BpeTokenPattern = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"

  /** Regex token counting over any DataFrame with a `full_text` column —
    * factored off [[tokenCounts]] so tests can drive it with constructed
    * strings where the three counters genuinely diverge. */
  private[graft] def withTokenCounts(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws_tokens",
        size(split(col("full_text"), " ")).cast("bigint"))
      .withColumn("re_tokens",
        size(regexp_extract_all(col("full_text"), lit(BpeTokenPattern), lit(0)))
          .cast("bigint"))
      .withColumn("est_tokens",
        ceil(length(col("full_text")) / lit(4.0)).cast("bigint"))

  /** Token counting three ways — whitespace split, a BPE-ish pre-tokenizer
    * regex, and the chars/4 estimate — over the PII-augmented text (the
    * plain corpus is single-spaced lowercase words, where all three
    * collapse to the same number; emails/digit-runs/punctuation are where
    * budget estimates diverge and the regex one earns its cost). Narrow
    * per-row map, no shuffle. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    withTokenCounts(augmented(spark, dir))
      .select("doc_id", "lang", "ws_tokens", "re_tokens", "est_tokens")

  def tokenCountsOracle: String = {
    val pat = BpeTokenPattern.replace("'", "''")
    s"""SELECT doc_id, lang,
      CAST(len(string_split(full_text, ' ')) AS BIGINT) AS ws_tokens,
      CAST(len(regexp_extract_all(full_text, '$pat')) AS BIGINT) AS re_tokens,
      CAST(ceil(length(full_text) / 4.0) AS BIGINT) AS est_tokens
    FROM ($augmentedSql) aug"""
  }

  /** Tokenizer fertility per language — tokens/word and chars/token from
    * the BPE-ish pre-tokenizer over the PII-augmented corpus. Fertility
    * is THE multilingual budgeting number: a language whose words explode
    * into more subword tokens costs proportionally more of a fixed token
    * budget, so mixture weights and per-language sampling rates read off
    * this table. All aggregates are integer sums (exact, order-invariant
    * in any partitioning); each ratio is one IEEE division — bit-stable
    * cross-engine. One language-keyed aggregate with map-side partials:
    * scale-flat at any corpus size. */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame =
    withTokenCounts(augmented(spark, dir))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("full_text")).cast("bigint")).as("total_chars"),
        sum("ws_tokens").as("total_words"),
        sum("re_tokens").as("total_tokens"))
      .withColumn("tokens_per_word",
        col("total_tokens") * 1.0 / col("total_words"))
      .withColumn("chars_per_token",
        col("total_chars") * 1.0 / col("total_tokens"))

  def tokenFertilityOracle: String = {
    val pat = BpeTokenPattern.replace("'", "''")
    s"""WITH c AS (
      SELECT lang,
        CAST(length(full_text) AS BIGINT) AS n_chars,
        CAST(len(string_split(full_text, ' ')) AS BIGINT) AS ws_tokens,
        CAST(len(regexp_extract_all(full_text, '$pat')) AS BIGINT) AS re_tokens
      FROM ($augmentedSql) aug),
    g AS (
      SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars,
        sum(ws_tokens) AS total_words, sum(re_tokens) AS total_tokens
      FROM c GROUP BY 1)
    SELECT lang, n_docs, total_chars, total_words, total_tokens,
      total_tokens * 1.0 / total_words AS tokens_per_word,
      total_chars * 1.0 / total_tokens AS chars_per_token
    FROM g"""
  }

  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("bucket", expr(md5BucketExpr("doc_id")))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_total"),
        countDistinct(col("lang")).as("n_langs"))

  def hashSplitOracle: String =
    s"""WITH b AS (
      SELECT doc_id, lang, n_chars, ${md5BucketSqlDuck("doc_id")} AS bucket
      FROM documents),
    s AS (
      SELECT CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split, lang, n_chars
      FROM b)
    SELECT split, count(*) AS n_docs, sum(n_chars) AS n_chars_total,
      count(DISTINCT lang) AS n_langs
    FROM s GROUP BY 1"""

  /** Per-document statistics: counts, ratios, a BPE-ish token estimate
    * (chars/4), a composite quality score, and an md5 fingerprint. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("words", split(col("text"), " "))
      .withColumn("char_count", length(col("text")).cast("bigint"))
      .withColumn("word_count", size(col("words")).cast("bigint"))
      .withColumn("nonspace_count",
        length(regexp_replace(col("text"), " ", "")).cast("bigint"))
      .withColumn("stopword_count",
        expr(s"size(filter(words, w -> w in ${inList(StopwordsEn)}))").cast("bigint"))
      .withColumn("avg_word_len", col("nonspace_count") * 1.0 / col("word_count"))
      .withColumn("stopword_ratio", col("stopword_count") * 1.0 / col("word_count"))
      .withColumn("token_est", ceil(col("char_count") / lit(4.0)).cast("bigint"))
      // Composite quality heuristic: long enough, not stopword-soup,
      // words of plausible length. Deterministic integer-derived doubles.
      .withColumn("quality_score",
        (least(col("word_count") * 1.0 / 100.0, lit(1.0)) * 0.4
          + least(col("stopword_ratio") * 4.0, lit(1.0)) * 0.3
          + when(col("avg_word_len") >= 3 && col("avg_word_len") <= 8, 0.3).otherwise(0.0)))
      .withColumn("fingerprint", md5(lower(col("text"))))
      .select("doc_id", "lang", "source", "char_count", "word_count",
        "stopword_count", "avg_word_len", "stopword_ratio", "token_est",
        "quality_score", "fingerprint")

  def textStatsOracle: String = {
    val stop = inList(StopwordsEn)
    s"""WITH d AS (
      SELECT doc_id, lang, source, text, string_split(text, ' ') AS words,
        CAST(length(text) AS BIGINT) AS char_count,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS word_count,
        CAST(length(replace(text, ' ', '')) AS BIGINT) AS nonspace_count,
        CAST(len(list_filter(string_split(text, ' '), w -> w IN $stop)) AS BIGINT) AS stopword_count
      FROM documents)
    SELECT doc_id, lang, source, char_count, word_count, stopword_count,
      nonspace_count * 1.0 / word_count AS avg_word_len,
      stopword_count * 1.0 / word_count AS stopword_ratio,
      CAST(ceil(char_count / 4.0) AS BIGINT) AS token_est,
      (least(word_count * 1.0 / 100.0, 1.0) * 0.4
        + least((stopword_count * 1.0 / word_count) * 4.0, 1.0) * 0.3
        + CASE WHEN nonspace_count * 1.0 / word_count >= 3
                AND nonspace_count * 1.0 / word_count <= 8 THEN 0.3 ELSE 0.0 END)
        AS quality_score,
      md5(lower(text)) AS fingerprint
    FROM d"""
  }

  /** Chunking geometry: 200-char chunks advancing 150 chars → 50-char
    * overlap between consecutive chunks (the context-preserving split every
    * training pipeline runs before tokenization). */
  val ChunkSize = 200
  val ChunkStride = 150

  /** Fixed-size overlapping document chunks: one output row per chunk with
    * its exact md5, so the oracle compare proves every chunk boundary and
    * every chunk byte cross-engine.
    *
    * `n_chunks = ceil((len - size) / stride) + 1` (min 1) — the last chunk
    * may run short; every char belongs to ≥1 chunk and consecutive chunks
    * share `size - stride` chars. The explode is map-side over the scan
    * (no shuffle except the presentation sort): at 100 TB this is the
    * embarrassingly-parallel shape — chunk fan-out is bounded by
    * `len/stride`, proportional to bytes already being read, and column
    * pruning keeps the scan at `doc_id, text`. */
  def chunk(spark: SparkSession, dir: String,
      size: Int = ChunkSize, stride: Int = ChunkStride): DataFrame =
    chunkDocs(documents(spark, dir), size, stride)

  /** Chunking over any DataFrame with (doc_id, text) — factored so tests
    * drive it with constructed documents. */
  def chunkDocs(docs: DataFrame,
      size: Int = ChunkSize, stride: Int = ChunkStride): DataFrame =
    docs
      .withColumn("n_chunks",
        greatest(expr(s"cast(ceil((length(text) - $size) / $stride.0) as int)"),
          lit(0)) + 1)
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0, n_chunks - 1)")).as("chunk_idx"))
      .withColumn("chunk",
        expr(s"substring(text, 1 + chunk_idx * $stride, $size)"))
      .select(col("doc_id"), col("chunk_idx").cast("bigint").as("chunk_idx"),
        length(col("chunk")).cast("bigint").as("chunk_len"),
        md5(col("chunk")).as("chunk_md5"))

  def chunkOracle(size: Int = ChunkSize, stride: Int = ChunkStride): String =
    s"""WITH d AS (
      SELECT doc_id, text,
        greatest(CAST(ceil((length(text) - $size) / $stride.0) AS INTEGER), 0) + 1
          AS n_chunks
      FROM documents),
    c AS (
      SELECT doc_id, text,
        unnest(range(0, n_chunks)) AS chunk_idx
      FROM d)
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      CAST(length(substr(text, CAST(1 + chunk_idx * $stride AS INTEGER), $size)) AS BIGINT)
        AS chunk_len,
      md5(substr(text, CAST(1 + chunk_idx * $stride AS INTEGER), $size)) AS chunk_md5
    FROM c"""

  /** Training-sequence length for [[pack]]. */
  val PackSeqLen = 2048

  /** Contiguous sequence packing (the GPT-style concat-and-split): within
    * each language stratum, documents are laid end to end in doc_id order
    * and cut into [[PackSeqLen]]-token sequences; a document belongs to
    * the sequence holding its first token. Emits the per-sequence audit
    * (docs, tokens, fill) a packing job publishes before training.
    *
    * Shape: one distributed running sum per stratum ([[RangeRank.cumSum]]
    * — range exchange + broadcast offsets, bit-identical to the
    * per-stratum window form) + one hash aggregate — integer arithmetic
    * throughout (token estimate = ceil(n_chars/4), the [[textStats]]
    * budget column), deterministic total order (doc_id). Scale: a
    * `PARTITION BY lang` window would put each stratum in ONE task
    * (most of the corpus for a dominant language); the range-staged
    * cumulative sum keeps parallelism at the partition count while the
    * sequence boundaries stay exactly the declared per-stratum running
    * order. */
  def pack(spark: SparkSession, dir: String, seqLen: Int = PackSeqLen): DataFrame = {
    val docs = documents(spark, dir)
      .withColumn("tok", ceil(col("n_chars") / lit(4.0)).cast("bigint"))
    RangeRank.cumSum(docs, Seq("lang"), Seq(col("doc_id")), "tok", "cum")
      .withColumn("seq_id", expr(s"(cum - tok) div $seqLen"))
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
      .select(col("lang"), col("seq_id"), col("n_docs"),
        col("n_tokens").cast("bigint").as("n_tokens"))
  }

  def packOracle(seqLen: Int = PackSeqLen): String =
    s"""WITH d AS (
      SELECT lang, doc_id, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tok
      FROM documents),
    c AS (
      SELECT lang, doc_id, tok,
        sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM d)
    SELECT lang, CAST((cum - tok) // $seqLen AS BIGINT) AS seq_id,
      count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens
    FROM c GROUP BY 1, 2"""

  /** Gopher-style repetition signals per document — the quality filters
    * that catch templated/looping text which length and stopword ratios
    * miss (Rae et al., "Scaling Language Models: ... Gopher", 2021, §A1.1):
    *
    *  - `dup_word_frac`: fraction of word occurrences that are repeats of
    *    an earlier word (1 - distinct/total);
    *  - `top_bigram_frac`: share of bigram occurrences taken by the single
    *    most frequent bigram;
    *  - `dup_trigram_frac`: fraction of trigram occurrences that are
    *    repeats.
    *
    * Shape: per-row gram-list construction (map-side), explode, one hash
    * aggregate per gram order keyed on (doc_id, gram), rollup to one row
    * per doc — a word-count over doc-local keys, linear and partial-agg
    * friendly at any corpus size. All ratios are exact rationals of
    * integer counts, so both engines produce bit-identical doubles. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionFrom(documents(spark, dir))

  /** Repetition signals over any DataFrame with (doc_id, text). */
  def repetitionFrom(docs: DataFrame): DataFrame = {
    val d = docs
      .withColumn("words", split(col("text"), " "))
      .withColumn("bigrams", expr(
        """IF(size(words) < 2, array(),
             transform(sequence(1, size(words) - 1),
               i -> concat(element_at(words, i), ' ', element_at(words, i + 1))))"""))
      .withColumn("trigrams", expr(
        """IF(size(words) < 3, array(),
             transform(sequence(1, size(words) - 2),
               i -> concat(element_at(words, i), ' ', element_at(words, i + 1),
                           ' ', element_at(words, i + 2))))"""))
    val uni = d.select(col("doc_id"), explode(col("words")).as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), countDistinct(col("w")).as("n_distinct_words"))
    val bi = d.select(col("doc_id"), explode(col("bigrams")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_bigrams"), max(col("cnt")).as("top_bigram_count"))
    val tri = d.select(col("doc_id"), explode(col("trigrams")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_trigrams"), count(lit(1)).as("n_distinct_trigrams"))
    uni.join(bi, Seq("doc_id"), "left").join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_words").cast("bigint").as("n_words"),
        ((col("n_words") - col("n_distinct_words")) * 1.0 /
          col("n_words")).as("dup_word_frac"),
        (col("top_bigram_count") * 1.0 /
          nullif(col("n_bigrams"), lit(0))).as("top_bigram_frac"),
        ((col("n_trigrams") - col("n_distinct_trigrams")) * 1.0 /
          nullif(col("n_trigrams"), lit(0))).as("dup_trigram_frac"))
  }

  def repetitionOracle: String =
    s"""WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    uni AS (
      SELECT doc_id, count(*) AS n_words, count(DISTINCT w) AS n_distinct_words
      FROM (SELECT doc_id, unnest(words) AS w FROM d) GROUP BY 1),
    bi_cnt AS (
      SELECT doc_id, g, count(*) AS cnt
      FROM (SELECT doc_id, unnest(list_transform(range(1, len(words)),
              i -> words[i] || ' ' || words[i + 1])) AS g FROM d)
      GROUP BY 1, 2),
    bi AS (
      SELECT doc_id, sum(cnt) AS n_bigrams, max(cnt) AS top_bigram_count
      FROM bi_cnt GROUP BY 1),
    tri_cnt AS (
      SELECT doc_id, g, count(*) AS cnt
      FROM (SELECT doc_id, unnest(list_transform(range(1, len(words) - 1),
              i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS g FROM d)
      GROUP BY 1, 2),
    tri AS (
      SELECT doc_id, sum(cnt) AS n_trigrams, count(*) AS n_distinct_trigrams
      FROM tri_cnt GROUP BY 1)
    SELECT uni.doc_id, CAST(n_words AS BIGINT) AS n_words,
      (n_words - n_distinct_words) * 1.0 / n_words AS dup_word_frac,
      top_bigram_count * 1.0 / nullif(n_bigrams, 0) AS top_bigram_frac,
      (n_trigrams - n_distinct_trigrams) * 1.0 / nullif(n_trigrams, 0)
        AS dup_trigram_frac
    FROM uni LEFT JOIN bi USING (doc_id) LEFT JOIN tri USING (doc_id)"""

  /** Function-word-profile language ID: score = hits per language profile,
    * argmax with deterministic (score, lang) tie-break. The profiles are a
    * demo inventory — the corpus is synthetic — but the operator shape
    * (N profile scores + argmax, one pass, no shuffle) is the real one. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val scored = LangProfiles.foldLeft(
      documents(spark, dir).withColumn("words", split(col("text"), " "))) {
      case (df, (lang, words)) =>
        df.withColumn(s"score_$lang",
          expr(s"size(filter(words, w -> w in ${inList(words)}))").cast("bigint"))
    }
    val best = LangProfiles.map { case (l, _) =>
      struct(col(s"score_$l").as("score"), lit(l).as("lang"))
    }
    scored.select(
      col("doc_id"), col("lang").as("labeled_lang"),
      greatest(best: _*).getField("lang").as("predicted_lang"),
      greatest(best: _*).getField("score").as("best_score"))
  }

  def langIdOracle: String = {
    val scores = LangProfiles.map { case (l, ws) =>
      s"CAST(len(list_filter(words, w -> w IN ${inList(ws)})) AS BIGINT) AS score_$l"
    }.mkString(",\n        ")
    val padded = LangProfiles.map { case (l, _) =>
      s"lpad(CAST(score_$l AS VARCHAR), 10, '0') || '|' || '$l'"
    }.mkString(", ")
    s"""WITH d AS (
      SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
    s AS (
      SELECT doc_id, lang,
        $scores
      FROM d)
    SELECT doc_id, lang AS labeled_lang,
      split_part(greatest($padded), '|', 2) AS predicted_lang,
      CAST(split_part(greatest($padded), '|', 1) AS BIGINT) AS best_score
    FROM s"""
  }

  /** Per-document top-[[TfidfTopK]] terms by TF-IDF — the keyword/feature
    * extraction pass behind sparse retrieval and topic drift monitoring
    * ([[vocabulary]] is the corpus-global view; this is the per-doc one).
    *
    * The score is the LOG-FREE tf-idf variant
    * `tf · (N + 1) / (df + 1)`: same ordering semantics (monotone up in
    * tf, down in df), but built only from integer counts and one IEEE
    * division, which is correctly rounded identically in both engines —
    * `ln`/`log` are NOT ulp-stable across libm implementations, and a
    * 1-ulp score difference flips a top-k rank. Same cross-engine
    * determinism rule as [[docsLengthHistogram]]'s log-free decades and
    * [[mixture]]'s sqrt-only temperature.
    *
    * Shape: explode → per-(doc,term) count (one composite-key shuffle) →
    * term doc-frequency (token-key shuffle, map-side partials) → df joined
    * back on the term (the df side is vocabulary-sized, not corpus-sized;
    * AQE splits the stopword hot keys) → per-doc top-k window (partition
    * = doc_id, bounded by the doc's distinct-term count). N rides along as
    * a broadcast 1-row aggregate, never a driver round-trip. Ties rank by
    * token for cross-engine determinism. */
  val TfidfTopK = 5

  def tfidfTopK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(spark, dir)
    val tokens = explodeComputed(docs, split(col("text"), " "), "token")
      .select("doc_id", "token")
      .filter(length(col("token")) > 0)
    val tf = tokens.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") * (col("n_docs") + lit(1.0)) / (col("df") + lit(1)))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("token"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfTopK)
      .select("doc_id", "rank", "token", "tf", "df", "score")
  }

  /** Next-token candidates kept per context word. */
  val BigramTopK = 3

  /** Greedy-decode length for [[lmGreedyDecode]]. */
  val LmDecodeSteps = 10

  /** Serving the trained LM: greedy decoding from the [[bigramLm]]
    * next-token table — seed with the corpus's most frequent token,
    * then repeatedly take the argmax successor for [[LmDecodeSteps]]
    * steps. Deterministic end-to-end (argmax ties break by token, the
    * seed ties by token), so the generated sequence itself is
    * oracle-checked — training AND inference both live in the engine.
    * Greedy bigram chains typically fall into the corpus's dominant
    * 2-cycle after a few steps; that loop is the correct output of this
    * decoder, not a defect (temperature sampling would need the
    * engine-banned transcendentals).
    *
    * Shape: greedy decoding is inherently sequential, but its only input
    * is the argmax-successor table — vocabulary-sized, one row per
    * context word. Below [[LmDriverTableRows]] that table is collected
    * once and the chain is walked through a driver `Map`: the decode
    * steps run no job, and the job count does not depend on `steps`.
    * Above it, the table is pinned and each step is one 1-row lookup
    * against it (the BPE loop's pattern; production decoders serve the
    * same table from a key-value store). The two paths are exact twins:
    * a lookup either finds the word's unique `next_rank = 1` row or
    * finds none, and a word with no successor ends the chain either way.
    */
  def lmGreedyDecode(spark: SparkSession, dir: String,
      steps: Int = LmDecodeSteps): DataFrame =
    lmGreedyDecodeGated(spark, dir, steps, LmDriverTableRows)

  /** Row bound on the collected argmax-successor table. */
  val LmDriverTableRows: Int = graft.model.Bounded.DriverRows

  /** [[lmGreedyDecode]] with an explicit successor-table gate; `gate = 0`
    * forces the per-step lookup loop. */
  private[graft] def lmGreedyDecodeGated(spark: SparkSession, dir: String,
      steps: Int, gate: Long): DataFrame = graft.model.Stage.scoped {
    import spark.implicits._
    val argmax = bigramLm(spark, dir).filter(col("next_rank") === 1)
      .select(col("w1"), col("w2")).as[(String, String)]
    // the successor of a word: a Map probe when the table fits under the
    // gate (one bounded collect, no job per step), else a 1-row lookup
    // job against the pinned table — the same unique row or none either
    // way, so both paths emit the same chain
    val next: String => Option[String] =
      graft.model.Bounded.collect(argmax, gate) match {
        case Some(table) => table.toMap.get
        case None =>
          val nxt = graft.model.Stage.pin(argmax.toDF())
          w => nxt.filter(col("w1") === w).select(col("w2"))
            .as[String].collect().headOption
      }
    val seed = documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(1)
      .select(col("w")).as[String].head()
    val path = scala.collection.mutable.ArrayBuffer((0, seed))
    var halted = false
    while (path.length <= steps && !halted) next(path.last._2) match {
      case Some(w) => path += ((path.length, w))
      case None => halted = true
    }
    spark.createDataset(path.toSeq).toDF("step", "word")
  }

  def lmGreedyDecodeOracle(steps: Int = LmDecodeSteps): String = {
    val chain = (1 to steps).map { i =>
      s"""s$i AS (
      SELECT $i AS step, n.w2 AS word
      FROM s${i - 1} s JOIN nxt n ON n.w1 = s.word)"""
    }.mkString(",\n    ")
    val sel = (0 to steps).map(i => s"SELECT step, word FROM s$i")
      .mkString("\n    UNION ALL ")
    s"""WITH d AS (
      SELECT string_split(text, ' ') AS words FROM documents),
    bg AS (
      SELECT unnest(list_transform(range(1, len(words)),
        i -> [words[i], words[i + 1]])) AS p
      FROM d WHERE len(words) >= 2),
    c AS (
      SELECT p[1] AS w1, p[2] AS w2, count(*) AS bigram_count
      FROM bg GROUP BY 1, 2),
    nxt AS (
      SELECT w1, w2 FROM (
        SELECT w1, w2, row_number() OVER (PARTITION BY w1
          ORDER BY bigram_count DESC, w2) AS rn
        FROM c) WHERE rn = 1),
    uni AS (
      SELECT unnest(words) AS w FROM d),
    s0 AS (
      SELECT 0 AS step, w AS word FROM (
        SELECT w, count(*) AS cnt FROM uni WHERE length(w) > 0 GROUP BY 1
        ORDER BY cnt DESC, w LIMIT 1)),
    $chain
    SELECT CAST(step AS INTEGER) AS step, word FROM (
      $sel)"""
  }

  /** Collocation cutoffs for [[collocations]]: pairs below [[CollocMinPair]]
    * occurrences are noise (a single shared rare pair produces a huge
    * lift); [[CollocTopK]] rows reported. */
  val CollocMinPair = 5
  val CollocTopK = 20

  /** Top collocations (phrase candidates) by LOG-FREE lift:
    * `n_tokens · c(w1,w2) / (c(w1) · c(w2))` — pointwise mutual
    * information's argument without the log (same ordering, no `ln`;
    * the [[docsTfidfTopK]] ulp-stability rule). Collocation mining is
    * the phrase-vocabulary step of tokenizer/n-gram pipelines (Mikolov
    * et al.'s word2vec phrases use exactly this count ratio with a
    * discount — here the discount is the [[CollocMinPair]] floor).
    *
    * Shape: one pair-count shuffle + one unigram-count shuffle, unigram
    * table joined back twice BROADCAST (vocabulary-sized, not
    * corpus-sized); the top-k is a single 20-row ordered limit over the
    * pairs that survive the floor. Lift is one division of exact
    * integer products — cross-engine bit-identical, so the rank order
    * is too. */
  def collocations(spark: SparkSession, dir: String,
      minPair: Int = CollocMinPair, topK: Int = CollocTopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documents(spark, dir)
      .withColumn("words", split(col("text"), " "))
    val uni = toks.select(explode(col("words")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val nTotal = toks.select(explode(col("words")).as("w"))
      .agg(count(lit(1)).as("n_tokens"))
    val pairs = toks.filter(size(col("words")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(words) - 1),
             i -> struct(element_at(words, i) AS w1,
                         element_at(words, i + 1) AS w2))""")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minPair)
    pairs
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), Seq("w2"))
      .crossJoin(broadcast(nTotal))
      .withColumn("lift",
        col("n_tokens") * col("pair_count") * lit(1.0) /
          (col("c1") * col("c2")))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("lift").desc, col("w1"), col("w2"))))
      .filter(col("rank") <= topK)
      .select("rank", "w1", "w2", "pair_count", "c1", "c2", "lift")
  }

  def collocationsOracle(minPair: Int = CollocMinPair,
      topK: Int = CollocTopK): String =
    s"""WITH d AS (
      SELECT string_split(text, ' ') AS words FROM documents),
    uni AS (
      SELECT unnest(words) AS w FROM d),
    uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
    nt AS (SELECT count(*) AS n_tokens FROM uni),
    bg AS (
      SELECT unnest(list_transform(range(1, len(words)),
        i -> [words[i], words[i + 1]])) AS p
      FROM d WHERE len(words) >= 2),
    pc AS (
      SELECT p[1] AS w1, p[2] AS w2, count(*) AS pair_count
      FROM bg GROUP BY 1, 2 HAVING count(*) >= $minPair),
    scored AS (
      SELECT pc.w1, pc.w2, pc.pair_count, u1.c AS c1, u2.c AS c2,
        nt.n_tokens * pc.pair_count * 1.0 / (u1.c * u2.c) AS lift
      FROM pc JOIN uc u1 ON u1.w = pc.w1 JOIN uc u2 ON u2.w = pc.w2
      CROSS JOIN nt)
    SELECT CAST(rank AS INTEGER) AS rank, w1, w2, pair_count, c1, c2, lift
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY lift DESC, w1, w2) AS rank
      FROM scored) WHERE rank <= $topK"""

  /** Bigram language-model table: adjacent-token pair counts with the
    * MLE conditional `count(w1 w2) / count(w1 ·)`, top-[[BigramTopK]]
    * continuations per context — the classic count-based next-token
    * baseline (and the smoke test a tokenizer/corpus pipeline runs to
    * see distributional drift between corpus versions). Probabilities
    * are exact integer rationals through one correctly-rounded division,
    * so both engines agree bit-for-bit — no smoothing constant to
    * desync.
    *
    * Shape: the pair explode is map-side off the scan; one (w1, w2)
    * shuffle with map-side partials; the per-context total and top-k
    * ride ONE window partitioning on w1 (vocabulary-keyed, not
    * corpus-keyed — the hot stopword contexts are bounded by distinct
    * continuations, and AQE splits any residual skew). */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = documents(spark, dir)
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(words) - 1),
             i -> struct(element_at(words, i) AS w1,
                         element_at(words, i + 1) AS w2))""")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val counts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("bigram_count"))
    val byW1 = Window.partitionBy("w1")
    counts
      .withColumn("w1_count", sum(col("bigram_count")).over(byW1))
      .withColumn("next_rank", row_number().over(
        byW1.orderBy(col("bigram_count").desc, col("w2"))))
      .filter(col("next_rank") <= BigramTopK)
      .withColumn("cond_prob",
        col("bigram_count") * lit(1.0) / col("w1_count"))
      .select("w1", "next_rank", "w2", "bigram_count", "w1_count",
        "cond_prob")
  }

  def bigramLmOracle: String =
    s"""WITH d AS (
      SELECT string_split(text, ' ') AS words FROM documents),
    bg AS (
      SELECT unnest(list_transform(range(1, len(words)),
        i -> [words[i], words[i + 1]])) AS p
      FROM d WHERE len(words) >= 2),
    c AS (
      SELECT p[1] AS w1, p[2] AS w2, count(*) AS bigram_count
      FROM bg GROUP BY 1, 2),
    r AS (
      SELECT *,
        sum(bigram_count) OVER (PARTITION BY w1) AS w1_count,
        row_number() OVER (PARTITION BY w1
          ORDER BY bigram_count DESC, w2) AS next_rank
      FROM c)
    SELECT w1, next_rank, w2, bigram_count, w1_count,
      bigram_count * 1.0 / w1_count AS cond_prob
    FROM r WHERE next_rank <= $BigramTopK"""

  /** Rarity threshold for [[lmSurprisal]]: a bigram is "rare" when its
    * MLE conditional is below 1/[[LmRareDenom]] — compared by integer
    * cross-multiplication, never by a float threshold. */
  val LmRareDenom = 1000

  /** Per-document scoring under the corpus-trained bigram LM — the
    * count-based form of the LM quality filter (CCNet-style: train a LM
    * on a corpus, rank documents by how surprising the LM finds them,
    * drop the tail). Perplexity needs logs, and logs desync engines in
    * the last ulp; the log-free equivalents carried here rank the same
    * tail: `n_rare` (bigrams whose conditional is < 1/[[LmRareDenom]],
    * counted via integer cross-multiplication), `rare_frac` (one exact
    * division), and `min_cond_prob` (per-pair division of identical
    * integer operands — correctly rounded identically in both engines,
    * min is order-free). Docs with < 2 words have no bigrams and no row.
    *
    * Shape: occurrence explode is map-side; the (w1,w2) count and w1
    * totals are the [[bigramLm]] aggregations; scoring joins occurrences
    * back on (w1,w2) — occurrence-linear, never pairwise — then ONE
    * doc-keyed aggregate. Stopword-pair heat is a hot JOIN key (AQE
    * splits it), not a fan-out. */
  def lmSurprisal(spark: SparkSession, dir: String): DataFrame = {
    // explodeComputed: the inferred size-filter would double-evaluate
    // the bigram-struct transform at the scan (see the helper's doc)
    val occ = explodeComputed(
      documents(spark, dir)
        .withColumn("words", split(col("text"), " "))
        .filter(size(col("words")) >= 2),
      expr("""transform(sequence(1, size(words) - 1),
             i -> struct(element_at(words, i) AS w1,
                         element_at(words, i + 1) AS w2))"""), "bg")
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val counts = occ.groupBy("w1", "w2")
      .agg(count(lit(1)).as("bigram_count"))
    val totals = counts.groupBy("w1")
      .agg(sum(col("bigram_count")).as("w1_count"))
    occ.join(counts, Seq("w1", "w2")).join(totals, Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("bigram_count") * LmRareDenom < col("w1_count"), 1L)
          .otherwise(0L)).as("n_rare"),
        min(col("bigram_count") * lit(1.0) / col("w1_count"))
          .as("min_cond_prob"))
      .withColumn("rare_frac",
        col("n_rare") * lit(1.0) / col("n_bigrams"))
      .select("doc_id", "n_bigrams", "n_rare", "rare_frac",
        "min_cond_prob")
  }

  def lmSurprisalOracle: String =
    s"""WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    occ0 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(words)),
        i -> [words[i], words[i + 1]])) AS p
      FROM d WHERE len(words) >= 2),
    occ AS (SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM occ0),
    c AS (SELECT w1, w2, count(*) AS bigram_count FROM occ GROUP BY 1, 2),
    t AS (SELECT w1, sum(bigram_count) AS w1_count FROM c GROUP BY 1)
    SELECT doc_id, count(*) AS n_bigrams,
      sum(CASE WHEN bigram_count * $LmRareDenom < w1_count
        THEN 1 ELSE 0 END) AS n_rare,
      sum(CASE WHEN bigram_count * $LmRareDenom < w1_count
        THEN 1 ELSE 0 END) * 1.0 / count(*) AS rare_frac,
      min(bigram_count * 1.0 / w1_count) AS min_cond_prob
    FROM occ JOIN c USING (w1, w2) JOIN t USING (w1)
    GROUP BY 1"""

  def tfidfTopKOracle: String =
    s"""WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, token, count(*) AS tf
      FROM tokens WHERE length(token) > 0
      GROUP BY 1, 2),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
        tf.tf * (n.n_docs + 1.0) / (df.df + 1) AS score
      FROM tf JOIN df USING (token), n),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
        ORDER BY score DESC, token) AS rank
      FROM scored)
    SELECT doc_id, rank, token, tf, df, score
    FROM ranked WHERE rank <= $TfidfTopK"""
}
