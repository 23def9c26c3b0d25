package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training — the greedy byte-pair-merge loop
  * (Sennrich/Haddow/Birch, "Neural Machine Translation of Rare Words with
  * Subword Units", ACL 2016) that produces a subword vocabulary from the
  * corpus. This is the training-side capability the rest of the tokenizer
  * stack consumes: `token_counts` applies a BPE-ish segmentation,
  * `vocab_top_terms` builds the seed frequency table; this learns the
  * merge table itself.
  *
  * Algorithm shape (faithful to the reference implementation): training
  * operates on the word-frequency DICTIONARY, not the raw corpus — one
  * corpus-wide aggregation builds `(word, freq)`, and every merge
  * iteration then works on that dimension-bounded table. Each iteration:
  * count adjacent symbol pairs weighted by word frequency, take the
  * highest-scoring pair (ties broken lexicographically so both engines
  * agree), and fuse every occurrence in the symbol sequences.
  *
  * Determinism across engines:
  *  - scores are integer frequency sums — order-free exact;
  *  - argmax tie-breaks on (score DESC, a, b) — a total order;
  *  - merges apply through literal `replace` on space-delimited symbol
  *    strings; both engines share the left-to-right non-overlapping scan
  *    rule, and the double application catches the alternating-occurrence
  *    chain (`a b a b`) whose first pass consumes the shared delimiter.
  *  - the dictionary is capped to the top `VocabCap` ASCII words
  *    (`^[a-z]+$`), ranked (freq DESC, word) — the cap bounds the oracle
  *    and sidesteps unicode char-split divergence between engines.
  *
  * Scale: the only corpus-sized work is the word-count aggregate (the
  * canonical word-count shuffle); it is localCheckpoint'ed once so the
  * NumMerges iterations — each a tiny explode/agg over ≤ VocabCap rows —
  * never re-scan the corpus. The per-iteration argmax is collected to the
  * driver because it PARAMETERIZES the next iteration's expressions (the
  * merge loop is inherently sequential — same scalar-control precedent as
  * dedupClusters' convergence test and MLlib's iterative trainers); each
  * collect moves exactly one row.
  */
object Bpe {

  /** Pinned merge count for the driver rows. 8 was demo-sized; 32 shows
    * the loop holds at a real (if small) vocabulary scale — per-iteration
    * cost is dictionary-bounded (≤ [[VocabCap]] rows), so the merge count
    * dials training depth without ever touching the corpus again. Every
    * entry point also takes `numMerges` explicitly, with the oracle's CTE
    * chain unrolled programmatically to the same depth. */
  val NumMerges = 32
  val VocabCap = 300

  /** Training memo: the merge loop is deterministic given (corpus,
    * numMerges), and three driver rows (merges / segment / subword_freq)
    * consume the same training run — memoizing the ~32 tiny sequential
    * jobs keeps them from re-training per query. Keyed by the SESSION
    * OBJECT (a recycled session never serves another session's
    * localCheckpoint'd dictionary, with no identity-hash collisions) and
    * the documents table's CONTENT FINGERPRINT
    * ([[graft.model.BuildCache.fingerprint]]) — if the corpus at `dir`
    * changes mid-session, the stale dictionary is never served. */
  private val trainCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int), (Seq[(Int, String, String, String, Long)], DataFrame)]

  /** Drop every memoized dictionary (tests; executor loss invalidating a
    * localCheckpoint; mirrors [[IvfIndex.clearCache]]). */
  def clearCache(): Unit = trainCache.clear()

  /** The capped word-frequency dictionary with initial symbol sequences:
    * one space-delimited character per symbol plus the `</w>` end-of-word
    * marker, space-padded so every symbol occurrence — first, inner,
    * last — matches the same ` a b ` pattern. */
  private def dict0(spark: SparkSession, dir: String): DataFrame =
    TextOps.explodeComputed(
      TextOps.documents(spark, dir), split(col("text"), " "), "word")
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(VocabCap)
      .withColumn("seq",
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 "),
          lit("</w> ")))

  /** Run the greedy merge loop: returns the learned merge list and the
    * dictionary with fully-merged symbol sequences. */
  private def trainLoop(spark: SparkSession, dir: String,
      numMerges: Int): (Seq[(Int, String, String, String, Long)], DataFrame) =
    trainCache.getOrElseUpdate(
      (spark,
        graft.model.BuildCache.fingerprint(spark, dir, "documents.parquet"),
        numMerges),
      // the memoized dictionary is a driver-local LocalRelation built
      // from the loop's collected vocabulary — no pinned blocks to own
      trainLoopUncached(spark, dir, numMerges))

  /** DRIVER-SIDE LOOP, BOUNDED BY [[VocabCap]]: greedy BPE is inherently
    * sequential — merge i+1's pair statistics depend on merge i having
    * been applied — and its working set is the CAPPED word-frequency
    * dictionary (≤ [[VocabCap]] rows by construction, REGARDLESS of
    * corpus size). The corpus-sized work is exactly one Spark job (the
    * dict0 word-count aggregate + top-VocabCap); the dictionary is then
    * collected (≤ VocabCap short rows — the bounded-collect class of the
    * k-means centroid localization) and the merge loop runs on the
    * driver. This replaces the former 2·numMerges driver-SYNCHRONIZED
    * tiny Spark jobs (64 at the default — pure scheduler latency, ~3 s
    * of the row's 3.4 s at sf0.1, unchanged at any corpus scale since
    * the per-job input was already dictionary-bounded).
    *
    * Bit-equivalence with the former Spark loop (pinned by the DuckDB
    * oracles and BpeSpec): pair scores are exact Long sums; the argmax
    * tie-break (score DESC, a, b) compares ASCII-only symbols, where
    * Java's UTF-16 ordering equals Spark's UTF8 binary ordering; the
    * merge application is the same literal, left-to-right,
    * non-overlapping double `replace`; `split(" ", -1)` mirrors Spark's
    * keep-empty split semantics (no empties occur — sequences stay
    * single-spaced). */
  private def trainLoopUncached(spark: SparkSession, dir: String,
      numMerges: Int): (Seq[(Int, String, String, String, Long)], DataFrame) = {
    import spark.implicits._
    var vocab = dict0(spark, dir).select("word", "freq", "seq")
      .as[(String, Long, String)].collect()
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    for (i <- 1 to numMerges) {
      val scores = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (_, freq, seq) =>
        val syms = seq.trim.split(" ", -1)
        var j = 0
        while (j < syms.length - 1) {
          val k = (syms(j), syms(j + 1))
          scores.update(k, scores.getOrElse(k, 0L) + freq)
          j += 1
        }
      }
      var best: ((String, String), Long) = null
      scores.foreach { case (p, s) =>
        if (best == null || s > best._2 ||
            (s == best._2 && (p._1 < best._1._1 ||
              (p._1 == best._1._1 && p._2 < best._1._2)))) best = (p, s)
      }
      val ((a, b), score) = best
      val m = a + b
      out += ((i, a, b, m, score))
      vocab = vocab.map { case (w, f, s) =>
        (w, f, s.replace(s" $a $b ", s" $m ").replace(s" $a $b ", s" $m "))
      }
    }
    (out.result(),
      spark.createDataset(vocab.toSeq).toDF("word", "freq", "seq"))
  }

  /** The learned merge table: `NumMerges` rows of
    * (rank, pair_a, pair_b, merged, score). */
  def merges(spark: SparkSession, dir: String,
      numMerges: Int = NumMerges): DataFrame = {
    import spark.implicits._
    spark.createDataset(trainLoop(spark, dir, numMerges)._1)
      .toDF("rank", "pair_a", "pair_b", "merged", "score")
  }

  /** The serving side: every dictionary word segmented by the learned
    * merge table — the apply pass a tokenizer runs over the corpus. The
    * segmentation is the training loop's final symbol state, so train and
    * apply cannot drift; at corpus scale the same replace chain is a
    * map-only pass over the token stream with the merge table broadcast
    * (here it is baked into the expressions — `numMerges` merges =
    * 2·numMerges nested literal replaces, one codegen'd projection). */
  def segment(spark: SparkSession, dir: String,
      numMerges: Int = NumMerges): DataFrame =
    trainLoop(spark, dir, numMerges)._2
      .select(col("word"), col("freq"), trim(col("seq")).as("segmented"),
        size(split(trim(col("seq")), " ")).as("n_subwords"))

  /** The same loop in DuckDB SQL: the data-dependent iteration unrolls to
    * `NumMerges` chained (pairs → argmax → apply) CTE stages — the same
    * programmatic-CTE technique as the k-means training oracles. */
  def mergesOracle(numMerges: Int = NumMerges): String = {
    // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs at each
    // reference, and v$i is referenced twice by level i+1 — the unrolled
    // chain would otherwise expand 2^numMerges scans of the corpus (the
    // 32-merge oracle exhausted file handles before it exhausted time).
    // Materializing pins each tiny (≤ VocabCap rows) stage to one
    // evaluation, making the oracle linear in numMerges like the Spark
    // loop it mirrors.
    def stage(i: Int): String =
      s"""p$i AS MATERIALIZED (
      SELECT s.syms[t.i] AS a, s.syms[t.i + 1] AS b, sum(s.freq) AS score
      FROM (SELECT freq, string_split(trim(seq), ' ') AS syms FROM v${i - 1}) s,
           UNNEST(generate_series(1, len(s.syms) - 1)) AS t(i)
      GROUP BY 1, 2),
    m$i AS MATERIALIZED (
      SELECT $i AS rank, a, b, a || b AS merged, score
      FROM p$i ORDER BY score DESC, a, b LIMIT 1),
    v$i AS MATERIALIZED (
      SELECT word, freq,
        replace(replace(seq, ' ' || m.a || ' ' || m.b || ' ',
                        ' ' || m.merged || ' '),
                ' ' || m.a || ' ' || m.b || ' ',
                ' ' || m.merged || ' ') AS seq
      FROM v${i - 1}, m$i m)"""
    s"""WITH words AS MATERIALIZED (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    dict AS (
      SELECT word, count(*) AS freq FROM words
      WHERE regexp_full_match(word, '[a-z]+')
      GROUP BY 1 ORDER BY freq DESC, word LIMIT $VocabCap),
    v0 AS MATERIALIZED (
      SELECT word, freq,
        ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') || '</w> ' AS seq
      FROM dict),
    ${(1 to numMerges).map(stage).mkString(",\n    ")}
    SELECT rank, a AS pair_a, b AS pair_b, merged, score
    FROM (${(1 to numMerges).map(i => s"SELECT * FROM m$i")
        .mkString(" UNION ALL ")})"""
  }

  /** Oracle for [[segment]]: the same unrolled chain, selecting the final
    * symbol state instead of the merge list. */
  def segmentOracle(numMerges: Int = NumMerges): String = {
    val merges = mergesOracle(numMerges)
    val prefix = merges.substring(0, merges.lastIndexOf("SELECT rank"))
    s"""$prefix
    SELECT word, freq, trim(seq) AS segmented,
      len(string_split(trim(seq), ' ')) AS n_subwords
    FROM v$numMerges"""
  }

  /** The tokenizer at corpus scale: apply the learned merge table to the
    * FULL token stream (not just the dictionary) and count subword
    * occurrences — the subword frequency table a trained tokenizer
    * produces over its corpus (embedding-table sizing, UNK auditing,
    * distribution drift). The learned merges bake into ONE native
    * codegen'd [[graft.functions.BpeSplit]] projection, and the stream
    * aggregates to (word, count) FIRST so each distinct word segments
    * once, its subwords weighted by the count — count-then-segment, the
    * shape that holds at 10^13 tokens / 10^7 distinct words.
    * Out-of-dictionary words still segment with the same merges,
    * exactly like a served tokenizer. */
  def subwordFreq(spark: SparkSession, dir: String,
      numMerges: Int = NumMerges): DataFrame = {
    val ms = trainLoop(spark, dir, numMerges)._1
    // the native bpe_split expression IS the nested-replace chain (the
    // equivalence is property-pinned in OpsSpec); the SQL form ran the
    // regex engine per character and reallocated the padded string 64
    // times per token — the whole cost of this row at the 100x probe
    val enc = ms.map { case (_, a, b, m, _) => s"$a $b $m" }.mkString(";")
    require(enc.matches("[a-z</>; ]*"),
      s"merge symbols must stay SQL-literal-safe: $enc")
    // segmentation is a pure function of the WORD: aggregate the token
    // stream to (word, count) first — map-side partials collapse the
    // duplicate-heavy stream before the shuffle — and segment each
    // distinct word once, weighting its subwords by the count. At the
    // 100× probe this turns 14.5 M bpe_split calls into ~50 k; at
    // corpus scale it is the only sane tokenizer shape (10^13 tokens,
    // 10^7 distinct words). Occurrence totals are unchanged by
    // distributivity of counting.
    val wordCounts = TextOps.explodeComputed(
      TextOps.documents(spark, dir), split(col("text"), " "), "word")
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    TextOps.explodeComputed(wordCounts,
      expr(s"bpe_split(word, '$enc')"), "subword")
      .groupBy("subword").agg(sum(col("cnt")).as("occurrences"))
  }

  /** Oracle for [[subwordFreq]]: the merge-learning chain, then the same
    * 16 nested replaces applied to every corpus token via a cross join of
    * the 8 one-row merge CTEs (the SQL form of the broadcast merge
    * table). */
  def subwordFreqOracle(numMerges: Int = NumMerges): String = {
    val merges = mergesOracle(numMerges)
    val prefix = merges.substring(0, merges.lastIndexOf("SELECT rank"))
    val applied = (1 to numMerges).foldLeft(
      "' ' || regexp_replace(t.word, '(.)', '\\1 ', 'g') || '</w> '") {
      case (e, i) =>
        s"""replace(replace($e, ' ' || m$i.a || ' ' || m$i.b || ' ',
             ' ' || m$i.merged || ' '),
             ' ' || m$i.a || ' ' || m$i.b || ' ', ' ' || m$i.merged || ' ')"""
    }
    s"""$prefix,
    toks AS (
      SELECT word FROM words WHERE regexp_full_match(word, '[a-z]+')),
    segmented AS (
      SELECT unnest(string_split(trim($applied), ' ')) AS subword
      FROM toks t, ${(1 to numMerges).map(i => s"m$i").mkString(", ")})
    SELECT subword, count(*) AS occurrences
    FROM segmented GROUP BY 1"""
  }
}
