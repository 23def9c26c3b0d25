package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines over `documents`:
  * exact (hash-groupBy), n-gram Jaccard near-dup (shingle inverted-index
  * join), MinHash+LSH (band-bucket join), and SimHash (native signature
  * expression + band join).
  *
  * Scale design:
  *  - Exact dedup is one hash aggregation on md5(text) — the canonical
  *    shuffle-once pattern; at 100 TB the 32-hex key (not the text) is what
  *    shuffles.
  *  - Jaccard avoids the O(n²) cross join entirely: explode 3-gram word
  *    shingles, self-join on the shingle (inverted index), count
  *    intersections per pair, then |A∩B| / (|A|+|B|-|A∩B|). At scale the
  *    standard refinement is dropping stop-shingles above a document
  *    frequency cutoff so no single shingle fans out quadratically.
  *  - MinHash signatures use lexicographic-min md5 per seed (a valid
  *    random permutation family), banded so only same-bucket pairs are
  *    compared: candidate generation is a groupBy on (band, bandKey) —
  *    linear shuffle, no pairwise work outside buckets. md5 everywhere
  *    keeps the DuckDB oracle bit-identical.
  */
object Dedup {

  /** 3-gram word shingles as a SQL-expressible array column. */
  private val shingleExpr =
    """case when size(words) < 3 then array()
       else transform(sequence(1, size(words) - 2),
         i -> concat_ws(' ', element_at(words, i), element_at(words, i + 1),
                        element_at(words, i + 2))) end"""

  private val shingleSqlDuck =
    """CASE WHEN len(words) < 3 THEN []
       ELSE list_transform(range(1, len(words) - 1),
         i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2]) END"""

  /** Near-dup operators work on one representative (min doc_id) per
    * distinct text: exact duplicates are dedup_exact's job, and running
    * the inverted-index/band joins on raw duplicate-heavy corpora blows
    * up quadratically (a 10x-replicated corpus measured 73 s vs 2 s for
    * Jaccard — every twin shares every shingle/band with every other). */
  private[ops] def distinctDocs(spark: SparkSession, dir: String): DataFrame =
    TextOps.documents(spark, dir)
      .groupBy("text").agg(min(col("doc_id")).as("doc_id"))

  private val distinctDocsCte =
    """docs AS (
      SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text)"""

  /** Stop-shingle document-frequency cutoff: a shingle appearing in more
    * than this many distinct docs is dropped from the inverted index —
    * it carries no near-dup signal and fans out quadratically in the
    * self-join. No shingle reaches the cutoff at test SFs (results are
    * unchanged there); at corpus scale this is what bounds the join. */
  val MaxShingleDocFrequency = 1000

  private def withShingles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // explodeComputed: the inferred size-filter would otherwise push the
    // shingle transform below distinctDocs' aggregate to the raw scan.
    // Per-doc shingle dedup is array_distinct INSIDE the row — doc_id is
    // unique per representative row, so this equals the former global
    // `.distinct()` on (doc_id, sh) without its corpus-wide shuffle
    // (guide §2.4). The df cutoff rides ONE window on the one remaining
    // sh-keyed shuffle instead of a second evaluation of the shingle
    // subtree plus an anti-join, and the result is pinned: every
    // consumer (sizes, both sides of the inverted-index self-join, the
    // MinHash signatures) used to re-derive the distinct-docs aggregate
    // and the explode per reference. The pin also PRESERVES the window's
    // hash(sh) partitioning, so the pair self-join on `sh` downstream
    // needs no further exchange.
    val sh = TextOps.explodeComputed(
      TextOps.spread(distinctDocs(spark, dir))
        .withColumn("words", split(col("text"), " ")),
      array_distinct(expr(shingleExpr)), "sh")
      .select("doc_id", "sh")
    graft.model.Stage.pin(
      sh.withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
        .filter(col("df") <= MaxShingleDocFrequency)
        .drop("df"))
  }

  /** All [[NumSeeds]] MinHash signatures in ONE grouped aggregate: the
    * per-(doc, seed) explode used to fan the shingle stream out 9× and
    * shuffle it twice (doc×seed partial mins, then the band fold); the 9
    * `min(md5(seed:sh))` columns compute map-side over one pass of the
    * pinned shingle table and shuffle 9 hashes per doc once. Band keys
    * are then a per-row expression — `array_sort` over the band's
    * (seed:mh) strings is exactly the former `collect_list` + sort, the
    * strings and the binary sort order are identical. */
  private def minhashBands(sh: DataFrame): DataFrame = {
    val mins = (0 until NumSeeds).map(s =>
      min(md5(concat(lit(s.toString), lit(":"), col("sh")))).as(s"mh$s"))
    val sig = TextOps.spread(sh)
      .groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val bandCols = (0 until NumSeeds / BandSize).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",", array_sort(array(
          (b * BandSize until (b + 1) * BandSize).map(s =>
            concat(lit(s.toString), lit(":"), col(s"mh$s"))): _*))))
          .as("band_key"))
    }
    graft.model.Stage.pin(
      sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"),
          col("bb.band_key").as("band_key")))
  }

  private def shingleCte =
    s"""$distinctDocsCte,
    sh0 AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM docs),
    sh_all AS (
      SELECT DISTINCT doc_id, unnest($shingleSqlDuck) AS sh FROM sh0),
    sh AS (
      SELECT doc_id, sh FROM sh_all
      WHERE sh NOT IN (
        SELECT sh FROM sh_all GROUP BY sh HAVING count(*) > $MaxShingleDocFrequency))"""

  /** Exact dedup: one row per distinct text with the kept doc (min id) and
    * the duplicate count. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    TextOps.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("dup_count"))

  def exactOracle: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_doc_id,
         count(*) AS dup_count
       FROM documents GROUP BY 1"""

  /** Near-dup pairs by 3-gram Jaccard ≥ 0.2 via the inverted-index join. */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.2): DataFrame = {
    val sh = withShingles(spark, dir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val inter = sh.as("a").join(sh.as("b"), Seq("sh"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_shingles").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_shingles").as("nb")), Seq("doc_b"))
      .withColumn("jaccard",
        col("n_common") * 1.0 / (col("na") + col("nb") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "jaccard")
  }

  def ngramJaccardOracle(threshold: Double = 0.2): String =
    s"""WITH $shingleCte,
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b, i.n_common,
      i.n_common * 1.0 / (sa.n_shingles + sb.n_shingles - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.n_common * 1.0 / (sa.n_shingles + sb.n_shingles - i.n_common) >= $threshold"""

  /** Containment threshold: a doc ≥ this contained in another is a
    * near-SUBSET — the asymmetric signal. 0.8 of a doc's shingles ≈ the
    * doc minus a header/footer's worth of novel grams. */
  val ContainmentThreshold = 0.8

  /** Asymmetric near-dup by shingle CONTAINMENT — |A∩B| / |A| per
    * direction, flagged when either direction crosses
    * [[ContainmentThreshold]]. Complements [[ngramJaccard]]: a short doc
    * embedded whole inside a much longer one (quote farms, aggregator
    * pages, doc+boilerplate re-publications) has Jaccard ≈ |A|/|B| → 0
    * but containment_a ≈ 1 — symmetric measures structurally cannot see
    * subset duplication. Broder's resemblance-vs-containment distinction,
    * same inverted-index equi-join as Jaccard (the same
    * [[MaxShingleDocFrequency]] posting-list bound applies; candidate
    * pairs only ever come from shared shingles, never all-pairs), one
    * extra `greatest` filter at the end. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val sh = withShingles(spark, dir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val inter = sh.as("a").join(sh.as("b"), Seq("sh"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_shingles").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_shingles").as("nb")), Seq("doc_b"))
      .withColumn("containment_a", col("n_common") * 1.0 / col("na"))
      .withColumn("containment_b", col("n_common") * 1.0 / col("nb"))
      .filter(greatest(col("containment_a"), col("containment_b"))
        >= ContainmentThreshold)
      .select("doc_a", "doc_b", "n_common", "containment_a", "containment_b")
  }

  def containmentOracle: String =
    s"""WITH $shingleCte,
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b, i.n_common,
      i.n_common * 1.0 / sa.n_shingles AS containment_a,
      i.n_common * 1.0 / sb.n_shingles AS containment_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE greatest(i.n_common * 1.0 / sa.n_shingles,
                   i.n_common * 1.0 / sb.n_shingles)
      >= $ContainmentThreshold"""

  /** 64-bit SimHash from md5-derived word-hash bits: bit j of word w is
    * bit (j-1)%4 of hex digit ceil(j/4) of md5(w); the simhash bit is the
    * sign of the +/-1 vote sum over all words. Integer arithmetic
    * throughout, so summation order cannot matter cross-engine. */
  private val simhashSqlDuck =
    """array_to_string(list_transform(range(1, 65), j ->
         CASE WHEN list_sum(list_transform(words, w ->
           2 * (((strpos('0123456789abcdef',
                         substr(md5(w), CAST((j + 3) // 4 AS INTEGER), 1)) - 1)
                 >> CAST((j - 1) % 4 AS INTEGER)) & 1) - 1)) > 0
         THEN '1' ELSE '0' END), '')"""

  /** SimHash near-dup candidates: 4 bands of 16 bits; pairs sharing a band
    * compared by full Hamming distance <= maxHamming. */
  def simhash(spark: SparkSession, dir: String, maxHamming: Int = 16): DataFrame = {
    val sigs = distinctDocs(spark, dir)
      .withColumn("sig", expr("simhash64(split(text, ' '))"))
      .select("doc_id", "sig")
    val bands = sigs.withColumn("band", explode(expr("sequence(0, 3)")))
      .withColumn("band_bits", expr("substring(sig, 1 + band * 16, 16)"))
    val hamming = expr("str_hamming(a_sig, b_sig)")
    bands.as("a").join(bands.as("b"), Seq("band", "band_bits"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("a_sig"), col("b.sig").as("b_sig"))
      .distinct()
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  def simhashOracle(maxHamming: Int = 16): String =
    s"""WITH $distinctDocsCte,
    d AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM docs),
    sigs AS (
      SELECT doc_id, $simhashSqlDuck AS sig FROM d),
    bands AS (
      SELECT doc_id, sig, unnest(range(0, 4)) AS band FROM sigs),
    banded AS (
      SELECT doc_id, sig, band, substr(sig, CAST(1 + band * 16 AS INTEGER), 16) AS band_bits
      FROM bands),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.sig AS a_sig, b.sig AS b_sig
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id),
    scored AS (
      SELECT doc_a, doc_b,
        CAST(list_sum(list_transform(range(1, 65), i ->
          CASE WHEN substr(a_sig, i, 1) = substr(b_sig, i, 1) THEN 0 ELSE 1 END))
          AS INTEGER) AS hamming
      FROM cand)
    SELECT doc_a, doc_b, hamming FROM scored WHERE hamming <= $maxHamming"""

  val NumSeeds = 9
  val BandSize = 3 // 3 bands of 3 rows

  /** MinHash+LSH candidate pairs: docs sharing ≥1 of 3 signature bands,
    * with the number of shared bands. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    graft.model.Stage.scoped(minhashLshFrom(withShingles(spark, dir)))

  /** [[minhashLsh]] over an explicit (pinned) shingle table — extracted so
    * consumers that also need the shingle table ([[lshEval]]) share ONE
    * evaluation instead of re-deriving it per reference. */
  private def minhashLshFrom(sh: DataFrame): DataFrame = {
    val bands = minhashBands(sh)
    bands.as("a").join(bands.as("b"), Seq("band", "band_key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_bands"))
  }

  /** Winnowing fingerprints appearing in more documents than this are
    * boilerplate (shared templates, common phrases) — dropped from the
    * inverted index, the same hot-key guard as
    * [[MaxShingleDocFrequency]]. Also the skew bound: no posting list
    * exceeds this length, so the fingerprint equi-join cannot produce a
    * quadratic hot key. Deliberately aggressive (MOSS suppresses
    * boilerplate the same way): on a small-vocabulary corpus short
    * passages recur everywhere, and df≤50 produced an ~88k-pair
    * near-quadratic graph at sf0.01 where df≤10 keeps the 25 genuinely
    * overlapping pairs. */
  val MaxFingerprintDocFrequency = 10

  /** Minimum shared selected fingerprints to call a pair a near-dup —
    * a couple of shared fingerprints can be short coincidental phrases;
    * five distinct selected regions ≈ a shared passage of several dozen
    * chars (winnowing selects ~2/(w+1) of gram positions). */
  val MinSharedFingerprints = 5

  /** MOSS-style passage-overlap detection over
    * [[TextOps.winnowFingerprints]]: pairs of documents sharing
    * ≥ [[MinSharedFingerprints]] winnowing-selected fingerprints, found
    * by the inverted-index equi-join. Complements the other near-dup
    * operators: winnowing guarantees any shared run of ≥ k+w-1 chars
    * shares a fingerprint, so this catches copied PASSAGES inside
    * otherwise-different documents, where minhash/simhash score
    * whole-document similarity. Scale shape: fingerprint density is
    * ~2/(w+1) of grams, posting lists are DF-bounded, and pairs come
    * only from the equi-join — never all-pairs. Runs on one
    * representative (min doc_id) per distinct text, the same staging as
    * every near-dup operator here: exact duplicates are [[exact]]'s job,
    * and on a duplicate-heavy corpus every twin shares every fingerprint
    * with every other — the quadratic blowup the round-1 10× probe
    * measured for the shingle joins. */
  private[graft] def winnowNearDupFrom(docs: DataFrame): DataFrame = {
    // the fingerprint subtree feeds three consumers (the DF filter and
    // both sides of the pair join); checkpoint the exploded list so the
    // gram hashing runs once, not once per consumer
    val reps = docs.groupBy("text").agg(min(col("doc_id")).as("doc_id"))
    val fp = graft.model.Stage.pin(TextOps.winnowFingerprints(reps))
    val keep = fp.groupBy("fingerprint").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, MaxFingerprintDocFrequency))
      .select("fingerprint")
    val f = fp.join(keep, Seq("fingerprint"))
    f.as("a").join(f.as("b"), Seq("fingerprint"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= MinSharedFingerprints)
  }

  def winnowNearDup(spark: SparkSession, dir: String): DataFrame =
    winnowNearDupFrom(TextOps.documents(spark, dir))

  def winnowNearDupOracle: String =
    s"""WITH ${TextOps.winnowCte(
        "(SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text)")},
    fp AS (SELECT doc_id, unnest(fps) AS fingerprint FROM w),
    keep AS (
      SELECT fingerprint FROM fp GROUP BY 1
      HAVING count(*) BETWEEN 2 AND $MaxFingerprintDocFrequency),
    f AS (SELECT fp.doc_id, fp.fingerprint FROM fp JOIN keep USING (fingerprint))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
    FROM f a JOIN f b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= $MinSharedFingerprints"""

  /** Guard on connected-components rounds. With pointer-doubling the
    * round count is O(log₂ diameter), so 50 covers components of diameter
    * ~2⁵⁰ — hitting this bound means the iteration is not converging
    * (a bug), not that the data is big. */
  val MaxCcRounds = 50

  /** Rounds the most recent [[connectedComponents]] call took to converge
    * — test-visible hook pinning the O(log d) bound (0 = the driver-side
    * union-find gate answered; no distributed rounds ran). */
  val lastCcRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Adaptive driver-side union-find gate for [[connectedComponents]]:
    * when the materialized pair list has at most this many edges, the
    * components are computed by one bounded collect + union-find instead
    * of the iterative label-propagation loop — identical min-label
    * output, zero per-round jobs. 1M edges ≈ tens of MB on the driver
    * (the bounded-collect class the repo already accepts for k-means
    * centroids and Bloom positions). 0 disables the gate (PlanSpec-style
    * shape pinning; DedupSpec uses it to exercise the loop). */
  val DriverEdgesKey = "spark.graft.cc.driver.edges"
  val DriverEdgesDefault: Long = graft.model.Bounded.DriverRows.toLong

  /** One propagate step: every node takes the min label among itself and
    * its neighbors. Exactly one shuffle pair — the edge⋈label equi-join
    * on `node` and the min aggregate (PlanSpec pins the Exchange count so
    * an edit cannot silently add a shuffle to the O(log d) loop body). */
  private[graft] def ccPropagate(edges: DataFrame, labels: DataFrame): DataFrame = {
    val viaNbr = edges.join(labels, col("dst") === col("node"))
      .select(col("src").as("node"), col("cluster_id"))
    labels.select("node", "cluster_id").union(viaNbr)
      .groupBy("node").agg(min("cluster_id").as("cluster_id"))
  }

  /** One shortcut step: every node jumps to its label's label
    * (Shiloach–Vishkin pointer doubling — labels form a forest pointing
    * at smaller ids, so this is a single equi-join on the label). */
  private[graft] def ccShortcut(prop: DataFrame): DataFrame =
    prop.as("a")
      .join(prop.select(col("node").as("l_node"),
        col("cluster_id").as("l_cluster")).as("b"),
        col("a.cluster_id") === col("l_node"), "left")
      .select(col("a.node"),
        least(col("a.cluster_id"),
          coalesce(col("l_cluster"), col("a.cluster_id"))).as("cluster_id"))

  /** Connected components over an undirected pair list `(doc_a, doc_b)`:
    * one row per node with `cluster_id` = the smallest node id in its
    * component. Min-label propagation with pointer-doubling:
    *
    *  - propagate: every node takes the min label among itself and its
    *    neighbors ("hash-to-min", the standard MapReduce/Spark CC recipe);
    *  - shortcut: every node then jumps to its label's label
    *    (Shiloach–Vishkin-style pointer doubling), which halves the
    *    remaining distance to the component minimum each round.
    *
    * Propagation alone needs diameter-many rounds — a chain-shaped
    * component (templated spam is exactly this shape) of 1 000 docs would
    * take 1 000 shuffles. With shortcutting the label graph's depth halves
    * per round, so convergence is O(log₂ d) rounds (DedupSpec pins a
    * 101-node chain converging in ≤10 rounds); large-star/small-star from
    * Kiveris et al. "Connected Components in MapReduce and Beyond" gives
    * the same bound by rewriting edges instead of labels.
    *
    * Each round is two equi-join shuffles (edge⋈label, label⋈label) plus
    * a min aggregate; the convergence test is a count of decreased labels
    * — an O(rounds) driver scalar, not a data collect. Rounds are bounded
    * by `maxRounds` with a clear error rather than looping forever.
    *
    * Lineage per round is truncated by [[graft.model.Stage.pin]] —
    * executor-local blocks by default, durable scratch-dir parquet when
    * `spark.graft.stage.dir` is set (the cluster-grade form: stage files
    * survive executor loss, so a lost executor mid-iteration recomputes
    * instead of killing the run). Each round is a
    * [[graft.model.Stage.step]], so the replaced labels are released as
    * soon as the next generation is pinned. */
  def connectedComponents(spark: SparkSession, pairs: DataFrame,
      maxRounds: Int = MaxCcRounds): DataFrame = graft.model.Stage.scoped {
    // materialize the pair list FIRST: `pairs` is typically an expensive
    // subplan (the LSH band join), and building the symmetric edge list
    // straight off it evaluates that subplan once per union branch — the
    // pin makes both directions (and the initial labels) two cheap scans
    // of one materialized table instead of two LSH executions
    val ab = graft.model.Stage.pin(pairs.toDF("doc_a", "doc_b"))
    // Measured adaptive gate (the RangeRank.WindowBytesKey discipline):
    // a near-dup pair graph is DUPLICATE-volume-sized, and below the
    // threshold the O(log d) distributed loop is pure constant factor —
    // ~3 jobs × rounds of 1–2 tasks each (measured: 15+ sequential jobs,
    // ~1.8 s over a 25-pair graph at sf0.1). Union-find over the
    // collected edge list computes the identical min-label components
    // (DedupSpec pins parity against the loop) with ZERO iterative jobs;
    // the driver holds ≤ gate edges — the same bounded-collect class as
    // the k-means centroid localization. Above the gate (any genuinely
    // large graph) the pointer-doubling loop runs unchanged; 0 disables
    // the gate. The size test and the collect are one bounded action
    // ([[graft.model.Bounded]]): no count runs, above the gate or below.
    import spark.implicits._
    val gate = graft.model.Conf.long(spark, DriverEdgesKey, DriverEdgesDefault)
    val integral = ab.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    val collected = if (!integral) None else graft.model.Bounded.collect(
      ab.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .as[(Long, Long)], gate)
    collected match {
      case Some(es) => ccUnionFind(spark, es, ab.schema.fields.head.dataType)
      case None => ccLoop(ab, maxRounds)
    }
  }

  /** The gate's driver-side union-find over the collected edge list. */
  private def ccUnionFind(spark: SparkSession, es: Array[(Long, Long)],
      nodeType: org.apache.spark.sql.types.DataType): DataFrame = {
    import spark.implicits._
    lastCcRounds.set(0)
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    // second pass: the component label is the MIN member id — roots are
    // unioned toward the smaller id above, so find(x) already IS the min
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.keySet.forEach(n => out += ((n, find(n))))
    val sizes = out.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    spark.createDataset(out.toSeq.map { case (n, c) => (n, c, sizes(c)) })
      .toDF("doc_id", "cluster_id", "cluster_size")
      .select(col("doc_id").cast(nodeType), col("cluster_id").cast(nodeType),
        col("cluster_size"))
  }

  /** The distributed pointer-doubling loop over the pinned pair list. */
  private def ccLoop(ab: DataFrame, maxRounds: Int): DataFrame = {
    val edges = ab.union(ab.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
    var labels = graft.model.Stage.pin(edges.select(col("src").as("node"))
      .distinct().withColumn("cluster_id", col("node")))
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      if (round > maxRounds) throw new IllegalStateException(
        s"connectedComponents did not converge within $maxRounds rounds; " +
          "with pointer-doubling this means the iteration is broken, not " +
          "that the component is large — investigate before raising maxRounds")
      labels = graft.model.Stage.step(labels) {
        // pinned so the pointer-doubling self-join below reads one
        // materialized table instead of recomputing the propagate step
        // twice (it also sidesteps ambiguous-attribute rewrites on
        // self-union plans)
        val prop = graft.model.Stage.pin(ccPropagate(edges, labels))
        val next = graft.model.Stage.pin(ccShortcut(prop))
        changed = next
          .join(labels.select(col("node"), col("cluster_id").as("prev")), Seq("node"))
          .filter(col("cluster_id") < col("prev")).count()
        next
      }
    }
    lastCcRounds.set(round)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labels.select(col("node").as("doc_id"), col("cluster_id"))
      .join(sizes, Seq("cluster_id"))
      .select("doc_id", "cluster_id", "cluster_size")
  }

  /** Duplicate-cluster assignment: [[connectedComponents]] over the
    * [[minhashLsh]] near-dup pair graph. The cluster id is the smallest
    * doc_id in the component — the "keeper" under a keep-first policy,
    * turning pairwise dedup output into actionable per-document drop
    * lists. The DuckDB oracle computes the same components by recursive
    * CTE (min reachable id), so engine and oracle agree exactly. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    graft.model.Stage.scoped(connectedComponents(spark,
      minhashLsh(spark, dir).select("doc_a", "doc_b")))

  def dedupClustersOracle: String =
    s"""WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ($minhashLshOracle)),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach(node, x) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.x),
    labels AS (
      SELECT node AS doc_id, min(x) AS cluster_id FROM reach GROUP BY 1),
    sizes AS (
      SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1)
    SELECT doc_id, cluster_id, cluster_size
    FROM labels JOIN sizes USING (cluster_id)"""

  /** Power-iteration rounds / damping for [[dedupPagerank]] — fixed (not
    * convergence-tested) so the oracle can unroll the same count. */
  val PagerankIters = 5
  val PagerankDamping = 0.85

  /** PageRank over the [[minhashLsh]] near-dup graph — graph centrality
    * as a CANONICAL-DOCUMENT score: within a duplicate cluster, the doc
    * connected to the most (and most-connected) near-dups is the natural
    * keeper, a principled upgrade over keep-smallest-id. Standard damped
    * power iteration (Page et al., "The PageRank citation ranking"),
    * [[PagerankIters]] rounds at [[PagerankDamping]], uniform teleport
    * over the pair graph's nodes; undirected edges walked both ways, so
    * there are no dangling nodes and the per-round mass update is exactly
    * `pr' = (1−d)/n + d·Σ pr/deg` over in-neighbors.
    *
    * Scale shape: the edge list (the expensive LSH subplan) is
    * localCheckpoint'ed ONCE and each round is one equi-join on `src`
    * plus one map-side-combined aggregate on `dst` — the Pregel shape,
    * shuffle-partitioned by node id; nothing is all-pairs and no round
    * rescans the corpus. Driver-side state: one scalar (the node count)
    * per run. */
  def dedupPagerank(spark: SparkSession, dir: String,
      iters: Int = PagerankIters,
      damping: Double = PagerankDamping): DataFrame =
    graft.model.Stage.scoped(pagerankFrom(
      minhashLsh(spark, dir).select("doc_a", "doc_b"), iters, damping))

  /** [[dedupPagerank]] over an explicit undirected pair list. */
  private[graft] def pagerankFrom(pairs: DataFrame,
      iters: Int = PagerankIters,
      damping: Double = PagerankDamping): DataFrame = {
    val ab = graft.model.Stage.pin(pairs.toDF("doc_a", "doc_b"))
    val edges = ab.union(ab.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
    val deg = graft.model.Stage.pin(
      edges.groupBy("src").agg(count(lit(1)).as("deg")))
    val n = deg.count()
    val teleport = (1.0 - damping) / n
    var ranks = deg.select(col("src").as("doc_id"),
      lit(1.0 / n).as("pr"))
    (1 to iters).foreach { _ =>
      val contribs = edges
        .join(ranks.withColumnRenamed("doc_id", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("doc_id"), (col("pr") / col("deg")).as("c"))
        .groupBy("doc_id").agg(sum(col("c")).as("csum"))
      ranks = deg.select(col("src").as("doc_id"), col("deg"))
        .join(contribs, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(teleport) + lit(damping) * coalesce(col("csum"), lit(0.0)))
            .as("pr"))
    }
    deg.select(col("src").as("doc_id"), col("deg").as("degree"))
      .join(ranks, Seq("doc_id"))
      .select(col("doc_id"), col("degree"), col("pr").as("pagerank"))
  }

  /** Oracle twin of [[dedupPagerank]]: the same [[PagerankIters]] rounds
    * unrolled as chained CTEs (the [[graft.ops.Similarity]] k-means
    * oracle's discipline). Double-typed literals keep the constant
    * arithmetic bit-identical to Spark's. */
  def dedupPagerankOracle(iters: Int = PagerankIters): String = {
    val d = s"CAST($PagerankDamping AS DOUBLE)"
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (
      SELECT e.dst AS doc_id, sum(p.pr / dg.deg) AS csum
      FROM edges e JOIN pr${i - 1} p ON p.doc_id = e.src
        JOIN deg dg ON dg.src = e.src
      GROUP BY 1),
    pr$i AS (
      SELECT dg.src AS doc_id,
        (1 - $d) / nn.n + $d * coalesce(c.csum, CAST(0 AS DOUBLE)) AS pr
      FROM deg dg CROSS JOIN nn LEFT JOIN c$i c ON c.doc_id = dg.src)"""
    }.mkString(",\n    ")
    s"""WITH pairs AS (
      SELECT doc_a, doc_b FROM ($minhashLshOracle)),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
    pr0 AS (SELECT src AS doc_id, 1.0 / nn.n AS pr FROM deg CROSS JOIN nn),
    $rounds
    SELECT dg.src AS doc_id, dg.deg AS degree, p.pr AS pagerank
    FROM deg dg JOIN pr$iters p ON p.doc_id = dg.src"""
  }

  /** The seeded/sig/bands/pairs CTE chain shared by the MinHash oracles
    * (assumes [[shingleCte]]'s `sh` is already in scope). */
  private def minhashCtes: String =
    s"""seeded AS (
      SELECT doc_id, unnest(range(0, $NumSeeds)) AS seed, sh
      FROM sh),
    sig AS (
      SELECT doc_id, seed,
        min(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS mh
      FROM seeded GROUP BY 1, 2),
    bands AS (
      SELECT doc_id, seed // $BandSize AS band,
        md5(array_to_string(list_sort(list(CAST(seed AS VARCHAR) || ':' || mh)), ',')) AS band_key
      FROM sig GROUP BY 1, 2),
    lsh_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_bands
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
        AND a.doc_id < b.doc_id
      GROUP BY 1, 2)"""

  def minhashLshOracle: String =
    s"""WITH $shingleCte,
    $minhashCtes
    SELECT doc_a, doc_b, shared_bands FROM lsh_pairs"""

  /** Candidate-precision evaluation for the banded MinHash pass — the
    * estimate-beside-truth contract applied to dedup: every LSH candidate
    * pair is scored with its EXACT shingle-set Jaccard (the quantity
    * MinHash estimates), so a release can read candidate precision
    * directly instead of trusting the banding math. `is_true_pair` marks
    * candidates at/above the [[ngramJaccard]] production threshold.
    *
    * Scale shape: the exact-intersection join fans each candidate pair
    * out by its documents' shingle lists — occurrence-linear in
    * (candidates × shingles/doc), never all-pairs; the candidate list
    * itself is banding-bounded. The division is one IEEE op over integer
    * counts, bit-stable cross-engine. */
  def lshEval(spark: SparkSession, dir: String,
      threshold: Double = 0.2): DataFrame = {
    val sh = withShingles(spark, dir)
    val pairs = minhashLshFrom(sh)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = pairs.select("doc_a", "doc_b")
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
        Seq("doc_b"))
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("jaccard",
        col("n_inter") * 1.0 / (col("n_a") + col("n_b") - col("n_inter")))
      .withColumn("is_true_pair", (col("jaccard") >= threshold).cast("int"))
      .select("doc_a", "doc_b", "shared_bands", "n_inter", "n_a", "n_b",
        "jaccard", "is_true_pair")
  }

  def lshEvalOracle(threshold: Double = 0.2): String =
    s"""WITH $shingleCte,
    $minhashCtes,
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS n_inter
      FROM lsh_pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b AND b.sh = a.sh
      GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b, p.shared_bands,
      coalesce(i.n_inter, 0) AS n_inter,
      sa.n_sh AS n_a, sb.n_sh AS n_b,
      coalesce(i.n_inter, 0) * 1.0 /
        (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)) AS jaccard,
      CAST(coalesce(i.n_inter, 0) * 1.0 /
        (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0)) >= $threshold AS INT)
        AS is_true_pair
    FROM lsh_pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b"""

  /** Split-leakage audit: near-dup pairs ([[minhashLsh]]) crossed with the
    * deterministic hash-split assignment ([[TextOps.hashSplit]]'s bucket) —
    * a near-duplicate of a training document sitting in val/test silently
    * inflates eval scores, so every corpus release checks this matrix
    * before shipping. One row per (split_a, split_b) with the pair count;
    * off-diagonal rows ARE the leaks. Cost: the split label is a per-row
    * md5 on the (already tiny) pair list — free next to the near-dup join
    * that produced it. */
  private def splitCase(bucket: String): String =
    s"CASE WHEN $bucket < 80 THEN 'train' WHEN $bucket < 90 THEN 'val' ELSE 'test' END"

  def splitLeakage(spark: SparkSession, dir: String): DataFrame =
    minhashLsh(spark, dir)
      .withColumn("split_a",
        expr(splitCase(s"(${TextOps.md5U16Expr("doc_a")} % 100)")))
      .withColumn("split_b",
        expr(splitCase(s"(${TextOps.md5U16Expr("doc_b")} % 100)")))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak",
        (col("split_a") =!= col("split_b")).cast("int"))

  /** Chunk-level exact dedup: the passage-granularity variant of
    * [[exact]], run over [[TextOps.chunkDocs]]'s overlapping chunks
    * BEFORE sequence packing — repeated boilerplate (headers, footers,
    * licenses) recurs as identical chunks inside otherwise-distinct
    * documents, which document-level dedup by definition cannot see.
    * One hash aggregate on the chunk md5 (the 32-hex key shuffles, not
    * the text); emits only the duplicated chunks — the dedupable mass —
    * with the keeper = lexicographically first (doc_id, chunk_idx). */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    TextOps.chunk(spark, dir)
      .groupBy("chunk_md5")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("keeper"),
        count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)
      .select(col("chunk_md5"),
        col("keeper.doc_id").as("keeper_doc_id"),
        col("keeper.chunk_idx").as("keeper_chunk_idx"),
        col("dup_count"))

  def chunkDedupOracle: String =
    s"""WITH chunks AS (${TextOps.chunkOracle()}),
    k AS (
      SELECT chunk_md5, doc_id, chunk_idx,
        row_number() OVER (PARTITION BY chunk_md5
          ORDER BY doc_id, chunk_idx) AS rn,
        count(*) OVER (PARTITION BY chunk_md5) AS dup_count
      FROM chunks)
    SELECT chunk_md5, doc_id AS keeper_doc_id,
      chunk_idx AS keeper_chunk_idx, CAST(dup_count AS BIGINT) AS dup_count
    FROM k WHERE rn = 1 AND dup_count > 1"""

  def splitLeakageOracle: String =
    s"""WITH labeled AS (
      SELECT ${splitCase(s"(${TextOps.md5U16SqlDuck("doc_a")} % 100)")} AS split_a,
             ${splitCase(s"(${TextOps.md5U16SqlDuck("doc_b")} % 100)")} AS split_b
      FROM ($minhashLshOracle) pairs)
    SELECT split_a, split_b, count(*) AS n_pairs,
      CAST(split_a != split_b AS INTEGER) AS is_leak
    FROM labeled GROUP BY 1, 2"""

  /** Per-document duplicated-SPAN profile — the per-doc aggregate view of
    * exact-substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): for each distinct-text representative,
    * how many of its word 3-gram spans also occur in at least one OTHER
    * representative, and what fraction of the doc that is. The pair
    * operators ([[ngramJaccard]], [[winnowNearDup]]) answer "which docs
    * overlap"; this answers "how much of THIS doc is boilerplate /
    * copied" — the signal a training pipeline thresholds to drop or trim
    * documents rather than whole-doc-dedup them.
    *
    * Unlike the pair joins there is NO quadratic risk and therefore no
    * [[MaxShingleDocFrequency]] cutoff: a hot span inflates one posting
    * count, not a pair fan-out. Shape: distinct (doc, span) → span
    * doc-frequency (one shuffle, map-side partials) → join df back on the
    * span (AQE handles the stopword-span skew) → per-doc count aggregate.
    * Docs with fewer than 3 words have no spans and no row, mirrored by
    * the oracle's inner join. */
  def spanProfile(spark: SparkSession, dir: String): DataFrame = {
    val sh = TextOps.explodeComputed(
      distinctDocs(spark, dir)
        .withColumn("words", split(col("text"), " ")),
      expr(shingleExpr), "sh")
      .select("doc_id", "sh").distinct()
    val df = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    sh.join(df, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared_spans"))
      .withColumn("shared_frac",
        col("n_shared_spans") * lit(1.0) / col("n_spans"))
  }

  def spanProfileOracle: String =
    s"""WITH $distinctDocsCte,
    sh0 AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM docs),
    sh AS (
      SELECT DISTINCT doc_id, unnest($shingleSqlDuck) AS sh FROM sh0),
    df AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1)
    SELECT doc_id, count(*) AS n_spans,
      sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS n_shared_spans,
      sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*)
        AS shared_frac
    FROM sh JOIN df USING (sh)
    GROUP BY 1"""

  /** Positioned 3-gram span occurrences over the distinct-text
    * representatives: one row per (doc, start position p, span text),
    * p 1-based, covering words p..p+2. The shared base of the
    * REMEDIATION half of exact-substring dedup ([[cutSpans]],
    * [[trimSpans]]). */
  private def spanOccurrences(spark: SparkSession, dir: String): DataFrame =
    // posexplode_outer + value-null filter: same InferFiltersFromGenerate
    // dodge as TextOps.explodeComputed, positioned form
    distinctDocs(spark, dir)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), posexplode_outer(expr(shingleExpr)))
      .filter(col("col").isNotNull)
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("sh"))

  private val spanOccCte =
    s"""$distinctDocsCte,
    sh0 AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM docs),
    occ AS (
      SELECT doc_id, unnest(range(1, len(words) - 1)) AS p,
        unnest($shingleSqlDuck) AS sh
      FROM sh0 WHERE len(words) >= 3),
    keeper AS (SELECT sh, min(doc_id) AS keeper FROM occ GROUP BY 1),
    cuts AS (
      SELECT o.doc_id, o.p FROM occ o JOIN keeper k USING (sh)
      WHERE o.doc_id != k.keeper)"""

  /** Cross-document duplicated-span CUT-LISTS — the remediation step of
    * exact-substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better": remove duplicated substrings, keep
    * one global copy). [[spanProfile]] measures how much of a doc is
    * duplicated; this says exactly WHICH words to drop: for every word
    * 3-gram span occurring in ≥2 representatives, the min-doc_id
    * representative keeps its copy and every other doc cuts its
    * occurrences, with overlapping/adjacent cut 3-grams merged into
    * maximal word intervals [span_start, span_end] (1-based, inclusive)
    * via a per-doc gaps-and-islands window.
    *
    * Scale: occurrence rows are token-linear (no pair join, so no
    * [[MaxShingleDocFrequency]] cutoff needed — a hot span joins its
    * keeper row back per occurrence, not per pair; AQE absorbs the
    * stopword-span skew exactly as in [[spanProfile]]); one span-keyed
    * aggregation, one join back, one doc-partitioned window. */
  def cutSpans(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = spanOccurrences(spark, dir)
    val keeper = occ.groupBy("sh").agg(min(col("doc_id")).as("keeper"))
    val cuts = occ.join(keeper, Seq("sh"))
      .filter(col("doc_id") =!= col("keeper")).select("doc_id", "p")
    val w = Window.partitionBy("doc_id").orderBy("p")
    val prevEnd = max(col("p") + 2)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    cuts
      .withColumn("new_island",
        when(prevEnd.isNull || col("p") > prevEnd + 1, 1).otherwise(0))
      .withColumn("island", sum(col("new_island")).over(w))
      .groupBy("doc_id", "island")
      .agg(min(col("p")).as("s"), (max(col("p")) + 2).as("e"))
      .select(col("doc_id"), col("s").cast("int").as("span_start"),
        col("e").cast("int").as("span_end"),
        (col("e") - col("s") + 1).cast("int").as("n_words"))
  }

  def cutSpansOracle: String =
    s"""WITH $spanOccCte,
    isl AS (
      SELECT doc_id, p,
        CASE WHEN max(p + 2) OVER (PARTITION BY doc_id ORDER BY p
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
          OR p > max(p + 2) OVER (PARTITION BY doc_id ORDER BY p
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
          THEN 1 ELSE 0 END AS new_island
      FROM cuts),
    isl2 AS (
      SELECT doc_id, p, sum(new_island)
        OVER (PARTITION BY doc_id ORDER BY p) AS island
      FROM isl)
    SELECT doc_id, CAST(min(p) AS INTEGER) AS span_start,
      CAST(max(p) + 2 AS INTEGER) AS span_end,
      CAST(max(p) + 2 - min(p) + 1 AS INTEGER) AS n_words
    FROM isl2 GROUP BY doc_id, island"""

  /** The remediated corpus: every distinct-text representative with its
    * [[cutSpans]] intervals physically removed and the survivors
    * re-joined on single spaces. Docs with no cuts pass their text
    * through VERBATIM (no split/rejoin round-trip) — only docs that
    * actually lose words are reassembled, and both engines reassemble
    * identically (split on ' ' / join with ' '). A fully-boilerplate doc
    * trims to the empty string with `n_words_after` 0. */
  def trimSpans(spark: SparkSession, dir: String): DataFrame = {
    val cutPos = cutSpans(spark, dir)
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("i"))
      .groupBy("doc_id").agg(collect_set(col("i")).as("cut"))
    distinctDocs(spark, dir)
      .withColumn("words", split(col("text"), " "))
      .join(cutPos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_words_before"),
        when(col("cut").isNull, size(col("words")))
          .otherwise(size(col("words")) - size(col("cut")))
          .cast("long").as("n_words_after"),
        when(col("cut").isNull, col("text"))
          .otherwise(array_join(
            expr("filter(words, (w, i) -> NOT array_contains(cut, i + 1))"),
            " "))
          .as("trimmed_text"))
  }

  def trimSpansOracle: String =
    s"""WITH $spanOccCte,
    cutpos AS (
      SELECT DISTINCT doc_id, unnest(range(p, p + 3)) AS i FROM cuts),
    cutagg AS (SELECT doc_id, count(*) AS n_cut FROM cutpos GROUP BY 1),
    wp AS (
      SELECT doc_id, unnest(words) AS w,
        unnest(range(1, len(words) + 1)) AS i
      FROM sh0),
    kept AS (
      SELECT wp.doc_id, string_agg(wp.w, ' ' ORDER BY wp.i) AS t
      FROM wp LEFT JOIN cutpos c ON wp.doc_id = c.doc_id AND wp.i = c.i
      WHERE c.i IS NULL GROUP BY wp.doc_id)
    SELECT d.doc_id,
      CAST(len(s.words) AS BIGINT) AS n_words_before,
      CAST(len(s.words) - coalesce(a.n_cut, 0) AS BIGINT) AS n_words_after,
      CASE WHEN a.doc_id IS NULL THEN d.text
        ELSE coalesce(k.t, '') END AS trimmed_text
    FROM docs d
    JOIN sh0 s ON d.doc_id = s.doc_id
    LEFT JOIN cutagg a ON d.doc_id = a.doc_id
    LEFT JOIN kept k ON d.doc_id = k.doc_id"""
}
