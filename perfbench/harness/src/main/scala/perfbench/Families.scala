package perfbench

/** Operator family of an op, for the family cut of the traced run. */
object Families {
  private val prefixes = Seq(
    "tpch_" -> "tpch", "events_" -> "events", "sketch_" -> "sketch",
    "dedup_" -> "dedup", "takedown_" -> "dedup",
    "ann_" -> "ann", "emb_" -> "ann", "semdedup" -> "ann",
    "docs_" -> "text", "corpus_" -> "text", "curation_" -> "text",
    "decontam_" -> "text", "search_" -> "text", "bpe_" -> "text",
    "token_" -> "text", "text_" -> "text", "lang_" -> "text",
    "model_" -> "learn", "lm_" -> "learn",
    "streaming_" -> "streaming", "dq_" -> "dq", "multimodal_" -> "multimodal",
    "pipeline" -> "pipeline")

  /** Families of the per-layer cut. The `pipeline` op is not among them:
    * the medallion cut covers it, data quality included. */
  val reported: Seq[String] = Seq("mart", "tpch", "events", "sketch", "dedup",
    "ann", "text", "learn", "streaming", "multimodal")

  /** Rows without a listed prefix are mart rows (bronze/silver/gold,
    * revenue, profile and the single analyst rows). */
  def of(op: String): String =
    prefixes.collectFirst { case (p, f) if op.startsWith(p) => f }.getOrElse("mart")
}
