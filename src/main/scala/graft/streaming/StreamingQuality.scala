package graft.streaming

import graft.queries.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming quality scoring — the perplexity-filter twin of
  * [[StreamingAnn]]: documents arriving on a stream are scored per
  * micro-batch against the CORPUS's persisted bigram LM
  * ([[graft.queries.TextAnalysis.bigramLm]], the same artifact
  * `t_bigram_nll` derives), the production CCNet shape where the LM is
  * trained once on a reference corpus and applied to every incoming
  * shard. Arriving docs are scored against the corpus LM only, never
  * against each other — re-estimating the LM with the batch folded in
  * is the landed table's batch job, exactly like dd_incremental's
  * contract.
  *
  * Unseen transitions: a streamed doc can contain bigrams the corpus
  * never saw (impossible in the self-trained batch query, where MLE
  * needs no smoothing). Rather than invent a smoothing constant — any
  * choice is arbitrary and would break the exact-parity claim — the
  * scorer counts them (`n_oov`, itself a strong junk signal: high OOV
  * transition rate = vocabulary the corpus has never seen) and reports
  * `mean_nll_micro` over the SEEN bigrams, null when nothing scored.
  * For a doc whose bigrams all exist in the LM the score is
  * bit-identical to `t_bigram_nll`'s (spec-pinned at sf0.001).
  *
  * Scale shape: the LM is built ONCE (vocab-sized, localCheckpoint'd —
  * the persisted artifact a production pipeline stores next to the
  * corpus) and every micro-batch pays batch-sized work only: one
  * bigram-count pass over the arriving docs, a stream-static equi-join
  * on the bigram vocabulary (hot function-word bigrams skew only the
  * batch side — AQE skew-split territory), and a per-doc rollup. No
  * cross-batch state at all — the LM IS the state, and it lives in
  * storage, not in the state store.
  */
object StreamingQuality {

  /** Persisted corpus-side artifact: the (a, b, nll_fp) MLE bigram LM
    * in 1e-6 fixed point. */
  final case class LmIndex(lm: DataFrame)

  /** Build the LM once from the corpus documents (doc_id, text). */
  def buildLm(corpusDocs: DataFrame): LmIndex =
    LmIndex(TextAnalysis.bigramLm(TextAnalysis.docBigramCounts(corpusDocs))
      .localCheckpoint(true))

  /** One micro-batch of scoring: docs (doc_id, text) → (doc_id,
    * n_bigrams, n_oov, nll_sum, mean_nll_micro). Every arriving doc
    * gets a verdict row — docs with < 2 tokens (no bigrams) report
    * n_bigrams = 0 and a null mean, unlike the batch query which
    * excludes them (a corpus report skips the unscorable; a triage
    * must answer for every arrival). Pure batch semantics — callable
    * directly or from foreachBatch. */
  def scoreBatch(docs: DataFrame, idx: LmIndex): DataFrame = {
    val scored = TextAnalysis.docBigramCounts(docs)
      .join(idx.lm, Seq("a", "b"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c_doc")).as("n_bigrams"),
        sum(when(col("nll_fp").isNull, col("c_doc")).otherwise(lit(0L)))
          .as("n_oov"),
        sum(when(col("nll_fp").isNotNull, col("nll_fp") * col("c_doc"))
          .otherwise(lit(0L))).as("nll_sum"))
      .withColumn("n_scored", col("n_bigrams") - col("n_oov"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"), col("nll_sum"),
        when(col("n_scored") > 0, expr("nll_sum div n_scored"))
          .as("mean_nll_micro"))
    docs.select(col("doc_id")).distinct()
      .join(scored, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_bigrams", "n_oov", "nll_sum"))
  }
}
