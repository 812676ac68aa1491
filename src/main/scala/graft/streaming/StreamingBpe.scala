package graft.streaming

import graft.operators.BpeTrainer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming BPE encoding — the tokenizer twin of [[StreamingPq]]:
  * documents arriving on a stream are encoded per micro-batch against
  * the CORPUS's trained merge table (t_bpe_encode trains the
  * identical table), the production shape where a tokenizer is
  * trained once on a representative corpus and every ingested
  * document pays only token accounting on arrival — the merge table
  * never retrains on the hot path. Retraining as the vocabulary
  * drifts is the landed table's batch job, exactly like
  * dd_incremental's and StreamingPq's contract.
  *
  * Scale shape: the index is the hyperparameter-sized merge list (a
  * driver value — it broadcasts inside BpeTrainer.encode); every
  * micro-batch pays batch-sized work only — a (doc_id, word)
  * aggregate over the batch, the rewrite applied to the BATCH's word
  * types, one hash-join back. No cross-batch state; the merge table
  * IS the state, and it lives with the tokenizer artifact, not in
  * the state store.
  */
object StreamingBpe {

  /** Persisted tokenizer artifact: the learned merge table. */
  final case class BpeIndex(merges: Seq[BpeTrainer.Merge])

  /** Train the merge table once from the (doc_id, text) corpus — the
    * exact t_bpe_encode training. */
  def buildIndex(spark: SparkSession, corpus: DataFrame, k: Int): BpeIndex =
    BpeIndex(BpeTrainer.train(spark, corpus, k))

  /** Open the PERSISTED merge table for dataset `d` if an artifact
    * set is attached (tools/Artifacts "bpe_merges") — the production
    * wiring where the stream encoder and the landed-table batch jobs
    * share one trained tokenizer and nothing on the hot path ever
    * trains. Mirrors [[StreamingPq.attachedIndex]]. */
  def attachedIndex(spark: SparkSession, d: String): Option[BpeIndex] =
    graft.tools.Artifacts.lookup(spark, d, "bpe_merges")
      .map(df => BpeIndex(BpeTrainer.mergesFromFrame(df)))

  /** One micro-batch of encoding: (doc_id, text) → (doc_id,
    * ws_tokens, bpe_tokens). Bit-identical to the batch encode on
    * the same rows (spec-pinned) — encoding is per-document, so
    * micro-batch boundaries cannot change any verdict. */
  def encodeBatch(spark: SparkSession, newDocs: DataFrame,
      idx: BpeIndex): DataFrame =
    BpeTrainer.encode(spark, newDocs, idx.merges)
}
