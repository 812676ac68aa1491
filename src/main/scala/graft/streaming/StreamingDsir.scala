package graft.streaming

import graft.queries.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming DSIR triage — the data-selection member of the
  * stream-static probe family (Ann/Phash/Fuzzy/Quality/Pq): documents
  * arriving on a stream are scored per micro-batch against the
  * CORPUS's persisted hashed-feature log-ratio table (the same
  * 1024-row artifact `t_dsir_logratio` trains), the production shape
  * where the importance weights are fit once on reference + raw
  * corpora and applied to every incoming shard to decide what enters
  * the training mix.
  *
  * Out-of-corpus vocabulary: the artifact covers the FULL 1024-bucket
  * spine ([[TextAnalysis.dsirLrTable]]) — a bucket no corpus token
  * hashed to scores the neutral smoothed prior — so every arriving
  * doc gets a total verdict with no OOV special case (the hashed
  * feature space is closed by construction; this is exactly why DSIR
  * hashes features instead of keying on raw vocabulary).
  *
  * Scale shape: the log-ratio table is built ONCE (1024 rows,
  * broadcast on every probe join) and each micro-batch pays
  * batch-sized work only — one tokenize/bucket-count pass over the
  * arrivals, a broadcast join, a per-doc rollup. No cross-batch
  * state: the artifact IS the state and lives in storage.
  */
object StreamingDsir {

  /** Persisted corpus-side artifact: the full-spine (b, lr_fp) table. */
  final case class DsirIndex(lr: DataFrame)

  /** Fit the index once from corpus documents (doc_id, lang, text). */
  def buildIndex(corpusDocs: DataFrame): DsirIndex =
    DsirIndex(TextAnalysis.dsirLrTable(
      TextAnalysis.dsirDocBuckets(corpusDocs, keepLang = true))
      .localCheckpoint(true))

  /** One micro-batch of scoring: docs (doc_id, text) → (doc_id,
    * n_tokens, logratio_sum_micro, is_target_like). Bit-identical to
    * `t_dsir_logratio` when the batch IS the training corpus
    * (spec-pinned). Pure batch semantics — callable directly or from
    * foreachBatch. */
  def scoreBatch(docs: DataFrame, idx: DsirIndex): DataFrame =
    TextAnalysis.dsirDocBuckets(docs.select(col("doc_id"), col("text")),
        keepLang = false)
      .join(broadcast(idx.lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("lr_fp")).as("logratio_sum_micro"))
      .select(col("doc_id"), col("n_tokens"), col("logratio_sum_micro"),
        (col("logratio_sum_micro") > 0L).as("is_target_like"))
}
