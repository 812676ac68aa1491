package graft.streaming

import graft.operators.HammingBands
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BlockHash60

/** Streaming perceptual-hash ingest — the multimodal member of the
  * streaming-triage family ([[StreamingDedup.triageAgainstCorpus]]
  * for exact text, [[StreamingAnn]] for embeddings, this for media
  * payloads): assets arriving on a stream are probed per micro-batch
  * against the corpus's persisted pHash band index and classified
  * `near_dup` (some corpus asset within Hamming ≤ θ; dup_of = the
  * closest, ties to lowest id) or `novel`.
  *
  * Scale shape mirrors StreamingAnn exactly: the corpus index —
  * (doc_id, sh) sketches plus per-bucket-capped (band, bval)
  * memberships — is built ONCE and localCheckpoint'd (the persisted
  * artifact pair); each micro-batch pays batch-sized work only (one
  * codegen sketch pass over arrivals, a stream-static (band, bval)
  * join, an in-batch best-candidate aggregate). No cross-batch state.
  */
object StreamingPhash {

  final case class PhashIndex(sketches: DataFrame, buckets: DataFrame,
      nBands: Int, bandBits: Int, theta: Int)

  def buildIndex(corpus: DataFrame, nBands: Int = 4, bandBits: Int = 15,
      cap: Int = 256, theta: Int = 3): PhashIndex = {
    val sk = corpus
      .select(col("doc_id"), BlockHash60.of(col("text")).as("sh"))
      .localCheckpoint(true)
    val buckets = HammingBands.cappedBands(sk, nBands, bandBits, cap)
      .localCheckpoint(true)
    PhashIndex(sk, buckets, nBands, bandBits, theta)
  }

  /** One micro-batch: arrivals (doc_id, text) → (doc_id, status,
    * dup_of, hamming). Best candidate = min Hamming, ties to lowest
    * corpus id. Pure batch semantics — callable from foreachBatch. */
  def triageBatch(arrivals: DataFrame, idx: PhashIndex): DataFrame = {
    val nsk = arrivals
      .select(col("doc_id").as("n_id"), BlockHash60.of(col("text")).as("nsh"))
    val probes = nsk.select(col("n_id"),
      posexplode(HammingBands.bandValues(col("nsh"), idx.nBands, idx.bandBits))
        .as(Seq("band", "bval")))
    val ham = expr("bit_count(nsh ^ sh)").cast("int")
    val best = probes
      .join(idx.buckets, Seq("band", "bval"))
      .select(col("n_id"), col("doc_id").as("c_id")).distinct()
      .join(nsk, "n_id")
      .join(idx.sketches.select(col("doc_id").as("c_id"), col("sh")), "c_id")
      .select(col("n_id"), col("c_id"), ham.as("hamming"))
      .groupBy(col("n_id"))
      .agg(min(struct(col("hamming"), col("c_id"))).as("m"))
      .select(col("n_id"), col("m.c_id").as("cand"),
        col("m.hamming").as("hamming"))
    arrivals.select(col("doc_id"))
      .join(best.withColumnRenamed("n_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("hamming") <= idx.theta, "near_dup")
          .otherwise("novel").as("status"),
        when(col("hamming") <= idx.theta, col("cand")).as("dup_of"),
        when(col("hamming") <= idx.theta, col("hamming")).as("hamming"))
  }
}
