package graft.streaming

import graft.functions.VectorExpressions
import graft.queries.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.ArgMax2
import org.apache.spark.sql.functions._

/** Streaming ANN ingest — the embedding-space twin of
  * [[StreamingDedup.triageAgainstCorpus]]: vectors arriving on a
  * stream are probed per micro-batch against the CORPUS's persisted
  * LSH index, and each one is classified `near_dup` (best corpus
  * candidate at cosine ≥ threshold, with that candidate as `dup_of`)
  * or `novel`. New vectors are checked against the corpus only, never
  * against each other — intra-batch/near-dup-vs-earlier-ingest is the
  * landed table's batch dedup's job, exactly like dd_incremental's
  * contract for documents.
  *
  * Scale shape: the corpus index ([[CorpusIndex]]) is built ONCE —
  * signature table + per-bucket-capped bucket memberships, both
  * localCheckpoint'd, the persisted-artifact pair a production
  * pipeline stores next to the corpus — and every micro-batch pays
  * batch-sized work only: the arriving vectors' buckets are one
  * map-side codegen pass ([[org.apache.spark.sql.graft
  * .HyperplaneBuckets]]), the probe is a stream-static equi-join on
  * (tbl, bucket), candidate dedup + best-candidate ranking stay
  * inside the micro-batch (no cross-batch state at all — the index IS
  * the state, and it lives in storage, not in the state store).
  *
  * Two surfaces:
  *  - [[triageBatch]] — the per-micro-batch core (also the batch-mode
  *    reference the spec pins row-parity against);
  *  - [[MicroBatch.start]] with it — wires it through foreachBatch,
  *    the standard production shape for per-batch join+agg pipelines.
  */
object StreamingAnn {

  /** Persisted corpus-side artifacts: (vec_id, q, qn) signatures and
    * the capped (tbl, bucket, vec_id) memberships. */
  final case class CorpusIndex(sig: DataFrame, buckets: DataFrame,
      tables: Int, bits: Int)

  /** Build the corpus index once, with the batch operator's own code:
    * the family's zero-norm signatures and the per-bucket
    * DETERMINISTICALLY capped memberships annCandidatePairs pairs
    * within ([[Dedup.annCappedBuckets]], lowest vec_ids), applied
    * corpus-side so a hot bucket costs every batch ≤ cap joins, not
    * pop joins. */
  def buildIndex(corpus: DataFrame, tables: Int, bits: Int,
      cap: Int): CorpusIndex = {
    val sig = VectorExpressions.signatures(corpus, col("vec_id"))
      .localCheckpoint(true)
    val buckets = Dedup.annCappedBuckets(sig, tables, bits, cap)
      .localCheckpoint(true)
    CorpusIndex(sig, buckets, tables, bits)
  }

  /** One micro-batch of triage: newVecs (vec_id, embedding) →
    * (vec_id, status, dup_of, cosine). Best candidate = max cosine,
    * ties to the LOWEST corpus id (the dd_incremental tie rule);
    * zero-norm arrivals are `novel` by definition (no cosine exists).
    * Pure batch semantics — callable directly or from foreachBatch. */
  def triageBatch(newVecs: DataFrame, idx: CorpusIndex,
      threshold: Double): DataFrame = {
    val nsig = VectorExpressions.signatures(newVecs, col("vec_id").as("n_id"))
    val nbuckets = nsig.select(col("n_id"),
      posexplode(org.apache.spark.sql.graft.HyperplaneBuckets
        .of(col("q"), idx.tables, idx.bits)).as(Seq("tbl", "bucket")))
    val cands = nbuckets
      .join(idx.buckets, Seq("tbl", "bucket"))
      .select(col("n_id"), col("vec_id").as("c_id")).distinct()
    val cos = VectorExpressions.cosine(col("q"), col("cq"), col("qn"), col("cn"))
    val best = cands
      .join(nsig, "n_id")
      .join(idx.sig.select(col("vec_id").as("c_id"), col("q").as("cq"),
        col("qn").as("cn")), "c_id")
      .select(col("n_id"), col("c_id"), cos.as("cosine"))
      .groupBy(col("n_id"))
      .agg(ArgMax2.of(col("cosine"), -col("c_id")).as("m"))
      .select(col("n_id"), (-col("m.tie")).as("cand"),
        col("m.ord").as("cosine"))
    newVecs.select(col("vec_id"))
      .join(best.withColumnRenamed("n_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("cosine") >= threshold, "near_dup")
          .otherwise("novel").as("status"),
        when(col("cosine") >= threshold, col("cand")).as("dup_of"),
        col("cosine"))
  }
}
