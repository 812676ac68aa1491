package graft.streaming

import graft.queries.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming PQ encoding — the compression twin of [[StreamingAnn]]:
  * vectors arriving on a stream are coded per micro-batch against the
  * CORPUS's persisted product-quantization codebooks
  * ([[graft.queries.Similarity]] `sim_pq_codes` trains the identical
  * books), the production shape where codebooks are trained once on a
  * representative corpus and every ingested vector is compressed to
  * its 2-byte code on arrival — the ADC index stays append-only,
  * nothing retrains on the hot path. Retraining as the distribution
  * drifts is the landed table's batch job, exactly like
  * dd_incremental's contract.
  *
  * Scale shape: the index is 4 × 16 sum-vectors (localCheckpoint'd —
  * trivially broadcast-sized, that is the point of a codebook);
  * every micro-batch pays batch-sized work only — slice + quantize
  * map-side, a broadcast crossJoin argmax per subspace, one id join
  * to compose codes. No cross-batch state at all — the codebooks ARE
  * the state, and they live in storage, not in the state store.
  */
object StreamingPq {

  /** Persisted corpus-side artifact: the trained (cell, cv) codebook
    * per subspace. */
  final case class PqIndex(books: Seq[DataFrame])

  /** Train the codebooks once from the corpus embeddings
    * (vec_id, embedding) — the exact sim_pq_codes training. */
  def buildIndex(corpus: DataFrame): PqIndex =
    PqIndex(Similarity.pqTrainOn(corpus).map(_._2))

  /** The production variant: read the codebooks from an ATTACHED
    * [[graft.tools.Artifacts]] set (`pq_books`, materialized from
    * dataset `d`) instead of retraining — the ingest job opens the
    * persisted tokenizer-style artifact, it never trains. None when
    * no matching artifact set is attached. */
  def attachedIndex(spark: org.apache.spark.sql.SparkSession,
      d: String): Option[PqIndex] =
    graft.tools.Artifacts.lookup(spark, d, "pq_books").map { books =>
      PqIndex((0 until 4).map(j =>
        books.filter(org.apache.spark.sql.functions.col("j") === j)
          .select(org.apache.spark.sql.functions.col("cell"),
            org.apache.spark.sql.functions.col("cv"))))
    }

  /** One micro-batch of encoding: newVecs (vec_id, embedding) →
    * (vec_id, code_0..code_3, packed). Bit-identical to sim_pq_codes
    * when run over the training corpus itself (spec-pinned);
    * zero-norm arrivals are dropped like everywhere in the cosine
    * family. Pure batch semantics — callable directly or from
    * foreachBatch. */
  def encodeBatch(newVecs: DataFrame, idx: PqIndex): DataFrame = {
    val codes = Similarity.pqSubvectors(newVecs).zip(idx.books)
      .zipWithIndex.map { case ((ej, book), j) =>
        Similarity.pqAssignTo(ej, book)
          .withColumnRenamed("cell", s"code_$j")
      }
    codes.reduce(_.join(_, "vec_id"))
      .select(col("vec_id"), col("code_0"), col("code_1"), col("code_2"),
        col("code_3"),
        (col("code_0") + col("code_1") * 16 + col("code_2") * 256 +
          col("code_3") * 4096).as("packed"))
  }
}
