package graft.streaming

import graft.queries.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming exact deduplication — the streaming twin of `dd_exact`
  * for a continuously-arriving document stream (the ingest edge of a
  * training-data pipeline).
  *
  * Content fingerprint = md5 of whitespace-normalized text, the batch
  * queries' own [[Dedup.fingerprintExpr]], deduped with
  * `dropDuplicatesWithinWatermark`: state holds one fingerprint per
  * unique document and is EVICTED once the watermark passes it —
  * bounded state at 100 TB/day ingest, unlike a plain
  * `dropDuplicates` whose state grows forever. The documented
  * tradeoff: a duplicate arriving later than the watermark delay
  * re-emits (at-least-once dedup), which downstream batch dedup
  * (dd_exact over the landed table) mops up.
  */
object StreamingDedup {

  def dedupByFingerprint(docs: DataFrame, tsCol: String,
      watermarkDelay: String): DataFrame =
    docs
      .withColumn("fp", Dedup.fingerprintExpr)
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming twin of `dd_incremental`'s exact triage: each arriving
    * document is classified `exact_dup` (same normalized-text
    * fingerprint as a corpus doc, with the lowest such corpus id) or
    * `novel`, via a stream-static left join against the corpus
    * fingerprint table — the batch query's own exact-of
    * ([[Dedup.lowestIdPerFp]]) and verdict ([[Dedup.triageVerdict]])
    * with no near half.
    *
    * Scale shape: the static side is the PERSISTED fingerprint
    * artifact (16-byte md5 + id per corpus doc) and is broadcast —
    * the stream side never shuffles and carries no state; re-planned
    * per micro-batch, so a corpus refresh is picked up on the next
    * batch. At corpus sizes past broadcast range the same plan runs
    * as a shuffled stream-static join keyed on fp. */
  def triageAgainstCorpus(docs: DataFrame, corpus: DataFrame): DataFrame = {
    val corpusFp =
      Dedup.lowestIdPerFp(Dedup.fingerprintTable(corpus), "exact_of")
    docs
      .withColumn("fp", Dedup.fingerprintExpr)
      .join(broadcast(corpusFp), Seq("fp"), "left")
      .select(col("*") +:
        Dedup.triageVerdict(col("exact_of"), lit(null).cast("long")): _*)
      .drop("exact_of")
  }
}
