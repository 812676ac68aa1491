package graft.operators

import graft.model.{Listing, ListingEvent}
import graft.sinks.{GraphSink, GraphWriter}
import graft.sources.ListingSource
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** EP1/EP2 — the reference's main loop (SURVEY §3) as one composable
  * Spark DAG per cycle:
  *
  *   URE source (S1/S2) ∪ Trulia source (S4-S6, tagged TRULIA)
  *     → dropDuplicates(mls) (A4)
  *     → CDC against previous state (J2/J3/T2)
  *     → graph sink (K1, events drive the upsert)
  *     → new state (K2/S11 persistence is the caller's choice:
  *       checkpoint in streaming, CsvSinks.writeState in batch)
  *
  * The reference runs this serially per zip with per-row sink round
  * trips (main.py:109-138); here a cycle is two materialized frames:
  * sources parallelize per page partition, the union is free (no
  * shuffle), and the deduplicated batch is materialized once (every
  * page parsed once, one dedup shuffle on mls). The events are built
  * from that batch and materialized once too (the CDC full-outer join
  * against the previous state). Both materializations run inside
  * [[runCycle]], before it returns, with or without a writer;
  * the graph sink, the returned `events` and `newState`, and every
  * later consumer (agents, state dump, the next cycle's CDC) read
  * those blocks instead of re-parsing pages. They are local
  * checkpoints, not `cache()` entries, so nothing has to unpersist
  * them: Spark's ContextCleaner frees their blocks once the returned
  * Datasets are unreachable, and a long-running loop keeps at most
  * the current and the previous cycle. Trulia rows join the same
  * state machine instead of bypassing it (trulia_scraper.py:140 sends
  * every Trulia row as an unconditional new_listing).
  */
object ScrapePipeline {

  final case class CycleResult(
      events: Dataset[ListingEvent],
      newState: Dataset[Listing])

  def runCycle(
      spark: SparkSession,
      ure: ListingSource,
      trulia: ListingSource,
      zipCodes: Seq[String],
      prevState: Dataset[Listing],
      nowEpoch: Long,
      writer: Option[GraphWriter] = None): CycleResult = {
    import spark.implicits._

    val ureRows = ure.scan(spark, zipCodes)
    val truliaRows = trulia.scan(spark, zipCodes)
      .map(_.copy(source = "TRULIA"))

    // A4: dedup by key before the state probe. TRULIA wins a
    // cross-source conflict (it is scraped after URE in the reference
    // loop, main.py:117-127, so its row is the last write); the
    // remaining columns make the pick deterministic across retries
    // when a source emits the same mls twice.
    val batch = ureRows.union(truliaRows)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"mls")
          .orderBy($"source", $"price", $"foundDate", $"url")))
      .filter($"rn" === 1).drop("rn")
      .as[Listing]
      .localCheckpoint(true)

    val events = Cdc.batchEvents(prevState, batch, nowEpoch)
      .localCheckpoint(true)

    // K1: evented rows only, node props carry the event —
    // main.py:24-35 → database_ops.py:29-30 (MERGE = idempotent).
    writer.foreach(GraphSink.writeGraph(batch, events, nowEpoch, _))

    CycleResult(events, batch)
  }
}
