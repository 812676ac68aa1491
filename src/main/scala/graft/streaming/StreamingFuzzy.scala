package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming twin of the entity-resolution family (`dd_fuzzy_join` /
  * `dd_fuzzy_canonical`), and the catalog member of the
  * streaming-triage family ([[StreamingDedup.triageAgainstCorpus]]
  * for exact text, [[StreamingAnn]] for embeddings, [[StreamingPhash]]
  * for media): names arriving on a stream are triaged per micro-batch
  * against the existing catalog — `exact` (already present),
  * `fuzzy_dup` (within tau edits; `canonical` = best mate, smallest
  * distance then lexicographic), or `novel`. This is the master-data
  * ingest gate: merge near-identical product names at the door
  * instead of re-canonicalizing the catalog nightly.
  *
  * Blocking mirrors the batch operator exactly: arrivals meet catalog
  * names through shared character trigrams (complete when both sides
  * ≥ 3·tau + 3 chars — the same pigeonhole bound), plus the
  * short-name sidecar against the catalog's bounded sub-(minLong+tau)
  * slice. The gram index, short slice and exact-name set are built
  * ONCE and localCheckpoint'd (persisted-artifact shapes, all
  * catalog-sized); each micro-batch pays batch-sized work only and
  * carries no cross-batch state. Verification is the same banded
  * levenshtein(_, _, tau) kernel as batch. */
object StreamingFuzzy {

  final case class CatalogIndex(exact: DataFrame, grams: DataFrame,
      shortSlice: DataFrame, tau: Int) {
    def minLong: Int = 3 * tau + 3
  }

  /** Distinct character trigrams of a name. */
  private def trigrams(name: Column): Column =
    array_distinct(transform(sequence(lit(1), length(name) - 2),
      i => name.substr(i, lit(3))))

  def buildIndex(catalog: DataFrame, tau: Int): CatalogIndex = {
    val minLong = 3 * tau + 3
    val cat = catalog.select(col("name")).distinct().localCheckpoint(true)
    val grams = cat
      .filter(length(col("name")) >= minLong)
      .select(col("name").as("cand"),
        explode(trigrams(col("name"))).as("gram"))
      .localCheckpoint(true)
    val shortSlice = cat
      .filter(length(col("name")) <= minLong + tau - 1)
      .select(col("name").as("cand"))
      .localCheckpoint(true)
    CatalogIndex(cat, grams, shortSlice, tau)
  }

  /** One micro-batch: arrivals with a `name` column → (name, status,
    * canonical, lev). Pure batch semantics — callable from
    * foreachBatch. */
  def triageBatch(arrivals: DataFrame, idx: CatalogIndex): DataFrame = {
    val tau = idx.tau
    val minLong = idx.minLong
    val names = arrivals.select(col("name")).distinct()
    val longCands = names
      .filter(length(col("name")) >= minLong)
      .select(col("name"), explode(trigrams(col("name"))).as("gram"))
      .join(broadcast(idx.grams), Seq("gram"))
      .select(col("name"), col("cand"))
    val shortCands = names
      .filter(length(col("name")) <= minLong + tau - 1)
      .crossJoin(broadcast(idx.shortSlice))
      .filter(least(length(col("name")), length(col("cand"))) < minLong)
      .select(col("name"), col("cand"))
    val best = longCands.unionByName(shortCands)
      .filter(col("cand") =!= col("name") &&
        abs(length(col("name")) - length(col("cand"))) <= tau)
      .distinct()
      .withColumn("lev0", levenshtein(col("name"), col("cand"), tau))
      .filter(col("lev0") >= 0)
      .groupBy(col("name"))
      .agg(min(struct(col("lev0"), col("cand"))).as("m"))
      .select(col("name"), col("m.cand").as("cand"),
        col("m.lev0").cast("long").as("lev0"))
    names
      .join(broadcast(idx.exact.withColumn("present", lit(true))),
        Seq("name"), "left")
      .join(best, Seq("name"), "left")
      .select(col("name"),
        when(col("present"), "exact")
          .when(col("cand").isNotNull, "fuzzy_dup")
          .otherwise("novel").as("status"),
        when(coalesce(col("present"), lit(false)), lit(null))
          .otherwise(col("cand")).as("canonical"),
        when(coalesce(col("present"), lit(false)), lit(null))
          .otherwise(col("lev0")).as("lev"))
  }
}
