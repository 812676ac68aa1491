package graft.operators

import graft.functions.Cleaning._
import graft.model.Listing
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** EP3 — the agent dedup pipeline (SURVEY §3), the reference's one
  * real relational query (agent_manager.py:10-34 +
  * data_processing.py:8-40), as ONE Spark plan:
  *
  *   listings → project agent cols (P2) → filter non-empty phone (F3)
  *   → anti-join contacts on (first,last) (J1) → groupBy agent,
  *   sorted-distinct city join (A1) → orderBy (deterministic K3)
  *   → tag transform (E2/E12)
  *
  * The reference's CSV round-trip between the two stages
  * (data_processing.py:17 re-reads the file written at
  * agent_manager.py:34) disappears — both outputs derive from the same
  * lazy `unique` plan. Nothing is cached: each output's action
  * recomputes the anti-join, the aggregate and the sort from the
  * listings it is given. contacts is broadcast (small dim).
  */
object AgentPipeline {

  /** P2 + F3: 4-column agent projection of the listing state. */
  def scrapedAgents(listings: Dataset[Listing]): DataFrame =
    listings.toDF().select(
        col("agent_first_name").as("first_name"),
        col("agent_last_name").as("last_name"),
        normalizePhone(col("agent_phone")).as("phone"),
        col("city"))
      .filter(length(trim(col("agent_phone"))) > 0)

  /** J1 + A1: anti-join against contacts, aggregate cities. */
  def uniqueAgents(scraped: DataFrame, contacts: DataFrame): DataFrame =
    scraped
      .join(broadcast(contacts.select("first_name", "last_name")),
        Seq("first_name", "last_name"), "left_anti")
      .groupBy("first_name", "last_name", "phone")
      .agg(array_join(array_sort(collect_set(col("city"))), ", ").as("city"))
      .orderBy("first_name", "last_name", "phone")

  /** E2 + E12: capitalization + city-tag stage (update_city_tags). */
  def withCityTags(unique: DataFrame): DataFrame =
    unique
      .withColumn("first_name", capitalizeWords(col("first_name")))
      .withColumn("last_name", capitalizeWords(col("last_name")))
      .withColumn("tags",
        concat(tagList(col("city"), " Utah Market"), lit(", realtor")))
      .drop("city")

  /** Whole pipeline: (unique_utah_agents, tagged) — the two CSV sinks'
    * contents (K3 twice). */
  def run(listings: Dataset[Listing], contacts: DataFrame)
      : (DataFrame, DataFrame) = {
    val unique = uniqueAgents(scrapedAgents(listings), contacts)
    (unique, withCityTags(unique))
  }
}
