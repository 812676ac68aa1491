package graft.sinks

import graft.model.{Listing, ListingEvent}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** K1 — the property-graph sink (SURVEY §2.2), re-expressed as
  * relational derivations: the reference's 6 per-row Cypher MERGEs
  * (/root/reference/database_ops.py:14-90) become 3 deduplicated node
  * frames + 3 edge frames projected from one listing DataFrame, then
  * written per-partition through a pluggable [[GraphWriter]].
  *
  * Scale: dedup is one hash-aggregate per frame; the writer batches
  * one round-trip per partition (vs the reference's 6 round-trips per
  * ROW) and MERGE-by-key keeps the sink idempotent, closing the
  * reference's lost-write hole (T4) under at-least-once retry.
  */
object GraphSink {

  /** Listing node frame: listings keyed by mls, labeled by source (the
    * reference's dynamic node label, database_ops.py:15) and enriched
    * with their events — the reference's actual write path:
    * process_listing (main.py:24-35) sends ONLY evented listings
    * (new_listing / price_change), and send_to_neo4j SETs the event's
    * `status` + `additionalText` on the node (database_ops.py:29-30)
    * along with `price_change_date`/`price_change_percentage`, which
    * check_price_change_percentage (main.py:39-52) stamps on the
    * listing at event time. Off-market events have no row in the
    * current batch, so the inner join drops them — exactly the
    * reference, whose off-market hunter is disabled (main.py:9).
    *
    * Scale: one broadcast-or-shuffle join keyed by mls; events per
    * cycle ≪ batch, so Catalyst broadcasts the event side. */
  def eventedListingNodes(listings: Dataset[Listing],
      events: Dataset[ListingEvent], nowEpoch: Long): DataFrame = {
    val ev = events.toDF().select(
      col("mls"), col("status"), col("additionalText"),
      col("priceChangePct"))
    listings.toDF().dropDuplicates("mls")
      .join(ev, Seq("mls"))
      .withColumn("price_change_date",
        when(col("status") === "price_change",
          from_unixtime(lit(nowEpoch), "yyyy-MM-dd HH:mm:ss"))
          .otherwise(col("price_change_date")))
      .withColumn("price_change_percentage",
        when(col("status") === "price_change",
          coalesce(col("priceChangePct"), lit(0.0)))
          .otherwise(col("price_change_percentage")))
      .drop("priceChangePct")
      .withColumn("property_details_json", to_json(col("property_details")))
      .drop("property_details")
  }

  /** :Agent nodes keyed by (name, phone) (database_ops.py:61-64). */
  def agentNodes(listings: Dataset[Listing]): DataFrame =
    listings.toDF()
      .select(col("agent_name").as("name"), col("agent_phone").as("phone"))
      .filter(col("name").isNotNull && length(trim(col("name"))) > 0)
      .dropDuplicates("name", "phone")

  /** :Broker nodes keyed by (name, phone) (database_ops.py:67-70). */
  def brokerNodes(listings: Dataset[Listing]): DataFrame =
    listings.toDF()
      .select(col("broker_name").as("name"), col("broker_phone").as("phone"))
      .filter(col("name").isNotNull && length(trim(col("name"))) > 0)
      .dropDuplicates("name", "phone")

  /** Edge frames carry business keys; the writer resolves endpoints
    * (database_ops.py:73-90). */
  def agentOfEdges(listings: Dataset[Listing]): DataFrame =
    listings.toDF()
      .filter(col("agent_name").isNotNull)
      .select(col("agent_name").as("src_name"),
        col("agent_phone").as("src_phone"), col("mls").as("dst_mls"))
      .dropDuplicates()

  def brokeredByEdges(listings: Dataset[Listing]): DataFrame =
    listings.toDF()
      .filter(col("broker_name").isNotNull)
      .select(col("mls").as("src_mls"), col("broker_name").as("dst_name"),
        col("broker_phone").as("dst_phone"))
      .dropDuplicates()

  def worksForEdges(listings: Dataset[Listing]): DataFrame =
    listings.toDF()
      .filter(col("agent_name").isNotNull && col("broker_name").isNotNull)
      .select(col("agent_name").as("src_name"),
        col("agent_phone").as("src_phone"),
        col("broker_name").as("dst_name"),
        col("broker_phone").as("dst_phone"))
      .dropDuplicates()

  /** Reference-faithful cycle write (K1): only evented listings reach
    * the sink, and listing nodes carry the event props — the dataflow
    * of main.py:24-35 → database_ops.py:14-58. Agent/Broker nodes and
    * all edges likewise derive from the evented subset only, since the
    * reference MERGEs them inside the same send_to_neo4j call. */
  def writeGraph(listings: Dataset[Listing], events: Dataset[ListingEvent],
      nowEpoch: Long, writer: GraphWriter): Unit = {
    val spark = listings.sparkSession
    import spark.implicits._
    val evented = listings
      .join(events.toDF().select("mls").dropDuplicates("mls"),
        Seq("mls"), "left_semi")
      .as[Listing]
      .cache()
    try {
      writer.write(eventedListingNodes(evented, events, nowEpoch),
        Map("labels" -> ":Listing", "node.keys" -> "mls"))
      writer.write(agentNodes(evented),
        Map("labels" -> ":Agent", "node.keys" -> "name,phone"))
      writer.write(brokerNodes(evented),
        Map("labels" -> ":Broker", "node.keys" -> "name,phone"))
      writer.write(agentOfEdges(evented), Map("relationship" -> "AGENT_OF"))
      writer.write(brokeredByEdges(evented), Map("relationship" -> "BROKERED_BY"))
      writer.write(worksForEdges(evented), Map("relationship" -> "WORKS_FOR"))
    } finally evented.unpersist()
  }
}

/** Pluggable graph writer. The production impl would batch MERGE
  * statements per partition over a pooled Bolt connection; tests use
  * [[InMemoryGraphWriter]].
  *
  * [[write]] is the connector-shaped surface (SURVEY §7.2 M3): an
  * options map mirroring the public Neo4j Spark connector's
  * `labels` / `node.keys` / `relationship` option names, so swapping
  * the in-memory writer for a real connector is a config change, not
  * a code change. */
trait GraphWriter extends Serializable {
  def writeNodes(nodes: DataFrame, label: String, keys: Seq[String]): Unit
  def writeEdges(edges: DataFrame, relType: String): Unit

  /** Connector option surface: either `labels` (":Label") +
    * `node.keys` ("k1,k2") for a node write, or `relationship`
    * ("REL_TYPE") for an edge write. */
  def write(df: DataFrame, options: Map[String, String]): Unit =
    options.get("relationship") match {
      case Some(rel) => writeEdges(df, rel)
      case None =>
        val label = options.getOrElse("labels",
          throw new IllegalArgumentException(
            "GraphWriter.write needs 'labels' or 'relationship'"))
          .stripPrefix(":")
        val keys = options.getOrElse("node.keys",
          throw new IllegalArgumentException(
            "node write needs 'node.keys'"))
          .split(",").map(_.trim).toSeq
        writeNodes(df, label, keys)
    }
}

/** Test/local writer: collects per-partition batches into a static
  * store (valid in local mode where executors share the JVM); MERGE
  * semantics = last-write-wins by key, exercised by the specs. */
class InMemoryGraphWriter extends GraphWriter {
  import InMemoryGraphWriter._

  def writeNodes(nodes: DataFrame, label: String, keys: Seq[String]): Unit = {
    val cols = nodes.columns
    nodes.foreachPartition { rows: Iterator[Row] =>
      rows.foreach { r =>
        val all = cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap
        val key = label + "|" + keys.map(k => String.valueOf(all(k))).mkString("|")
        store.put(key, all) // MERGE: upsert by business key
      }
    }
  }

  def writeEdges(edges: DataFrame, relType: String): Unit = {
    val cols = edges.columns
    edges.foreachPartition { rows: Iterator[Row] =>
      rows.foreach { r =>
        val all = cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap
        val key = relType + "|" + cols.sorted.map(c => String.valueOf(all(c))).mkString("|")
        store.put(key, all)
      }
    }
  }
}

object InMemoryGraphWriter {
  val store = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Any]]()
  def clear(): Unit = store.clear()
  def keysWithPrefix(p: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    store.keySet().asScala.filter(_.startsWith(p)).toSeq
  }
}
