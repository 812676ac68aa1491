package graft

import graft.model.{Listing, ListingEvent}
import graft.sinks.{GraphSink, InMemoryGraphWriter}

/** K1 semantics: one listing frame → 3 deduplicated node frames + 3
  * edge frames; MERGE idempotence on re-write. */
class GraphSinkSpec extends SparkSpec {
  import spark.implicits._

  private def listings = Seq(
    Listing.minimal("M1", 100, agentName = Some("Jane Doe"),
      agentPhone = Some("1")).copy(broker_name = Some("Acme"),
      broker_phone = Some("9")),
    Listing.minimal("M2", 200, agentName = Some("Jane Doe"),
      agentPhone = Some("1")).copy(broker_name = Some("Acme"),
      broker_phone = Some("9")),
    Listing.minimal("M1", 150, agentName = Some("Jane Doe"), // dup mls
      agentPhone = Some("1")),
    Listing.minimal("M3", 300, source = "TRULIA"), // no agent/broker
  ).toDS()

  private val now = 1700000000L // 2023-11-14 22:13:20 UTC

  /** One new_listing event per listed mls (M1, M2, M3). */
  private def newListings = Seq("M1", "M2", "M3").map(m =>
    ListingEvent(m, "new_listing", None, 0, None, None, None, "URE")).toDS()

  test("node frames dedupe by business key; empty names filtered") {
    val ln = GraphSink.eventedListingNodes(listings, newListings, now)
    assert(ln.count() == 3)                               // M1 deduped
    assert(GraphSink.agentNodes(listings).count() == 1)   // one Jane
    assert(GraphSink.brokerNodes(listings).count() == 1)  // one Acme
    assert(ln.columns.contains("property_details_json")) // E13 map→json
    assert(!ln.columns.contains("property_details"))
  }

  test("edge frames carry business keys, dedupe, skip null endpoints") {
    // Jane→M1 appears twice (dup mls row) and collapses; Jane→M2 stays
    assert(GraphSink.agentOfEdges(listings).count() == 2)
    assert(GraphSink.brokeredByEdges(listings).count() == 2) // M1→Acme, M2→Acme
    assert(GraphSink.worksForEdges(listings).count() == 1)   // Jane→Acme
  }

  test("writeGraph: MERGE idempotence — double write, same store") {
    InMemoryGraphWriter.clear()
    val w = new InMemoryGraphWriter
    GraphSink.writeGraph(listings, newListings, now, w)
    val afterFirst = InMemoryGraphWriter.store.size()
    GraphSink.writeGraph(listings, newListings, now, w)
    assert(InMemoryGraphWriter.store.size() == afterFirst)
    assert(InMemoryGraphWriter.keysWithPrefix("Listing|").size == 3)
    assert(InMemoryGraphWriter.keysWithPrefix("Agent|").size == 1)
    assert(InMemoryGraphWriter.keysWithPrefix("Broker|").size == 1)
    assert(InMemoryGraphWriter.keysWithPrefix("AGENT_OF|").nonEmpty)
    assert(InMemoryGraphWriter.keysWithPrefix("WORKS_FOR|").size == 1)
  }

  test("evented node frame carries event props (database_ops.py:29-37)") {
    val batch = Seq(
      Listing.minimal("M1", 90000),
      Listing.minimal("M2", 200)). // no event → not written
      toDS()
    val events = Seq(ListingEvent("M1", "price_change",
      Some("Price changed from 100000 to 90000 (-10.00%)"),
      90000, Some(100000L), Some(-10.0), None, "URE")).toDS()
    val nodes = GraphSink.eventedListingNodes(batch, events, now)
    val rows = nodes.collect()
    assert(rows.length == 1) // only evented listings reach the sink
    val m1 = rows.head
    assert(m1.getAs[String]("status") == "price_change")
    assert(m1.getAs[String]("additionalText").contains("90000"))
    assert(m1.getAs[String]("price_change_date") == "2023-11-14 22:13:20")
    assert(math.abs(m1.getAs[Double]("price_change_percentage") + 10.0) < 1e-9)
    // the full 27-prop node SET is reproducible field-for-field
    assert(nodes.columns.contains("expiration_date"))
  }

  test("new_listing keeps sentinel price-change props (main.py:33)") {
    val batch = Seq(Listing.minimal("M9", 500)).toDS()
    val events = Seq(ListingEvent("M9", "new_listing", None, 500,
      None, None, None, "URE")).toDS()
    val m9 = GraphSink.eventedListingNodes(batch, events, now).collect().head
    assert(m9.getAs[String]("status") == "new_listing")
    assert(m9.getAs[String]("additionalText") == null)
    assert(m9.getAs[String]("price_change_date") == null)
    assert(m9.getAs[Double]("price_change_percentage") == 0.0)
  }

  test("writer option surface routes labels/node.keys vs relationship") {
    InMemoryGraphWriter.clear()
    val w = new InMemoryGraphWriter
    val ln = GraphSink.eventedListingNodes(listings, newListings, now)
    w.write(ln, Map("labels" -> ":Listing", "node.keys" -> "mls"))
    assert(InMemoryGraphWriter.keysWithPrefix("Listing|").size == 3)
    w.write(GraphSink.agentNodes(listings),
      Map("labels" -> ":Agent", "node.keys" -> "name,phone"))
    assert(InMemoryGraphWriter.keysWithPrefix("Agent|").size == 1)
    w.write(GraphSink.agentOfEdges(listings),
      Map("relationship" -> "AGENT_OF"))
    assert(InMemoryGraphWriter.keysWithPrefix("AGENT_OF|").size == 2)
    intercept[IllegalArgumentException] { // neither labels nor relationship
      w.write(ln, Map.empty)
    }
    intercept[IllegalArgumentException] { // labels without node.keys
      w.write(ln, Map("labels" -> ":Listing"))
    }
  }

  test("event-aware writeGraph sinks only the evented subgraph") {
    InMemoryGraphWriter.clear()
    val w = new InMemoryGraphWriter
    val events = Seq(
      ListingEvent("M1", "new_listing", None, 100, None, None, None, "URE"),
      ListingEvent("GONE", "off_market", None, 1, None, None, Some(3), "URE"))
      .toDS()
    GraphSink.writeGraph(listings, events, now, w)
    // M1 evented; M2/M3 not; GONE absent from the batch → dropped
    assert(InMemoryGraphWriter.keysWithPrefix("Listing|").size == 1)
    assert(InMemoryGraphWriter.keysWithPrefix("Listing|M1").size == 1)
    assert(InMemoryGraphWriter.keysWithPrefix("Agent|").size == 1)
  }
}
