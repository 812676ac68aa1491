package graft

import graft.model.Listing
import graft.operators.Cdc

/** T2/T5/J2/J3 semantics: the scripted 3-cycle scenario from SURVEY §5
  * (new → price change → disappear) plus idempotence and restore from
  * the state snapshot. The streaming form's cases are in
  * CdcEventTimeSpec and CdcRecoverySpec. */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  private val now = 1700000000L // fixed clock (E10 determinism)
  private val day = 86400L

  test("batch CDC: new → price_change → off_market over 3 cycles") {
    val a1 = Listing.minimal("A", 100000, foundDate = now - 10 * day)
    val b1 = Listing.minimal("B", 200000, foundDate = now - 5 * day)
    val cycles = Seq(
      Seq(a1, b1),                       // both new
      Seq(a1.copy(price = 90000), b1),   // A price drop, B unchanged
      Seq(b1))                           // A gone
    val (lazyEvents, state) = Cdc.replay(spark, cycles, now)
    val events = lazyEvents.map(_.collect().toSeq) // caller materializes

    assert(events(0).map(e => (e.mls, e.status)).sorted ==
      Seq(("A", "new_listing"), ("B", "new_listing")))

    assert(events(1).map(e => (e.mls, e.status)) == Seq(("A", "price_change")))
    val pc = events(1).head
    assert(pc.oldPrice.contains(100000L))
    assert(math.abs(pc.priceChangePct.get - -10.0) < 1e-9)
    assert(pc.additionalText.get.contains("100000") && pc.additionalText.get.contains("90000"))

    assert(events(2).map(e => (e.mls, e.status)) == Seq(("A", "off_market")))
    assert(events(2).head.timeOnMarketDays.contains(10))

    assert(state.collect().map(_.mls).toSeq == Seq("B"))
  }

  test("batch CDC idempotence: identical batch re-emits zero events (T5)") {
    val batch = Seq(Listing.minimal("X", 1), Listing.minimal("Y", 2))
    val (events, _) = Cdc.replay(spark, Seq(batch, batch), now)
    assert(events(0).count() == 2)
    assert(events(1).isEmpty)
  }

  test("price change from a 0-sentinel old price emits no pct (E7 guard)") {
    val prev = Seq(Listing.minimal("Z", 0)).toDS()
    val cur = Seq(Listing.minimal("Z", 500)).toDS()
    val ev = Cdc.batchEvents(prev, cur, now).collect()
    assert(ev.length == 1 && ev.head.status == "price_change")
    assert(ev.head.priceChangePct.isEmpty)
    assert(ev.head.additionalText.contains("Price changed from 0 to 500"))
  }

  test("batch CDC invariant: event count ≤ prev ∪ cur key count") {
    val prev = Seq(Listing.minimal("A", 1), Listing.minimal("B", 2)).toDS()
    val cur = Seq(Listing.minimal("B", 3), Listing.minimal("C", 4)).toDS()
    val ev = Cdc.batchEvents(prev, cur, now).collect()
    assert(ev.length <= 3)
    assert(ev.map(e => (e.mls, e.status)).sorted.toSeq ==
      Seq(("A", "off_market"), ("B", "price_change"), ("C", "new_listing")))
  }

  test("S11/T3: a cycle restored from the K2 JSON snapshot keeps continuity") {
    // the reference loads SavedListings.json BEFORE polling (main.py:98):
    // a price change across a restart must be a price_change, never a
    // new_listing. The cycle's path: the state goes out through
    // writeState, comes back through readState, and batchEvents probes it.
    val dir = java.nio.file.Files.createTempDirectory("cdc_boot").toString + "/st"
    graft.sinks.CsvSinks.writeState(
      Seq(Listing.minimal("A", 100, foundDate = now - day)).toDS(), dir)
    val restored = graft.sinks.CsvSinks.readState(spark, dir)
    val cur = Seq(Listing.minimal("A", 80), Listing.minimal("B", 50)).toDS()
    val ev = Cdc.batchEvents(restored, cur, now).collect()
    assert(ev.map(e => (e.mls, e.status)).sorted.toSeq ==
      Seq(("A", "price_change"), ("B", "new_listing")))
    // old price came from the snapshot
    assert(ev.find(_.mls == "A").get.oldPrice.contains(100L))
  }

  test("SCD-2: repeated values collapse, intervals chain, one current row") {
    // user 1: 10 → 10 → 20 → 10 (3 versions; middle repeat collapses)
    // user 2: constant 5 across 3 events (1 version)
    val ev = Seq(
      (1L, 101L, 1000L, 10.0), (1L, 102L, 2000L, 10.0),
      (1L, 103L, 3000L, 20.0), (1L, 104L, 4000L, 10.0),
      (2L, 201L, 1500L, 5.0), (2L, 202L, 2500L, 5.0), (2L, 203L, 3500L, 5.0))
      .toDF("user_id", "event_id", "sec", "value")
    val dim = graft.queries.Cdc.scd2(ev).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4),
        r.getBoolean(5)))
      .sortBy(t => (t._1, t._5))
    assert(dim.toSeq == Seq(
      (1L, 10.0, 1000L, Some(3000L), 1L, false),
      (1L, 20.0, 3000L, Some(4000L), 2L, false),
      (1L, 10.0, 4000L, None, 3L, true),
      (2L, 5.0, 1500L, None, 1L, true)))
    // invariants: versions chain (valid_to == next valid_from) and
    // exactly one open row per user
    dim.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.count(_._6) == 1)
      rows.sortBy(_._5).sliding(2).foreach {
        case Array(a, b) => assert(a._4.contains(b._3))
        case _ =>
      }
    }
  }

  test("PIT join: no future leakage, same-second change visible, cold start null") {
    // user 1 views set value 10 @1000, 20 @3000; purchases @2000, @3000, @500
    val ev = Seq(
      (1L, 1L, 1000L, 10.0, "view"), (1L, 2L, 3000L, 20.0, "view"),
      (1L, 11L, 2000L, 99.0, "purchase"),  // must see 10, NOT the future 20
      (1L, 12L, 3000L, 99.0, "purchase"),  // same-second change IS visible
      (1L, 13L, 500L, 99.0, "purchase"))   // before any version → nulls
      .toDF("user_id", "event_id", "sec", "value", "event_type")
    val got = graft.queries.Cdc.pitJoin(ev).collect()
      .map(r => (r.getLong(0),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Long])))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (11L, Some(10.0), Some(1L)),
      (12L, Some(20.0), Some(2L)),
      (13L, None, None)))
  }
}
