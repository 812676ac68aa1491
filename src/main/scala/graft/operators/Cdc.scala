package graft.operators

import graft.model.{Listing, ListingEvent}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful change-data-capture (SURVEY §2.9 T2, §2.4 J2/J3):
  * the reference's per-key dict probe (main.py:14-37) and off-market
  * sweep (hunter.py:336-354) as Spark operators.
  *
  * Two forms:
  *  - [[batchEvents]]: previous ⟗ current full-outer join — the form
  *    `ScrapePipeline.runCycle` runs.
  *  - [[streamingEventsEventTime]]: flatMapGroupsWithState keyed by
  *    mls — state is the last-seen Listing; transitions emit typed
  *    events, and a key goes off_market when the watermark passes its
  *    last sighting plus a staleness bound (the streaming analog of
  *    "state key absent from this cycle"). Its output depends only on
  *    its input, never on the wall clock.
  *
  * Scale: both shuffle once on mls (hash partition); state store is
  * per-key and incremental — no per-cycle full-state rewrite like the
  * reference's SavedListings.json dump (main.py:144-171).
  */
object Cdc {

  /** Event derivation shared by both forms, matching
    * check_price_change_percentage (main.py:39-52). */
  private def priceChange(newL: Listing, old: Listing): ListingEvent = {
    // E7 discipline: a state row whose price failed to parse carries the
    // 0 sentinel — guard the divide instead of emitting Infinity/NaN.
    val pct =
      if (old.price == 0L) None
      else Some((newL.price - old.price).toDouble / old.price * 100)
    val pctTxt = pct.map(p => f" ($p%.2f%%)").getOrElse("")
    ListingEvent(newL.mls, "price_change",
      Some(s"Price changed from ${old.price} to ${newL.price}$pctTxt"),
      newL.price, Some(old.price), pct, None, newL.source)
  }

  def batchEvents(prev: Dataset[Listing], cur: Dataset[Listing],
      nowEpoch: Long): Dataset[ListingEvent] = {
    val spark = prev.sparkSession
    import spark.implicits._
    prev.as("p").joinWith(cur.as("c"), $"p.mls" === $"c.mls", "full_outer")
      .flatMap { case (old, newL) =>
        (Option(old), Option(newL)) match {
          case (None, Some(n)) =>
            Some(ListingEvent(n.mls, "new_listing", None, n.price, None,
              None, None, n.source))
          case (Some(o), Some(n)) if n.price != o.price =>
            Some(priceChange(n, o))
          case (Some(o), None) =>
            val days = ((nowEpoch - o.foundDate) / 86400).toInt
            Some(ListingEvent(o.mls, "off_market", None, o.price, None,
              None, Some(days), o.source))
          case _ => None // unchanged → no-op (T5)
        }
      }
  }

  /** A listing observation with its EVENT time — the input shape of
    * [[streamingEventsEventTime]]. `ts` is when the listing was seen
    * on the source (scrape time in the reference's world), not when
    * the row reached the engine. */
  final case class Sighting(ts: java.sql.Timestamp, listing: Listing)

  /** Per-key state for the event-time CDC: last-seen listing and the
    * event-time MILLISECOND of that sighting. Millisecond (not
    * second) granularity so a genuine price change arriving <1s after
    * the applied sighting — same floor-second, later ms — is applied,
    * not silently dropped (ADVICE r10). Off-market timing still
    * quantizes to the floor second (the documented day math), so this
    * widens what is APPLIED without moving any emitted timestamp.
    *
    * `stateVer` exists for exactly one reason: Spark's state-store
    * schema check compares TYPES ignoring field names, so when
    * lastSeenSec became lastSeenMs (same Long slot) a restart from a
    * checkpoint written by the seconds-granularity build would have
    * LOADED seconds and read them as milliseconds — floorDiv(ms,1000)
    * collapses to ~1970, the timeout clamps to watermark+1, and the
    * operator silently emits spurious off_market events with absurd
    * day counts (ADVICE r11). The extra INT field changes the state
    * schema's SHAPE, which the checker does compare — so restarting
    * over an old checkpoint now fails fast with
    * StateSchemaNotCompatible (spec-pinned) instead of corrupting
    * timers. Bump [[Cdc.StateVer]] on any future reinterpretation of
    * an existing slot; same-shape reinterpretations must also change
    * the field count or a field type, or the checker cannot see them. */
  final case class SeenState(listing: Listing, lastSeenMs: Long,
      stateVer: Int)

  /** Event-time CDC state schema version — v2 = millisecond
    * `lastSeenMs` (v1, implicit: two fields, second granularity). */
  val StateVer: Int = 2

  /** EVENT-TIME CDC — the streaming form. A processing-time timeout
    * would expire a key some WALL-CLOCK time after its last sighting,
    * so replaying a historical log would emit off_market at whatever
    * speed the replay runs — nondeterministic evidence. This form
    * keys everything to the data: a listing goes off_market when the
    * WATERMARK passes lastSeen + `stalenessSec`
    * (`GroupStateTimeout.EventTimeTimeout` + `setTimeoutTimestamp`,
    * the StreamingGapFill timer pattern), and days-on-market is
    * computed from event time
    * ((lastSeen + staleness − foundDate) / 86400), so the SAME input
    * log produces the SAME events — including expiry timing — no
    * matter when or how fast it is replayed (spec-pinned, including a
    * kill/restart across the expiry).
    *
    * Within a micro-batch, a key's sightings are processed in
    * (ts, price) order — arrival order inside a batch is not part of
    * the contract, replay determinism is. Rows later than the
    * watermark are dropped by the standard watermark contract.
    *
    * Scale shape: one hash shuffle on mls, per-key state is one
    * listing + one long; the timer adds nothing per row. */
  def streamingEventsEventTime(sightings: Dataset[Sighting],
      stalenessSec: Long, watermarkDelay: String = "0 seconds")
      : Dataset[ListingEvent] = {
    val spark = sightings.sparkSession
    import spark.implicits._
    sightings.withWatermark("ts", watermarkDelay)
      .groupByKey(_.listing.mls)
      .flatMapGroupsWithState[SeenState, ListingEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[SeenState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            // schema-compatible state from a different interpretation
            // epoch must never be read silently (see SeenState scaladoc)
            require(st.stateVer == StateVer,
              s"event-time CDC state version ${st.stateVer} != $StateVer")
            state.remove()
            val offSec = Math.floorDiv(st.lastSeenMs, 1000L) + stalenessSec
            val days = ((offSec - st.listing.foundDate) / 86400).toInt
            Iterator.single(ListingEvent(st.listing.mls, "off_market",
              None, st.listing.price, None, None, Some(days),
              st.listing.source))
          } else {
            val sorted = rows.toVector
              .sortBy(s => (s.ts.getTime, s.listing.price))
            var st = state.getOption
            st.foreach(v => require(v.stateVer == StateVer,
              s"event-time CDC state version ${v.stateVer} != $StateVer"))
            val out = Vector.newBuilder[ListingEvent]
            sorted.foreach { s =>
              val n = s.listing
              val ms = s.ts.getTime
              // State only ever ADVANCES in event time: a sighting at
              // or before the last-applied MILLISECOND is stale — a
              // late cross-batch arrival under watermarkDelay > 0, or
              // a committed-offset replay after restart — and applying
              // it would regress the state's listing to an older
              // snapshot while lastSeenMs kept the max (inverted
              // price_change events, wrong off_market snapshot;
              // ADVICE r9). Dropping it is also what makes the output
              // independent of HOW the log was batched: any split of
              // the same sightings yields the same applied
              // subsequence. Millisecond granularity (ADVICE r10)
              // means a real change <1s after the applied sighting is
              // applied, matching the per-sighting batch twin.
              // (Equal-ms duplicates within one batch collapse to the
              // first in (ts, price) order — the deterministic tie.)
              if (st.forall(_.lastSeenMs < ms)) {
                st match {
                  case None =>
                    out += ListingEvent(n.mls, "new_listing", None, n.price,
                      None, None, None, n.source)
                  case Some(o) if n.price != o.listing.price =>
                    out += priceChange(n, o.listing)
                  case _ => () // unchanged → no-op (T5)
                }
                st = Some(SeenState(n, ms, StateVer))
              }
            }
            st.foreach { v =>
              state.update(v)
              // wake when the watermark passes staleness past the last
              // sighting; clamp above the current watermark (Spark
              // rejects a timeout already in the past)
              state.setTimeoutTimestamp(
                math.max((Math.floorDiv(v.lastSeenMs, 1000L) +
                    stalenessSec) * 1000L,
                  state.getCurrentWatermarkMs() + 1L))
            }
            out.result().iterator
          }
      }
  }

  /** Convenience: replay a deterministic sequence of micro-batches
    * through the batch CDC, threading state like the reference's
    * poll loop (main.py:109-138). Returns (events per cycle, final
    * state) as LAZY Datasets — callers choose when/whether to
    * materialize, so an unbounded event cycle never lands on the
    * driver. Driver-side loop over CYCLES (a handful), not rows. */
  def replay(spark: SparkSession, cycles: Seq[Seq[Listing]], nowEpoch: Long)
      : (Seq[Dataset[ListingEvent]], Dataset[Listing]) = {
    import spark.implicits._
    var state = spark.emptyDataset[Listing]
    val out = cycles.map { batch =>
      val cur = batch.toDS()
      val events = batchEvents(state, cur, nowEpoch)
      // state transition: survivors replaced, newcomers added,
      // missing keys dropped (off_market removes state, hunter.py:352)
      state = cur
      events
    }
    (out, state)
  }
}
