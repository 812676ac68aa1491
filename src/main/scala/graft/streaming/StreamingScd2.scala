package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of `q_cdc_scd2`: SCD Type-2 dimension MAINTENANCE
  * over an unbounded event stream, keyed by user_id with
  * `flatMapGroupsWithState`.
  *
  * The batch query versions the full history in one pass; the stream
  * maintains each key's OPEN version in state and emits a version the
  * moment a value change closes it — so the append-mode output is
  * exactly the batch query's CLOSED rows (is_current = false), and
  * the state store holds what batch reports as the is_current row.
  * Unchanged values collapse into the open version without emitting,
  * same as batch.
  *
  * Ordering contract: within a micro-batch events fold in
  * (sec, event_id) order, so a replayed batch produces identical
  * output (the CDC determinism rule); ACROSS batches the stream
  * assumes per-key non-decreasing event time — the upstream
  * change-log contract every SCD consumer already relies on. A
  * late-arriving event would open a version with valid_from after
  * its valid_to; production deployments bound that with a watermark
  * upstream, exactly like StreamingDedup's ingestion wrapper.
  *
  * Scale shape: state is one (value, valid_from, version) triple per
  * user — the same key space the batch windows partition on — and
  * the only shuffle is the hash-partition every stateful op pays.
  * StreamingScd2Spec pins batch/stream row-parity across arbitrary
  * micro-batch splits. */
object StreamingScd2 {

  /** The open (current) version for one user. */
  final case class OpenVersion(value: Double, validFrom: Long, version: Long)

  /** A closed version — matches q_cdc_scd2's is_current = false rows
    * (valid_to_sec is always present here, hence non-Option). */
  final case class ClosedVersion(
      user_id: Long, value: Double, valid_from_sec: Long,
      valid_to_sec: Long, version: Long)

  /** Internal row shape (public: encoder codegen must instantiate). */
  final case class UserEvent(
      user_id: Long, event_id: Long, sec: Long, value: Double)

  /** events must carry user_id, event_id, sec, value (seconds already
    * truncated — the caller applies unix_timestamp like the batch
    * query so both twins share the one time policy). */
  def versions(events: org.apache.spark.sql.DataFrame)
      : Dataset[ClosedVersion] = {
    val spark = events.sparkSession
    import spark.implicits._
    val keyed = events
      .select($"user_id", $"event_id", $"sec", $"value")
      .as[UserEvent]
    keyed.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenVersion, ClosedVersion](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[OpenVersion]) =>
          var open = state.getOption
          val out = Seq.newBuilder[ClosedVersion]
          rows.toSeq.sortBy(e => (e.sec, e.event_id)).foreach { e =>
            open match {
              case None =>
                open = Some(OpenVersion(e.value, e.sec, 1L))
              case Some(o) if o.value != e.value =>
                out += ClosedVersion(uid, o.value, o.validFrom, e.sec,
                  o.version)
                open = Some(OpenVersion(e.value, e.sec, o.version + 1L))
              case Some(_) => // unchanged — collapse, no emit
            }
          }
          open.foreach(state.update)
          out.result().iterator
      }(Encoders.product[OpenVersion], Encoders.product[ClosedVersion])
  }
}
