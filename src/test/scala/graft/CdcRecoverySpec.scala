package graft

import graft.model.{Listing, ListingEvent}
import graft.operators.Cdc
import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** T3 — state durability: the streaming (event-time) CDC restarts
  * from its checkpoint with state intact (re-seeing a known listing after
  * restart is a no-op, not a duplicate new_listing). The reference
  * gets this from SavedListings.json rewritten every cycle
  * (main.py:134-135); Spark gets it from the checkpointed state store.
  * Sink is parquet (the memory sink does not support recovery).
  */
class CdcRecoverySpec extends SparkSpec {
  import spark.implicits._

  test("streaming CDC resumes from checkpoint: state survives restart") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("cdc_ckpt").toString
    val out = Files.createTempDirectory("cdc_out").toString
    val t0 = 1700000000L
    // staleness far beyond the test's event-time span: nothing expires
    def seen(sec: Long, l: Listing) = Cdc.Sighting(
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)), l)
    def cdc(in: MemoryStream[Cdc.Sighting]) =
      Cdc.streamingEventsEventTime(in.toDS(), stalenessSec = 86400L)

    def events(): Seq[(String, String)] =
      try spark.read.parquet(out).as[ListingEvent].collect()
        .map(e => (e.mls, e.status)).sorted.toSeq
      catch { case _: Throwable => Seq.empty }

    def awaitCount(n: Int): Seq[(String, String)] = {
      val deadline = System.currentTimeMillis() + 60000
      var got = events()
      while (System.currentTimeMillis() < deadline && got.size < n) {
        Thread.sleep(250); got = events()
      }
      got
    }

    // run 1: A is new
    val in1 = MemoryStream[Cdc.Sighting]
    val q1 = cdc(in1)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode(OutputMode.Append)
      .start()
    try {
      in1.addData(seen(t0, Listing.minimal("A", 100)))
      assert(awaitCount(1) == Seq(("A", "new_listing")))
    } finally q1.stop()

    // run 2: NEW source, same checkpoint. The first addData replays
    // the committed offset (the engine skips it — already processed),
    // so re-adding A@100 must NOT re-emit new_listing. The next batch
    // probes the RECOVERED state: A's price drop reports the
    // checkpointed old price; B is genuinely new.
    val in2 = MemoryStream[Cdc.Sighting]
    val q2 = cdc(in2)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode(OutputMode.Append)
      .start()
    try {
      in2.addData(seen(t0, Listing.minimal("A", 100))) // committed replay
      in2.addData(seen(t0 + 60, Listing.minimal("A", 80)),
        seen(t0 + 60, Listing.minimal("B", 50)))
      val got = awaitCount(3)
      assert(got == Seq(("A", "new_listing"), ("A", "price_change"),
        ("B", "new_listing")), s"got $got")
      val pc = spark.read.parquet(out).as[ListingEvent]
        .filter(_.status == "price_change").head()
      assert(pc.oldPrice.contains(100L)) // old price came from checkpoint
    } finally q2.stop()
  }
}
