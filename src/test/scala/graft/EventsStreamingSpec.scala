package graft

import graft.operators.ZipReferenceJob
import graft.sources.FileScans
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** M5 on the REAL fixture: the events table processed as a STREAM
  * (file source, AvailableNow) must produce exactly the batch
  * tumbling-window result — the batch/streaming unification claim,
  * proven on driver data rather than synthetic rows. Plus the S12
  * round-trip through the S9 reader. */
class EventsStreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming tumbling windows over events == batch result") {
    // events.ts layout varies by data generation (TIMESTAMP(NANOS) vs
    // timestamp[us]): take the stream schema from the batch reader and
    // normalize exactly like Tables.events
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.load(spark, sf("sf0.001"), "events").schema
    val stream = Tables.normalizeEventTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf("sf0.001")))
      .withWatermark("ts", "1 minute")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("w"), $"event_type", $"n")
    val q = stream.writeStream.format("memory").queryName("ev_stream")
      .outputMode("complete") // complete: emit all windows incl. open ones
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("ev_stream")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val want = Tables.events(spark, sf("sf0.001"))
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start", $"event_type", $"n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("S12 zip job round-trips through the S9 nested reader") {
    val dir = java.nio.file.Files.createTempDirectory("zipjob").toString
    val rows = Seq(
      ("Utah", "Provo", "84601"), ("Utah", "Provo", "84602"),
      ("Utah", "Orem", "84058"), ("Salt Lake", "Sandy", "84070"),
      ("Salt Lake", "Sandy", "bad1")) // F6 drops
      .toDF("county", "city", "zip")
    ZipReferenceJob.run(rows, dir)

    val back = FileScans.nestedZips(spark, s"$dir/county_city_zips.json")
    assert(back.count() == 4)
    assert(back.filter($"county" === "Utah" && $"city" === "Provo")
      .select("zip").as[String].collect().sorted.toSeq ==
      Seq("84601", "84602"))
    val flat = FileScans.zipCodes(spark, s"$dir/all_zip_codes.json")
    assert(flat.as[String].collect().sorted.toSeq ==
      Seq("84058", "84070", "84601", "84602"))
  }
}
