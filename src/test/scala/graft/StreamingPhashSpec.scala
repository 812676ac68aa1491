package graft

import graft.streaming.{MicroBatch, StreamingPhash}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming pHash ingest: arriving media payloads probe the corpus's
  * persisted band index per micro-batch, same contract family as
  * StreamingAnn. */
class StreamingPhashSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf("sf0.001"))
  private lazy val corpus = docs.filter($"doc_id" < 400)
    .select($"doc_id", $"text")
  private lazy val arrivals = docs.filter($"doc_id" >= 400)
    .select($"doc_id", $"text").collect()
    .map(r => (r.getLong(0), r.getString(1)))

  test("streaming verdicts == batch core on the same micro-batches") {
    val idx = StreamingPhash.buildIndex(corpus)
    val (b1, b2) = arrivals.splitAt(arrivals.length / 2)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Row])]
    val ckpt = java.nio.file.Files.createTempDirectory("sphash").toString
    val q = MicroBatch.start(input.toDF().toDF("doc_id", "text"), ckpt)(
        StreamingPhash.triageBatch(_, idx)) { (v, id) =>
      seen.synchronized { seen += id -> v.collect().toSeq }
    }
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    def asSet(rows: Seq[Row]) = rows.map(_.toSeq).toSet
    val nonEmpty = seen.synchronized(seen.toMap).filter(_._2.nonEmpty)
    assert(nonEmpty.size == 2)
    val Seq(s1, s2) = nonEmpty.toSeq.sortBy(_._1).map(_._2)
    assert(asSet(s1) == asSet(StreamingPhash.triageBatch(
      b1.toSeq.toDF("doc_id", "text"), idx).collect().toSeq))
    assert(asSet(s2) == asSet(StreamingPhash.triageBatch(
      b2.toSeq.toDF("doc_id", "text"), idx).collect().toSeq))
  }

  test("an exact payload clone is flagged at hamming 0 with that asset as dup_of") {
    val idx = StreamingPhash.buildIndex(corpus)
    val donor = corpus.filter($"doc_id" === 11).select($"text").head().getString(0)
    val v = StreamingPhash.triageBatch(
      Seq((7777L, donor)).toDF("doc_id", "text"), idx).collect()
    assert(v.length == 1)
    assert(v.head.getString(1) == "near_dup")
    assert(v.head.getLong(2) == 11L)
    assert(v.head.getInt(3) == 0)
  }

  test("verdict semantics: one verdict per arrival, novel carries no dup_of") {
    val idx = StreamingPhash.buildIndex(corpus)
    val verdicts = StreamingPhash.triageBatch(
      docs.filter($"doc_id" >= 400).select($"doc_id", $"text"), idx).collect()
    assert(verdicts.length == arrivals.length)
    verdicts.foreach { r =>
      r.getString(1) match {
        case "near_dup" =>
          assert(r.getLong(2) < 400 && r.getInt(3) <= idx.theta)
        case "novel" => assert(r.isNullAt(2) && r.isNullAt(3))
        case other => fail(s"unexpected status $other")
      }
    }
    SweepCheck.clearSessionArtifacts(spark)
  }
}
