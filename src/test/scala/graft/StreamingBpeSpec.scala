package graft

import graft.streaming.{MicroBatch, StreamingBpe}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming BPE encoding: arriving documents are encoded against the
  * corpus's trained merge table per micro-batch; self-encoding the
  * training corpus is bit-identical to the batch t_bpe_encode core;
  * the stream equals the batch core batch-for-batch. */
class StreamingBpeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf("sf0.001"))
    .select($"doc_id", $"text")

  test("self-encoding the corpus reproduces the batch encode exactly") {
    val idx = StreamingBpe.buildIndex(spark, docs, 20)
    val got = StreamingBpe.encodeBatch(spark, docs, idx)
      .collect().map(_.toSeq).toSet
    val want = graft.operators.BpeTrainer.encode(spark, docs, idx.merges)
      .collect().map(_.toSeq).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming counts == batch core counts on the same micro-batches") {
    val idx = StreamingBpe.buildIndex(spark,
      docs.filter($"doc_id" % 2 === 0), 10)
    val arriving = docs.filter($"doc_id" % 2 === 1)
      .as[(Long, String)].collect()
    val (batch1, batch2) = arriving.splitAt(arriving.length / 2)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Row])]
    val ckpt = java.nio.file.Files.createTempDirectory("sbpe").toString
    val q = MicroBatch.start(stream, ckpt)(
        StreamingBpe.encodeBatch(spark, _, idx)) {
      (counts, id) => seen.synchronized { seen += id -> counts.collect().toSeq }
    }
    try {
      input.addData(batch1.toSeq)
      q.processAllAvailable()
      input.addData(batch2.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    def asSet(rows: Seq[Row]) = rows.map(_.toSeq).toSet
    def batchDf(b: Array[(Long, String)]): DataFrame =
      b.toSeq.toDF("doc_id", "text")
    val nonEmpty = seen.synchronized(seen.toMap).filter(_._2.nonEmpty)
    assert(nonEmpty.size == 2, s"expected 2 data batches")
    val Seq(first, second) = nonEmpty.toSeq.sortBy(_._1).map(_._2)
    assert(asSet(first) ==
      asSet(StreamingBpe.encodeBatch(spark, batchDf(batch1), idx)
        .collect().toSeq))
    assert(asSet(second) ==
      asSet(StreamingBpe.encodeBatch(spark, batchDf(batch2), idx)
        .collect().toSeq))
  }
}
