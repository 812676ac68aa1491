package graft

import graft.streaming.{MicroBatch, StreamingPq}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming PQ encoding: arriving vectors are coded against the
  * corpus's persisted codebooks per micro-batch; self-encoding the
  * training corpus is bit-identical to sim_pq_codes; the stream
  * equals the batch core batch-for-batch. */
class StreamingPqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf("sf0.001"))

  test("self-encoding the corpus reproduces sim_pq_codes exactly") {
    val idx = StreamingPq.buildIndex(emb)
    val got = StreamingPq.encodeBatch(emb, idx)
      .collect().map(_.toSeq).toSet
    val want = queries.Similarity.qPqCodes.run(spark, sf("sf0.001"))
      .collect().map(_.toSeq).toSet
    assert(got == want, "streaming encoder must equal sim_pq_codes on its corpus")
    assert(got.nonEmpty)
  }

  test("streaming codes == batch core codes on the same micro-batches") {
    val idx = StreamingPq.buildIndex(emb.filter($"vec_id" < 400))
    val arriving = emb.filter($"vec_id" >= 400)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (batch1, batch2) = arriving.splitAt(arriving.length / 2)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Row])]
    val ckpt = java.nio.file.Files.createTempDirectory("spq").toString
    val q = MicroBatch.start(stream, ckpt)(
        StreamingPq.encodeBatch(_, idx)) {
      (codes, id) => seen.synchronized { seen += id -> codes.collect().toSeq }
    }
    try {
      input.addData(batch1.toSeq)
      q.processAllAvailable()
      input.addData(batch2.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    def asSet(rows: Seq[Row]) = rows.map(_.toSeq).toSet
    def batchDf(b: Array[(Long, Seq[Float])]): DataFrame =
      b.toSeq.toDF("vec_id", "embedding")
        .withColumn("embedding", $"embedding".cast("array<float>"))
    val nonEmpty = seen.synchronized(seen.toMap).filter(_._2.nonEmpty)
    assert(nonEmpty.size == 2, s"expected 2 data batches")
    val Seq(first, second) = nonEmpty.toSeq.sortBy(_._1).map(_._2)
    assert(asSet(first) ==
      asSet(StreamingPq.encodeBatch(batchDf(batch1), idx).collect().toSeq))
    assert(asSet(second) ==
      asSet(StreamingPq.encodeBatch(batchDf(batch2), idx).collect().toSeq))
  }
}
