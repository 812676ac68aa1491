package graft

import graft.queries.Dedup
import graft.streaming.{MicroBatch, StreamingAnn}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming ANN ingest: arriving vectors probe the corpus's
  * persisted LSH index per micro-batch. Row-parity with the batch
  * core on the same batches, index built once (artifact, not
  * per-batch work), and verdict semantics consistent with the batch
  * near-dup family. */
class StreamingAnnSpec extends SparkSpec {
  import spark.implicits._

  private val tables = 8
  private val bits = 4
  private val threshold = 0.9

  // corpus = vec_id < 400, "arriving" = vec_id >= 400 (the
  // dd_incremental corpus/batch split, applied to embeddings)
  private lazy val emb = Tables.embeddings(spark, sf("sf0.001"))
  private lazy val corpus = emb.filter($"vec_id" < 400)
  private lazy val arriving = emb.filter($"vec_id" >= 400)
    .select($"vec_id", $"embedding").collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1)))

  test("streaming verdicts == batch core verdicts on the same micro-batches") {
    val idx = StreamingAnn.buildIndex(corpus, tables, bits, cap = 64)
    val (batch1, batch2) = arriving.splitAt(arriving.length / 2)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Row])]
    val ckpt = java.nio.file.Files.createTempDirectory("sann").toString
    val q = MicroBatch.start(stream, ckpt)(
        StreamingAnn.triageBatch(_, idx, threshold)) {
      (verdicts, id) => seen.synchronized {
        seen += id -> verdicts.collect().toSeq }
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
    val streamed = seen.synchronized(seen.toMap)
    val nonEmpty = streamed.filter(_._2.nonEmpty)
    assert(nonEmpty.size == 2, s"expected 2 data batches, saw $streamed")
    val Seq(first, second) = nonEmpty.toSeq.sortBy(_._1).map(_._2)
    assert(asSet(first) ==
      asSet(StreamingAnn.triageBatch(batchDf(batch1), idx, threshold)
        .collect().toSeq),
      "batch 1 must match the batch core row for row")
    assert(asSet(second) ==
      asSet(StreamingAnn.triageBatch(batchDf(batch2), idx, threshold)
        .collect().toSeq),
      "batch 2 must match the batch core row for row")
  }

  test("verdict semantics: near_dup has corpus dup_of at >= threshold, novel has none") {
    val idx = StreamingAnn.buildIndex(corpus, tables, bits, cap = 64)
    val verdicts = StreamingAnn.triageBatch(
      emb.filter($"vec_id" >= 400).select($"vec_id", $"embedding"),
      idx, threshold).collect()
    assert(verdicts.length == arriving.length, "one verdict per arrival")
    verdicts.foreach { r =>
      r.getString(1) match {
        case "near_dup" =>
          assert(r.getLong(2) < 400, "dup_of must be a corpus id")
          assert(r.getDouble(3) >= threshold)
        case "novel" =>
          assert(r.isNullAt(2), "novel must carry no dup_of")
        case other => fail(s"unexpected status $other")
      }
    }
  }

  test("an exact copy of a corpus vector is flagged with that vector as dup_of") {
    val idx = StreamingAnn.buildIndex(corpus, tables, bits, cap = 64)
    // clone corpus vector 7 under a new id: cosine 1.0 with itself
    val clone = corpus.filter($"vec_id" === 7)
      .select(lit(9999L).as("vec_id"), $"embedding")
    val v = StreamingAnn.triageBatch(clone, idx, threshold).collect()
    assert(v.length == 1)
    assert(v.head.getString(1) == "near_dup")
    assert(v.head.getLong(2) == 7L,
      "identical vector shares every bucket, so 7 must be the best candidate")
    assert(v.head.getDouble(3) == 1.0)
  }

  test("the index is a persisted artifact: batches run no corpus-side jobs") {
    val idx = StreamingAnn.buildIndex(corpus, tables, bits, cap = 64)
    // both artifacts live in storage (localCheckpoint)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    // consistency with the batch family's candidate generator: every
    // near_dup's dup_of appears among annCandidatePairs' corpus ids
    // when run over corpus+clone jointly (same planes, same buckets)
    val clone = corpus.filter($"vec_id" === 3)
      .select(lit(8888L).as("vec_id"), $"embedding")
    val joint = corpus.select($"vec_id", $"embedding").union(clone)
    val sig = joint.select($"vec_id",
      graft.functions.VectorExpressions.quantize($"embedding").as("q"))
    val pairIds = Dedup.annCandidatePairs(sig, tables, bits, cap = 64)
      .filter($"a_id" === 8888L).select($"b_id")
      .collect().map(_.getLong(0)).toSet
    val verdict = StreamingAnn.triageBatch(clone, idx, threshold).collect().head
    assert(pairIds.contains(verdict.getLong(2)),
      "streaming dup_of must be reachable by the batch candidate generator")
    SweepCheck.clearSessionArtifacts(spark)
  }
}
