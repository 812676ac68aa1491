package graft

import graft.streaming.{MicroBatch, StreamingQuality}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming quality scoring: arriving docs score against the
  * corpus's persisted bigram LM per micro-batch. Exact parity with
  * t_bigram_nll where the batch query is defined (all-seen bigrams),
  * counted-not-smoothed OOV semantics, and a verdict row for every
  * arrival. */
class StreamingQualitySpec extends SparkSpec {
  import spark.implicits._

  private def lmFrom(texts: (Long, String)*): StreamingQuality.LmIndex =
    StreamingQuality.buildLm(texts.toSeq.toDF("doc_id", "text"))

  test("self-scoring the corpus reproduces t_bigram_nll exactly") {
    val d = sf("sf0.001")
    val docs = Tables.documents(spark, d).select($"doc_id", $"text")
    val got = StreamingQuality
      .scoreBatch(docs, StreamingQuality.buildLm(docs))
      .filter($"n_bigrams" > 0) // batch query excludes bigram-less docs
    val want = queries.TextAnalysis.qBigramNll.run(spark, d)
    assert(got.count() == want.count())
    // every scored doc: n_oov = 0 (self-trained MLE sees everything)
    // and (n_bigrams, nll_sum, mean) match the batch query bit for bit
    val joined = got.join(want.withColumnRenamed("n_bigrams", "w_nb")
        .withColumnRenamed("nll_sum", "w_sum")
        .withColumnRenamed("mean_nll_micro", "w_mean"), "doc_id")
    assert(joined.count() == want.count(), "same doc set")
    assert(joined.filter($"n_oov" =!= 0L).count() == 0)
    assert(joined.filter($"n_bigrams" =!= $"w_nb" ||
      $"nll_sum" =!= $"w_sum" ||
      $"mean_nll_micro" =!= $"w_mean").count() == 0,
      "streaming scorer must equal t_bigram_nll on its own corpus")
  }

  test("OOV transitions are counted, seen bigrams scored, arrivals always answered") {
    // corpus: cab = (a,b)=3 (b,a)=1 (b,c)=1; ca: a=3 b=2
    // nll(a,b) = 0; nll(b,a) = nll(b,c) = floor(ln 2 · 1e6) = 693147
    val idx = lmFrom(0L -> "a b a b", 1L -> "a b c")
    val rows = StreamingQuality.scoreBatch(
      Seq(10L -> "a b",            // all seen, nll 0
          11L -> "a b z b a",      // (a,b) (b,a) seen; (b,z) (z,b) OOV
          12L -> "solo")           // no bigrams at all
        .toDF("doc_id", "text"), idx)
      .orderBy($"doc_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(10L, 11L, 12L),
      "every arrival gets a verdict row")
    assert(rows(0).getLong(1) == 1L && rows(0).getLong(2) == 0L &&
      rows(0).getLong(3) == 0L && rows(0).getLong(4) == 0L)
    // doc 11: 4 bigrams, 2 OOV, nll_sum = 693147, mean over SEEN = 346573
    assert(rows(1).getLong(1) == 4L && rows(1).getLong(2) == 2L &&
      rows(1).getLong(3) == 693147L && rows(1).getLong(4) == 346573L)
    // doc 12: nothing scorable — zero counts, null mean
    assert(rows(2).getLong(1) == 0L && rows(2).getLong(2) == 0L &&
      rows(2).getLong(3) == 0L && rows(2).isNullAt(4))
  }

  test("streaming verdicts == batch core verdicts on the same micro-batches") {
    val idx = lmFrom(0L -> "a b a b", 1L -> "a b c")
    val batch1 = Seq(10L -> "a b", 11L -> "a b z b a")
    val batch2 = Seq(12L -> "solo", 13L -> "b c a b")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Row])]
    val ckpt = java.nio.file.Files.createTempDirectory("squal").toString
    val q = MicroBatch.start(stream, ckpt)(
        StreamingQuality.scoreBatch(_, idx)) {
      (verdicts, id) => seen.synchronized {
        seen += id -> verdicts.collect().toSeq }
    }
    try {
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(batch2)
      q.processAllAvailable()
    } finally q.stop()

    def asSet(rows: Seq[Row]) = rows.map(_.toSeq).toSet
    val streamed = seen.synchronized(seen.toMap)
    val nonEmpty = streamed.filter(_._2.nonEmpty)
    assert(nonEmpty.size == 2, s"expected 2 data batches, saw $streamed")
    val Seq(first, second) = nonEmpty.toSeq.sortBy(_._1).map(_._2)
    assert(asSet(first) == asSet(StreamingQuality
      .scoreBatch(batch1.toDF("doc_id", "text"), idx).collect().toSeq))
    assert(asSet(second) == asSet(StreamingQuality
      .scoreBatch(batch2.toDF("doc_id", "text"), idx).collect().toSeq))
  }
}
