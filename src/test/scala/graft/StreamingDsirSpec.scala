package graft

import graft.streaming.{MicroBatch, StreamingDsir}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming DSIR triage: arriving docs score against the corpus's
  * persisted full-spine log-ratio table per micro-batch. Exact parity
  * with t_dsir_logratio on the training corpus, total verdicts for
  * out-of-corpus vocabulary via the neutral-prior spine rows, and
  * stream == batch core on every micro-batch split. */
class StreamingDsirSpec extends SparkSpec {
  import spark.implicits._

  test("self-scoring the corpus reproduces t_dsir_logratio exactly") {
    val d = sf("sf0.001")
    val docs = Tables.documents(spark, d)
      .select($"doc_id", $"lang", $"text")
    val got = StreamingDsir.scoreBatch(docs, StreamingDsir.buildIndex(docs))
    val want = queries.TextAnalysis.qDsirLogratio.run(spark, d)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streaming scorer must equal t_dsir_logratio on its own corpus")
  }

  test("out-of-corpus vocabulary scores the neutral prior, totally") {
    // tiny corpus: 4 en tokens, 4 non-en tokens -> Np=8, Nt=4
    val corpus = Seq(
      (0L, "en", "alpha beta gamma delta"),
      (1L, "xx", "uno dos tres cuatro")).toDF("doc_id", "lang", "text")
    val idx = StreamingDsir.buildIndex(corpus)
    assert(idx.lr.count() === 1024L, "artifact must cover the full spine")
    // a probe whose tokens the corpus never saw: every bucket it hits
    // is either a spine row (neutral prior) or a collision with a
    // corpus bucket — replay the exact smoothed formula in memory
    def bucket(tok: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 12), 16) % 1024
    }
    val corpusToks = Seq("alpha", "beta", "gamma", "delta").map(bucket) ->
      Seq("uno", "dos", "tres", "cuatro").map(bucket)
    val (enB, xxB) = corpusToks
    val allB = enB ++ xxB
    def lrFp(b: Long): Long = {
      val cp = allB.count(_ == b).toLong
      val ct = enB.count(_ == b).toLong
      math.floor(math.log(((ct + 1) * (8 + 1024)).toDouble /
        ((cp + 1) * (4 + 1024)).toDouble) * 1e6).toLong
    }
    val probeToks = Seq("zzz_one", "zzz_two", "zzz_three")
    val want = probeToks.map(t => lrFp(bucket(t))).sum
    val row = StreamingDsir.scoreBatch(
      Seq((9L, probeToks.mkString(" "))).toDF("doc_id", "text"), idx)
      .head()
    assert(row.getLong(1) === 3L, "every token counted — verdict is total")
    assert(row.getLong(2) === want,
      "unseen buckets must score the exact smoothed neutral prior")
  }

  test("streaming verdicts == batch core verdicts on the same micro-batches") {
    val corpus = Seq(
      (0L, "en", "alpha beta gamma delta alpha"),
      (1L, "xx", "uno dos tres cuatro uno")).toDF("doc_id", "lang", "text")
    val idx = StreamingDsir.buildIndex(corpus)
    val batch1 = Seq(10L -> "alpha beta", 11L -> "uno dos tres")
    val batch2 = Seq(12L -> "alpha uno zzz", 13L -> "gamma gamma")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Row])]
    val ckpt = java.nio.file.Files.createTempDirectory("sdsir").toString
    val q = MicroBatch.start(stream, ckpt)(
        StreamingDsir.scoreBatch(_, idx)) {
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
    assert(asSet(first) == asSet(StreamingDsir
      .scoreBatch(batch1.toDF("doc_id", "text"), idx).collect().toSeq))
    assert(asSet(second) == asSet(StreamingDsir
      .scoreBatch(batch2.toDF("doc_id", "text"), idx).collect().toSeq))
    // target-like verdicts follow the corpus: the all-en-vocab doc
    // positive, the all-xx-vocab doc negative
    val v1 = first.map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(v1(10L) && !v1(11L),
      "en-vocab arrival must be target-like, xx-vocab not")
  }
}
