package graft

import graft.streaming._
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Checkpoint-restart recovery for the stream-static triage family
  * (StreamingAnn / StreamingPhash / StreamingFuzzy / StreamingQuality
  * / StreamingPq) — the Outliers/Scd2 recovery discipline applied to
  * the stateless probes. These carry no state-store state by design
  * (the persisted corpus artifact IS the state), so what a restart
  * must prove is different: (a) the committed batch is NOT re-emitted
  * (offsets recovered from the checkpoint), (b) a NEW process that
  * re-resolves the persisted artifact from the corpus derives the
  * SAME index (deterministic artifact derivation), and (c) verdicts
  * for post-restart arrivals are unchanged vs the pre-kill index —
  * a kill/restart is invisible in the verdict stream.
  *
  * Harness: run 1 processes batch 1 against index₁ and stops (the
  * kill); run 2 opens the SAME checkpoint with a fresh MemoryStream
  * and a REBUILT index₂, re-adds batch 1 (the committed replay — must
  * be skipped), then adds batch 2. MemoryStream cannot itself recover
  * offsets, so re-adding the committed data mirrors
  * StreamingOutliersRecoverySpec / CdcRecoverySpec.
  */
class StreamingProbeRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def asSet(rows: Seq[Row]) = rows.map(_.toSeq).toSet

  /** One query lifetime against `ckpt`: feed each batch, drain, stop.
    * Returns the non-empty sink batches in batch-id order. */
  private def runPhase[T: Encoder](
      toStream: MemoryStream[T] => DataFrame, ckpt: String,
      batch: DataFrame => DataFrame, batches: Seq[T]*): Seq[Seq[Row]] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[T]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Row])]
    val q = MicroBatch.start(toStream(input), ckpt)(batch) {
      (df, id) => seen.synchronized { seen += id -> df.collect().toSeq } }
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    seen.synchronized(
      seen.filter(_._2.nonEmpty).sortBy(_._1).map(_._2).toSeq)
  }

  /** The shared assertion set: one batch per run, no replay in run 2,
    * run-2 verdicts equal the batch core under BOTH the rebuilt and
    * the pre-kill index. */
  private def checkRecovery(r1: Seq[Seq[Row]], r2: Seq[Seq[Row]],
      core1: Seq[Row], core2Rebuilt: Seq[Row], core2PreKill: Seq[Row],
      batch1Ids: Set[Any]): Unit = {
    assert(r1.size == 1, s"run 1: expected one data batch, got ${r1.size}")
    assert(asSet(r1.head) == asSet(core1), "run 1 must match the batch core")
    assert(r2.size == 1,
      s"run 2: the committed batch must not re-emit, got ${r2.size} batches")
    assert(r2.head.map(_.get(0)).toSet.intersect(batch1Ids).isEmpty,
      "no batch-1 id may be re-triaged after restart")
    assert(asSet(core2Rebuilt) == asSet(core2PreKill),
      "re-resolving the persisted artifact must derive the same index")
    assert(asSet(r2.head) == asSet(core2Rebuilt),
      "post-restart verdicts must match the batch core on the rebuilt artifact")
  }

  private lazy val docs = Tables.documents(spark, sf("sf0.001"))
  private lazy val emb = Tables.embeddings(spark, sf("sf0.001"))

  private def vecStream(in: MemoryStream[(Long, Seq[Float])]): DataFrame =
    in.toDF().toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
  private def vecDf(b: Seq[(Long, Seq[Float])]): DataFrame =
    b.toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))

  test("StreamingAnn: kill/restart skips the committed batch, verdicts unchanged") {
    val corpus = emb.filter($"vec_id" < 400)
    val arrivals = emb.filter($"vec_id" >= 400)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (b1, b2) = arrivals.splitAt(arrivals.length / 2)
    val ckpt = Files.createTempDirectory("rec_ann").toString

    val idx1 = StreamingAnn.buildIndex(corpus, 8, 4, cap = 64)
    val r1 = runPhase[(Long, Seq[Float])](vecStream, ckpt,
      StreamingAnn.triageBatch(_, idx1, 0.9), b1)
    val idx2 = StreamingAnn.buildIndex(corpus, 8, 4, cap = 64)
    val r2 = runPhase[(Long, Seq[Float])](vecStream, ckpt,
      StreamingAnn.triageBatch(_, idx2, 0.9), b1, b2)
    checkRecovery(r1, r2,
      StreamingAnn.triageBatch(vecDf(b1), idx1, 0.9).collect().toSeq,
      StreamingAnn.triageBatch(vecDf(b2), idx2, 0.9).collect().toSeq,
      StreamingAnn.triageBatch(vecDf(b2), idx1, 0.9).collect().toSeq,
      b1.map(_._1: Any).toSet)
  }

  test("StreamingPhash: kill/restart skips the committed batch, verdicts unchanged") {
    val corpus = docs.filter($"doc_id" < 400).select($"doc_id", $"text")
    val arrivals = docs.filter($"doc_id" >= 400)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val (b1, b2) = arrivals.splitAt(arrivals.length / 2)
    val ckpt = Files.createTempDirectory("rec_phash").toString

    val idx1 = StreamingPhash.buildIndex(corpus)
    val r1 = runPhase[(Long, String)](
      _.toDF().toDF("doc_id", "text"), ckpt,
      StreamingPhash.triageBatch(_, idx1), b1)
    val idx2 = StreamingPhash.buildIndex(corpus)
    val r2 = runPhase[(Long, String)](
      _.toDF().toDF("doc_id", "text"), ckpt,
      StreamingPhash.triageBatch(_, idx2), b1, b2)
    checkRecovery(r1, r2,
      StreamingPhash.triageBatch(b1.toDF("doc_id", "text"), idx1).collect().toSeq,
      StreamingPhash.triageBatch(b2.toDF("doc_id", "text"), idx2).collect().toSeq,
      StreamingPhash.triageBatch(b2.toDF("doc_id", "text"), idx1).collect().toSeq,
      b1.map(_._1: Any).toSet)
  }

  test("StreamingFuzzy: kill/restart skips the committed batch, verdicts unchanged") {
    val catalog = Tables.part(spark, sf("sf0.001"))
      .select($"p_name".as("name")).distinct()
    val names = catalog.orderBy($"name").collect().map(_.getString(0)).toSeq
    // exact hits, one-edit variants, and novels in both batches
    val b1 = Seq(names(0), names(1) + "x", "completely unrelated alpha")
    val b2 = Seq(names(2), names(3).dropRight(1) + "q", "another novel beta")
    val ckpt = Files.createTempDirectory("rec_fuzzy").toString

    val idx1 = StreamingFuzzy.buildIndex(catalog, tau = 1)
    val r1 = runPhase[String](_.toDF().toDF("name"), ckpt,
      StreamingFuzzy.triageBatch(_, idx1), b1)
    val idx2 = StreamingFuzzy.buildIndex(catalog, tau = 1)
    val r2 = runPhase[String](_.toDF().toDF("name"), ckpt,
      StreamingFuzzy.triageBatch(_, idx2), b1, b2)
    checkRecovery(r1, r2,
      StreamingFuzzy.triageBatch(b1.toDF("name"), idx1).collect().toSeq,
      StreamingFuzzy.triageBatch(b2.toDF("name"), idx2).collect().toSeq,
      StreamingFuzzy.triageBatch(b2.toDF("name"), idx1).collect().toSeq,
      b1.map(identity[Any]).toSet)
  }

  test("StreamingQuality: kill/restart skips the committed batch, scores unchanged") {
    val corpus = docs.filter($"doc_id" < 400).select($"doc_id", $"text")
    val arrivals = docs.filter($"doc_id" >= 400)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val (b1, b2) = arrivals.splitAt(arrivals.length / 2)
    val ckpt = Files.createTempDirectory("rec_qual").toString

    val idx1 = StreamingQuality.buildLm(corpus)
    val r1 = runPhase[(Long, String)](
      _.toDF().toDF("doc_id", "text"), ckpt,
      StreamingQuality.scoreBatch(_, idx1), b1)
    val idx2 = StreamingQuality.buildLm(corpus)
    val r2 = runPhase[(Long, String)](
      _.toDF().toDF("doc_id", "text"), ckpt,
      StreamingQuality.scoreBatch(_, idx2), b1, b2)
    checkRecovery(r1, r2,
      StreamingQuality.scoreBatch(b1.toDF("doc_id", "text"), idx1).collect().toSeq,
      StreamingQuality.scoreBatch(b2.toDF("doc_id", "text"), idx2).collect().toSeq,
      StreamingQuality.scoreBatch(b2.toDF("doc_id", "text"), idx1).collect().toSeq,
      b1.map(_._1: Any).toSet)
  }

  test("StreamingPq: kill/restart skips the committed batch, codes unchanged") {
    val corpus = emb.filter($"vec_id" < 400).select($"vec_id", $"embedding")
    val arrivals = emb.filter($"vec_id" >= 400)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (b1, b2) = arrivals.splitAt(arrivals.length / 2)
    val ckpt = Files.createTempDirectory("rec_pq").toString

    val idx1 = StreamingPq.buildIndex(corpus)
    val r1 = runPhase[(Long, Seq[Float])](vecStream, ckpt,
      StreamingPq.encodeBatch(_, idx1), b1)
    val idx2 = StreamingPq.buildIndex(corpus)
    val r2 = runPhase[(Long, Seq[Float])](vecStream, ckpt,
      StreamingPq.encodeBatch(_, idx2), b1, b2)
    checkRecovery(r1, r2,
      StreamingPq.encodeBatch(vecDf(b1), idx1).collect().toSeq,
      StreamingPq.encodeBatch(vecDf(b2), idx2).collect().toSeq,
      StreamingPq.encodeBatch(vecDf(b2), idx1).collect().toSeq,
      b1.map(_._1: Any).toSet)
    SweepCheck.clearSessionArtifacts(spark)
  }

  test("StreamingDsir: kill/restart skips the committed batch, weights unchanged") {
    val corpus = docs.filter($"doc_id" < 400)
      .select($"doc_id", $"lang", $"text")
    val arrivals = docs.filter($"doc_id" >= 400)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val (b1, b2) = arrivals.splitAt(arrivals.length / 2)
    val ckpt = Files.createTempDirectory("rec_dsir").toString

    val idx1 = StreamingDsir.buildIndex(corpus)
    val r1 = runPhase[(Long, String)](
      _.toDF().toDF("doc_id", "text"), ckpt,
      StreamingDsir.scoreBatch(_, idx1), b1)
    val idx2 = StreamingDsir.buildIndex(corpus)
    val r2 = runPhase[(Long, String)](
      _.toDF().toDF("doc_id", "text"), ckpt,
      StreamingDsir.scoreBatch(_, idx2), b1, b2)
    checkRecovery(r1, r2,
      StreamingDsir.scoreBatch(b1.toDF("doc_id", "text"), idx1).collect().toSeq,
      StreamingDsir.scoreBatch(b2.toDF("doc_id", "text"), idx2).collect().toSeq,
      StreamingDsir.scoreBatch(b2.toDF("doc_id", "text"), idx1).collect().toSeq,
      b1.map(_._1: Any).toSet)
  }
}
