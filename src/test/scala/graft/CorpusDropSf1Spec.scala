package graft

import graft.tools.{CorpusDrop, ScaleUp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The sf1 corpus-drop certificate (VERDICT r14 #1 "done" bar): at
  * one decade above the oracle gate, split the sf1 corpus into a
  * 90% base and a 10% batch, init → drop, and prove the refreshed
  * keep-list is BIT-IDENTICAL to the full recompute over the combined
  * corpus — while the drop itself derives nothing corpus-sized
  * (counter-asserted) — then record the measured refresh cost next to
  * the full-derivation cost (the O(batch)-vs-O(corpus) evidence row
  * for BASELINE.md).
  *
  * Uses the same /tmp/sf1 corpus as [[ShuffleGateSf1Spec]]
  * (ScaleUp-synthesized from the driver's sf0.1 on first use) and the
  * same always-on stance: the corpus regenerates rather than skips,
  * so this certificate can't silently vanish on a fresh box. Runtime
  * is minutes, not hours — the base-corpus artifact materialization
  * is the dominant step and is itself part of what's measured.
  */
class CorpusDropSf1Spec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("sf1 drop: refreshed keep-list bit-identical to full recompute, O(batch) cost") {
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val complete = tables.forall(t =>
      new java.io.File(s"$sf1/$t.parquet/_SUCCESS").exists())
    if (!complete) ScaleUp.run(spark, sf("sf0.1"), sf1, 10)

    // 90/10 split at the id boundary (append-only contract: batch ids
    // are strictly above the base corpus)
    val docs = Tables.documents(spark, sf1)
    val (minId, maxId) = docs.agg(min($"doc_id"), max($"doc_id")).head() match {
      case r => (r.getLong(0), r.getLong(1))
    }
    val cut = minId + (maxId - minId + 1) * 9 / 10
    val scratch = Files.createTempDirectory("graft_drop_sf1").toString
    val baseDir = s"$scratch/base"
    docs.filter($"doc_id" < cut)
      .write.mode("overwrite").parquet(s"$baseDir/documents.parquet")
    Tables.embeddings(spark, sf1)
      .write.mode("overwrite").parquet(s"$baseDir/embeddings.parquet")
    val batchDir = s"$scratch/batch"
    docs.filter($"doc_id" >= cut).write.mode("overwrite").parquet(batchDir)

    val state = s"$scratch/state"
    val tInit0 = System.nanoTime()
    CorpusDrop.init(spark, baseDir, state)
    val initSec = (System.nanoTime() - tInit0) / 1e9

    val before = queries.Dedup.artifactDerivations.get()
    val report = CorpusDrop.drop(spark, state, batchDir, "sf1drop")
    assert(queries.Dedup.artifactDerivations.get() == before,
      "the sf1 drop must probe persisted artifacts, never re-derive")

    // full recompute over the combined corpus (the published gen_v2
    // IS old ∪ batch — derive fresh on it, detached)
    val gen2 = CorpusDrop.genDir(state, 2)
    SweepCheck.clearSessionArtifacts(spark)
    val tFull0 = System.nanoTime()
    val wantKeep = Registry.byName("dd_keep_list").run(spark, gen2)
      .localCheckpoint(true)
    val nFull = wantKeep.count()
    val fullSec = (System.nanoTime() - tFull0) / 1e9

    val gotKeep = queries.Dedup.keepList(
      spark.read.parquet(CorpusDrop.keepersDir(state, 2)))
    assert(gotKeep.count() == nFull)
    // set equality via anti-joins — at 1M rows a driver-side
    // collect-set compare is the kind of thing this repo bans
    val missing = wantKeep.exceptAll(gotKeep).count()
    val extra = gotKeep.exceptAll(wantKeep).count()
    assert(missing == 0 && extra == 0,
      s"sf1 keep-list mismatch: $missing missing, $extra extra rows " +
        s"vs full recompute over ${nFull} docs")

    val line =
      f"[corpusdrop-sf1] docs=$nFull cut=$cut init=${initSec}%.1fs " +
        f"refresh_total=${report.total}%.1fs " +
        report.stepSeconds.map { case (k, v) => f"$k=$v%.1fs" }
          .mkString(" ") +
        f" full_keeplist_recompute=${fullSec}%.1fs"
    println(line)
    // the BASELINE.md evidence row survives the test-report tail
    Files.write(Paths.get("/tmp/corpusdrop_sf1_cert.txt"),
      (line + "\n").getBytes("UTF-8"))
    SweepCheck.clearSessionArtifacts(spark)
  }
}
