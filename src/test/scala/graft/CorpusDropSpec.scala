package graft

import graft.tools.{Artifacts, CorpusDrop, Versioned}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The incremental corpus-drop job's exactness + lifecycle contract
  * (VERDICT r14 #1). The fixture split reuses dd_incremental's pinned
  * batch boundary: docs < 400 are "the corpus", docs >= 400 are "this
  * cycle's drop", so old ∪ batch is EXACTLY sf0.01 — the full-
  * recompute reference is simply the registry running fresh on the
  * original dataset.
  *
  *  - keep-list / clusters / corpus-yield published by a drop are
  *    bit-identical (row-set equal) to the fresh derivation over the
  *    combined corpus;
  *  - the drop's triage report equals dd_incremental's output;
  *  - a drop never re-derives a corpus artifact
  *    (Dedup.artifactDerivations stays flat — the O(batch) contract
  *    in counter form) and leaves no RDD persisted;
  *  - attach on the published artifact set flips registry consumers
  *    to the refreshed tables, still derivation-free — which also
  *    proves the hardlink+delta bucketed append reads correctly;
  *  - a drop killed mid-pipeline resumes from its step ledger and
  *    publishes the same state; a completed drop re-run is a no-op;
  *  - consecutive drops chain generations, and retention keeps
  *    exactly one superseded generation.
  *
  * The same equality run at sf1 is the scale certificate
  * (CorpusDropSf1Spec, env-gated like ShuffleGateSf1Spec).
  */
class CorpusDropSpec extends SparkSpec {
  import spark.implicits._

  private val d = sf("sf0.01")

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** A dataset dir holding `documents` filtered by `pred` plus the
    * full embeddings table (Artifacts.materialize derives the trained
    * index artifacts from it). */
  private def datasetWith(pred: org.apache.spark.sql.Column): String = {
    val dir = Files.createTempDirectory("graft_dropds").toString
    Tables.documents(spark, d).filter(pred)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Tables.embeddings(spark, d)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def batchWith(pred: org.apache.spark.sql.Column): String = {
    val dir = Files.createTempDirectory("graft_dropbatch").toString
    Tables.documents(spark, d).filter(pred)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  // fresh full-recompute references over the combined corpus
  private lazy val references = {
    SweepCheck.clearSessionArtifacts(spark)
    val keep = rows(Registry.byName("dd_keep_list").run(spark, d))
    val clusters = rows(queries.Dedup.sessionClusters(spark, d))
    val yld = rows(Registry.byName("t_corpus_yield").run(spark, d))
    val incr = rows(Registry.byName("dd_incremental").run(spark, d))
    SweepCheck.clearSessionArtifacts(spark)
    (keep, clusters, yld, incr)
  }

  test("drop refreshes keep-list/clusters/yield bit-identically to full recompute") {
    val (wantKeep, wantClusters, wantYield, wantIncr) = references
    val state = Files.createTempDirectory("graft_dropstate").toString
    CorpusDrop.init(spark, datasetWith($"doc_id" < 400), state)
    assert(CorpusDrop.currentGen(spark, state).contains(1))

    val before = queries.Dedup.artifactDerivations.get()
    val report = CorpusDrop.drop(spark, state,
      batchWith($"doc_id" >= 400), "drop1")
    assert(queries.Dedup.artifactDerivations.get() == before,
      "a drop must probe persisted artifacts, never re-derive the corpus")
    assert(report.newGen == 2 && CorpusDrop.currentGen(spark, state).contains(2))
    assert(report.nBatch == 100)
    assert(report.nExact + report.nNear + report.nNovel == report.nBatch)

    // published products equal the fresh combined derivation
    val keepers = spark.read.parquet(CorpusDrop.keepersDir(state, 2))
    assert(rows(queries.Dedup.keepList(keepers)) == wantKeep,
      "published keep-list must equal full recompute over old ∪ batch")
    assert(rows(spark.read.parquet(CorpusDrop.yieldDir(state, 2))) == wantYield,
      "published corpus-yield must equal full recompute")
    assert(rows(spark.read.parquet(s"$state/drops/drop1/triage")) == wantIncr,
      "drop triage must equal the dd_incremental query at the same split")

    // attach: registry consumers on the NEW generation read refreshed
    // artifacts (including hardlink+delta bucketed appends) with zero
    // derivations, and reproduce the combined-corpus results
    val gen2 = CorpusDrop.genDir(state, 2)
    // hardlinked and delta files keep their .crc sidecars, so every
    // generation stays checksum-verified
    for (dir <- Seq(s"$gen2/documents.parquet",
        Versioned.resolve(spark, s"${CorpusDrop.artifactsDir(state, 2)}/signatures"))) {
      val names = new java.io.File(dir).list().toSet
      val parquet = names.filter(_.endsWith(".parquet"))
      assert(parquet.nonEmpty && parquet.forall(n => names(s".$n.crc")),
        s"every parquet file in $dir needs its .crc: ${names.toSeq.sorted}")
    }
    SweepCheck.clearSessionArtifacts(spark)
    Artifacts.attach(spark, CorpusDrop.artifactsDir(state, 2))
    try {
      val b2 = queries.Dedup.artifactDerivations.get()
      assert(rows(Registry.byName("dd_keep_list").run(spark, gen2)) == wantKeep)
      assert(rows(queries.Dedup.sessionClusters(spark, gen2)) == wantClusters)
      assert(rows(Registry.byName("t_corpus_yield").run(spark, gen2)) == wantYield)
      assert(queries.Dedup.artifactDerivations.get() == b2,
        "attached consumers on the published generation must not derive")
    } finally {
      Artifacts.detach(spark)
      SweepCheck.clearSessionArtifacts(spark)
    }

    // a completed drop re-run is a no-op: every step (and publish)
    // skips via the ledger, state unchanged
    val again = CorpusDrop.drop(spark, state,
      batchWith($"doc_id" >= 400), "drop1")
    assert(again.stepSeconds.isEmpty,
      s"re-run of a completed drop must skip all steps: ${again.stepSeconds}")
    assert(CorpusDrop.currentGen(spark, state).contains(2))
  }

  test("a drop killed mid-pipeline resumes from the step ledger") {
    val (wantKeep, _, wantYield, _) = references
    // stage A: a completed drop to harvest early-step outputs from
    val old = datasetWith($"doc_id" < 400)
    val batch = batchWith($"doc_id" >= 400)
    val stateA = Files.createTempDirectory("graft_dropA").toString
    CorpusDrop.init(spark, old, stateA)
    CorpusDrop.drop(spark, stateA, batch, "drop1")

    // stage B: fresh init, then simulate the crash by pre-staging ONLY
    // the early steps (batch tables + triage) — as if the process died
    // before the pair join
    val stateB = Files.createTempDirectory("graft_dropB").toString
    CorpusDrop.init(spark, datasetWith($"doc_id" < 400), stateB)
    val early = Seq("meta.json", "batch_docs", "batch_signatures",
      "batch_shingles", "batch_fingerprints", "triage")
    Files.createDirectories(Paths.get(s"$stateB/drops/drop1"))
    for (e <- early) {
      val src = Paths.get(s"$stateA/drops/drop1/$e")
      val dst = Paths.get(s"$stateB/drops/drop1/$e")
      if (Files.isDirectory(src)) {
        Files.createDirectories(dst)
        val s = Files.list(src)
        try s.forEach(p => Files.copy(p,
          dst.resolve(p.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING))
        finally s.close()
      } else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }

    val resumed = CorpusDrop.drop(spark, stateB, batch, "drop1")
    assert(!resumed.stepSeconds.contains("batch_docs") &&
      !resumed.stepSeconds.contains("triage"),
      s"pre-staged steps must be skipped: ${resumed.stepSeconds}")
    assert(resumed.stepSeconds.contains("clusters") &&
      resumed.stepSeconds.contains("publish"),
      s"remaining steps must run: ${resumed.stepSeconds}")
    val keepers = spark.read.parquet(CorpusDrop.keepersDir(stateB, 2))
    assert(rows(queries.Dedup.keepList(keepers)) == wantKeep,
      "a resumed drop must publish the same keep-list")
    assert(rows(spark.read.parquet(CorpusDrop.yieldDir(stateB, 2))) == wantYield)
  }

  test("a drop leaves nothing persisted") {
    val state = Files.createTempDirectory("graft_dropleak").toString
    CorpusDrop.init(spark, datasetWith($"doc_id" < 400), state)
    val batch = batchWith($"doc_id" >= 400)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    CorpusDrop.drop(spark, state, batch, "drop1")
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty,
      s"a drop must release every RDD it persists: ${added.toSeq.sorted} left")
  }

  test("consecutive drops chain generations; retention keeps one predecessor") {
    val (wantKeep, _, wantYield, _) = references
    // the state dir is a file: URI: every state-dir operation must go
    // through the path's FileSystem, never resolve under the cwd
    val stateDir = Files.createTempDirectory("graft_dropC")
    val state = s"file:$stateDir"
    def real(uri: String) = Paths.get(new java.net.URI(uri))
    CorpusDrop.init(spark, datasetWith($"doc_id" < 300), state)
    CorpusDrop.drop(spark, state,
      batchWith($"doc_id" >= 300 && $"doc_id" < 450), "drop1")
    assert(CorpusDrop.currentGen(spark, state).contains(2))
    val r2 = CorpusDrop.drop(spark, state,
      batchWith($"doc_id" >= 450), "drop2")
    assert(r2.baseGen == 2 && CorpusDrop.currentGen(spark, state).contains(3))

    val keepers = spark.read.parquet(CorpusDrop.keepersDir(state, 3))
    assert(rows(queries.Dedup.keepList(keepers)) == wantKeep,
      "two chained drops must converge to the full-recompute keep-list")
    assert(rows(spark.read.parquet(CorpusDrop.yieldDir(state, 3))) == wantYield)

    // retention: gen 1 GC'd, gen 2 (the immediately superseded
    // generation) survives one cycle for in-flight readers
    assert(!Files.exists(real(CorpusDrop.genDir(state, 1))),
      "generation 1 must be garbage-collected after gen 3 lands")
    assert(Files.exists(real(CorpusDrop.genDir(state, 2))),
      "the superseded generation must survive one publish cycle")
    assert(Files.isDirectory(real(CorpusDrop.genDir(state, 3))))
    assert(new String(Files.readAllBytes(stateDir.resolve("_graft_gen")),
      "UTF-8").trim == "3", "the generation pointer lives in the real dir")
    assert(Files.isRegularFile(stateDir.resolve("drops/drop2/meta.json")))
    assert(!Files.exists(Paths.get("file:").toAbsolutePath),
      "a file: URI must never resolve under the working dir")
  }
}
