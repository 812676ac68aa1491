package graft

/** Session artifacts (signature/cluster/shingle caches + per-query
  * localCheckpoints) must be droppable between sweep queries: storage
  * goes to zero, and the next consumer recomputes cleanly instead of
  * reading a dangling checkpoint. */
class ArtifactLifecycleSpec extends SparkSpec {

  test("clearSessionArtifacts empties executor storage and recovery recomputes") {
    // artifact-heavy queries: signature + shingle caches, IVF checkpoint
    val before = Registry.byName("dd_verified_pairs")
      .run(spark, sf("sf0.001")).count()
    Registry.byName("sim_ivf_topk").run(spark, sf("sf0.001")).count()
    Registry.byName("q_window_functions").run(spark, sf("sf0.001")).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected localCheckpoint artifacts in storage after dedup/ivf runs")

    SweepCheck.clearSessionArtifacts(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "clearSessionArtifacts must leave zero persisted RDDs")

    // teardown reaches every session cache, the split points too: a
    // cold re-run pays its own stats pass
    val passes = queries.Relational.statsPasses.get()
    Registry.byName("q_window_functions").run(spark, sf("sf0.001")).count()
    assert(queries.Relational.statsPasses.get() > passes,
      "clearSessionArtifacts must drop the cached split points")

    // caches were dropped, not broken: a fresh consumer rebuilds the
    // signature artifact and reproduces the same result
    val after = Registry.byName("dd_verified_pairs")
      .run(spark, sf("sf0.001")).count()
    assert(after == before, s"recomputed run must match: $before vs $after")
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "the rebuild should have re-materialized the artifact")
    SweepCheck.clearSessionArtifacts(spark)
  }

  test("materialize → attach → consumers probe persisted tables, derivation paid once") {
    import graft.tools.Artifacts
    val d = sf("sf0.001")
    val outDir = java.nio.file.Files.createTempDirectory("graft_art").toString

    // reference results, derived in-session
    SweepCheck.clearSessionArtifacts(spark)
    val wantPairs = Registry.byName("dd_verified_pairs").run(spark, d)
      .collect().map(_.toSeq).toSet
    val wantKeep = Registry.byName("dd_keep_list").run(spark, d)
      .collect().map(_.toSeq).toSet

    // materialize writes all bucketed tables + manifest
    SweepCheck.clearSessionArtifacts(spark)
    val written = Artifacts.materialize(spark, d, outDir)
    assert(written.map(_._1) == Seq("signatures", "clusters", "shingles",
      "fingerprints", "kmeans_cells", "pq_books", "pq_codes", "bpe_merges"))
    assert(written.forall(_._2 > 0), s"empty artifact in $written")
    assert(Artifacts.readManifest(spark, outDir).isDefined)

    // attach right after the derive pass, no teardown: attach itself
    // drops the cached derived frames, so consumers resolve from the
    // persisted tables with ZERO new derivations — the sweep-against-
    // artifacts contract ("the derivation paid once")
    Artifacts.attach(spark, outDir)
    val derivationsBefore = queries.Dedup.artifactDerivations.get()
    val gotPairs = Registry.byName("dd_verified_pairs").run(spark, d)
      .collect().map(_.toSeq).toSet
    val keepDf = Registry.byName("dd_keep_list").run(spark, d)
    val keepPlan = keepDf.queryExecution.optimizedPlan.toString
    assert(keepPlan.contains("graft_art_clusters") &&
      keepPlan.contains("graft_art_fingerprints"),
      s"attached dd_keep_list must read the persisted tables:\n$keepPlan")
    val gotKeep = keepDf.collect().map(_.toSeq).toSet
    assert(queries.Dedup.artifactDerivations.get() == derivationsBefore,
      "attached consumers must read persisted artifacts, not re-derive")
    assert(gotPairs == wantPairs, "persisted-artifact pairs must match derived")
    assert(gotKeep == wantKeep, "persisted-artifact keep list must match derived")

    // the registered tables really are bucketed catalog state
    val desc = spark.sql("DESCRIBE EXTENDED graft_art_signatures")
      .collect().map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
    assert(desc.contains("Num Buckets") && desc.contains("doc_id"), desc)

    // a DIFFERENT dataset must not read this artifact set
    assert(Artifacts.lookup(spark, sf("sf0.01"), "signatures").isEmpty,
      "the manifest source guard must reject other datasets")

    // detach, no teardown: consumers derive again (counter moves)
    // instead of serving the cached attached-table frames
    Artifacts.detach(spark)
    val gotDetached = Registry.byName("dd_verified_pairs").run(spark, d)
      .collect().map(_.toSeq).toSet
    assert(queries.Dedup.artifactDerivations.get() > derivationsBefore,
      "detached consumers must be back to derive-on-demand")
    assert(gotDetached == wantPairs)
    SweepCheck.clearSessionArtifacts(spark)
  }

  test("similarity index artifacts: attach buys out training, results identical") {
    import graft.tools.Artifacts
    val d = sf("sf0.001")
    val outDir = java.nio.file.Files.createTempDirectory("graft_art_sim").toString

    // reference results with in-session training
    SweepCheck.clearSessionArtifacts(spark)
    val wantCells = Registry.byName("sim_kmeans_cells").run(spark, d)
      .collect().map(_.toSeq).toSet
    val wantCodes = Registry.byName("sim_pq_codes").run(spark, d)
      .collect().map(_.toSeq).toSet
    val wantIvfPq = Registry.byName("sim_ivfpq_topk").run(spark, d)
      .collect().map(_.toSeq).toSet

    SweepCheck.clearSessionArtifacts(spark)
    Artifacts.materialize(spark, d, outDir)
    SweepCheck.clearSessionArtifacts(spark)
    Artifacts.attach(spark, outDir)
    val before = queries.Similarity.indexDerivations.get()
    val gotCells = Registry.byName("sim_kmeans_cells").run(spark, d)
      .collect().map(_.toSeq).toSet
    val gotCodes = Registry.byName("sim_pq_codes").run(spark, d)
      .collect().map(_.toSeq).toSet
    val gotIvfPq = Registry.byName("sim_ivfpq_topk").run(spark, d)
      .collect().map(_.toSeq).toSet
    assert(queries.Similarity.indexDerivations.get() == before,
      "attached sim consumers must read the persisted index, not retrain")
    assert(gotCells == wantCells)
    assert(gotCodes == wantCodes)
    assert(gotIvfPq == wantIvfPq)

    // vec_id-keyed catalog bucketing on the code table
    val desc = spark.sql("DESCRIBE EXTENDED graft_art_pq_codes")
      .collect().map(r => r.getString(0) + " " + r.getString(1)).mkString("\n")
    assert(desc.contains("Num Buckets") && desc.contains("vec_id"), desc)

    // the streaming encoder opens the persisted codebooks too: codes
    // from the attached index equal the trained query's codes
    val idx = graft.streaming.StreamingPq.attachedIndex(spark, d)
    assert(idx.isDefined, "attachedIndex must resolve while attached")
    val streamCodes = graft.streaming.StreamingPq
      .encodeBatch(Tables.embeddings(spark, d), idx.get)
      .collect().map(_.toSeq).toSet
    assert(streamCodes == wantCodes,
      "artifact-fed streaming encoder must equal the trained codes")

    // detach: training is back (counter moves), results identical
    Artifacts.detach(spark)
    assert(graft.streaming.StreamingPq.attachedIndex(spark, d).isEmpty,
      "attachedIndex must vanish on detach")
    SweepCheck.clearSessionArtifacts(spark)
    val detachedCodes = Registry.byName("sim_pq_codes").run(spark, d)
      .collect().map(_.toSeq).toSet
    assert(queries.Similarity.indexDerivations.get() > before)
    assert(detachedCodes == wantCodes)
    SweepCheck.clearSessionArtifacts(spark)
  }

  test("partial attach: ivfpq reads attached coarse cells, trains only PQ") {
    import graft.tools.Artifacts
    val d = sf("sf0.001")
    val outDir = java.nio.file.Files.createTempDirectory("graft_art_part").toString

    SweepCheck.clearSessionArtifacts(spark)
    val want = Registry.byName("sim_ivfpq_topk").run(spark, d)
      .collect().map(_.toSeq).toSet

    Artifacts.materialize(spark, d, outDir)
    SweepCheck.clearSessionArtifacts(spark)
    Artifacts.attach(spark, outDir)
    // simulate a partial attach: only kmeans_cells remains registered
    spark.sql("DROP TABLE IF EXISTS graft_art_pq_books")
    spark.sql("DROP TABLE IF EXISTS graft_art_pq_codes")

    val df = Registry.byName("sim_ivfpq_topk").run(spark, d)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_art_kmeans_cells"),
      "partial attach must route through the composed path and read " +
        s"the attached coarse assignment, not retrain everything:\n$plan")
    assert(df.collect().map(_.toSeq).toSet == want,
      "partial-attach results must equal the derived results")

    Artifacts.detach(spark)
    SweepCheck.clearSessionArtifacts(spark)
  }

  test("re-materialization is reader-atomic: a resolved snapshot survives it") {
    import graft.tools.{Artifacts, Versioned}
    val d = sf("sf0.001")
    val outDir = java.nio.file.Files.createTempDirectory("graft_art_v").toString

    SweepCheck.clearSessionArtifacts(spark)
    Artifacts.materialize(spark, d, outDir)
    // a concurrent reader resolves its signature snapshot (v1)
    val snapshot = Versioned.resolve(spark, s"$outDir/signatures")
    assert(snapshot.endsWith("/v1"), s"expected a versioned location: $snapshot")
    val want = spark.read.parquet(snapshot).count()
    assert(want > 0)

    // a second corpus-drop materialization lands in v2 while the
    // reader is still attached to v1
    SweepCheck.clearSessionArtifacts(spark)
    Artifacts.materialize(spark, d, outDir)
    assert(Versioned.resolve(spark, s"$outDir/signatures").endsWith("/v2"))
    // the v1 snapshot survives one publish cycle, files intact
    assert(spark.read.parquet(snapshot).count() === want,
      "the superseded artifact version must stay readable for in-flight readers")

    // attach resolves the live v2 and the consumer cycle still holds
    SweepCheck.clearSessionArtifacts(spark)
    Artifacts.attach(spark, outDir)
    val before = queries.Dedup.artifactDerivations.get()
    assert(Registry.byName("dd_minhash_signature").run(spark, d).count() === want)
    assert(queries.Dedup.artifactDerivations.get() == before)

    // the manifest is ONE atomic snapshot (ADVICE r9): it names every
    // artifact's exact version + bucket count together, so attach can
    // never bind a mixed set or a bucket spec from another generation
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(outDir, "_graft_manifest.json")), "UTF-8")
    Artifacts.names.foreach(n => assert(
      manifest.matches(s""".*"$n":\\{"buckets":\\d+,"version":2\\}.*"""),
      s"manifest must record $n's buckets+version atomically: $manifest"))
    assert(manifest.contains(""""source_fingerprint":"""), manifest)
    // and the registered table location IS the manifest's version
    val loc = spark.sql("DESCRIBE EXTENDED graft_art_signatures")
      .collect().map(r => s"${r.getString(0)} ${r.getString(1)}")
      .find(_.startsWith("Location")).get
    assert(loc.contains("/signatures/v2"),
      s"attach must bind the manifest snapshot's version: $loc")
    Artifacts.detach(spark)
    SweepCheck.clearSessionArtifacts(spark)
  }

  test("ensureFor: fresh manifest attaches as-is; stale fingerprint re-materializes") {
    import graft.tools.{Artifacts, Versioned}
    val d = sf("sf0.001")
    val outDir = java.nio.file.Files.createTempDirectory("graft_art_e").toString

    SweepCheck.clearSessionArtifacts(spark)
    Artifacts.ensureFor(spark, d, outDir) // no manifest → materialize + attach
    assert(Versioned.current(spark, s"$outDir/signatures").contains(1))
    Artifacts.detach(spark)

    // same source, unchanged content → attach without re-materializing
    SweepCheck.clearSessionArtifacts(spark)
    Artifacts.ensureFor(spark, d, outDir)
    assert(Versioned.current(spark, s"$outDir/signatures").contains(1),
      "an up-to-date artifact set must not be re-materialized")
    assert(spark.conf.get(Artifacts.ConfSource) == d)
    Artifacts.detach(spark)

    // a REGENERATED corpus at the same path changes the fingerprint;
    // simulate by corrupting the recorded one — ensureFor must refuse
    // the stale set and re-materialize (the Bench guard, ADVICE r9)
    val mp = s"$outDir/_graft_manifest.json"
    Versioned.writeFile(spark, mp, Versioned.readFile(spark, mp).get.replaceAll(
      """"source_fingerprint":"[^"]*"""",
      """"source_fingerprint":"0-0-0""""))
    SweepCheck.clearSessionArtifacts(spark)
    Artifacts.ensureFor(spark, d, outDir)
    assert(Versioned.current(spark, s"$outDir/signatures").contains(2),
      "a fingerprint mismatch must force re-materialization")
    Artifacts.detach(spark)

    // a legacy flat manifest records bucket counts but no versions;
    // even when it lists every current name, ensureFor must refuse it
    // and re-materialize rather than attach unrecorded versions
    Versioned.writeFile(spark, mp, Artifacts.names.map(n => s""""$n":1""")
      .mkString(s"""{"source":"$d","buckets":{""", ",", "}}"))
    SweepCheck.clearSessionArtifacts(spark)
    Artifacts.ensureFor(spark, d, outDir)
    assert(Versioned.current(spark, s"$outDir/signatures").contains(3),
      "a manifest without versioned entries must force re-materialization")
    assert(Artifacts.readManifest(spark, outDir).get.versions ==
      Artifacts.names.map(_ -> 3).toMap)
    Artifacts.detach(spark)
    SweepCheck.clearSessionArtifacts(spark)
  }

  test("ensureFor on file: URIs: manifest under the real dir, same fingerprint, regeneration re-materializes") {
    import graft.tools.Artifacts
    import java.nio.file.{Files, Paths}
    // a private copy of the sf0.001 corpus inputs the artifacts derive
    // from, so one of its files can be rewritten
    val root = Files.createTempDirectory("graft_art_uri")
    val (src, out) = (root.resolve("src"), root.resolve("out"))
    Files.createDirectories(src)
    for (t <- Seq("documents", "embeddings"))
      Files.write(src.resolve(s"$t.parquet"),
        Files.readAllBytes(Paths.get(sf("sf0.001"), s"$t.parquet")))
    val (srcUri, outUri) = (s"file:$src", s"file:$out")
    val strayUriDir = Paths.get("file:").toAbsolutePath

    val fp = Artifacts.sourceFingerprint(spark, src.toString)
    assert(fp.startsWith("2-"), s"two parquet files expected: $fp")
    assert(Artifacts.sourceFingerprint(spark, srcUri) == fp,
      "a file: URI must fingerprint like the plain path")

    SweepCheck.clearSessionArtifacts(spark)
    Artifacts.ensureFor(spark, srcUri, outUri)
    assert(Files.isRegularFile(out.resolve("_graft_manifest.json")),
      "the manifest must land under the real outDir")
    assert(!Files.exists(strayUriDir),
      s"a file: URI must never resolve under the working dir: $strayUriDir")
    assert(Artifacts.readManifest(spark, outUri).get.versions ==
      Artifacts.names.map(_ -> 1).toMap)
    assert(spark.conf.get(Artifacts.ConfSource) == srcUri)
    Artifacts.detach(spark)

    // regenerate one source file in place (same bytes, new mtime)
    val docs = src.resolve("documents.parquet")
    Files.write(docs, Files.readAllBytes(docs))
    assert(Artifacts.sourceFingerprint(spark, srcUri) != fp)
    SweepCheck.clearSessionArtifacts(spark)
    Artifacts.ensureFor(spark, srcUri, outUri)
    assert(Artifacts.readManifest(spark, outUri).get.versions ==
      Artifacts.names.map(_ -> 2).toMap,
      "a rewritten source file must force re-materialization")
    assert(Files.isDirectory(out.resolve("signatures").resolve("v2")))
    assert(!Files.exists(strayUriDir))
    Artifacts.detach(spark)
    SweepCheck.clearSessionArtifacts(spark)
  }

  test("bpe_merges artifact: attached sessions never train; results identical") {
    import graft.tools.Artifacts
    val d = sf("sf0.001")
    val outDir = java.nio.file.Files.createTempDirectory("graft_art_bpe").toString

    // reference result with in-session training
    SweepCheck.clearSessionArtifacts(spark)
    val want = Registry.byName("t_bpe_encode").run(spark, d)
      .collect().map(_.toSeq).toSet

    // materialize (pays the training), attach with cleared caches
    SweepCheck.clearSessionArtifacts(spark)
    Artifacts.materialize(spark, d, outDir)
    SweepCheck.clearSessionArtifacts(spark)
    Artifacts.attach(spark, outDir)

    // the attach gate: ZERO trainings while attached
    val before = queries.TextAnalysis.bpeTrainings.get()
    val got = Registry.byName("t_bpe_encode").run(spark, d)
      .collect().map(_.toSeq).toSet
    assert(queries.TextAnalysis.bpeTrainings.get() == before,
      "attached t_bpe_encode must read the persisted merge table, not train")
    assert(got == want, "artifact-fed encode must equal the trained encode")

    // the streaming encoder shares the same persisted tokenizer
    val idx = graft.streaming.StreamingBpe.attachedIndex(spark, d)
    assert(idx.isDefined, "StreamingBpe.attachedIndex must resolve while attached")
    val streamed = graft.streaming.StreamingBpe
      .encodeBatch(spark, Tables.documents(spark, d)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")), idx.get)
      .collect().map(_.toSeq).toSet
    assert(streamed == want,
      "artifact-fed streaming encoder must equal the batch encode")
    assert(queries.TextAnalysis.bpeTrainings.get() == before,
      "the streaming attach path must not train either")

    // detach: training is back (counter moves), results identical
    Artifacts.detach(spark)
    assert(graft.streaming.StreamingBpe.attachedIndex(spark, d).isEmpty,
      "attachedIndex must vanish on detach")
    SweepCheck.clearSessionArtifacts(spark)
    val detached = Registry.byName("t_bpe_encode").run(spark, d)
      .collect().map(_.toSeq).toSet
    assert(queries.TextAnalysis.bpeTrainings.get() > before,
      "detached t_bpe_encode must be back to derive-on-demand")
    assert(detached == want)
    SweepCheck.clearSessionArtifacts(spark)
  }
}
