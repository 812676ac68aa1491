package graft.tools

import graft.queries.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, Path, StandardCopyOption}

/** The end-to-end incremental corpus-drop job — the engine-wide
  * analogue of the reference's steady-state loop (main.py:109-138:
  * each cycle merges the new scrape into persisted state and updates
  * downstream products; it never rebuilds the world). Here the
  * "world" is a document corpus with its dedup artifacts and
  * published keep-list/yield products; a DROP is a new document batch
  * appended to it.
  *
  * One call composes what the per-family tooling previously only did
  * piecewise: batch derivation → triage (dd_incremental semantics
  * against persisted artifacts) → incremental cluster/keeper refresh
  * → corpus-yield delta → Versioned-style atomic publish of the new
  * corpus generation with its artifact set (Artifacts-compatible:
  * `attach` flips every registry consumer to the refreshed tables),
  * with small-file compaction folded into publish.
  *
  * == Exactness contract (CorpusDropSpec / the sf1 certificate) ==
  * The refreshed keep-list, cluster table and corpus-yield report are
  * BIT-IDENTICAL to a full recompute over old ∪ batch:
  *
  *  - per-doc artifacts (signatures, shingles, fingerprints) are
  *    pure row expressions — batch rows computed batch-only, unioned
  *    with the persisted corpus rows, equal the full derivation;
  *  - exact canonicals: batch doc_ids are strictly greater than every
  *    corpus id (validated), so min(doc_id) per fingerprint group is
  *    unchanged for existing groups and batch-computable for new ones;
  *  - clusters: candidate pairs depend only on each doc's own band
  *    buckets, so the combined corpus's pair set is exactly
  *    old-pairs ∪ cross-pairs(batch, corpus) ∪ self-pairs(batch), and
  *    connected components over {star edges of the old labeling} ∪
  *    {new pairs} has the same components — and the same min-id
  *    labels, since every old component's min IS its label — as CC
  *    over the full pair set. Only components adjacent to a new pair
  *    can change, so CC runs on the affected subgraph only;
  *  - keep-list/yield follow functionally from canonicals + clusters;
  *    the yield delta reuses [[TextAnalysis.yieldContrib]] — the same
  *    expression set as t_corpus_yield — with signed weights, and
  *    integer sums make the merged report exactly the full aggregate.
  *
  * == Scale shape (the 100 TB argument) ==
  * No step re-derives a corpus-sized artifact and no step shuffles
  * corpus-sized data ([[Dedup.artifactDerivations]] is asserted flat
  * across a drop):
  *
  *  - batch signature/shingle/fingerprint derivation: O(batch), pure
  *    map-side;
  *  - triage + cross pairs: the batch side broadcasts / hash-probes
  *    the persisted band and fingerprint artifacts — one columnar
  *    scan of 8-int rows, batch-sized shuffle output (at cluster
  *    scale the bands live behind a (band, bucket) layout and the
  *    probe prunes; the scan is the local-mode stand-in);
  *  - incremental CC: the affected subgraph is bounded by the new
  *    pairs' neighborhood, never the corpus graph;
  *  - publish: old generation files HARDLINK into the next (metadata
  *    ops, zero data copy); only batch deltas and the (small) mutable
  *    products — clusters, keepers, yield — write data. When the
  *    accumulated file count of an append-only table crosses
  *    [[CompactEvery]], publish rewrites it to target-sized files
  *    (the [[Compact]] policy folded in: amortized O(corpus / K)).
  *
  * == Durability / resumability ==
  * Every intermediate lands under `drops/<dropId>/<step>` as parquet
  * whose `_SUCCESS` marker doubles as the step ledger: a re-run of
  * the same dropId skips completed steps (reading their staged
  * output, which also keeps lineage flat), and `meta.json` pins the
  * base generation so a resume after a crash — even one that died
  * inside publish — continues against the same inputs. Generations
  * are immutable `gen_v<N>` directories behind a one-line pointer
  * file flipped by atomic rename (the [[Versioned]] protocol); the
  * superseded generation survives one publish cycle for in-flight
  * readers, exactly like artifact versions.
  */
object CorpusDrop {

  /** Publish rewrites an append-only table to compact files once its
    * file count crosses this (the folded-in [[Compact]] policy). */
  val CompactEvery = 48

  final case class DropReport(
      baseGen: Int, newGen: Int, nBatch: Long,
      nExact: Long, nNear: Long, nNovel: Long,
      affectedOldDocs: Long, stepSeconds: Map[String, Double]) {
    def total: Double = stepSeconds.values.sum
  }

  def genDir(stateDir: String, n: Int): String = s"$stateDir/gen_v$n"
  def artifactsDir(stateDir: String, n: Int): String =
    s"$stateDir/artifacts_v$n"
  def keepersDir(stateDir: String, n: Int): String = s"$stateDir/keepers_v$n"
  def yieldDir(stateDir: String, n: Int): String = s"$stateDir/yield_v$n"

  private def pointer(stateDir: String) = Paths.get(stateDir, "_graft_gen")

  def currentGen(stateDir: String): Option[Int] =
    if (Files.exists(pointer(stateDir)))
      Some(new String(Files.readAllBytes(pointer(stateDir)), "UTF-8").trim.toInt)
    else None

  /** Atomic pointer flip — write temp + ATOMIC_MOVE rename, the same
    * promotion the Artifacts manifest uses. */
  private def flipPointer(stateDir: String, n: Int): Unit = {
    Files.createDirectories(Paths.get(stateDir))
    val tmp = Paths.get(stateDir, s"._graft_gen_tmp_${java.util.UUID.randomUUID}")
    Files.write(tmp, n.toString.getBytes("UTF-8"))
    Files.move(tmp, pointer(stateDir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Hardlink every regular file of flat dir `src` into `dst`
    * (created), falling back to copy across filesystems; files
    * already present at `dst` (e.g. `_SUCCESS` when merging two
    * writes) are kept. Metadata-only on one filesystem — the reason
    * publish is O(batch) in data volume. */
  private def linkInto(src: String, dst: String): Unit = {
    Files.createDirectories(Paths.get(dst))
    val s = Files.list(Paths.get(src))
    try s.forEach { p =>
      if (Files.isRegularFile(p)) {
        val t = Paths.get(dst, p.getFileName.toString)
        if (!Files.exists(t)) {
          try Files.createLink(t, p)
          catch { case _: UnsupportedOperationException | _: java.io.IOException =>
            Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
          }
        }
      }
    } finally s.close()
  }

  private def fileCount(dir: String): Int = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) return 0
    val s = Files.list(p)
    try s.filter(f => Files.isRegularFile(f) &&
      f.getFileName.toString.endsWith(".parquet")).count().toInt
    finally s.close()
  }

  private def deleteRecursive(dir: String): Unit = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(Files.deleteIfExists(_))
    finally s.close()
  }

  // ------------------------------------------------------------------
  // init: bootstrap generation 1 from an existing dataset dir
  // ------------------------------------------------------------------

  /** Bootstrap `stateDir` at generation 1 from `srcDir`: hardlink the
    * dataset, run the ONE full artifact derivation this corpus will
    * ever pay ([[Artifacts.materialize]]), and publish the initial
    * keeper/yield products from the attached artifacts. */
  def init(spark: SparkSession, srcDir: String, stateDir: String): Int = {
    require(currentGen(stateDir).isEmpty,
      s"$stateDir already initialized (gen ${currentGen(stateDir).get})")
    val gen1 = genDir(stateDir, 1)
    for (t <- tablesIn(srcDir))
      linkInto(s"$srcDir/$t.parquet", s"$gen1/$t.parquet")
    Artifacts.materialize(spark, gen1, artifactsDir(stateDir, 1))
    Artifacts.attach(spark, artifactsDir(stateDir, 1))
    try {
      keeperState(spark, gen1)
        .write.mode("overwrite").parquet(keepersDir(stateDir, 1))
      TextAnalysis.yieldAggregate(TextAnalysis.yieldContrib(
          graft.Tables.documents(spark, gen1),
          keeperState(spark, gen1).select(col("doc_id"), col("keeper"))))
        .write.mode("overwrite").parquet(yieldDir(stateDir, 1))
    } finally Artifacts.detach(spark)
    flipPointer(stateDir, 1)
    1
  }

  private def tablesIn(srcDir: String): Seq[String] = {
    val s = Files.list(Paths.get(srcDir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
        .toSeq.sorted
    } finally s.close()
  }

  /** The keeper state (doc_id, exact_canonical, keeper) — the
    * persisted superset of dd_keep_list (which is a pure projection,
    * [[keepListFrom]]); exact_canonical must persist because the
    * incremental path needs it without re-scanning corpus text. */
  private def keeperState(spark: SparkSession, d: String): DataFrame = {
    val fps = Dedup.sessionFingerprints(spark, d)
    val canon = fps.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("exact_canonical"))
    fps.join(canon, "fp").select(col("doc_id"), col("exact_canonical"))
      .join(Dedup.sessionClusters(spark, d), Seq("doc_id"), "left")
      .withColumn("keeper", coalesce(col("cluster_id"), col("exact_canonical")))
      .select(col("doc_id"), col("exact_canonical"), col("keeper"))
  }

  /** dd_keep_list's exact output shape from a keeper-state frame. */
  def keepListFrom(keepers: DataFrame): DataFrame =
    keepers.select(col("doc_id"),
      (col("doc_id") === col("keeper")).as("keep"),
      when(col("doc_id") === col("keeper"), "keep")
        .when(col("doc_id") =!= col("exact_canonical"), "exact_dup")
        .otherwise("near_dup").as("reason"),
      when(col("doc_id") =!= col("keeper"), col("keeper")).as("dup_of"))

  // ------------------------------------------------------------------
  // drop: one incremental batch against the current generation
  // ------------------------------------------------------------------

  def drop(spark: SparkSession, stateDir: String, batchDir: String,
      dropId: String): DropReport = {
    val stage = s"$stateDir/drops/$dropId"
    Files.createDirectories(Paths.get(stage))

    // pin the base generation for resumes: a crash after the pointer
    // flip must not re-run this drop against its own output
    val metaPath = Paths.get(stage, "meta.json")
    val baseGen =
      if (Files.exists(metaPath))
        """"base":(\d+)""".r.findFirstMatchIn(
          new String(Files.readAllBytes(metaPath), "UTF-8")).get.group(1).toInt
      else {
        val n = currentGen(stateDir).getOrElse(
          sys.error(s"$stateDir not initialized — call init first"))
        Files.write(metaPath, s"""{"base":$n}""".getBytes("UTF-8"))
        n
      }
    val gen = genDir(stateDir, baseGen)
    val nextGen = baseGen + 1

    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    def step(name: String)(body: String => Unit): String = {
      val out = s"$stage/$name"
      if (!Files.exists(Paths.get(s"$out/_SUCCESS"))) {
        val t0 = System.nanoTime()
        body(out)
        times(name) = (System.nanoTime() - t0) / 1e9
      }
      out
    }
    def read(path: String): DataFrame = spark.read.parquet(path)

    Artifacts.attach(spark, artifactsDir(stateDir, baseGen))
    try {
      val oldManifest = Artifacts.readManifest(artifactsDir(stateDir, baseGen))

      // -- 1. batch tables: per-row derivations, O(batch) ------------
      val batchDocsP = step("batch_docs") { out =>
        val b = spark.read.parquet(batchDir)
          .select("doc_id", "text", "lang", "source", "n_chars")
        val oldMax = read(keepersDir(stateDir, baseGen))
          .agg(max(col("doc_id"))).head().getLong(0)
        val (n, nd, bMin) = b.agg(count(lit(1)), countDistinct(col("doc_id")),
          min(col("doc_id"))).head() match {
          case r => (r.getLong(0), r.getLong(1), r.getLong(2))
        }
        require(n > 0, "empty batch")
        require(n == nd, s"batch doc_ids not unique: $n rows, $nd distinct")
        require(bMin > oldMax,
          s"batch ids must exceed the corpus maximum (append-only " +
            s"contract): batch min $bMin <= corpus max $oldMax")
        b.write.mode("overwrite").parquet(out)
      }
      val batchDocs = read(batchDocsP)

      def writeBucketedStaged(df: DataFrame, name: String, key: String,
          out: String): Unit = {
        val t = s"graft_drop_${name}_${math.abs(out.hashCode)}"
        spark.sql(s"DROP TABLE IF EXISTS $t")
        BucketLayout.writeBucketed(df, t, key, oldManifest.buckets(name),
          Some(out))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      }
      val batchSigsP = step("batch_signatures") { out =>
        writeBucketedStaged(Dedup.signatureTable(batchDocs),
          "signatures", "doc_id", out)
      }
      val batchShinglesP = step("batch_shingles") { out =>
        writeBucketedStaged(batchDocs.select(col("doc_id"),
            org.apache.spark.sql.graft.ShingleHashes.of(col("text")).as("hsh")),
          "shingles", "doc_id", out)
      }
      val batchFpsP = step("batch_fingerprints") { out =>
        writeBucketedStaged(Dedup.fingerprintTable(batchDocs),
          "fingerprints", "doc_id", out)
      }
      val batchSigs = read(batchSigsP)
      val batchFps = read(batchFpsP)

      // -- 2. triage: dd_incremental semantics vs persisted artifacts
      val oldFps = Dedup.sessionFingerprints(spark, gen)
      // min matching corpus id per batch fingerprint: the corpus side
      // is probed with the broadcast batch fp set, so only matched
      // rows aggregate (batch-sized shuffle over one artifact scan)
      val corpusFpMin = oldFps
        .join(broadcast(batchFps.select(col("fp")).distinct()), "fp")
        .groupBy(col("fp")).agg(min(col("doc_id")).as("exact_of"))
      val oldBands = Dedup.bandFrame(Dedup.sessionSignatures(spark, gen))
      val batchBands = Dedup.bandFrame(batchSigs)
      val triageP = step("triage") { out =>
        val exact = batchFps.join(corpusFpMin, Seq("fp"), "left")
          .select(col("doc_id"), col("exact_of"))
        val near = oldBands.as("l")
          .join(batchBands.as("r"),
            col("l.band") === col("r.band") &&
              col("l.bucket") === col("r.bucket"))
          .select(col("r.doc_id").as("doc_id"),
            col("l.doc_id").as("cand"), Dedup.sigAgreement.as("agree"))
          .filter(col("agree") >= 4)
          .groupBy(col("doc_id"))
          .agg(org.apache.spark.sql.graft.ArgMax2
            .of(col("agree"), -col("cand")).as("m"))
          .select(col("doc_id"), (-col("m.tie")).as("near_of"))
        exact.join(near, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("exact_of").isNotNull, "exact_dup")
              .when(col("near_of").isNotNull, "near_dup")
              .otherwise("novel").as("status"),
            coalesce(col("exact_of"), col("near_of")).as("dup_of"))
          .write.mode("overwrite").parquet(out)
      }

      // -- 3. new candidate pairs (cross + batch-self) ---------------
      val pairsP = step("pairs") { out =>
        val cross = oldBands.as("l")
          .join(batchBands.as("r"),
            col("l.band") === col("r.band") &&
              col("l.bucket") === col("r.bucket"))
          .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        val self = batchBands.as("l")
          .join(batchBands.as("r"),
            col("l.band") === col("r.band") &&
              col("l.bucket") === col("r.bucket") &&
              col("l.doc_id") < col("r.doc_id"))
          .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        cross.union(self).distinct().write.mode("overwrite").parquet(out)
      }
      val newPairs = read(pairsP)

      // -- 4. incremental clusters: CC on the affected subgraph ------
      val oldClusters = Dedup.sessionClusters(spark, gen)
      val clustersP = step("clusters") { out =>
        val touchedOld = newPairs.select(col("doc_a").as("doc_id")).distinct()
        val affIds = oldClusters.join(broadcast(touchedOld), "doc_id")
          .select(col("cluster_id")).distinct()
        val affDocs = oldClusters.join(broadcast(affIds), "cluster_id")
          .select(col("doc_id"), col("cluster_id"))
        val star = affDocs
          .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
        val labels = Dedup.connectedComponents(
            star.union(newPairs.select(col("doc_a"), col("doc_b"))))
          .select(col("node").as("doc_id"), col("label").as("cluster_id"))
        oldClusters.join(broadcast(affIds), Seq("cluster_id"), "left_anti")
          .select(col("doc_id"), col("cluster_id"))
          .union(labels)
          .write.mode("overwrite").parquet(out)
      }
      val newClusters = read(clustersP)

      // -- 5. keeper refresh -----------------------------------------
      val oldKeepers = read(keepersDir(stateDir, baseGen))
      val keepersP = step("keepers") { out =>
        val batchMin = batchFps.groupBy(col("fp"))
          .agg(min(col("doc_id")).as("batch_min"))
        val batchCanon = batchFps.join(batchMin, "fp")
          .join(corpusFpMin, Seq("fp"), "left")
          .select(col("doc_id"),
            coalesce(col("exact_of"), col("batch_min")).as("exact_canonical"))
        // every OLD doc whose keeper can change: directly touched by a
        // new pair (may enter a cluster for the first time) or in a
        // component that was touched (its label may have dropped on a
        // merge) — the inner join onto oldKeepers drops batch ids
        val touched = newPairs.select(col("doc_a").as("doc_id"))
          .union(newPairs.select(col("doc_b").as("doc_id"))).distinct()
        val affClusterIds = oldClusters.join(broadcast(touched), "doc_id")
          .select(col("cluster_id")).distinct()
        val affByCluster = oldClusters
          .join(broadcast(affClusterIds), "cluster_id")
          .select(col("doc_id"))
        val affected = oldKeepers.select(col("doc_id"), col("exact_canonical"))
          .join(broadcast(touched.union(affByCluster).distinct()), "doc_id")
        val updated = affected.unionByName(batchCanon)
          .join(newClusters, Seq("doc_id"), "left")
          .select(col("doc_id"), col("exact_canonical"),
            coalesce(col("cluster_id"), col("exact_canonical")).as("keeper"))
        oldKeepers.join(broadcast(updated.select(col("doc_id"))),
            Seq("doc_id"), "left_anti")
          .unionByName(updated)
          .write.mode("overwrite").parquet(out)
      }
      val newKeepers = read(keepersP)

      // -- 6. corpus-yield delta -------------------------------------
      val yieldP = step("yield") { out =>
        def signedAgg(contrib: DataFrame, w: Int): DataFrame =
          contrib.groupBy(col("lang"), col("source"))
            .agg(sum(lit(w.toLong)).as("n_docs"),
              sum(col("n_tok") * w).as("n_tokens"),
              sum(when(col("verdict") === "kept", w.toLong).otherwise(0L))
                .as("n_kept"),
              sum(when(col("verdict") === "kept", col("n_tok") * w)
                .otherwise(0L)).as("n_tokens_kept"),
              sum(when(col("verdict") === "drop_dedup", w.toLong)
                .otherwise(0L)).as("n_drop_dedup"),
              sum(when(col("verdict") === "drop_quality", w.toLong)
                .otherwise(0L)).as("n_drop_quality"),
              sum(when(col("verdict") === "drop_lang", w.toLong)
                .otherwise(0L)).as("n_drop_lang"))
        val batchContrib = TextAnalysis.yieldContrib(batchDocs,
          newKeepers.select(col("doc_id"), col("keeper")))
        // old docs whose KEPT-ness flipped (the verdict only reads
        // doc_id == keeper; a changed keeper VALUE with the same
        // truth value shifts dup_of, which yield does not report).
        // Staged to parquet and re-read per consumer: the old/new
        // contribution joins would otherwise self-join one lineage
        // (ambiguous `keeper`), and the staging also keeps the resume
        // boundary clean.
        val flippedPath = s"$stage/yield_flipped"
        oldKeepers
          .select(col("doc_id"), col("keeper").as("old_keeper"))
          .join(newKeepers.select(col("doc_id"), col("keeper")), "doc_id")
          .filter((col("doc_id") === col("old_keeper")) =!=
            (col("doc_id") === col("keeper")))
          .select(col("doc_id"), col("old_keeper"), col("keeper"))
          .write.mode("overwrite").parquet(flippedPath)
        val flippedDocs = graft.Tables.documents(spark, gen)
          .join(broadcast(read(flippedPath).select(col("doc_id"))), "doc_id")
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
        val oldContrib = TextAnalysis.yieldContrib(flippedDocs,
          read(flippedPath)
            .select(col("doc_id"), col("old_keeper").as("keeper")))
        val newContrib = TextAnalysis.yieldContrib(flippedDocs,
          read(flippedPath).select(col("doc_id"), col("keeper")))
        read(yieldDir(stateDir, baseGen))
          .unionByName(signedAgg(batchContrib, 1))
          .unionByName(signedAgg(newContrib, 1))
          .unionByName(signedAgg(oldContrib, -1))
          .groupBy(col("lang"), col("source"))
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(col("n_kept")).as("n_kept"),
            sum(col("n_tokens_kept")).as("n_tokens_kept"),
            sum(col("n_drop_dedup")).as("n_drop_dedup"),
            sum(col("n_drop_quality")).as("n_drop_quality"),
            sum(col("n_drop_lang")).as("n_drop_lang"))
          .filter(col("n_docs") > 0)
          .write.mode("overwrite").parquet(out)
      }

      // -- 7. clusters as a bucketed artifact (for the next manifest)
      val clustersArtP = step("clusters_bucketed") { out =>
        writeBucketedStaged(newClusters, "clusters", "doc_id", out)
      }

      // -- 8. publish generation baseGen+1 ---------------------------
      if (!currentGen(stateDir).contains(nextGen)) {
        val t0 = System.nanoTime()
        publish(spark, stateDir, baseGen, stage, oldManifest,
          Map("signatures" -> batchSigsP, "shingles" -> batchShinglesP,
            "fingerprints" -> batchFpsP),
          clustersArtP, keepersP, yieldP)
        times("publish") = (System.nanoTime() - t0) / 1e9
      }

      val triage = read(triageP)
      val counts = triage.groupBy(col("status")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nAffected = newKeepers.join(oldKeepers.withColumnRenamed(
          "keeper", "k0").select(col("doc_id"), col("k0")), "doc_id")
        .filter(col("keeper") =!= col("k0")).count()
      DropReport(baseGen, nextGen, batchDocs.count(),
        counts.getOrElse("exact_dup", 0L), counts.getOrElse("near_dup", 0L),
        counts.getOrElse("novel", 0L), nAffected, times.toMap)
    } finally {
      // detach also clears the session caches: frames built during the
      // drop read the just-dropped catalog registrations (and, after
      // the NEXT drop, GC'd artifact files) — a maintenance op leaves
      // no cache
      Artifacts.detach(spark)
    }
  }

  /** Assemble gen_v(N+1): hardlinked previous generation + batch
    * deltas + rewritten small products, a fresh Artifacts manifest,
    * then the atomic pointer flip. Compaction folds in here: an
    * append-only table whose accumulated file count crosses
    * [[CompactEvery]] is rewritten to target-size files instead of
    * accreting another delta. */
  private def publish(spark: SparkSession, stateDir: String, baseGen: Int,
      stage: String, oldManifest: Artifacts.Manifest,
      appendArtifacts: Map[String, String], clustersArt: String,
      keepersP: String, yieldP: String): Unit = {
    val nextGen = baseGen + 1
    val gen = genDir(stateDir, baseGen)
    val genNext = genDir(stateDir, nextGen)
    val artsNext = artifactsDir(stateDir, nextGen)
    // a partial previous attempt (no pointer flip yet) rebuilds from
    // scratch — hardlinks make that cheap
    Seq(genNext, artsNext, keepersDir(stateDir, nextGen),
      yieldDir(stateDir, nextGen)).foreach(deleteRecursive)

    // corpus tables: hardlink everything, then add the batch's
    // document files (or compact the table once it has accreted
    // CompactEvery files)
    for (t <- tablesIn(gen) if t != "documents")
      linkInto(s"$gen/$t.parquet", s"$genNext/$t.parquet")
    val docsDir = s"$gen/documents.parquet"
    if (fileCount(docsDir) >= CompactEvery) {
      spark.read.parquet(docsDir)
        .unionByName(spark.read.parquet(s"$stage/batch_docs"))
        .repartition(math.max(1,
          BucketLayout.bucketsFor(dirBytes(docsDir), 128L << 20)))
        .write.mode("overwrite").parquet(s"$genNext/documents.parquet")
    } else {
      linkInto(docsDir, s"$genNext/documents.parquet")
      linkInto(s"$stage/batch_docs", s"$genNext/documents.parquet")
    }

    // artifacts: immutable trained tables hardlink as-is; append-only
    // per-doc tables hardlink + delta (same bucket count, so the
    // bucketed read stays co-located: extra files per bucket, never a
    // rehash) with the same compaction valve; clusters rewrite
    val arts = Artifacts.names.map { n =>
      val liveOld = Versioned.resolve(spark, s"$stateDir/artifacts_v$baseGen/$n")
      val vDir = s"$artsNext/$n/v1"
      if (appendArtifacts.contains(n)) {
        if (fileCount(liveOld) >= CompactEvery) {
          val t = s"graft_drop_compact_$n"
          spark.sql(s"DROP TABLE IF EXISTS $t")
          BucketLayout.writeBucketed(
            spark.read.parquet(liveOld)
              .unionByName(spark.read.parquet(appendArtifacts(n))),
            t, "doc_id", oldManifest.buckets(n), Some(vDir))
          spark.sql(s"DROP TABLE IF EXISTS $t")
        } else {
          linkInto(liveOld, vDir)
          linkInto(appendArtifacts(n), vDir)
        }
      } else if (n == "clusters") {
        linkInto(clustersArt, vDir)
      } else {
        linkInto(liveOld, vDir)
      }
      Files.write(Paths.get(s"$artsNext/$n/_graft_current"),
        "1".getBytes("UTF-8"))
      n -> oldManifest.buckets(n)
    }
    val fp = Artifacts.sourceFingerprint(genNext)
    val manifest = arts.map { case (n, b) =>
      s""""$n":{"buckets":$b,"version":1}"""
    }.mkString(
      s"""{"source":"$genNext","source_fingerprint":"$fp","artifacts":{""",
      ",", "}}")
    val mTmp = Paths.get(artsNext, s".manifest_tmp_${java.util.UUID.randomUUID}")
    Files.write(mTmp, manifest.getBytes("UTF-8"))
    Files.move(mTmp, Paths.get(artsNext, "_graft_manifest.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)

    linkInto(keepersP, keepersDir(stateDir, nextGen))
    linkInto(yieldP, yieldDir(stateDir, nextGen))

    flipPointer(stateDir, nextGen)
    // retention: the superseded generation survives one cycle (the
    // Versioned policy); anything older is dead
    for (g <- 1 until baseGen) {
      Seq(genDir(stateDir, g), artifactsDir(stateDir, g),
        keepersDir(stateDir, g), yieldDir(stateDir, g))
        .foreach(deleteRecursive)
    }
  }

  private def dirBytes(dir: String): Long = {
    val s = Files.list(Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum
    } finally s.close()
  }

  /** CLI: init then drop.
    * `CorpusDrop init <srcDir> <stateDir>` or
    * `CorpusDrop drop <stateDir> <batchDir> <dropId>` */
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()
    args.toList match {
      case "init" :: src :: state :: Nil =>
        val g = init(spark, src, state)
        println(s"[corpusdrop] initialized $state at gen $g")
      case "drop" :: state :: batch :: id :: Nil =>
        val r = drop(spark, state, batch, id)
        println(s"[corpusdrop] gen ${r.baseGen} -> ${r.newGen}: " +
          s"${r.nBatch} docs (${r.nExact} exact, ${r.nNear} near, " +
          s"${r.nNovel} novel), ${r.affectedOldDocs} old docs rekeyed, " +
          r.stepSeconds.map { case (k, v) => f"$k=$v%.2fs" }.mkString(" "))
      case _ => sys.error("usage: CorpusDrop init <src> <state> | " +
        "drop <state> <batch> <dropId>")
    }
    spark.stop()
  }
}
