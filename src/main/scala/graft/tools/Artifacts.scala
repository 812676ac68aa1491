package graft.tools

import graft.queries.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Artifact materializer — the production form of the session caches.
  * The signature / cluster / shingle-set tables that
  * [[graft.queries.Dedup]] keeps as session-scoped localCheckpoints,
  * and the similarity index artifacts (the trained coarse k-means
  * assignment and the PQ codebooks + code table that
  * [[graft.queries.Similarity]] retrains per run) are, in a real
  * pipeline, PERSISTED tables written once per corpus drop and probed
  * by every consumer (the dd_* family, t_corpus_yield, the
  * incremental/streaming triage, the sim_* index queries) until the
  * next drop. This job
  * writes them as bucketed parquet tables — bucketed by `doc_id` via
  * [[BucketLayout]], so the id-keyed verify/keep-list joins read
  * co-located buckets — plus a manifest recording the source dataset
  * and bucket counts, and teaches the consumers (via [[attach]]) to
  * read the persisted form instead of re-deriving.
  *
  * Lifecycle: `materialize(spark, srcDir, outDir)` derives and writes;
  * `attach(spark, outDir)` re-registers the external bucketed tables
  * in the session catalog (bucket metadata is catalog state — a fresh
  * session must re-declare it to get co-located reads) and flips the
  * session to persisted reads; `detach(spark)` flips back to
  * derive-on-demand. One artifact set is attached per session at a
  * time, matched to its source dataset — a consumer asking for a
  * DIFFERENT dataset silently derives as before (the manifest's
  * `source` is the guard, checked per lookup).
  *
  * Scale shape: this is exactly the 100 TB housekeeping layer — the
  * signature pass is paid once per corpus, not once per consumer per
  * run; bucket counts size by table bytes through the shared
  * [[BucketLayout.bucketsFor]] power-of-two rule so artifact and
  * corpus tables co-locate as they grow.
  */
object Artifacts {

  val ConfDir = "spark.graft.artifacts.dir"
  val ConfSource = "spark.graft.artifacts.source"

  /** Artifact name → (bucket key, deriver). Dedup artifacts key on
    * doc_id (the id-keyed verify/keep-list joins); similarity index
    * artifacts key on vec_id (the code/assignment probes) except the
    * 64-row codebook union, keyed on cell. Derivers are the same
    * frames the queries build in-session, so materialize can never
    * drift from the consumers. */
  private val derivers
      : Seq[(String, String, (SparkSession, String) => DataFrame)] =
    Seq(
      ("signatures", "doc_id", (s, d) => Dedup.sessionSignatures(s, d)),
      ("clusters", "doc_id", (s, d) => Dedup.sessionClusters(s, d)),
      ("shingles", "doc_id", (s, d) => Dedup.sessionShingleSets(s, d)),
      // exact-dup fingerprints — the fourth dedup artifact: dd_exact,
      // the keeper frame and incremental triage read (doc_id, fp),
      // and the corpus-drop job probes the OLD corpus's fps to
      // classify a batch without re-scanning corpus text
      ("fingerprints", "doc_id", (s, d) => Dedup.sessionFingerprints(s, d)),
      // the sim frames are checkpointed here so the materializer's
      // stats/count/write passes see a real size (an un-checkpointed
      // training plan's join-multiplied stats estimate is garbage)
      // and pay the training once
      ("kmeans_cells", "vec_id",
        (s, d) => graft.queries.Similarity.kmeansAssign(s, d)
          .localCheckpoint(true)),
      ("pq_books", "cell",
        (s, d) => graft.queries.Similarity.pqBooksFrame(s, d)
          .localCheckpoint(true)),
      ("pq_codes", "vec_id",
        (s, d) => graft.queries.Similarity.pqCodesFrom(
          graft.queries.Similarity.pqTrain(s, d)).localCheckpoint(true)),
      // the trained tokenizer: k merge rows — hyperparameter-sized
      // (20 here, 30k+ in production, where retraining per query run
      // is exactly what this artifact exists to avoid)
      ("bpe_merges", "rank",
        (s, d) => graft.operators.BpeTrainer.mergesToFrame(s,
          graft.queries.TextAnalysis.trainedBpeMerges(s, d))))

  def names: Seq[String] = derivers.map(_._1)

  private def bucketKey(name: String): String =
    derivers.find(_._1 == name).get._2

  private def tableName(name: String) = s"graft_art_$name"

  private def manifestPath(outDir: String) =
    java.nio.file.Paths.get(outDir, "_graft_manifest.json")

  def manifestExists(outDir: String): Boolean =
    java.nio.file.Files.exists(manifestPath(outDir))

  /** Derive all artifacts for `srcDir` and write them bucketed
    * under `outDir`. Returns (name, rows, buckets) per artifact.
    *
    * Reader-atomic re-materialization (round 9): each artifact's
    * files land under a [[Versioned]] version directory
    * (`outDir/<name>/v<N>`), and `attach` resolves the live version
    * pointer — so re-materializing a corpus drop into the SAME dir
    * while another session is attached can never show that reader a
    * partial file set: it keeps reading its resolved version (which
    * survives one publish cycle) and re-attaches to the new one on
    * its own schedule. The manifest is promoted by atomic
    * temp-file move for the same reason. */
  def materialize(spark: SparkSession, srcDir: String, outDir: String,
      targetBucketBytes: Long = 32L << 20): Seq[(String, Long, Int)] = {
    val written = derivers.map { case (name, key, derive) =>
      val df = derive(spark, srcDir)
      // Size from MEASURED rows × schema default width, never from
      // optimizer stats: a localCheckpoint'd frame planwalks to a
      // LogicalRDD whose stats can degrade to the conf default
      // (effectively +inf), which round 8 caught writing a 2,000-row
      // code table into 65,536 buckets — thousands of empty-bucket
      // tasks on every subsequent scan. The count is one cheap pass
      // over an artifact we are about to write anyway.
      val rows = df.count()
      val bytes = rows * math.max(1, df.schema.defaultSize)
      val n = BucketLayout.bucketsFor(bytes, targetBucketBytes)
      spark.sql(s"DROP TABLE IF EXISTS ${tableName(name)}")
      val version = Versioned.publish(spark, s"$outDir/$name") { target =>
        BucketLayout.writeBucketed(df, tableName(name), key, n,
          Some(target))
      } { target =>
        val got = spark.read.parquet(target).count()
        if (got != rows) throw new IllegalStateException(
          s"artifact $name wrote $got rows, expected $rows — aborting " +
            "before the pointer flip; the prior version stays live")
      }
      // the write registered a catalog table at the staging path the
      // publish just renamed away; drop it — attach() is the only
      // sanctioned registration and re-declares the live location
      spark.sql(s"DROP TABLE IF EXISTS ${tableName(name)}")
      (name, rows, n, version)
    }
    // The manifest is the SINGLE atomic snapshot (ADVICE r9): it
    // records each artifact's exact version dir AND bucket count
    // together, so attach() resolving everything from ONE manifest
    // read can never bind a mixed old/new artifact set or declare a
    // bucket spec from a different generation than the files it
    // points at. The per-artifact pointer files remain for direct
    // Versioned readers but attach no longer consults them.
    val fp = sourceFingerprint(srcDir)
    val manifest = written.map { case (n, _, b, v) =>
      s""""$n":{"buckets":$b,"version":$v}"""
    }.mkString(
      s"""{"source":"$srcDir","source_fingerprint":"$fp","artifacts":{""",
      ",", "}}")
    java.nio.file.Files.createDirectories(manifestPath(outDir).getParent)
    val tmp = manifestPath(outDir).resolveSibling(
      s".manifest_tmp_${java.util.UUID.randomUUID}")
    java.nio.file.Files.write(tmp, manifest.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, manifestPath(outDir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    written.map { case (n, r, b, _) => (n, r, b) }
  }

  /** Content identity of a source dataset dir: file count + total
    * bytes + max mtime over its parquet files. A corpus REGENERATED
    * at the same path (same `source` string) changes this, which is
    * what lets [[ensureFor]] catch a stale artifact set the
    * source-path guard alone cannot see. */
  def sourceFingerprint(srcDir: String): String = {
    val root = java.nio.file.Paths.get(srcDir)
    if (!java.nio.file.Files.isDirectory(root)) return "absent"
    val s = java.nio.file.Files.walk(root)
    try {
      var count = 0L; var bytes = 0L; var maxM = 0L
      s.forEach { p =>
        val n = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) &&
            (n.endsWith(".parquet") || n == "_SUCCESS")) {
          count += 1
          bytes += java.nio.file.Files.size(p)
          maxM = math.max(maxM,
            java.nio.file.Files.getLastModifiedTime(p).toMillis)
        }
      }
      s"$count-$bytes-$maxM"
    } finally s.close()
  }

  private[graft] final case class Manifest(source: String, fingerprint: String,
      buckets: Map[String, Int], versions: Map[String, Int])

  private[graft] def readManifest(outDir: String): Manifest = {
    val txt = new String(
      java.nio.file.Files.readAllBytes(manifestPath(outDir)), "UTF-8")
    val source = """"source":"([^"]+)"""".r.findFirstMatchIn(txt)
      .map(_.group(1))
      .getOrElse(sys.error(s"no source in $outDir manifest"))
    val fp = """"source_fingerprint":"([^"]+)"""".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
    val entry = """"(\w+)":\{"buckets":(\d+),"version":(\d+)\}""".r
    val entries = entry.findAllMatchIn(txt)
      .map(m => (m.group(1), m.group(2).toInt, m.group(3).toInt)).toSeq
    if (entries.nonEmpty)
      Manifest(source, fp,
        entries.map(e => e._1 -> e._2).toMap,
        entries.map(e => e._1 -> e._3).toMap)
    else {
      // legacy flat manifest ({"buckets":{name:n,...}}) — no recorded
      // versions; resolve falls back to the per-artifact pointers
      val buckets = """"(\w+)":(\d+)""".r.findAllMatchIn(txt)
        .collect { case m if m.group(1) != "source" =>
          m.group(1) -> m.group(2).toInt }
        .toMap
      Manifest(source, fp, buckets, Map.empty)
    }
  }

  /** The manifest's recorded source dataset, if a manifest exists. */
  def manifestSource(outDir: String): Option[String] =
    if (manifestExists(outDir)) Some(readManifest(outDir).source) else None

  /** Register the persisted tables (external, with their recorded
    * bucket spec — catalog state a fresh session must re-declare) and
    * flip consumers for the manifest's source dataset to read them.
    * Locations and bucket counts come from ONE manifest snapshot —
    * never from per-artifact pointer files — so a concurrent
    * re-materialization can only ever hand this session a wholly-old
    * or wholly-new consistent set. Clears every [[SessionCache]]: a
    * cached entry depends on the attach state its key doesn't carry. */
  def attach(spark: SparkSession, outDir: String): Unit = {
    val m = readManifest(outDir)
    names.foreach { n =>
      val t = tableName(n)
      val loc = m.versions.get(n)
        .map(v => Versioned.versionDir(s"$outDir/$n", v))
        .getOrElse(Versioned.resolve(spark, s"$outDir/$n"))
      val key = bucketKey(n)
      val schema = spark.read.parquet(loc).schema.toDDL
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(
        s"""CREATE TABLE $t ($schema) USING parquet
           CLUSTERED BY ($key) SORTED BY ($key)
           INTO ${m.buckets(n)} BUCKETS
           LOCATION '$loc'""")
    }
    spark.conf.set(ConfDir, outDir)
    spark.conf.set(ConfSource, m.source)
    SessionCache.clearAll()
  }

  /** Materialize-if-needed + attach: re-materializes when no manifest
    * exists, when the manifest's source is a different dataset path,
    * or when the source files changed since materialization (a corpus
    * REGENERATED at the same path — the stale-artifact case a
    * path-equality guard cannot see). The Bench/Sweep entry point. */
  def ensureFor(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    val fresh = manifestExists(outDir) && {
      val m = readManifest(outDir)
      m.source == srcDir &&
        (m.fingerprint.isEmpty || m.fingerprint == sourceFingerprint(srcDir)) &&
        // the manifest must cover every CURRENT artifact name — a dir
        // materialized by an older binary (before an artifact was
        // added to the set) would otherwise attach and then fail on
        // the missing table's path (caught round 15: a pre-existing
        // bench dir lacked the new fingerprints artifact)
        names.forall(m.buckets.contains)
    }
    if (!fresh) {
      if (manifestExists(outDir))
        System.err.println(s"[artifacts] manifest at $outDir is stale " +
          s"for $srcDir — re-materializing")
      materialize(spark, srcDir, outDir)
    }
    attach(spark, outDir)
  }

  /** Drop the registrations and return the session to
    * derive-on-demand, clearing the session caches as [[attach]] does.
    * The files under the materialized dir remain. */
  def detach(spark: SparkSession): Unit = {
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS ${tableName(n)}"))
    spark.conf.unset(ConfDir)
    spark.conf.unset(ConfSource)
    SessionCache.clearAll()
  }

  /** The consumer hook: the persisted artifact `name` for dataset `d`,
    * if one is attached AND was materialized from exactly `d`. */
  def lookup(s: SparkSession, d: String, name: String): Option[DataFrame] =
    for {
      src <- s.conf.getOption(ConfSource)
      if src == d && s.catalog.tableExists(tableName(name))
    } yield s.table(tableName(name))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Artifacts <srcDir> <outDir> [targetBucketBytes]")
    val spark = graft.Sessions.local()
    val written = materialize(spark, args(0), args(1),
      args.lift(2).map(_.toLong).getOrElse(32L << 20))
    written.foreach { case (n, rows, b) =>
      println(s"[artifacts] $n: $rows rows in $b buckets") }
    spark.stop()
  }
}
