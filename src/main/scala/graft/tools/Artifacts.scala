package graft.tools

import graft.queries.Dedup
import org.apache.hadoop.fs.Path
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
  * co-located buckets — plus a manifest recording the source dataset,
  * its fingerprint and each artifact's bucket count and version, and
  * teaches the consumers (via [[attach]]) to read the persisted form
  * instead of re-deriving. Every file goes through the path's Hadoop
  * FileSystem, so `srcDir` and `outDir` may be any Hadoop path.
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

  private def manifestPath(outDir: String) = s"$outDir/_graft_manifest.json"

  /** Derive all artifacts for `srcDir` and write them bucketed
    * under `outDir`. Returns (name, rows, buckets) per artifact.
    *
    * Reader-atomic re-materialization (round 9): each artifact's
    * files land under a [[Versioned]] version directory
    * (`outDir/<name>/v<N>`), and `attach` binds the versions the
    * manifest records — so re-materializing a corpus drop into the
    * SAME dir while another session is attached can never show that
    * reader a partial file set: it keeps reading its resolved version
    * (which survives one publish cycle) and re-attaches to the new one
    * on its own schedule. */
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
      val version = Versioned.publish(spark, s"$outDir/$name") { target =>
        BucketLayout.writeBucketedAt(df, key, n, target)
      } { target =>
        val got = spark.read.parquet(target).count()
        if (got != rows) throw new IllegalStateException(
          s"artifact $name wrote $got rows, expected $rows — aborting " +
            "before the pointer flip; the prior version stays live")
      }
      (name, rows, n, version)
    }
    writeManifest(spark, srcDir, outDir,
      written.map { case (n, _, b, v) => (n, b, v) })
    written.map { case (n, r, b, _) => (n, r, b) }
  }

  /** Write `outDir`'s manifest for artifacts derived from `srcDir`:
    * `(name, buckets, version)` per artifact. The manifest is the
    * SINGLE atomic snapshot (ADVICE r9): it records each artifact's
    * exact version dir AND bucket count together, so attach()
    * resolving everything from ONE manifest read can never bind a
    * mixed old/new artifact set or declare a bucket spec from a
    * different generation than the files it points at. It is replaced
    * through [[Versioned.writeFile]], so a reader never sees it torn. */
  private[tools] def writeManifest(spark: SparkSession, srcDir: String,
      outDir: String, entries: Seq[(String, Int, Int)]): Unit = {
    val fp = sourceFingerprint(spark, srcDir)
    Versioned.writeFile(spark, manifestPath(outDir), entries.map {
      case (n, b, v) => s""""$n":{"buckets":$b,"version":$v}"""
    }.mkString(
      s"""{"source":"$srcDir","source_fingerprint":"$fp","artifacts":{""",
      ",", "}}"))
  }

  /** Content identity of a source dataset dir: file count + total
    * bytes + max mtime over its parquet files, listed through the
    * path's Hadoop FileSystem. A corpus REGENERATED at the same path
    * (same `source` string) changes this, which is what lets
    * [[ensureFor]] catch a stale artifact set the source-path guard
    * alone cannot see. */
  def sourceFingerprint(spark: SparkSession, srcDir: String): String = {
    val root = new Path(srcDir)
    val fs = Versioned.fsOf(spark, srcDir)
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory)
      return "absent"
    var count = 0L; var bytes = 0L; var maxM = 0L
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (n.endsWith(".parquet") || n == "_SUCCESS") {
        count += 1
        bytes += st.getLen
        maxM = math.max(maxM, st.getModificationTime)
      }
    }
    s"$count-$bytes-$maxM"
  }

  private[graft] final case class Manifest(source: String, fingerprint: String,
      buckets: Map[String, Int], versions: Map[String, Int])

  /** The manifest under `outDir`, if one exists. Only the versioned
    * form is read; a manifest without versioned entries comes back
    * with empty maps, which [[ensureFor]] treats as stale. */
  private[graft] def readManifest(spark: SparkSession,
      outDir: String): Option[Manifest] =
    Versioned.readFile(spark, manifestPath(outDir)).map { txt =>
      val source = """"source":"([^"]+)"""".r.findFirstMatchIn(txt)
        .map(_.group(1))
        .getOrElse(sys.error(s"no source in $outDir manifest"))
      val fp = """"source_fingerprint":"([^"]+)"""".r.findFirstMatchIn(txt)
        .map(_.group(1)).getOrElse("")
      val entries = """"(\w+)":\{"buckets":(\d+),"version":(\d+)\}""".r
        .findAllMatchIn(txt)
        .map(m => (m.group(1), m.group(2).toInt, m.group(3).toInt)).toSeq
      Manifest(source, fp, entries.map(e => e._1 -> e._2).toMap,
        entries.map(e => e._1 -> e._3).toMap)
    }

  /** Register the persisted tables (external, with their recorded
    * bucket spec — catalog state a fresh session must re-declare) and
    * flip consumers for the manifest's source dataset to read them.
    * Locations and bucket counts come from ONE manifest snapshot —
    * never from per-artifact pointer files — so a concurrent
    * re-materialization can only ever hand this session a wholly-old
    * or wholly-new consistent set. Clears every [[SessionCache]]: a
    * cached entry depends on the attach state its key doesn't carry. */
  def attach(spark: SparkSession, outDir: String): Unit = {
    val m = readManifest(spark, outDir)
      .getOrElse(sys.error(s"no artifact manifest under $outDir"))
    names.foreach { n =>
      val t = tableName(n)
      val loc = Versioned.versionDir(s"$outDir/$n", m.versions.getOrElse(n,
        sys.error(s"$outDir manifest records no version of $n")))
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
    * when it records no version of some artifact, or when the source
    * files changed since materialization (a corpus REGENERATED at the
    * same path — the stale-artifact case a path-equality guard cannot
    * see). The Bench/Sweep entry point. */
  def ensureFor(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    val manifest = readManifest(spark, outDir)
    val fresh = manifest.exists { m =>
      m.source == srcDir &&
        m.fingerprint == sourceFingerprint(spark, srcDir) &&
        // the manifest must record a version of every CURRENT artifact
        // name — a dir materialized by an older binary (before an
        // artifact was added to the set, or before versions were
        // recorded) would otherwise attach and then fail on the
        // missing table's path (caught round 15: a pre-existing bench
        // dir lacked the new fingerprints artifact)
        names.forall(m.versions.contains)
    }
    if (!fresh) {
      if (manifest.isDefined)
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
