package graft.tools

import java.nio.file.{Files, StandardCopyOption}
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reader-atomic promotion — the one commit path for persisted state:
  * the maintenance jobs ([[Compact]], [[Layout]]), [[Artifacts]] and
  * [[CorpusDrop]] publish through it, on the path's Hadoop FileSystem.
  *
  * [[Compact.run]]'s move-aside/promote swap has a documented window
  * where the table path does not exist, and a concurrent session
  * listing the directory mid-swap can see a partial file set. The
  * versioned layout closes that window the way every table format
  * does: data is IMMUTABLE once written under `dir/v<N>/`, and the
  * only mutable state is a one-line pointer file `dir/_graft_current`
  * naming the live version. A rewrite lands completely in `v<N+1>`, is verified,
  * and then the pointer flips via write-temp + single-file RENAME
  * ([[writeFile]]: one `rename(2)` on a local disk, an HDFS
  * `FileContext.rename(OVERWRITE)` elsewhere). A reader resolves the
  * pointer ONCE and scans that version directory: it sees wholly the
  * old version or wholly the new one, never a mix and never a missing
  * path.
  *
  * Version retention: after flipping to v(N+1), versions < N are
  * deleted — the immediately superseded v(N) survives one more
  * publish cycle so an in-flight reader that resolved just before the
  * flip finishes its scan against intact files. (At cluster scale
  * retention is driven by a TTL ≥ the longest query; one cycle is the
  * single-box equivalent and keeps disk bounded at ≤ 2 copies.)
  */
object Versioned {

  private val PointerName = "_graft_current"

  /** The Hadoop FileSystem that `path` lives on — every state-dir
    * operation goes through it, so a `file:` or `hdfs:` URI works like
    * a plain path. */
  private[tools] def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def pointerPath(dir: String) = new Path(dir, PointerName)

  def versionDir(dir: String, v: Int): String =
    new Path(dir, s"v$v").toString

  /** The live version number, if `dir` uses the versioned layout. */
  def current(spark: SparkSession, dir: String): Option[Int] =
    readFile(spark, pointerPath(dir).toString).map(_.trim.toInt)

  /** `fs` without its `.crc` layer, if it is the local filesystem. */
  private def raw(fs: FileSystem): FileSystem = fs match {
    case l: LocalFileSystem => l.getRawFileSystem
    case other => other
  }

  /** The text of the small state file at `path`, if it exists (read
    * raw: [[writeFile]] writes local files with no `.crc`). */
  def readFile(spark: SparkSession, path: String): Option[String] = {
    val (p, fs) = (new Path(path), raw(fsOf(spark, path)))
    Option.when(fs.exists(p))(scala.util.Using.resource(fs.open(p))(in =>
      new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")))
  }

  /** Replace the small state file at `path` with `text` atomically:
    * write a sibling temp file, then rename it over `path`. A reader
    * sees the old text or the new, never a truncated or missing file.
    * Every pointer, manifest and ledger file of the state layer is
    * written through here. */
  def writeFile(spark: SparkSession, path: String, text: String): Unit = {
    val p = new Path(path)
    val tmp = new Path(p.getParent,
      s".${p.getName}_tmp_${java.util.UUID.randomUUID}")
    val fs = fsOf(spark, path)
    val out = raw(fs).create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    fs match {
      // LocalFs's rename(OVERWRITE) deletes the target first and moves
      // the file and its .crc in two steps; locally the raw temp (an
      // old sidecar dropped first) is promoted by one rename(2)
      case l: LocalFileSystem =>
        raw(l).delete(l.getChecksumFile(p), false)
        Files.move(l.pathToFile(tmp).toPath, l.pathToFile(p).toPath,
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      // elsewhere (HDFS) rename with OVERWRITE is the atomic replace
      case _ => FileContext.getFileContext(p.toUri,
        spark.sparkContext.hadoopConfiguration)
        .rename(tmp, p, Options.Rename.OVERWRITE)
    }
  }

  /** The directory a reader should scan: the live version dir if a
    * pointer exists, else the flat dir itself (pre-versioned tables
    * keep working unchanged). */
  def resolve(spark: SparkSession, dir: String): String =
    current(spark, dir).map(v => versionDir(dir, v)).getOrElse(dir)

  /** Open the live snapshot of a (possibly versioned) parquet table. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(resolve(spark, dir))

  /** Atomically flip the pointer to `v` ([[writeFile]]), then GC
    * versions older than the one just superseded. */
  private def commit(spark: SparkSession, dir: String, v: Int): Unit = {
    writeFile(spark, pointerPath(dir).toString, v.toString)
    val fs = fsOf(spark, dir)
    // keep v-1 for in-flight readers; drop anything older, including
    // the flat pre-versioned files ("version 0", dropped once v2
    // lands). Staging `.staging/v<k>_tmp_*` with k < v can never win
    // its claim, so it is dead; k == v is left alone (ADVICE r10): it
    // may be a concurrent publisher still writing, which cleans up on
    // its own abort. A crashed k == v attempt goes at the next commit.
    fs.listStatus(new Path(dir)).foreach { st =>
      val n = st.getPath.getName
      val isOldVersion = n.startsWith("v") && n.drop(1).nonEmpty &&
        n.drop(1).forall(_.isDigit) && n.drop(1).toInt < v - 1
      val isFlatData = st.isFile && v - 1 > 0 &&
        (n.endsWith(".parquet") || n == "_SUCCESS" || n.endsWith(".crc"))
      if (isOldVersion || isFlatData)
        fs.delete(st.getPath, true)
    }
    val stagingRoot = new Path(dir, StagingDirName)
    if (fs.exists(stagingRoot)) {
      fs.listStatus(stagingRoot).foreach { st =>
        val isDeadStaging = StagingRe.findFirstMatchIn(st.getPath.getName)
          .exists(_.group(1).toInt < v)
        if (isDeadStaging) fs.delete(st.getPath, true)
      }
      // drop the root once empty: a NON-recursive delete fails on a
      // non-empty dir, so a concurrent publisher's staging survives
      try fs.delete(stagingRoot, false)
      catch { case _: java.io.IOException => }
    }
  }

  private val StagingDirName = ".staging"
  private val StagingRe = """^v(\d+)_tmp_.*""".r

  /** Publish a new version of `dir`: `writer` materializes the full
    * next-version directory, `verify` inspects it (count checks —
    * throw to abort with the live version untouched), then the
    * pointer flips atomically. Returns the published version. A flat
    * (pre-versioned) dir publishes v1 alongside its flat files; the
    * flat files stop being read once the pointer exists and are GC'd
    * two publishes later — they are never mutated, so flat readers
    * that predate the first publish stay safe too.
    *
    * Writer coordination (ADVICE r9): the writer stages into a
    * UUID-named temp dir, and claiming the version number is ONE
    * directory rename (`tmp → v<N>`) that fails if v<N> already
    * landed — of two concurrent publishers exactly one wins, the loser
    * throws with the live pointer untouched, and nobody deletes a dir
    * another writer is filling. A crashed attempt's staging dir is
    * GC'd by the first commit that supersedes its version. */
  def publish(spark: SparkSession, dir: String)(
      writer: String => Unit)(verify: String => Unit = _ => ()): Int = {
    val next = current(spark, dir).getOrElse(0) + 1
    val target = new Path(versionDir(dir, next))
    val fs = fsOf(spark, dir)
    // staging lives under a DOT-prefixed parent so a flat (pre-v1)
    // reader never lists in-progress files, while its own leaf name
    // stays visible to verify()'s spark.read (hidden-path filter)
    fs.mkdirs(new Path(dir, StagingDirName))
    val staging = new Path(new Path(dir, StagingDirName),
      s"v${next}_tmp_${java.util.UUID.randomUUID}")
    try {
      writer(staging.toString)
      verify(staging.toString)
      // the claim: one dir rename that REFUSES an existing
      // destination. FileSystem.rename has mv semantics (an existing
      // dst dir swallows src as a child); FileContext with
      // Rename.NONE is the Hadoop spelling of fail-if-exists.
      try FileContext.getFileContext(target.toUri,
          spark.sparkContext.hadoopConfiguration)
        .rename(staging, target, Options.Rename.NONE)
      catch { case e: java.io.IOException =>
        throw new IllegalStateException(
          s"concurrent publisher already landed $target — aborting; " +
            "the winning version is live and this attempt wrote " +
            "nothing visible", e)
      }
    } catch {
      case t: Throwable => fs.delete(staging, true); throw t
    }
    commit(spark, dir, next)
    next
  }
}
