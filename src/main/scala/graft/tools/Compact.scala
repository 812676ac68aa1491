package graft.tools

import org.apache.spark.sql.SparkSession

/** Small-file compaction — the maintenance pass every long-lived
  * 100 TB table needs: streaming sinks and incremental batch appends
  * land thousands of KB-sized parquet files per day, and scan
  * planning, footer reads, and shuffle-fetch overheads degrade
  * linearly in file COUNT even when total bytes are constant.
  *
  * `run` rewrites one dataset directory to ~`targetBytes` files:
  * partition count = ceil(inputBytes / targetBytes) (inputBytes from
  * the file system, not a data scan), `repartition(n)` for even
  * output sizes, a COUNT-VERIFY of the rewritten output against the
  * source, then a two-rename swap via sibling temp/old dirs. Ordering
  * is not preserved — parquet tables are unordered by contract here
  * (every registry query orders explicitly or is order-free).
  *
  * Crash-safety contract (plain filesystems have no multi-path
  * atomic rename, so be explicit about the window): between
  * rename(path→old) and rename(tmp→path) the table path briefly does
  * not exist. If the promote rename fails, `run` rolls the original
  * back into place and aborts; if the process dies inside the window,
  * the data is intact in `.<name>_compact_old` and the next `run`
  * restores it automatically before doing anything else. The rewrite
  * is verified (row count) BEFORE the original is touched — a bad
  * rewrite aborts with the table untouched. At cluster scale the same
  * routine runs under a metastore lock or a table format's
  * transaction, which closes the window entirely.
  *
  * At cluster scale the same routine runs per partition directory
  * (dt=.../hour=...) under a metastore lock or a table format's
  * transaction; the single-dir core is what this exercises.
  *
  * The flat swap stays beside [[runVersioned]] because two readers
  * scan flat `<table>.parquet` dirs and never resolve a version
  * pointer — `Tables.load` and the DuckDB oracle (`scripts/check.py`
  * globs the files) — so compacting such a dataset through
  * [[Versioned]] would make it unreadable to both.
  */
object Compact {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: Compact <datasetDir> [targetBytes]")
    val spark = graft.Sessions.local()
    val (before, after, rows) =
      run(spark, args(0), args.lift(1).map(_.toLong).getOrElse(128L << 20))
    println(s"[compact] files $before -> $after ($rows rows)")
    spark.stop()
  }

  /** Returns (filesBefore, filesAfter, rowCount). */
  def run(spark: SparkSession, dir: String,
      targetBytes: Long): (Int, Int, Long) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(
      path.getParent, s".${path.getName}_compact_tmp")
    val old = new org.apache.hadoop.fs.Path(
      path.getParent, s".${path.getName}_compact_old")
    // recover from a previous attempt that died inside the swap
    // window: the original is intact in old — restore it first
    if (fs.exists(old)) {
      if (!fs.exists(path)) {
        require(fs.rename(old, path),
          s"stranded $old exists and $path is missing, but the restore " +
            "rename failed — restore it manually before compacting")
      } else {
        // both exist: a promote succeeded but cleanup died; old is a
        // superseded copy, safe to drop
        require(fs.delete(old, true), s"could not clear stale $old")
      }
    }
    def dataFiles() = fs.listStatus(path).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val before = dataFiles()
    val totalBytes = before.map(_.getLen).sum
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    fs.delete(tmp, true)
    val df = spark.read.parquet(dir)
    val rows = df.count()
    df.repartition(n).write.parquet(tmp.toString)
    // verify the rewrite BEFORE touching the original: a short write
    // (lost task, bad disk) aborts here with the table untouched
    val rewritten = spark.read.parquet(tmp.toString).count()
    if (rewritten != rows) {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"rewrite of $path produced $rewritten rows, expected $rows — " +
          "aborting before swap; original untouched")
    }
    // two-rename swap: move the old dir aside, promote, then clean up
    require(fs.rename(path, old), s"could not move $path aside")
    if (!fs.rename(tmp, path)) {
      // promote failed inside the window — roll the original back
      val restored = fs.rename(old, path)
      throw new IllegalStateException(
        if (restored) s"could not promote $tmp; original restored at $path"
        else s"could not promote $tmp AND rollback failed — original " +
          s"data is intact in $old; rename it back to $path manually")
    }
    fs.delete(old, true)
    (before.size, dataFiles().size, rows)
  }

  /** Reader-atomic compaction through the [[Versioned]] pointer
    * protocol — supersedes [[run]]'s move-aside swap wherever
    * concurrent readers exist: the rewrite lands wholly in the next
    * version directory, is count-verified there, and the one-line
    * pointer flip is the only mutation a reader can race — it
    * resolves wholly-old or wholly-new, never a mix and never a
    * missing path. A flat (never-versioned) table is adopted on the
    * first call: its files become "version 0", the compacted rewrite
    * publishes as v1, and the flat files are GC'd one further publish
    * later. Returns (filesBefore, filesAfter, rows). */
  def runVersioned(spark: SparkSession, dir: String,
      targetBytes: Long): (Int, Int, Long) = {
    val srcDir = Versioned.resolve(spark, dir)
    val srcPath = new org.apache.hadoop.fs.Path(srcDir)
    val fs = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val before = parquetFiles(srcPath)
    val totalBytes = before.map(_.getLen).sum
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(srcDir)
    val rows = df.count()
    var after = 0
    Versioned.publish(spark, dir) { target =>
      df.repartition(n).write.parquet(target)
    } { target =>
      val rewritten = spark.read.parquet(target).count()
      if (rewritten != rows)
        throw new IllegalStateException(
          s"rewrite of $dir produced $rewritten rows, expected $rows — " +
            "aborting before the pointer flip; live version untouched")
      after = parquetFiles(new org.apache.hadoop.fs.Path(target)).size
    }
    (before.size, after, rows)
  }
}
