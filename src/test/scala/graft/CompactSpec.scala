package graft

import graft.tools.Compact
import org.apache.spark.sql.functions._

/** Small-file compaction: fewer files, identical content, safe swap. */
class CompactSpec extends SparkSpec {
  import spark.implicits._

  test("compaction shrinks file count, preserves content, survives re-read") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    // land a deliberately fragmented table: 40 files for ~40k tiny rows
    val src = spark.range(40000)
      .select($"id", md5($"id".cast("string")).as("payload"))
    src.repartition(40).write.parquet(dir)
    val checksumBefore = spark.read.parquet(dir)
      .agg(sum(conv(substring($"payload", 1, 8), 16, 10).cast("long")),
        count(lit(1))).head()

    val (before, after, rows) = Compact.run(spark, dir, targetBytes = 1L << 20)
    assert(rows === 40000L)
    assert(before === 40)
    assert(after < before, s"expected fewer files, got $before -> $after")

    val re = spark.read.parquet(dir)
    val checksumAfter = re
      .agg(sum(conv(substring($"payload", 1, 8), 16, 10).cast("long")),
        count(lit(1))).head()
    assert(checksumAfter === checksumBefore, "content must be preserved")
    // no temp/old residue next to the table
    val parent = new java.io.File(dir).getParentFile
    assert(parent.listFiles().forall(!_.getName.contains("_compact_")),
      "swap must clean up its temp directories")
  }

  test("a run that died inside the swap window is restored on the next run") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    spark.range(1000).select($"id").repartition(8).write.parquet(dir)
    // simulate a crash between rename(path→old) and rename(tmp→path):
    // the table path is gone, the data sits in the hidden old dir
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(
      path.getParent, s".${path.getName}_compact_old")
    require(fs.rename(path, old))
    assert(!fs.exists(path) && fs.exists(old))

    val (before, after, rows) = Compact.run(spark, dir, targetBytes = 1L << 20)
    assert(rows === 1000L, "recovery must restore the stranded original")
    assert(after <= before)
    assert(spark.read.parquet(dir).count() === 1000L)
    assert(!fs.exists(old), "recovered old dir must be cleaned up")
  }

  test("stale old dir next to an intact table is cleared, not restored") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    spark.range(500).select($"id").repartition(4).write.parquet(dir)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(
      path.getParent, s".${path.getName}_compact_old")
    // superseded copy left behind by a crash after promote
    spark.range(99).write.parquet(old.toString)

    val (_, _, rows) = Compact.run(spark, dir, targetBytes = 1L << 20)
    assert(rows === 500L, "the intact table wins over the stale copy")
    assert(spark.read.parquet(dir).count() === 500L)
    assert(!fs.exists(old))
  }

  test("versioned compaction: a reader attached mid-swap sees old or new wholly") {
    import graft.tools.Versioned
    val dir = java.nio.file.Files.createTempDirectory("compactv").toString + "/t"
    spark.range(20000)
      .select($"id", md5($"id".cast("string")).as("payload"))
      .repartition(20).write.parquet(dir)
    def checksum(d: String) = spark.read.parquet(d)
      .agg(sum(conv(substring($"payload", 1, 8), 16, 10).cast("long")),
        count(lit(1))).head()
    val want = checksum(dir)

    // a concurrent reader resolves its snapshot BEFORE the compaction
    val readerSnapshot = Versioned.resolve(spark, dir)
    val (before, after, rows) = Compact.runVersioned(spark, dir, 1L << 20)
    assert(rows === 20000L && before === 20 && after < before)
    // the in-flight reader's snapshot (the flat "v0" files) is intact
    // and content-complete — the swap never touched it
    assert(checksum(readerSnapshot) === want,
      "the superseded snapshot must stay readable for in-flight readers")
    // a fresh reader resolves the compacted v1, identical content
    assert(Versioned.current(spark, dir) === Some(1))
    assert(checksum(Versioned.resolve(spark, dir)) === want)
    // the claim rename emptied the staging root; the commit drops it
    val stagingRoot = new java.io.File(dir, ".staging")
    assert(!stagingRoot.exists(),
      s"a successful publish left ${Option(stagingRoot.list()).map(_.toSeq)}")

    // second publish: v2 lands, v1 survives one cycle, flat v0 is GC'd
    val v1Snapshot = Versioned.resolve(spark, dir)
    Compact.runVersioned(spark, dir, 1L << 20)
    assert(Versioned.current(spark, dir) === Some(2))
    assert(checksum(v1Snapshot) === want,
      "the immediately superseded version survives one publish cycle")
    val root = new java.io.File(dir)
    assert(!root.listFiles().exists(f =>
      f.isFile && f.getName.endsWith(".parquet")),
      "flat pre-versioned files are GC'd once two versions supersede them")

    // third publish: v1 is now two cycles old and gone; v2 retained
    Compact.runVersioned(spark, dir, 1L << 20)
    assert(Versioned.current(spark, dir) === Some(3))
    assert(!new java.io.File(dir, "v1").exists(), "v1 must be GC'd at v3")
    assert(new java.io.File(dir, "v2").exists(), "v2 survives one cycle")
    assert(checksum(Versioned.resolve(spark, dir)) === want)
    assert(!stagingRoot.exists(), "every successful publish drops .staging")
  }

  test("versioned publish: a failed verify leaves the live pointer untouched") {
    import graft.tools.Versioned
    val dir = java.nio.file.Files.createTempDirectory("compactv").toString + "/t"
    spark.range(300).select($"id").write.parquet(dir)
    Compact.runVersioned(spark, dir, 1L << 20) // adopt → v1
    assert(Versioned.current(spark, dir) === Some(1))
    intercept[IllegalStateException] {
      Versioned.publish(spark, dir) { target =>
        spark.range(7).select($"id").write.parquet(target) // short write
      } { target =>
        val got = spark.read.parquet(target).count()
        if (got != 300L) throw new IllegalStateException(s"short write: $got")
      }
    }
    assert(Versioned.current(spark, dir) === Some(1),
      "a failed verify must not move the pointer")
    assert(Versioned.read(spark, dir).count() === 300L)
    // and the next successful publish reuses the abandoned slot cleanly
    Compact.runVersioned(spark, dir, 1L << 20)
    assert(Versioned.current(spark, dir) === Some(2))
    assert(Versioned.read(spark, dir).count() === 300L)
  }

  test("versioned publish: a crashed attempt's staging debris is GC'd by the next commit") {
    import graft.tools.Versioned
    val dir = java.nio.file.Files.createTempDirectory("compactv").toString + "/t"
    spark.range(50).select($"id").write.parquet(dir)
    Compact.runVersioned(spark, dir, 1L << 20) // adopt → v1
    // a writer that died mid-stage leaves its dir behind (the
    // in-process catch never ran); only the next successful commit
    // can reap it
    val dead = new java.io.File(dir, ".staging/v2_tmp_dead-attempt")
    assert(dead.mkdirs())
    java.nio.file.Files.writeString(
      dead.toPath.resolve("part-orphan.parquet"), "junk")
    Compact.runVersioned(spark, dir, 1L << 20) // lands v2, GC runs
    assert(Versioned.current(spark, dir) === Some(2))
    // GRACE (ADVICE r10): a v2 staging dir at the v2 commit might be
    // a concurrent publisher still writing (it loses its claim and
    // cleans up after ITSELF) — the commit must not delete it
    // mid-write, so only k < v staging is reaped.
    assert(dead.exists(),
      "same-version staging must survive its own version's commit")
    Compact.runVersioned(spark, dir, 1L << 20) // lands v3 → v2 staging dead
    assert(Versioned.current(spark, dir) === Some(3))
    assert(!dead.exists(),
      "dead staging (version < live) must be reaped at the next commit")
    assert(Versioned.read(spark, dir).count() === 50L)
  }

  test("versioned publish: a concurrent publisher that lost the claim aborts cleanly") {
    import graft.tools.Versioned
    val dir = java.nio.file.Files.createTempDirectory("compactv").toString + "/t"
    spark.range(100).select($"id").write.parquet(dir)
    Compact.runVersioned(spark, dir, 1L << 20) // adopt → v1
    // Simulate the race's decided state: another publisher computed
    // the same next (2) and already LANDED v2 via its claim rename —
    // before our pointer read could see it. Our claim rename must
    // fail, the attempt must abort without touching the winner's
    // files or the pointer, and our staging dir must be cleaned up.
    val winner = new java.io.File(dir, "v2")
    spark.range(100).select($"id").write.parquet(winner.toString)
    val winnerFiles = winner.listFiles().map(_.getName).toSet
    val err = intercept[IllegalStateException] {
      Versioned.publish(spark, dir) { target =>
        spark.range(100).select($"id").write.parquet(target)
      }()
    }
    assert(err.getMessage.contains("concurrent publisher"), err.getMessage)
    assert(winner.listFiles().map(_.getName).toSet == winnerFiles,
      "the loser must not disturb the winner's landed version")
    assert(Versioned.current(spark, dir) === Some(1),
      "the loser must not move the pointer")
    val stagingRoot = new java.io.File(dir, ".staging")
    assert(!stagingRoot.exists() || !stagingRoot.listFiles()
      .exists(_.getName.matches("""v\d+_tmp_.*""")),
      "the losing attempt's staging dir must be cleaned up")
  }

  test("publishZorder promotes a re-layout reader-atomically") {
    import graft.tools.{Layout, Versioned}
    val dir = java.nio.file.Files.createTempDirectory("layoutv").toString + "/t"
    spark.range(10000)
      .select(($"id" % 97).cast("int").as("a"),
        ($"id" % 89).cast("int").as("b"), $"id")
      .write.parquet(dir)
    val v = Layout.publishZorder(spark, dir, "a", "b", nFiles = 4)
    assert(v === 1)
    assert(Versioned.read(spark, dir).count() === 10000L)
    assert(Versioned.read(spark, dir).agg(sum($"id")).head.getLong(0)
      === (0L until 10000L).sum)
  }

  test("writeFile is reader-atomic: a concurrent reader never sees a missing or torn file") {
    import graft.tools.Versioned
    val dir = java.nio.file.Files.createTempDirectory("statefile")
    val path = s"file:$dir/_state"
    def text(i: Int) = s"$i:" + "x" * 4096
    val Whole = """(\d+):x{4096}""".r
    Versioned.writeFile(spark, path, text(0))
    @volatile var writing = true
    // bad read kind -> count; touched by the reader only until join()
    val bad = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    var reads = 0
    val reader = new Thread(() => while (writing) {
      reads += 1
      scala.util.Try(Versioned.readFile(spark, path)) match {
        case scala.util.Success(Some(Whole(_))) =>
        case other => bad(other.toString.take(120)) += 1
      }
    })
    reader.start()
    try (1 to 300).foreach(i => Versioned.writeFile(spark, path, text(i)))
    finally { writing = false; reader.join() }
    assert(bad.isEmpty, s"reader saw a missing, torn or unreadable file: $bad")
    assert(reads > 0)
    assert(Versioned.readFile(spark, path).contains(text(300)))
    assert(dir.toFile.list().toSeq == Seq("_state"),
      "no temp file or .crc sidecar is left behind")
  }
}
