package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data layout for scan locality — the other half of 100 TB table
  * maintenance next to [[Compact]]: compaction fixes file COUNT,
  * layout fixes WHICH files a filtered scan must read. Parquet keeps
  * per-file (and per-row-group) min/max stats; a reader skips any
  * file whose stat range cannot satisfy the predicate, so scan cost
  * for a selective filter is governed by how well the write clustered
  * the filter column(s).
  *
  *  - [[rangeLayout]] clusters on ONE key: `repartitionByRange` +
  *    in-partition sort gives near-disjoint per-file ranges — a
  *    filter on that key touches O(selectivity) files. (The range
  *    exchange samples the key to place balanced bounds — this is
  *    Spark's own sampling exchange, no driver data pass.)
  *  - [[zorderLayout]] clusters on TWO keys at once by sorting on the
  *    bit-interleaved Z-value ([[zValue]]): each key's bits alternate
  *    in the sort key, so file ranges stay narrow in BOTH dimensions
  *    and filters on EITHER column skip most files — the standard
  *    multi-dimensional-layout trade (each single dimension prunes a
  *    bit worse than its dedicated sort, every dimension prunes far
  *    better than a foreign sort).
  *
  * Both run as one exchange + one write; nothing driver-side.
  * LayoutSpec verifies the actual pruning contract from the written
  * files' own stats: per-file min/max ranges, read back per file,
  * must overlap a narrow probe predicate in only a small fraction of
  * files.
  */
object Layout {

  /** Bit-interleaved Z-value of two non-negative int columns:
    * bit i of `a` lands at position 2i, bit i of `b` at 2i+1.
    * Pure integer expressions — whole-stage-codegen friendly. */
  def zValue(a: Column, b: Column, bits: Int = 21): Column = {
    require(bits >= 1 && bits <= 31, s"bits out of range: $bits")
    (0 until bits).map { i =>
      (shiftright(a.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(b.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)
  }

  /** Single-key clustering: near-disjoint per-file ranges on `key`. */
  def rangeLayout(df: DataFrame, key: String, nFiles: Int,
      outDir: String): Unit =
    df.repartitionByRange(nFiles, col(key))
      .sortWithinPartitions(col(key))
      .write.mode("overwrite").parquet(outDir)

  /** Two-key clustering on the Z-value of (keyA, keyB). */
  def zorderLayout(df: DataFrame, keyA: String, keyB: String, nFiles: Int,
      outDir: String, bits: Int = 21): Unit = {
    val z = zValue(col(keyA), col(keyB), bits).as("__z")
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
  }

  /** CLI: one-table range-layout rewrite —
    * `scripts/run.sh graft.tools.Layout <src.parquet> <dst.parquet>
    * <key> [nFiles]`. The corpus-normalization step for physical-
    * order A/Bs (VERDICT r13 #2: is a bench delta the plan or the
    * generation history's row order?) and the single-key clustering
    * maintenance op run standalone. nFiles defaults to the source's
    * file count so an A/B varies ROW ORDER only. Row-count verified
    * before exit. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Layout <src.parquet> <dst.parquet> <key> [nFiles]")
    val spark = graft.Sessions.local()
    // pass nanosecond-precision columns through untouched (the
    // ScaleUp convention — relevant when laying out events)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(args(0))
    val srcFiles = df.inputFiles.length
    val n = args.lift(3).map(_.toInt).getOrElse(srcFiles.max(1))
    val rows = df.count()
    rangeLayout(df, args(2), n, args(1))
    val got = spark.read.parquet(args(1)).count()
    require(got == rows, s"layout rewrite produced $got rows, expected $rows")
    println(s"[layout] ${args(0)} -> ${args(1)}: $rows rows, " +
      s"$srcFiles -> $n files, clustered on ${args(2)}")
    spark.stop()
  }

  /** Promote a re-layout of the live snapshot of `dir` through the
    * [[Versioned]] pointer protocol (count-verified before the flip)
    * — the reader-atomic form of "rewrite the table Z-ordered":
    * concurrent readers resolve wholly-old or wholly-new. */
  def publishZorder(spark: org.apache.spark.sql.SparkSession, dir: String,
      keyA: String, keyB: String, nFiles: Int, bits: Int = 21): Int = {
    val df = Versioned.read(spark, dir)
    val rows = df.count()
    Versioned.publish(spark, dir) { target =>
      zorderLayout(df, keyA, keyB, nFiles, target, bits)
    } { target =>
      val got = spark.read.parquet(target).count()
      if (got != rows) throw new IllegalStateException(
        s"z-order rewrite of $dir produced $got rows, expected $rows")
    }
  }
}
