package graft.tools

import org.apache.spark.sql.DataFrame

/** Bucketed table layout — the co-located-join story at 100 TB: two
  * fact tables that join repeatedly on the same key (orders ⋈
  * lineitem on the order key, every day, in every downstream job)
  * should not pay a full shuffle of BOTH sides on every run. Writing
  * them `bucketBy(n, key)` pre-partitions the data ON DISK into the
  * same hash layout a shuffle would produce, so every subsequent join
  * on that key reads co-located buckets and plans with ZERO exchange
  * — the shuffle is paid once at write time and amortized over every
  * future join. `sortBy` within buckets additionally lets sort-merge
  * join skip its sorts.
  *
  * Sizing rule, same shape as the ANN `bitsFor`: buckets ≈
  * tableBytes / targetBucketBytes, rounded to a power of two so two
  * tables bucketed independently still co-locate (Spark requires
  * equal — or multiple — bucket counts to avoid the shuffle; powers
  * of two keep every pair in the multiple relation as tables grow).
  * At local test scale 8 buckets stands in for the cluster's
  * thousands.
  *
  * Bucketed tables live in the session catalog (`saveAsTable` — the
  * bucketing metadata IS catalog state; a path write has nowhere to
  * record it), which at cluster scale is the metastore every job
  * already shares. BucketLayoutSpec proves the contract: the bucketed
  * join plans with no Exchange on either side and returns
  * row-identical results to the shuffled join.
  */
object BucketLayout {

  /** Round up to the next power of two, clamped to [1, 2^16]. The
    * clamp applies AFTER the round-up so the cap actually holds
    * (ADVICE r7: clamping the raw count first let inputs just above
    * the cap round up past it), and sits at 65,536 — the largest
    * power of two under Spark's default
    * `spark.sql.sources.bucketing.maxBuckets` (100,000), so every
    * count this returns is one Spark will actually write without
    * config surgery. A table that wants more than 2^16 buckets at the
    * target size is past the single-dimension bucketing regime anyway
    * — partition it (by date/tenant) first and bucket within. */
  def bucketsFor(tableBytes: Long, targetBucketBytes: Long): Int = {
    val raw = math.max(1L, (tableBytes + targetBucketBytes - 1) / targetBucketBytes)
    val capped = math.min(raw, 1L << 16).toInt
    Integer.highestOneBit(capped) match {
      case b if b >= capped => b
      case b => b << 1 // capped < 2^16 here, so b << 1 <= 2^16
    }
  }

  /** Write `df` as a bucketed (and in-bucket sorted) catalog table. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      nBuckets: Int): Unit =
    writer(df, key, nBuckets).saveAsTable(table)

  /** Write `df` bucketed by `key` into the caller-owned directory
    * `path` (the Artifacts and CorpusDrop shape: a later session
    * re-registers the location with the recorded bucket spec and reads
    * co-located). The bucketed writer only runs through a catalog
    * table, so the write registers a throwaway external table under a
    * unique name and drops it right after; the files stay. */
  def writeBucketedAt(df: DataFrame, key: String, nBuckets: Int,
      path: String): Unit = {
    val t = s"graft_bucketed_${java.util.UUID.randomUUID.toString.replace("-", "")}"
    try writer(df, key, nBuckets).option("path", path).saveAsTable(t)
    finally df.sparkSession.sql(s"DROP TABLE IF EXISTS $t")
  }

  private def writer(df: DataFrame, key: String, nBuckets: Int) =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, key).sortBy(key)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: BucketLayout <srcDir> <table> <key> [buckets]")
    val spark = graft.Sessions.local()
    val df = spark.read.parquet(args(0))
    writeBucketed(df, args(1), args(2),
      args.lift(3).map(_.toInt).getOrElse(8))
    println(s"[bucket] wrote ${args(1)} bucketed by ${args(2)}")
    spark.stop()
  }
}
