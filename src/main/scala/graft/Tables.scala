package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md) plus
  * shared numeric helpers used to keep Spark results bit-identical to
  * the DuckDB oracle.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts has shipped in two on-disk layouts across driver data
    * generations; normalize both to a microsecond TimestampType:
    *  - TIMESTAMP(NANOS), which Spark's vectorized reader rejects:
    *    read as a long (legacy conf) and floor-divide to micros — the
    *    same floor DuckDB applies casting TIMESTAMP_NS → TIMESTAMP;
    *  - plain timestamp[us] (no UTC adjustment), which Spark infers as
    *    TIMESTAMP_NTZ: reinterpret in the UTC session zone — a no-op
    *    on the stored micros, matching DuckDB's TIMESTAMP read.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(s, d, "events"))
  }

  /** Schema-adaptive ts normalization shared by the batch loader and
    * the streaming specs (which must pass an explicit schema). */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Scale-adaptive EXPLICIT partition count for the layout-declared
    * loop checkpoints (guide §2.2/§2.4): max(session shuffle
    * partitions, on-disk input bytes / bytesPerPartition). The bytes
    * are the files directly under each table path, listed through the
    * path's Hadoop FileSystem, so a `file:` or `hdfs:` URI sizes the
    * same as a plain local path. An explicit
    * count is required because an AQE-coalescible `repartition(col)`
    * materializes `CoalescedHashPartitioning`, which downstream
    * aggregates can consume but co-partitioned JOINS cannot align to —
    * EnsureRequirements re-shuffles both sides (measured round 15:
    * the declared coalesced layout removed no join exchange). Deriving
    * the count from input size keeps the same binary from
    * over-partitioning sf0.1 (floor = the session's core-count
    * shuffle.partitions) or starving sf10+ (grows linearly with the
    * corpus; 16 MB of parquet ≈ one comfortably-in-memory partition of
    * derived edge rows, the same operating point as the loop
    * advisories). */
  def scaledPartitions(s: SparkSession, d: String, tables: Seq[String],
      bytesPerPartition: Long = 16L << 20): Int = {
    val conf = s.sparkContext.hadoopConfiguration
    val bytes = tables.map { t =>
      val p = new Path(s"$d/$t.parquet")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
      else 0L
    }.sum
    val base = s.conf.get("spark.sql.shuffle.partitions", "200").toInt
    math.max(base, math.ceil(bytes.toDouble / bytesPerPartition).toInt)
  }

  /** Order-independent double sum: per-row decimal(…,6) rounding, then
    * EXACT integer accumulation (associative, so shuffle/partition
    * order can't change the result) and a single conversion back to
    * double. The DuckDB oracle does the same cast dance, so both sides
    * agree bit-for-bit. Implementation is the codegen'd two-long i128
    * aggregate [[org.apache.spark.sql.graft.I128Sum]] — numerically
    * identical to sum(cast(x as decimal(28,6))).cast(double) (the
    * equivalence is spec-gated in VectorExprSpec) at ~half its cost on
    * the q1 hot path.
    * Oracle shape: CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
    */
  def dsum(c: Column): Column = org.apache.spark.sql.graft.I128Sum.dsum(c)

  /** The decimal-routed original, kept as the reference implementation
    * the i128 path is tested against. */
  def dsumDecimal(c: Column): Column =
    sum(c.cast(DecimalType(28, 6))).cast(DoubleType)

  /** Order-independent average with the same exact-sum trick.
    * Oracle shape: CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(x)
    */
  def davg(c: Column): Column = dsum(c) / count(c)
}
