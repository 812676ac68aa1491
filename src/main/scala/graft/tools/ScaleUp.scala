package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: synthesize a larger scale factor from an existing one by
  * unioning `factor` key-shifted replicas of every SF-scaled table —
  * the empirical scale point for BASELINE.md when the driver only
  * ships sf ≤ 0.1. This is a BENCHMARK dataset, not a correctness
  * fixture: the oracle sweep stays on driver-generated data; this
  * exists so the "would the plan survive 10×" claims carry a measured
  * number instead of a design argument.
  *
  * Replication semantics (kept realistic for the plans under test):
  *  - bounded dims (region, nation) copy through unscaled, exactly
  *    like TPC-H;
  *  - every surrogate key shifts by replica·(max(key)+1), and foreign
  *    keys shift by the REFERENCED table's step so joins keep their
  *    fan-out (orders→customer, lineitem→orders/part/supplier);
  *  - events keep their time range (10× event density, 10× users —
  *    growth in users, not duration, so window counts hold and
  *    per-user sessions stay realistic); ts passes through in its
  *    source layout, which Tables.events normalizes either way;
  *  - documents get a per-replica suffix token so replicas are
  *    NEAR-duplicates (a dedup-heavy corpus), not byte-identical;
  *  - embeddings replicate exactly (identical vectors collide in the
  *    same LSH buckets — the per-bucket cap is what bounds that, and
  *    this dataset is how we observe it doing so).
  *
  * Usage: scripts/run.sh graft.tools.ScaleUp <srcDir> <dstDir> [factor]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcDir> <dstDir> [factor]")
    val spark = graft.Sessions.local()
    run(spark, args(0), args(1), args.lift(2).map(_.toInt).getOrElse(10))
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    // events.ts may be TIMESTAMP(NANOS) (older data generations): read
    // as raw longs so replication passes the column through unchanged;
    // timestamp[us] generations need no conf and also pass through
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def step(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    // key steps, computed once from the source
    val custStep = step(read("customer"), "c_custkey")
    val suppStep = step(read("supplier"), "s_suppkey")
    val partStep = step(read("part"), "p_partkey")
    val orderStep = step(read("orders"), "o_orderkey")
    val docStep = step(read("documents"), "doc_id")
    val vecStep = step(read("embeddings"), "vec_id")
    val eventStep = step(read("events"), "event_id")
    val userStep = read("events").agg(max(col("user_id"))).head().getLong(0) + 1L

    /** Union of `factor` replicas with the given long columns shifted
      * by replica · their step; all other columns pass through. */
    def replicate(df: DataFrame, shifts: (String, Long)*): DataFrame =
      (0 until factor).map { i =>
        shifts.foldLeft(df) { case (acc, (c, st)) =>
          acc.withColumn(c, col(c) + lit(i * st))
        }
      }.reduce(_ unionByName _)

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(replicate(read("customer"), "c_custkey" -> custStep), "customer")
    write(replicate(read("supplier"), "s_suppkey" -> suppStep), "supplier")
    write(replicate(read("part"), "p_partkey" -> partStep), "part")
    write(replicate(read("orders"),
      "o_orderkey" -> orderStep, "o_custkey" -> custStep), "orders")
    write(replicate(read("lineitem"),
      "l_orderkey" -> orderStep, "l_partkey" -> partStep,
      "l_suppkey" -> suppStep), "lineitem")
    write(replicate(read("events"),
      "event_id" -> eventStep, "user_id" -> userStep), "events")
    // near-dup corpus: replica 0 is the original text, later replicas
    // append a replica token (suffix only — leading shingles shared)
    val docs = (0 until factor).map { i =>
      val base = read("documents")
        .withColumn("doc_id", col("doc_id") + lit(i * docStep))
      if (i == 0) base
      else base.withColumn("text", concat(col("text"), lit(s" replica$i")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionByName _)
    write(docs, "documents")
    write(replicate(read("embeddings"), "vec_id" -> vecStep), "embeddings")

    println(s"wrote ${factor}x of $src to $dst")
  }
}
