package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TopKAggregate

/** The deterministic per-bucket cap every candidate generator shares:
  * within each bucket only the `cap` lowest ids take part in pairing,
  * so a degenerate hot bucket costs ≤ cap² pairs instead of pop², and
  * a rerun keeps the same survivors. Used by the ANN buckets
  * (`Dedup.annCandidatePairs` and StreamingAnn's corpus index), the
  * Hamming bands (`HammingBands.nearDupPairs` and StreamingPhash's
  * corpus index) and semantic dedup's per-cell scope.
  */
object BucketCap {

  /** (id, keys…) rows of `rows` whose `id` is among the `cap` lowest
    * of its `keys` group.
    *
    * cap ≤ 1024 runs the native bounded top-k aggregate, not a bucket
    * window: the window sorted the whole exploded bucket stream inside
    * its partitions; the aggregate keeps the cap lowest ids per group
    * with bounded map-side state, so the one shuffle moves ≤ cap
    * entries per (group, input partition) and a hot bucket costs cap
    * heap slots instead of a full bucket sort. score = −id ranks the
    * lowest ids first (exact in a double to 2^53); the kept set is
    * identical to rn ≤ cap. The aggregate takes BIGINT ids, so an
    * integral id goes in as a long and comes back as the input type:
    * both branches agree on the output schema.
    *
    * Larger caps (recall probes pass Int.MaxValue) keep the window
    * form: TopKBuf preallocates 16·cap-byte buffers per group and
    * shift-inserts in O(cap), which near 2^16 costs ~1 MB per group
    * and O(n·cap) on a hot bucket. */
  def lowestIds(rows: DataFrame, keys: Seq[String], id: String,
      cap: Int): DataFrame = {
    val k = keys.map(col)
    val byId = rows.select(col(id).as("id") +: k: _*)
    val kept =
      if (cap <= 1024)
        byId.groupBy(k: _*)
          .agg(TopKAggregate.of(col("id").cast("long"), -col("id").cast("double"), cap)
            .as("tk"))
          .select(k :+ explode(col("tk")).as("e"): _*)
          .select(col("e.id").cast(rows.schema(id).dataType).as("id") +: k: _*)
      else
        byId
          .withColumn("rn", row_number().over(
            Window.partitionBy(k: _*).orderBy(col("id"))))
          .filter(col("rn") <= cap).drop("rn")
    kept.withColumnRenamed("id", id)
  }
}
