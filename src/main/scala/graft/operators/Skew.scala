package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation ("skewed keys → salting or AQE skew-join"). AQE
  * handles sort-merge join skew splitting at runtime; salting is the
  * explicit fallback for hash aggregations where one hot key dwarfs
  * the rest — e.g. a `lang='en'` hot partition in a 100 TB documents
  * groupBy (`t_skew_salted_agg`).
  */
object Skew {

  /** Two-phase salted aggregation: group on (key, salt) first —
    * spreading a hot key over `buckets` partial groups — then merge
    * the partials. `aggs` must be algebraic (sum/count/min/max)
    * expressions over the pre-salted frame; the caller supplies the
    * same-shape merge for phase 2.
    *
    * Example:
    *   saltedAgg(docs, Seq($"lang"), 16,
    *     Seq(count(lit(1)).as("n")), Seq(sum($"n").as("n")))
    */
  def saltedAgg(df: DataFrame, keys: Seq[Column], buckets: Int,
      partialAggs: Seq[Column], mergeAggs: Seq[Column]): DataFrame = {
    // salt = seeded hash of the whole row: deterministic across task
    // retries (monotonically_increasing_id is not), still spreads a
    // hot key because non-key columns vary within it
    val salted = df.withColumn("__salt",
      pmod(hash(df.columns.toIndexedSeq.map(col) :+ lit(42): _*), lit(buckets)))
    salted
      .groupBy(keys :+ col("__salt"): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
      .groupBy(keys: _*)
      .agg(mergeAggs.head, mergeAggs.tail: _*)
  }
}
