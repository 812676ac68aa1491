package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.QuantizedDotProduct

/** Vector similarity primitives over quantized (int64) embeddings.
  * The dot-product hot loop is a native codegen'd Catalyst expression
  * ([[org.apache.spark.sql.graft.QuantizedDotProduct]]); this object
  * is the engine-facing API, and the one place the cosine family's
  * shared policies are written: the zero-norm signature, the rounded
  * cosine, the pair-cosine join and the centroid sum vector.
  */
object VectorExpressions {

  /** Native codegen'd int64 dot product. */
  def quantizedDot(a: Column, b: Column): Column = QuantizedDotProduct.dot(a, b)

  /** float array → int64-quantized array (exact on both engines —
    * see queries/Similarity.scala for the determinism argument). */
  def quantize(v: Column): Column =
    transform(v, x => floor(x.cast("double") * 10000 + 0.5).cast("long"))

  /** ‖v‖ of a quantized vector: sqrt of its exact int64 self-dot. */
  def norm(v: Column): Column = sqrt(quantizedDot(v, v).cast("double"))

  /** The signature every cosine consumer reads: `cols` of `emb`, the
    * quantized embedding `q` and its norm `qn`, computed once per
    * vector, never per pair. Zero-norm vectors are dropped: their
    * cosine is NaN on every pairing, the native top-k aggregate
    * refuses to rank NaN and DuckDB ranks it first, so the oracles'
    * `q` CTE drops them too (ZeroNormSpec). */
  def signatures(emb: DataFrame, cols: Column*): DataFrame =
    emb.select(cols :+ quantize(col("embedding")).as("q"): _*)
      .withColumn("qn", norm(col("q")))
      .filter(col("qn") > 0)

  /** The rounded cosine of quantized `a`, `b` with norms `an`, `bn`:
    * both engines divide identical integers in the same order, and
    * the round to 6 places is the compared value. */
  def cosine(a: Column, b: Column, an: Column, bn: Column): Column =
    round(quantizedDot(a, b).cast("double") / (an * bn), 6)

  /** (a_id, b_id, cosine) for candidate `pairs` (a_id, b_id) over a
    * [[signatures]] table: two id-keyed joins bring each side's
    * vector and norm to the pair, so no vector rides the pair
    * shuffle. */
  def pairCosine(pairs: DataFrame, sig: DataFrame): DataFrame = {
    val qa = sig.select(col("vec_id").as("a_id"), col("q").as("aq"),
      col("qn").as("an"))
    val qb = sig.select(col("vec_id").as("b_id"), col("q").as("bq"),
      col("qn").as("bn"))
    pairs.join(qa, "a_id").join(qb, "b_id")
      .select(col("a_id"), col("b_id"),
        cosine(col("aq"), col("bq"), col("an"), col("bn")).as("cosine"))
  }

  /** Per-`key` centroid direction over a frame with a quantized `q`:
    * (key, cv, cn) with cv the element-wise int64 sum vector in
    * position order and cn its norm. The member count divides out of
    * cosine, so no float centroid exists. One posexplode aggregate
    * keyed on (key, pos). */
  def centroids(e: DataFrame, key: Column): DataFrame = {
    val k = col(e.select(key).columns.head)
    e.select(key, posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(k, col("pos")).agg(sum(col("v")).as("sv"))
      .groupBy(k)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("sv")))),
        x => x("sv")).as("cv"))
      .withColumn("cn", norm(col("cv")))
  }

  /** SQL registration: SELECT quantized_dot(a, b). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "quantized_dot",
      exprs => QuantizedDotProduct(exprs(0), exprs(1)),
      "built-in")
}
