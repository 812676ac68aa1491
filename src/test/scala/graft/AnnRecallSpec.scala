package graft

import graft.functions.VectorExpressions
import graft.queries.Dedup
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ANN quality gate for the LSH scale path, exercised through the SAME
  * parameterized construction the registry query uses
  * (Dedup.annBuckets / annCandidatePairs / embeddingNearDup): 8 tables
  * × 4 planes must recover the brute-force nearest neighbor for most
  * probes while touching well under half the brute-force pairs. This
  * fixture is near-random (median NN cosine ≈ 0.36 — no cluster
  * structure), the WORST case for LSH; expected single-NN recall at
  * 8×4 is ~0.7 by the (1-θ/π)^bits collision model. On clustered
  * real-world embeddings the same construction shrinks the pair space
  * by orders of magnitude, and `bits` grows with N to keep per-bucket
  * population flat. */
class AnnRecallSpec extends SparkSpec {
  import spark.implicits._

  private val nTables = 8
  private val bitsPerTable = 4

  private lazy val sig = Tables.embeddings(spark, sf("sf0.001"))
    .select($"vec_id", VectorExpressions.quantize($"embedding").as("q"))
    .cache()

  test("multi-table LSH touches < half the brute-force pairs") {
    val n = sig.count()
    val brute = n * (n - 1) // directed pairs
    val work = Dedup.annCandidatePairs(sig, nTables, bitsPerTable,
      cap = Int.MaxValue).count()
    assert(work < brute / 2,
      s"multi-table distinct pair work $work must undercut half of brute force $brute")
  }

  test("multi-table LSH top-1 recall ≥ 50% vs brute force") {
    val probeIds = $"vec_id" < 30
    val probes = sig.filter(probeIds)
      .select($"vec_id".as("pid"), $"q".as("pq"))

    val cos = VectorExpressions.quantizedDot($"pq", $"q").cast("double") /
      (sqrt(VectorExpressions.quantizedDot($"pq", $"pq").cast("double")) *
       sqrt(VectorExpressions.quantizedDot($"q", $"q").cast("double")))
    val w = Window.partitionBy($"pid").orderBy(desc("c"), $"vec_id".asc)

    val bf = sig.crossJoin(broadcast(probes))
      .filter($"vec_id" =!= $"pid")
      .select($"pid", $"vec_id", cos.as("c"))
      .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"pid", $"vec_id".as("bf_nn"))

    // candidate neighbors via the registry query's own generator
    val cands = Dedup.annCandidatePairs(sig, nTables, bitsPerTable,
        cap = Int.MaxValue)
      .join(sig.select($"vec_id".as("a_id"), $"q".as("pq")), "a_id")
      .join(sig.select($"vec_id".as("b_id"), $"q".as("q")), "b_id")
      .filter($"a_id" < 30)
      .select($"a_id".as("pid"), $"b_id".as("vec_id"), $"pq", $"q")

    val lsh = cands.select($"pid", $"vec_id", cos.as("c"))
      .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"pid", $"vec_id".as("lsh_nn"))

    val joined = bf.join(lsh, Seq("pid"), "left")
    val recall = joined.filter($"bf_nn" === $"lsh_nn").count().toDouble /
      joined.count()
    assert(recall >= 0.5, f"8×4 multi-table recall $recall%.2f below 0.5")
  }

  test("connected components: min-label propagation over known graphs") {
    // chain 1-2-3-4-5 (diameter forces multiple rounds), triangle
    // 10-11-12, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, parts = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("knn graph: ranks are dense per node, rank 1 matches near-dup pick") {
    val knn = queries.Similarity.qKnnGraph.run(spark, sf("sf0.001"))
      .collect()
    assert(knn.nonEmpty)
    knn.foreach(r => assert(r.getLong(0) != r.getLong(1))) // no self edges
    // per node: ranks are 1..m (m ≤ 3), cosines non-increasing
    knn.groupBy(_.getLong(0)).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rk"))
      assert(sorted.map(_.getAs[Int]("rk")).toSeq == (1 to sorted.length))
      val cosines = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(cosines.zip(cosines.drop(1)).forall { case (a, b) => a >= b })
    }
    // the rank-1 edge agrees with dd_embedding_neardup's best pick
    // (same candidate construction, same tie-break)
    val nd = queries.Dedup.qEmbeddingNearDup.run(spark, sf("sf0.001"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    knn.filter(_.getAs[Int]("rk") == 1).foreach { r =>
      assert(nd(r.getLong(0)) == r.getLong(1), s"node ${r.getLong(0)}")
    }
  }

  test("per-bucket cap bounds pair work and reports what it dropped") {
    val pops = Dedup.annBuckets(sig, 1, 2) // 4 buckets → forced overflow
      .groupBy($"tbl", $"bucket").count()
      .select($"count").as[Long].collect()
    val cap = 8
    val expectDropped = pops.map(p => math.max(p - cap, 0L)).sum
    assert(expectDropped > 0, "fixture must overflow the cap for this test")
    assert(Dedup.annDroppedCount(sig, 1, 2, cap) == expectDropped)
    // capped pair space is bounded by buckets · cap·(cap-1)
    val capped = Dedup.annCandidatePairs(sig, 1, 2, cap).count()
    assert(capped <= pops.length * cap * (cap - 1))
    // and strictly smaller than the uncapped pair space
    val uncapped = Dedup.annCandidatePairs(sig, 1, 2, Int.MaxValue).count()
    assert(capped < uncapped)
  }

  test("dropped count is 0 on an empty signature table") {
    // an empty or all-zero-norm corpus leaves no buckets to sum over
    assert(Dedup.annDroppedCount(sig.filter($"vec_id" < 0), 1, 2, 8) == 0L)
  }

  test("bitsFor holds bucket population flat as the corpus grows") {
    // the registry's 2×8-bit instantiation is this rule applied to the
    // sweep's largest corpus (~5k vectors at ~20/bucket)
    assert(Dedup.bitsFor(5000L, 20) == 8)
    // 1000× the corpus at the same target → +10 bits (2^10 more buckets)
    assert(Dedup.bitsFor(5000000L, 20) == 18)
    // clamps: tiny corpora never go below 1 bit, huge never above 30
    assert(Dedup.bitsFor(10L, 20) == 1)
    assert(Dedup.bitsFor(Long.MaxValue, 1) == 30)
    // monotone in n — more data never means fewer buckets
    val ns = Seq(100L, 10000L, 1000000L, 100000000L)
    val bs = ns.map(Dedup.bitsFor(_, 20))
    assert(bs == bs.sorted)
  }
}
