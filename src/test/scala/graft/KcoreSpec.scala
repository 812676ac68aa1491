package graft

import org.apache.spark.sql.functions._

/** Gates for the k-core peel (`kcoreOver`, both registry queries).
  * Value-level truth is oracle-gated (the unrolled DuckDB
  * formulation); these pin the cascade semantics on constructed
  * graphs where every peel round is known by hand, plus partition
  * invariants on the fixture corpus. */
class KcoreSpec extends SparkSpec {
  import spark.implicits._

  /** Constructed edges enter in the loops' long encoding (custkey·2 /
    * suppkey·2+1 — the tradeEdgesRaw contract); the loops decode back
    * to 'c…'/'s…' on output, so the hand-written assertions below are
    * unchanged. */
  private def enc(n: String): Long =
    if (n.startsWith("c")) n.drop(1).toLong * 2 else n.drop(1).toLong * 2 + 1
  private def encEdges(pairs: Seq[(String, String)]) =
    pairs.map { case (a, b) => (enc(a), enc(b)) }.toDF("a", "b")
  private def peel(edges: org.apache.spark.sql.DataFrame, maxRounds: Int) =
    queries.Cdc.kcoreOver(spark, edges, k = 2, maxRounds = maxRounds,
      parts = 4)
      .collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getLong(2))).toMap

  /** A 9-node path c1–s1–…–s4–c5 plus a K2,2 core. */
  private def pathAndClique = encEdges(Seq(
    ("c1", "s1"), ("c2", "s1"), ("c2", "s2"), ("c3", "s2"),
    ("c3", "s3"), ("c4", "s3"), ("c4", "s4"), ("c5", "s4"),
    ("c10", "s10"), ("c10", "s11"), ("c11", "s10"), ("c11", "s11")))

  test("constructed path + clique: cascade peels round by round") {
    // Path c1–s1–c2–s2–c3 (endpoints fall first, the middle last) and
    // a 2×2 complete bipartite core that must survive k=2 untouched.
    val edges = encEdges(Seq(
      ("c1", "s1"), ("c2", "s1"), ("c2", "s2"), ("c3", "s2"),
      ("c10", "s10"), ("c10", "s11"), ("c11", "s10"), ("c11", "s11")))
    val out = peel(edges, maxRounds = 3)
    // Round 1: the path endpoints hold degree 1.
    assert(out("c1") == (1, 1L) && out("c3") == (1, 1L))
    // Round 2: their neighbors have fallen to degree 1.
    assert(out("s1") == (2, 1L) && out("s2") == (2, 1L))
    // Round 3: the middle node is now isolated — peeled at degree 0,
    // not silently dropped.
    assert(out("c2") == (3, 0L))
    // The K2,2 core survives with its full degree.
    for (n <- Seq("c10", "c11", "s10", "s11"))
      assert(out(n) == (0, 2L), s"$n must stay in the core")
    assert(out.size == 9)
  }

  test("fixpoint peel runs past the bounded horizon to convergence") {
    // A 9-node path pealed at k=2 cascades from both ends inward:
    // 4 full peel rounds before the middle node falls isolated —
    // deeper than the bounded query's 3-round horizon — while the
    // K2,2 clique must survive untouched at its full degree.
    val out = peel(pathAndClique, maxRounds = 24)
    assert(out("c1") == (1, 1L) && out("c5") == (1, 1L))
    assert(out("s1") == (2, 1L) && out("s4") == (2, 1L))
    assert(out("c2") == (3, 1L) && out("c4") == (3, 1L))
    assert(out("s2") == (4, 1L) && out("s3") == (4, 1L))
    // Middle of the path: both neighbors gone by round 4, isolated
    // at round 5 — the convergence report reads max(peel_round) = 5.
    assert(out("c3") == (5, 0L))
    for (n <- Seq("c10", "c11", "s10", "s11"))
      assert(out(n) == (0, 2L), s"$n must stay in the core")
    assert(out.size == 13)
  }

  test("maxRounds cap: capped peel keeps the early rounds, rest report round 0") {
    // The cap does not throw: rounds 1–2 peel exactly what the
    // uncapped run peels, and every node still standing reports round
    // 0 with its residual degree after round 2.
    val edges = pathAndClique
    val capped = peel(edges, maxRounds = 2)
    val full = peel(edges, maxRounds = 24)
    def early(m: Map[String, (Int, Long)]) =
      m.filter { case (_, (r, _)) => r == 1 || r == 2 }
    assert(capped.size == 13)
    assert(early(capped).size == 4 && early(capped) == early(full),
      "rounds 1–2 must equal the uncapped run's")
    // c2 and c4 each lost one neighbor (s1, s4) in round 2
    for (n <- Seq("c2", "c4"))
      assert(capped(n) == (0, 1L), s"$n must survive the cap at degree 1")
    for (n <- Seq("s2", "s3", "c3", "c10", "c11", "s10", "s11"))
      assert(capped(n) == (0, 2L), s"$n must survive the cap at degree 2")
  }

  test("q_graph_kcore_full: fixpoint on the trade graph, no survivor below k") {
    val rows = queries.Cdc.qGraphKcoreFull.run(spark, sf("sf0.001")).collect()
    assert(rows.map(_.getString(0)).distinct.length == rows.length,
      "each node appears exactly once")
    val (peeled, core) = rows.partition(_.getInt(1) > 0)
    assert(peeled.forall(_.getLong(2) < 60),
      "a peeled node must have held degree < k when it fell")
    // Fixpoint contract: every survivor holds residual degree ≥ k —
    // exactly the property the bounded 3-round peel cannot promise.
    assert(core.forall(_.getLong(2) >= 60),
      "fixpoint must leave no survivor below k")
  }

  test("q_graph_kcore: rows partition the node set; peels are below k") {
    val rows = queries.Cdc.qGraphKcore.run(spark, sf("sf0.001")).collect()
    assert(rows.map(_.getString(0)).distinct.length == rows.length,
      "each node appears exactly once")
    val (peeled, core) = rows.partition(_.getInt(1) > 0)
    assert(peeled.nonEmpty && core.nonEmpty,
      "k=10 must split the sf0.001 trade graph non-trivially")
    assert(peeled.forall(_.getLong(2) < 10),
      "a peeled node must have held degree < k when it fell")
  }
}
