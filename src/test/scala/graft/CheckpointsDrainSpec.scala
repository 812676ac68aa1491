package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The deferred-release contract (tools.Checkpoints.defer/drainDeferred):
  * iterative queries register their per-run scratch checkpoints — loop
  * edge lists, multi-consumer intermediates the OUTPUT still reads —
  * and the runner frees them after materialization. Round 12 measured
  * why this must hold: in the shared sf10 bench session each pass
  * stacked a fresh generation of retained graph scratch, and the
  * accumulated dead blocks inflated unrelated downstream queries up to
  * 2× (q_graph_triangles +107%, kcore 190s in-bench vs 77s solo).
  *
  * The contract has three legs: (1) scratch IS registered and drain
  * actually unpersists it; (2) drain never touches the session
  * ARTIFACT caches (their reuse across queries is the point); (3) a
  * re-run after drain reproduces identical rows (nothing the query
  * needs was freed). The layout case covers the checkpoint itself:
  * a serCheckpoint keeps the hash layout it was built with. */
class CheckpointsDrainSpec extends SparkSpec {
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("graph scratch registers, survives materialization, drains clean") {
    val d = sf("sf0.001")
    tools.Checkpoints.drainDeferred(spark) // isolate from prior suites
    val before = persistedIds
    val q = Registry.byName("q_graph_pagerank")
    val rows = q.run(spark, d).collect()
    assert(rows.nonEmpty)
    val during = persistedIds -- before
    assert(during.nonEmpty,
      "pagerank's edge/degree checkpoints should be persisted pre-drain")
    val drained = tools.Checkpoints.drainDeferred(spark)
    assert(drained >= 2, s"expected >=2 deferred scratch frames, got $drained")
    val leftover = persistedIds.intersect(during)
    assert(leftover.isEmpty,
      s"scratch RDDs still persisted after drain: $leftover")
  }

  test("drain after one query leaves another query's artifact cache intact") {
    val d = sf("sf0.001")
    // prime the incremental base-edge ARTIFACT (session-cached, not
    // deferred), then run+drain an unrelated scratch-heavy query
    val split = "1995-01-01"
    val base = queries.Cdc.cachedBaseEdges(spark, d, split)
    val baseCount = base.count()
    val k = Registry.byName("q_graph_kcore_full")
    k.run(spark, d).write.format("noop").mode("overwrite").save()
    assert(tools.Checkpoints.drainDeferred(spark) > 0)
    // the cached artifact must still be readable (its localCheckpoint
    // cannot recompute — a wrongly-deferred release would throw here)
    assert(queries.Cdc.cachedBaseEdges(spark, d, split).count() == baseCount)
    val derivs = queries.Cdc.baseEdgeDerivations.get()
    queries.Cdc.cachedBaseEdges(spark, d, split).count()
    assert(queries.Cdc.baseEdgeDerivations.get() == derivs,
      "cache re-derived after drain — the artifact was released")
  }

  test("re-run after drain reproduces identical rows") {
    val d = sf("sf0.001")
    def run(name: String): Seq[String] = {
      val q = Registry.byName(name)
      val out = q.run(spark, d).collect().map(_.toString).sorted.toSeq
      tools.Checkpoints.drainDeferred(spark)
      out
    }
    for (name <- Seq("q_graph_kcore", "q_graph_communities",
        "q_basket_pairs", "q_window_functions")) {
      val a = run(name)
      val b = run(name)
      assert(a == b, s"$name drifted across a drain")
      assert(a.nonEmpty)
    }
  }

  test("ShuffleAudit.measure releases each query's scratch") {
    tools.Checkpoints.drainDeferred(spark) // isolate from prior suites
    val m = tools.ShuffleAudit.measure(spark, sf("sf0.001"),
      Seq(Registry.byName("q_graph_kcore")), warm = false, teardown = false)
    assert(m.map(_._1) == Seq("q_graph_kcore") && m.head._2.shuffleWrite >= 0,
      s"the query must have run: $m")
    val left = tools.Checkpoints.drainDeferred(spark)
    assert(left == 0,
      s"measure left $left deferred scratch frames for the next query")
  }

  test("execute drains the scratch and restores the confs when body throws") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val q = Registry.byName("q_graph_communities")
    assert(q.confs.get(key).contains("8m"), "the LPA advisory moved")
    tools.Checkpoints.drainDeferred(spark) // isolate from prior suites
    val before = persistedIds
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "3m")
    try {
      var inside: Option[String] = None
      var during = Set.empty[Int]
      val e = intercept[IllegalStateException](
        q.execute(spark, sf("sf0.001")) { _ =>
          inside = spark.conf.getOption(key)
          during = persistedIds -- before
          throw new IllegalStateException("body failed")
        })
      assert(e.getMessage == "body failed")
      assert(inside.contains("8m"), s"body ran under $inside, not the advisory")
      assert(spark.conf.get(key) == "3m", "the caller's conf was not restored")
      assert(during.nonEmpty, "the build should have checkpointed its rounds")
      val leftover = persistedIds.intersect(during)
      assert(leftover.isEmpty, s"scratch RDDs still persisted: $leftover")
      assert(tools.Checkpoints.drainDeferred(spark) == 0,
        "execute left deferred scratch for the next query")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("connectedComponents releases its edge checkpoint, keeps only the labels") {
    // a 4-node chain: min-label propagation needs 3 changing rounds
    // plus the round that detects convergence
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val before = spark.sparkContext.getPersistentRDDs.size
    val labels = queries.Dedup.connectedComponents(pairs, parts = 4)
    val grown = spark.sparkContext.getPersistentRDDs.size - before
    try {
      assert(grown == 1, s"expected only the label checkpoint to stay, got +$grown")
      assert(labels.as[(Long, Long)].collect().toSet ==
        Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    } finally tools.Checkpoints.release(labels)
  }

  test("connected-components builders leave no checkpoint after the drain") {
    // the three builders that call connectedComponents defer its
    // labels (and dd_fuzzy_canonical its name checkpoints). The first
    // run settles whatever session state they share; a second run
    // must then leave nothing behind once the runner drains
    val d = sf("sf0.001")
    def runAll(): Unit =
      for (name <- Seq("dd_fuzzy_canonical", "mm_phash_keep_list",
          "mm_crossmodal_keep_list")) {
        Registry.byName(name).run(spark, d)
          .write.format("noop").mode("overwrite").save()
        tools.Checkpoints.drainDeferred(spark)
      }
    tools.Checkpoints.drainDeferred(spark) // isolate from prior suites
    runAll()
    val settled = persistedIds
    runAll()
    val left = persistedIds -- settled
    assert(left.isEmpty, s"a re-run left ${left.size} RDDs persisted: $left")
  }

  test("iterate releases every round but the last; init stays the caller's") {
    import tools.Checkpoints.SerCheckpoint
    val init = spark.range(100).toDF("v").serCheckpoint()
    def sumOf(df: DataFrame) = df.agg(sum($"v")).as[Long].collect()(0)
    val before = persistedIds
    val (last, rounds) = tools.Checkpoints.iterate(init, maxRounds = 5) {
      (st, r) => Some(st.select(($"v" + r).as("v")))
    }
    // one live state left: the last one
    val grown = persistedIds -- before
    var steps = 0
    val (stopped, early) = tools.Checkpoints.iterate(init, maxRounds = 5) {
      (st, r) =>
        steps += 1
        if (r > 2) None else Some(st.select(($"v" + 1).as("v")))
    }
    try {
      assert(rounds == 5)
      // 1 + 2 + 3 + 4 + 5 added to each of the 100 rows
      assert(sumOf(last) == 4950L + 100L * 15)
      assert(early == 2 && steps == 3,
        s"a None at round 3 stops after 2 rounds ($early, $steps steps)")
      assert(sumOf(stopped) == 4950L + 100L * 2)
      assert(grown.size == 1, s"expected only the last state, got $grown")
      assert(sumOf(init) == 4950L, "init must stay readable")
    } finally Seq(init, last, stopped).foreach(tools.Checkpoints.release)
  }

  test("serCheckpoint keeps the key layout: exchange-free agg and self-join") {
    import tools.Checkpoints.SerCheckpoint
    val base = spark.range(200000)
      .select(($"id" % 997).as("a"), $"id".as("b"))
    // repartition($"a") lets AQE coalesce, which is declared verbatim
    // (CoalescedHashPartitioning): enough for an aggregate on the key,
    // but EnsureRequirements re-shuffles BOTH sides of a join between
    // two coalesced layouts. An explicit count — the loops' form —
    // declares a plain HashPartitioning both join sides can reuse.
    def laidOut(parts: Option[Int]) = parts
      .fold(base.repartition($"a"))(n => base.repartition(n, $"a"))
      .sortWithinPartitions($"a")
    // deferred, so the finally's drain frees every checkpoint
    def ck(parts: Option[Int]) = (
      tools.Checkpoints.defer(laidOut(parts).serCheckpoint()),
      tools.Checkpoints.defer(laidOut(parts).localCheckpoint(true)))
    def agg(df: DataFrame) = df.groupBy($"a").agg(count(lit(1)).as("n"))
    def selfJoin(df: DataFrame) =
      df.join(df.select($"a".as("a2"), $"b".as("b2")), $"a" === $"a2")
    def plan(df: DataFrame) = df.queryExecution.executedPlan.toString
    def sig(df: DataFrame): String =
      df.select(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)").as("h"))
        .agg(sum($"h").cast("string")).as[String].collect()(0)
    // a broadcast would hide whether the sides are aligned: force the
    // join that must shuffle both sides unless the layout is declared
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (kept, plain) = ck(None)
      assert(!plan(agg(kept)).contains("Exchange"),
        s"aggregate on the checkpoint's key re-shuffled:\n${plan(agg(kept))}")
      assert(sig(agg(kept)) == sig(agg(plain)))
      val (keptN, plainN) = ck(Some(8))
      assert(!plan(selfJoin(keptN)).contains("Exchange"),
        s"self-join on the key re-shuffled a side:\n${plan(selfJoin(keptN))}")
      assert(plan(selfJoin(plainN)).contains("Exchange"),
        "the plain checkpoint forgets its layout — else this case is vacuous")
      assert(sig(selfJoin(keptN)) == sig(selfJoin(plainN)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      tools.Checkpoints.drainDeferred(spark)
    }
  }
}
