package graft

import graft.tools.PlanAudit

/** Registry-wide physical-plan invariants, enforced over EVERY query
  * in the one [[RegistrySweep]] run (shared with RegistrySpec):
  *  - zero CartesianProduct nodes anywhere: every cross-shaped join
  *    in the repo carries a bounded broadcast side (centroids,
  *    codebooks, 1-row scalars), which plans as
  *    BroadcastNestedLoopJoin, never an unpartitioned cartesian;
  *  - every query plans (its audit row exists) — a regression that
  *    breaks planning surfaces here before the driver's sweep.
  */
class PlanAuditSpec extends SparkSpec {

  private def records = RegistrySweep.records

  private def auditOf(name: String) = records(name).audit.get

  test("no registry query plans a CartesianProduct; all queries plan") {
    val results = Registry.all.map(q => q.name -> records(q.name))
    val failures = results.collect {
      case (n, r) if r.audit.isEmpty => s"$n: ${r.error.getOrElse("")}"
    }
    assert(failures.isEmpty, s"queries failed to plan:\n${failures.mkString("\n")}")
    val cartesians = results.collect {
      case (n, r) if r.audit.exists(_.cartesian > 0) => n
    }
    assert(cartesians.isEmpty,
      s"CartesianProduct found in: ${cartesians.mkString(", ")}")
    // Exact count so a query silently dropping out of a file's `all`
    // Seq fails loudly; bump when the registry grows.
    assert(results.size == 150, s"registry count drifted: ${results.size}")
  }

  /** Queries ALLOWED to plan a partition-less Window: each one's
    * window input is bounded by construction (a calendar-day table,
    * a ≤~60-row score-bucket table, an hourly bucket table), so the
    * single partition Spark warns about is a driver-trivial tail —
    * never a corpus sort. Anything NOT named here that plans a
    * global window is a new scale bug and fails the gate. */
  private val BoundedGlobalWindows = Set(
    "w_cumulative_users",  // window over the distinct-DAY table
    "t_nll_yield_curve")   // window over ln-score buckets (≤ ~60 rows)

  test("global (partition-less) windows only on bounded tables") {
    val offenders = Registry.all.flatMap { q =>
      records(q.name).audit
        .filter(a => a.globalWindows > 0 &&
          !BoundedGlobalWindows.contains(q.name))
        .map(a => s"${q.name}: ${a.globalWindows} global window(s)")
    }
    assert(offenders.isEmpty,
      s"unbounded global windows planned by:\n${offenders.mkString("\n")}")
    // the allowlist itself must stay honest: both entries still plan
    // their one bounded global window (drop the entry if they stop)
    for (n <- BoundedGlobalWindows) {
      val a = auditOf(n)
      assert(a.globalWindows >= 1, s"$n no longer plans a global window")
    }
  }

  test("no pinned broadcast hint reaches an SF-scaled table unreduced") {
    // The q5 lesson (VERDICT r10): broadcast(supplier) works at bench
    // scale and dies at 100 TB because the hint overrides AQE's size
    // check. Registry-wide gate: every broadcast() hint's subtree must
    // be bounded — a nation/region dim, or pass through an
    // Aggregate/Limit/Sample before any scaled scan. AQE broadcasts
    // the unhinted small sides at bench scale anyway (ScaleLayoutSpec
    // proves the q5 plan is unchanged).
    // Queries whose broadcast side is a CONSTANT KEY-RANGE filter on
    // a scaled table (`vec_id < 20` — the ANN probe set): ≤20 rows at
    // any SF by the id's uniqueness, but the structural walk can't
    // prove a filter bounds cardinality, so they're allowlisted here
    // by name with this justification (the BoundedGlobalWindows
    // pattern). Anything else that broadcasts a scaled subtree
    // without an Aggregate/Limit/Sample fails the gate.
    val boundedByKeyRange = Set("sim_cosine_topk", "sim_ivf_trained_topk")
    val audits = Registry.all.map(q => q.name -> records(q.name).pinned)
    val offenders = audits.collect {
      case (n, ms) if ms.nonEmpty && !boundedByKeyRange.contains(n) =>
        ms.map(m => s"$n: $m")
    }.flatten
    assert(offenders.isEmpty,
      s"pinned broadcast on scaled tables:\n${offenders.mkString("\n")}")
    // the allowlist stays honest: both probe-set queries still pin
    // their bounded broadcast (drop the entry when they stop)
    for (n <- boundedByKeyRange)
      assert(audits.toMap.apply(n).nonEmpty,
        s"$n no longer pins its probe-set broadcast — drop it from the allowlist")
  }

  test("aliased scaled keys cannot launder a pinned broadcast past the gate") {
    // The r11 fix made an Aggregate bound a pinned broadcast only when
    // its grouping keys avoid scaled key columns — but checked NAMES,
    // so `doc_id AS g ... GROUP BY g` slipped through (the documented
    // residual). The walk now traces grouping refs through aliases;
    // these adversarial frames pin exactly that laundering and must be
    // FLAGGED, while the genuinely bounded shapes stay clean.
    RegistrySweep.hermetic(spark)
    import org.apache.spark.sql.functions._
    val d = sf("sf0.001")
    val docs = Tables.documents(spark, d)

    // adversarial: scaled key renamed once, grouped on the alias
    val laundered = broadcast(
      docs.select(col("doc_id").as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c")))
    val q1 = docs.join(laundered, col("doc_id") === col("g"))
    assert(PlanAudit.pinnedScaledBroadcasts(q1).nonEmpty,
      "single-alias laundering escaped the pinned-broadcast gate")

    // adversarial: two alias hops (g -> h) — the closure must chase
    val laundered2 = broadcast(
      docs.select(col("doc_id").as("g")).select(col("g").as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("c")))
    val q2 = docs.join(laundered2, col("doc_id") === col("h"))
    assert(PlanAudit.pinnedScaledBroadcasts(q2).nonEmpty,
      "transitive alias laundering escaped the pinned-broadcast gate")

    // control: an aggregate grouped on a BOUNDED value column of the
    // same scaled table (source — a handful of values at any SF) is a
    // legitimate bounded broadcast and must NOT be flagged
    val bounded = broadcast(
      docs.select(col("source").as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c")))
    val q3 = docs.join(bounded, col("source") === col("g"))
    assert(PlanAudit.pinnedScaledBroadcasts(q3).isEmpty,
      "bounded-value grouping was wrongly flagged")

    // adversarial (ADVICE r13): laundering through a WINDOW output
    // alias — max(doc_id) OVER (...) AS g ... GROUP BY g has
    // corpus-scaled distinct g, and window aliases were not closure
    // edges before round 14
    val winLaundered = broadcast(
      docs.select(col("doc_id"), col("source"))
        .withColumn("g", max(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id"))))
        .groupBy(col("g")).agg(count(lit(1)).as("c")))
    val q4 = docs.join(winLaundered, col("doc_id") === col("g"))
    assert(PlanAudit.pinnedScaledBroadcasts(q4).nonEmpty,
      "window-alias laundering escaped the pinned-broadcast gate")

    // adversarial (ADVICE r13): laundering through a GENERATE output
    // alias — explode over a scaled-key-derived array yields a fresh
    // attribute whose only lineage edge is the generator's references
    val genLaundered = broadcast(
      docs.select(array(col("doc_id")).as("arr"))
        .select(explode(col("arr")).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c")))
    val q5 = docs.join(genLaundered, col("doc_id") === col("g"))
    assert(PlanAudit.pinnedScaledBroadcasts(q5).nonEmpty,
      "generator-alias laundering escaped the pinned-broadcast gate")
  }

  test("the audit sees iterative queries' per-round plans (checkpoint tap)") {
    // With eager checkpoints, loop rounds execute inside run() and the
    // output frame's executedPlan is an all-LogicalRDD tail — both
    // k-core rows audited literally all-zero in round 12, so the gated
    // invariants inspected NONE of the loop's joins (ADVICE r12). The
    // tap must restore visibility: the k-core audit must now count the
    // edge-list scan, its repartition exchange, and the per-round
    // joins that the tail alone cannot contain.
    val a = auditOf("q_graph_kcore")
    assert(a.scans >= 2, s"k-core audit lost its table scans: $a")
    assert(a.exchanges >= 1, s"k-core audit lost its exchanges: $a")
    assert(a.bhj + a.smj + a.bnl >= 1, s"k-core audit lost its joins: $a")
  }

  test("round-8 additions keep their designed plan shapes") {
    // Pure map-side chunking: no exchange at all.
    val chunk = auditOf("t_chunk_split")
    assert(chunk.exchanges == 0 && chunk.smj == 0,
      s"t_chunk_split must stay shuffle-free: $chunk")
    // The ANN-derived pair rides broadcast joins only — a sort-merge
    // join appearing here means a bounded side lost its broadcast.
    for (n <- Seq("sim_hard_negatives", "sim_knn_eval")) {
      val a = auditOf(n)
      assert(a.smj == 0 && a.bhj > 0, s"$n must stay all-broadcast: $a")
    }
    // Basket pairs: the one SMJ is the designed orderkey self-join;
    // the |brands|-bounded marginals must broadcast.
    val basket = auditOf("q_basket_pairs")
    assert(basket.smj <= 1 && basket.bhj >= 2,
      s"q_basket_pairs marginals must broadcast: $basket")
    // Perplexity tiers: the bucket-table joins are broadcast; the one
    // sort-merge allowed is the corpus-sized scores⋈documents join.
    val ppl = auditOf("t_ppl_buckets")
    assert(ppl.smj <= 1 && ppl.bhj >= 2,
      s"t_ppl_buckets lang tables must broadcast: $ppl")
  }
}
