package graft.tools

import graft.{GraftQuery, Registry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Plan auditor: one row of physical-plan shape metrics per registry
  * query, so the 100 TB questions — does it shuffle more than it
  * must, does the filter reach the scan, did a join degenerate to a
  * cartesian — are answerable from a table instead of 119 ad-hoc
  * explain() reads. Writes PLAN_AUDIT.md when given an output path.
  *
  * Counted from the executedPlan string (AQE initial plan — runtime
  * re-planning only ever downgrades exchange counts):
  *  - scans: parquet file scans (table reads; checkpoint-fed plans
  *    show fewer — the artifact paid the scan);
  *  - exch: shuffle exchanges (each is a full data movement);
  *  - bhj/smj/bnl: broadcast-hash / sort-merge / broadcast-nested-
  *    loop joins (bnl is only ever a bounded broadcast side here);
  *  - cartesian: CartesianProduct nodes — the registry-wide invariant
  *    is ZERO (PlanAuditSpec gates it);
  *  - sorts: physical Sort nodes (global sorts are the scale smell;
  *    most here are SMJ-local or TakeOrdered's per-partition heaps);
  *  - windows: Window nodes (every one must be keyed on a growing
  *    key space — the house window discipline);
  *  - gwin: Window nodes with an EMPTY partitionSpec (counted on the
  *    optimized logical plan, where `logical.Window.partitionSpec`
  *    is public API — no string parsing). A global window funnels
  *    its whole input through one partition, so the registry-wide
  *    invariant (PlanAuditSpec) is: zero, except the named
  *    allowlist of windows that run over BOUNDED tables (calendar
  *    days, score buckets) where the single partition is a
  *    driver-trivial tail by construction;
  *  - pushed: whether any scan carries PushedFilters beyond
  *    IsNotNull (the pushdown evidence).
  */
object PlanAudit {

  final case class Audit(name: String, scans: Int, exchanges: Int,
      bhj: Int, smj: Int, bnl: Int, cartesian: Int, sorts: Int,
      windows: Int, globalWindows: Int, pushed: Boolean)

  private def countOf(plan: String, token: String): Int =
    token.r.findAllIn(plan).length

  /** Tables whose row count scales with SF — a PINNED broadcast hint
    * on any of these is a plan that dies at 100 TB (the q5 lesson,
    * VERDICT r10): the hint overrides AQE's size check, so the build
    * side is forced resident no matter how big the table grew. The
    * house discipline (BASELINE r2, enforced here registry-wide) is:
    * pin broadcast ONLY on bounded dims (nation/region) or on
    * subtrees made bounded by construction — an Aggregate (grouped on
    * a bounded key space), a Limit, or a Sample between the hint and
    * any scaled scan. AQE still broadcasts unhinted small sides at
    * bench scale; at 100 TB it shuffles them — same semantics. */
  private val ScaledTables = Set("customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Key columns whose distinct-value space grows with the corpus: an
    * Aggregate/Deduplicate GROUPED on one of these has SF-scaled
    * output cardinality, so it does NOT bound a pinned broadcast. */
  private val ScaledKeyCols: Set[String] = Set(
    "c_custkey", "s_suppkey", "p_partkey", "o_orderkey", "o_custkey",
    "l_orderkey", "l_partkey", "l_suppkey", "event_id", "user_id",
    "doc_id", "vec_id")

  /** Broadcast-hint subtrees in `df`'s analyzed plan that reach an
    * SF-scaled parquet scan with NO bounding node (Aggregate, Limit,
    * Sample, Deduplicate) on the path. Returns one description per
    * offending hint; empty = the query obeys the scale-hint
    * discipline. Walks the ANALYZED plan because the optimizer erases
    * ResolvedHint into per-join hints. */
  def pinnedScaledBroadcasts(
      df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}

    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)

    // Does any of `names` trace — transitively through the Project/
    // Aggregate aliases of `below` — to a scaled key column? Closes
    // the r11 residual false negative: SELECT doc_id AS g ... GROUP
    // BY g laundered the key past a direct name check (ADVICE r11,
    // VERDICT r12 #5). Name-level closure over-approximates on
    // colliding names across branches — the safe direction for a
    // gate (flags loudly, never erodes silently). Still accepted as
    // residual: a NON-KEY scaled column (GROUP BY text) — bounded
    // value columns (flags, brands) on scaled tables are legitimate
    // group keys, so a column-name blocklist is the wrong shape.
    def tracesToScaledKey(names: Set[String], below: LogicalPlan): Boolean = {
      import org.apache.spark.sql.catalyst.expressions.Alias
      val edges: Map[String, Set[String]] = below.collect {
        case pr: Project => pr.projectList.collect {
          case al: Alias =>
            lc(al.name) -> al.child.references.map(r => lc(r.name)).toSet
        }
        case ag: Aggregate => ag.aggregateExpressions.collect {
          case al: Alias =>
            lc(al.name) -> al.child.references.map(r => lc(r.name)).toSet
        }
        // laundering via a window output (max(doc_id) OVER (...) AS g
        // ... GROUP BY g) or a generator output (explode(keys) AS g)
        // slipped the closure when only Project/Aggregate aliases were
        // edges (ADVICE r13) — both node types alias scaled inputs to
        // fresh names just like a Project does
        case w: Window => w.windowExpressions.collect {
          case al: Alias =>
            lc(al.name) -> al.child.references.map(r => lc(r.name)).toSet
        }
        case g: Generate =>
          val gen = g.generator.references.map(r => lc(r.name)).toSet
          g.generatorOutput.map(a => lc(a.name) -> gen)
      }.flatten.groupMapReduce(_._1)(_._2)(_ ++ _)
      var seen = names
      var frontier = names
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(n => edges.getOrElse(n, Set.empty)) -- seen
        seen ++= next
        frontier = next
      }
      seen.exists(ScaledKeyCols)
    }

    def unboundedScaledLeaves(p: LogicalPlan): Seq[String] = p match {
      // bounding nodes: whatever is beneath them, the hinted side's
      // cardinality no longer scales with the corpus.
      // An Aggregate bounds ONLY when its grouping key space is itself
      // bounded: GROUP BY doc_id over documents has corpus-scaled
      // output, so a pinned broadcast above it still dies at 100 TB —
      // when any grouping expression traces (through aliases) to a
      // scaled table's key column, keep walking instead of declaring
      // the subtree bounded (ADVICE r11 + the r12 alias fix).
      case a: Aggregate =>
        val grpRefs = a.groupingExpressions
          .flatMap(_.references.map(r => lc(r.name))).toSet
        if (tracesToScaledKey(grpRefs, a))
          a.children.flatMap(unboundedScaledLeaves)
        else Nil
      case d: Deduplicate =>
        val keyRefs = d.keys
          .flatMap(_.references.map(r => lc(r.name))).toSet
        if (tracesToScaledKey(keyRefs, d))
          d.children.flatMap(unboundedScaledLeaves)
        else Nil
      case _: GlobalLimit | _: LocalLimit | _: Sample => Nil
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val paths = fs.location.rootPaths.map(_.toString)
          ScaledTables.filter(t =>
            paths.exists(_.contains(s"$t.parquet"))).toSeq
        case _ => Nil
      }
      case other => other.children.flatMap(unboundedScaledLeaves)
    }

    df.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
        unboundedScaledLeaves(h.child)
    }.flatten.distinct.map(t => s"pinned broadcast reaches scaled table '$t'")
  }

  /** Build `q` through [[graft.GraftQuery.execute]] with the
    * Checkpoints plan tap on: `body` gets the built frame and the
    * physical plans of the eager ser/deser checkpoints the build ran.
    * Iterative queries execute their rounds inside run(), so the
    * frame's executedPlan alone is an all-LogicalRDD tail that misses
    * every loop round (ADVICE r12 — the immutable-edge k-core audited
    * all-zero). Single-threaded by contract: the tap is a process
    * global, so a concurrent build would interleave tapped plans
    * across queries. */
  def tapped[A](spark: SparkSession, sfDir: String, q: GraftQuery)(
      body: (DataFrame, Seq[String]) => A): A = {
    val rounds = new scala.collection.mutable.ArrayBuffer[String]
    Checkpoints.planTap = Some(rounds += _)
    try q.execute(spark, sfDir) { df =>
      Checkpoints.planTap = None
      body(df, rounds.toSeq)
    } finally Checkpoints.planTap = None
  }

  /** One query's plan-shape row: `df`'s executed plan plus `rounds`,
    * the plans its build executed (see [[tapped]]). */
  def audit(name: String, df: DataFrame, rounds: Seq[String]): Audit = {
    val plan = (df.queryExecution.executedPlan.toString +: rounds)
      .mkString("\n")
    Audit(name,
      scans = countOf(plan, "Scan parquet"),
      exchanges = countOf(plan, "Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)"),
      bhj = countOf(plan, "BroadcastHashJoin"),
      smj = countOf(plan, "SortMergeJoin"),
      bnl = countOf(plan, "BroadcastNestedLoopJoin"),
      cartesian = countOf(plan, "CartesianProduct"),
      sorts = countOf(plan, "\\bSort \\["),
      windows = countOf(plan, "\\bWindow \\["),
      globalWindows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }.length,
      pushed = "PushedFilters: \\[[^\\]]*(?:GreaterThan|LessThan|EqualTo|In\\(|StringContains|Between)"
        .r.findFirstIn(plan).isDefined)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1)
    val spark = graft.Sessions.local()
    val rows = Registry.all.map(q =>
      try Right(tapped(spark, sfDir, q)(audit(q.name, _, _)))
      catch { case NonFatal(e) => Left(s"${q.name}: ${e.getMessage}") })
    val (errs, oks) = rows.partitionMap(identity)
    val header =
      "| query | scans | exch | bhj | smj | bnl | cart | sorts | win | gwin | pushed |"
    val sep = "| --- | ---: | ---: | ---: | ---: | ---: | ---: | ---: | ---: | ---: | --- |"
    val body = oks.map(a =>
      s"| ${a.name} | ${a.scans} | ${a.exchanges} | ${a.bhj} | ${a.smj} " +
      s"| ${a.bnl} | ${a.cartesian} | ${a.sorts} | ${a.windows} " +
      s"| ${a.globalWindows} | ${if (a.pushed) "yes" else ""} |")
    // NO stripMargin: the markdown rows' leading '|' IS a margin char
    val doc = Seq(
      "# PLAN_AUDIT — physical-plan shape per registry query",
      "",
      s"Generated by `graft.tools.PlanAudit` at $sfDir on the session",
      "Bench and Verify run (`Sessions.local()`; AQE initial plans;",
      "see the tool's scaladoc for column meanings). Counts",
      "include every eager ser/deser checkpoint's OWN plan via the",
      "Checkpoints plan tap — iterative queries execute their rounds",
      "inside the builder, so the output frame's executedPlan alone",
      "would audit an all-LogicalRDD tail and miss the loop joins",
      "(ADVICE r12; both k-core rows read all-zero before the tap).",
      "gwin is still counted on the TAIL's optimized plan only. The",
      "registry-wide invariant — zero CartesianProduct nodes — is",
      "gated by PlanAuditSpec, not just recorded here.",
      "",
      header,
      sep,
      body.mkString("\n"),
      if (errs.nonEmpty) errs.mkString("\nERRORS:\n", "\n", "") else "",
      "").mkString("\n")
    out match {
      case Some(p) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          doc.getBytes("UTF-8"))
        println(s"[plan-audit] wrote ${oks.length} rows to $p" +
          (if (errs.nonEmpty) s" (${errs.length} ERRORS)" else ""))
      case None => println(doc)
    }
    spark.stop()
  }
}
