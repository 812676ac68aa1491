/** Lives under org.apache.spark.sql for the private[sql] Dataset /
  * LogicalRDD bridge, like I128Sum and ArgMax2. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.StorageLevel

/** `localCheckpoint` that keeps the materialized layout VISIBLE.
  *
  * Under AQE (on since 3.2, and on everywhere in this engine),
  * `Dataset.localCheckpoint` captures `physicalPlan.outputPartitioning`
  * from the `AdaptiveSparkPlanExec` wrapper — which reports
  * `UnknownPartitioning` — so the resulting `LogicalRDD` forgets that
  * its blocks are hash-partitioned and per-partition sorted. Every
  * "pre-partitioned checkpoint" consumer (the Pregel-lite loop joins,
  * the exchange-free degree aggregates, the basket self-join) then
  * silently pays a fresh Exchange + Sort the design had already paid
  * for at materialization (measured round 15: every `Scan ExistingRDD`
  * in the pagerank plan read `UnknownPartitioning(0)` with a
  * re-Exchange on top, at every round).
  *
  * This helper re-declares on the `LogicalRDD` the TRUE layout of the
  * checkpointed blocks: the **executed** (post-AQE, final) plan's
  * `outputPartitioning` and `outputOrdering`, with attributes rewritten
  * onto the checkpoint's output. Nothing is asserted that was not
  * actually executed — the wrapped RDD IS `finalPlan.execute()`, row
  * for row, partition for partition — so the declaration cannot drift
  * from the data. If the final layout references pruned columns, or the
  * partitioning is not an attribute-rewritable expression, it degrades
  * to exactly what Spark declares today (Unknown), never to a wrong
  * claim.
  *
  * Safety note on coalescing: an AQE-coalesced exchange reports
  * `CoalescedHashPartitioning` (not plain `HashPartitioning`), and that
  * distinct type is declared verbatim — so a later co-partitioned join
  * can never mistake a coalesced layout for a modulo-N hash layout.
  */
object LayoutCheckpoint {

  /** Eager localCheckpoint at `level`, preserving the executed layout. */
  def checkpoint[T](ds: Dataset[T], level: StorageLevel): DataFrame = {
    val ck = ds.localCheckpoint(true, level).toDF()
    val finalPlan = ds.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val session =
      ds.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val analyzed = ck.queryExecution.analyzed
    val lrOpt = analyzed.collectFirst { case lr: LogicalRDD => lr }
    lrOpt match {
      case Some(lr) if lr.output.size == finalPlan.output.size =>
        // physical → checkpoint-output attribute rewrite (positional:
        // the checkpoint's output is exactly the executed plan's)
        val mapping: Map[Attribute, Attribute] =
          finalPlan.output.map(_.asInstanceOf[Attribute]).zip(lr.output).toMap
        val outSet = AttributeSet(lr.output)
        def rewritable(e: Expression): Boolean =
          e.deterministic &&
            e.references.forall(a => mapping.contains(a))
        def rewrite(e: Expression): Expression =
          e.transform { case a: Attribute => mapping(a) }
        // A join's output partitioning is a PartitioningCollection
        // whose members reference BOTH sides' key attributes; the
        // dropped duplicate key (e.g. the build side's copy after a
        // USING join) made the whole collection non-rewritable and the
        // checkpoint degraded to Unknown — re-paying an E-scale
        // Exchange+Sort per loop round (measured round 15: the
        // pagerank edges⋈deg checkpoint). Rewrite each member
        // independently and keep the survivors: each member is an
        // executed-layout fact on its own, so declaring the rewritable
        // subset asserts nothing new.
        def rewritePart(p: Partitioning): Option[Partitioning] = p match {
          case pc: PartitioningCollection =>
            val kept = pc.partitionings.flatMap(rewritePart)
            if (kept.isEmpty) None
            else if (kept.size == 1) Some(kept.head)
            else Some(PartitioningCollection(kept))
          case e: Expression if rewritable(e) =>
            val r = rewrite(e)
            if (r.references.subsetOf(outSet)) Some(r.asInstanceOf[Partitioning])
            else None
          case _ => None
        }
        val part: Partitioning = rewritePart(finalPlan.outputPartitioning)
          .getOrElse(UnknownPartitioning(0))
        // a sort order stays valid prefix-wise: keep the longest
        // rewritable prefix whose attributes survive in the output
        val ord: Seq[SortOrder] = finalPlan.outputOrdering
          .takeWhile(rewritable(_))
          .map(rewrite(_).asInstanceOf[SortOrder])
          .takeWhile(_.references.subsetOf(outSet))
        if (part == UnknownPartitioning(0) && ord.isEmpty) ck
        else {
          val newLr = new LogicalRDD(lr.output, lr.rdd, part, ord,
            lr.isStreaming, lr.getStream)(
            session, Some(lr.computeStats()), Some(lr.constraints))
          val newPlan = analyzed.transformUp {
            case l: LogicalRDD if l eq lr => newLr
          }
          org.apache.spark.sql.classic.Dataset.ofRows(session, newPlan)
        }
      case _ => ck
    }
  }
}
