package graft

import graft.tools.PlanAudit
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Every registry query, run once per test JVM at sf0.001 through
  * [[GraftQuery.execute]] — the run contract every main uses (conf
  * advisories, full noop materialization, scratch drain) — with what
  * RegistrySpec and PlanAuditSpec assert recorded per query. Built
  * lazily by whichever of them asks first. */
object RegistrySweep {

  /** @param audit  the plan-shape row (None when the build failed)
    * @param pinned [[PlanAudit.pinnedScaledBroadcasts]] of the built frame
    * @param rows   row count of the noop materialization, -1 on failure
    * @param error  the build's or the materialization's failure */
  final case class Record(audit: Option[PlanAudit.Audit],
      pinned: Seq[String], rows: Long, error: Option[String])

  /** Audits must see PRISTINE plans: the shared test session may
    * carry SQL-cache entries, session artifacts, or planning confs
    * from earlier suites — cached plan fragments substitute
    * InMemoryRelation into matching subtrees and a leaked broadcast
    * threshold flips join strategies (suite-order-dependent
    * flakiness: round 10 caught sim_hard_negatives auditing 3 SMJs
    * in full-suite order while every clean-session run plans 7
    * broadcasts). Clear the caches and reset the planning confs the
    * audit assertions depend on to their session defaults. */
  def hermetic(spark: SparkSession): Unit = {
    SweepCheck.clearSessionArtifacts(spark)
    Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .foreach(spark.conf.unset)
  }

  lazy val records: Map[String, Record] = {
    val spark = SparkSpec.session
    val d = new SparkSpec {}.sf("sf0.001")
    hermetic(spark)
    Registry.all.map { q =>
      q.name -> (
        try PlanAudit.tapped(spark, d, q) { (df, rounds) =>
          // audit the frame before anything executes it
          val audit = PlanAudit.audit(q.name, df, rounds)
          val pinned = PlanAudit.pinnedScaledBroadcasts(df)
          try Record(Some(audit), pinned, SweepCheck.noopCount(df), None)
          catch { case NonFatal(e) =>
            Record(Some(audit), pinned, -1, Some(e.toString)) }
        } catch { case NonFatal(e) =>
          Record(None, Nil, -1, Some(e.toString)) })
    }.toMap
  }
}
