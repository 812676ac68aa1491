package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query in the engine's correctness/bench surface.
  *
  * @param name    stable id; keys `SparkEntry.queries` and the driver's
  *                CORRECTNESS/BENCH reports
  * @param run     Spark plan over the parquet tables in `sfDir`
  * @param oracle  equivalent ANSI SQL for DuckDB over the same tables;
  *                None → driver records a weaker rows-only check
  * @param bench   include in the headline Bench set
  * @param confs   per-query session-conf advisories (e.g. an AQE
  *                initial partition count for a query whose exchanges
  *                are cap-bounded and never need the fine-grained
  *                start) — applied around MATERIALIZATION via
  *                [[withConfs]], never globally
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false,
    confs: Map[String, String] = Map.empty) {

  /** Run `body` (which must include the query's MATERIALIZATION — AQE
    * reads session conf at execution, not at plan build) with this
    * query's conf advisories applied, restoring the previous values
    * after. No-op for the conf-less majority. */
  def withConfs[A](s: SparkSession)(body: => A): A =
    if (confs.isEmpty) body
    else {
      val prev = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }
}

object Registry {
  lazy val all: Seq[GraftQuery] =
    queries.Relational.all ++
      queries.Cleaning.all ++
      queries.TextAnalysis.all ++
      queries.Dedup.all ++
      queries.Similarity.all ++
      queries.EventWindows.all ++
      queries.Cdc.all ++
      queries.Multimodal.all

  lazy val byName: Map[String, GraftQuery] = all.map(q => q.name -> q).toMap

  /** The named queries in registry order. A typo'd or stale name
    * would otherwise silently shrink a run to nothing, so any unknown
    * name throws (IllegalArgumentException) listing all of them. */
  def select(names: Iterable[String]): Seq[GraftQuery] = {
    val unknown = names.filterNot(byName.contains).toSeq.distinct.sorted
    require(unknown.isEmpty,
      s"query names not in the registry: ${unknown.mkString(", ")}")
    val wanted = names.toSet
    all.filter(q => wanted(q.name))
  }
}
