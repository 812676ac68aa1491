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
  *                start) — applied around build and
  *                materialization by [[execute]], never globally
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false,
    confs: Map[String, String] = Map.empty) {

  /** The run contract every runner goes through: build
    * `run(spark, sfDir)` and apply `body` to it (`body` materializes
    * the frame: AQE reads session conf at execution, not at plan
    * build), both under this query's conf advisories ([[withConfs]]);
    * then release the scratch checkpoints the build registered with
    * [[tools.Checkpoints.defer]], also when the build or `body`
    * throws. A shared session runs many queries one after another,
    * and a query's dead scratch would otherwise stay resident under
    * every query after it (at sf10 that inflated later queries up to
    * 2×, r12). The release is non-blocking metadata, outside any
    * window `body` times. */
  def execute[A](spark: SparkSession, sfDir: String)(body: DataFrame => A): A =
    try withConfs(spark)(body(run(spark, sfDir)))
    finally tools.Checkpoints.drainDeferred(spark)

  /** Run `body` with this query's conf advisories applied, restoring
    * the previous values after. No-op for the conf-less majority. */
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
