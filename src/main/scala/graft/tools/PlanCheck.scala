package graft.tools

import graft.{Registry, Sessions}
import scala.util.control.NonFatal

/** Dev utility: print the formatted physical plan of registry queries
  * (every query when no names are given) against a dataset dir, on
  * the session Bench runs and under each query's conf advisories —
  * scan pruning (PushedFilters/ReadSchema), join strategies and
  * WholeStageCodegen spans, audited without editing code.
  *
  * Usage: scripts/run.sh graft.tools.PlanCheck <sfDir> [name[,name...]]
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    require(args.length == 1 || args.length == 2,
      "usage: PlanCheck <sfDir> [name,name...]")
    val sfDir = args(0)
    val qs = args.lift(1).fold(Registry.all)(n => Registry.select(n.split(",")))
    val spark = Sessions.local()
    qs.foreach { q =>
      println(s"==== ${q.name} @ $sfDir ====")
      try q.execute(spark, sfDir)(_.explain("formatted"))
      catch { case NonFatal(e) => println(s"FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
