package graft.tools

import graft.Registry

/** Dev probe (round 15): run ONE registry query with the Checkpoints
  * plan tap on, printing per-checkpoint wall time and plan-shape
  * counters (exchanges / SMJ / BHJ / sorts) — the per-round visibility
  * the bench's single number hides.
  *
  * Usage: scripts/run.sh graft.tools.LoopProbe <sfDir> <name>
  */
object LoopProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args
    val spark = graft.Sessions.local()
    var last = System.nanoTime()
    var i = 0
    Checkpoints.planTap = Some { plan =>
      val now = System.nanoTime()
      val ex = "Exchange".r.findAllIn(plan).length
      val smj = "SortMergeJoin".r.findAllIn(plan).length
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
      val so = "Sort ".r.findAllIn(plan).length
      i += 1
      println(f"[ckpt $i%2d] +${(now - last) / 1e9}%6.2fs exch=$ex smj=$smj bhj=$bhj sort=$so")
      last = now
    }
    val t0 = System.nanoTime()
    try Registry.byName(name).execute(spark, sfDir) { df =>
      Checkpoints.planTap = None
      df.write.format("noop").mode("overwrite").save()
    } finally Checkpoints.planTap = None
    val now = System.nanoTime()
    println(f"[tail   ] +${(now - last) / 1e9}%6.2fs  TOTAL ${(now - t0) / 1e9}%6.2fs")
    spark.stop()
  }
}
