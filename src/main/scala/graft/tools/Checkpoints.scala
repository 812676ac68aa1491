package graft.tools

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.LayoutCheckpoint
import org.apache.spark.storage.StorageLevel

/** Targeted release of localCheckpoint storage inside iterative
  * loops.
  *
  * Every loop that materializes distributed state once per round
  * (the k-core peel, LPA, connected components, BPE training) runs on
  * [[Checkpoints.iterate]], the one per-round loop, so the next
  * round's plan reads blocks instead of replaying the prior lineage.
  * A checkpoint's blocks live until the RDD is unpersisted, so a loop
  * that never releases superseded rounds retains O(rounds × graph)
  * storage, and every re-execution (each bench pass re-runs the
  * builder) stacks a fresh generation on top. Measured at sf10: the
  * graph bench queries dragged 16–90 GB of memory spill each, and a
  * repeated 21-query sweep OOM'd a 24 GB heap. `iterate` releases
  * each round once its successor is materialized, bounding retention
  * at O(current graph + output). The caller owns `init` (the loop
  * never releases it: it may be a projection of a table later rounds
  * still read) and the last state (it typically feeds the output, so
  * it is [[defer]]red to the runner's drain or returned). PageRank
  * stays a fold: its rounds form one lazy plan, nothing per round.
  *
  * Contract: call `release` ONLY on the exact DataFrame returned by
  * `localCheckpoint` (its plan is the one checkpoint's LogicalRDD),
  * and only once every consumer of that frame has itself been
  * materialized — the checkpoint truncated the lineage, so a
  * released block can NEVER be recomputed. Spark logs exactly that
  * caution on every such unpersist; the release is the deliberate,
  * by-construction-safe case, so the RDD logger is silenced for the
  * call (the SweepCheck teardown precedent).
  */
object Checkpoints {

  /** Eager localCheckpoint at MEMORY_AND_DISK_SER for corpus-scale
    * iteration state (edge lists, per-round degree/label tables).
    * The default deserialized MEMORY_AND_DISK stores row OBJECTS —
    * 3–5× the footprint for string-keyed graph rows — and on a
    * single JVM two decades above the gate scale that storage
    * squeezes unified execution memory until every round's aggregate
    * spills (measured at sf10: 10–46 GB spill per graph query).
    * Serialized blocks trade one deserialization per consumer stage
    * for that headroom. Session-cached ARTIFACTS probed many times
    * stay deserialized — their read count amortizes the footprint. */
  implicit class SerCheckpoint[T](private val ds: Dataset[T]) {
    // Both variants route through LayoutCheckpoint (round 15): under
    // AQE, Dataset.localCheckpoint forgets the materialized hash
    // partitioning + per-partition sort (LogicalRDD reads
    // UnknownPartitioning), so every consumer of a pre-partitioned
    // checkpoint re-paid an Exchange+Sort the loop had already paid.
    // LayoutCheckpoint declares the executed plan's true layout on the
    // checkpoint. The cast is sound at every call site (all frames are
    // untyped DataFrames); a typed Dataset would need its encoder
    // re-attached.
    def serCheckpoint(): Dataset[T] =
      checkpointAt(StorageLevel.MEMORY_AND_DISK_SER)

    /** Deserialized variant for loops that re-read their checkpoints
      * every round but whose TOTAL retained footprint stays well under
      * execution memory even two decades above the gate scale. The
      * serialized default is spill insurance — the k-core/LPA loops
      * retain edge-scale state per round and spilled 10–89 GB at sf10
      * without it — but it charges a deserialization to every consumer
      * stage. PageRank never spilled at sf10 under either level, and
      * its edge+degree checkpoints are read 3–4 times each, so the SER
      * level only cost it ser/deser (+27% at sf10, BASELINE.md r11
      * trade note). The storage level is per-loop: deserialized where
      * the loop's retained state provably fits, serialized elsewhere. */
    def deserCheckpoint(): Dataset[T] =
      checkpointAt(StorageLevel.MEMORY_AND_DISK)

    private def checkpointAt(level: StorageLevel): Dataset[T] = {
      tapPlan(ds)
      LayoutCheckpoint.checkpoint(ds, level).asInstanceOf[Dataset[T]]
    }
  }

  /** Plan tap for [[PlanAudit]]: an eager checkpoint EXECUTES its
    * subplan during the query builder, so the final frame's
    * executedPlan only shows LogicalRDD reads — with the immutable-
    * edge k-core both kcore rows audited all-zero and the gated
    * zero-CartesianProduct invariant stopped inspecting any of the
    * loop's per-round plans (ADVICE r12). When a tap is installed,
    * every serCheckpoint/deserCheckpoint first hands its OWN physical
    * plan string to the tap, so an audit sees the loop rounds too.
    * Accessing executedPlan here only forces planning the Dataset was
    * about to plan anyway. Direct localCheckpoint call sites (session
    * artifact caches) stay untapped — artifacts are audited through
    * their consumers. */
  @volatile private[graft] var planTap: Option[String => Unit] = None

  private def tapPlan(ds: Dataset[_]): Unit =
    planTap.foreach(f => f(ds.queryExecution.executedPlan.toString))

  /** Session-scoped registry of per-run SCRATCH checkpoints — loop
    * state and multi-consumer intermediates whose blocks the query's
    * OUTPUT still references, so they cannot be released inside the
    * query builder (the runner has not materialized the result yet and
    * a released localCheckpoint can never be recomputed). Queries
    * register them with [[defer]]; every runner materializes a query
    * through [[graft.GraftQuery.execute]], which calls
    * [[drainDeferred]] AFTER the materialization.
    *
    * Why this must exist: in a shared long-lived session the retained
    * scratch of completed queries stacks — each bench pass re-runs
    * every builder, so 4 passes × the graph family retained 4
    * generations of E-scale edge checkpoints. Measured at sf10
    * (round 12): with pagerank's edges held DESERIALIZED the
    * accumulated dead blocks inflated the queries that run after it —
    * q_graph_triangles +107%, q_graph_kcore 190s in-bench vs 77s
    * solo — pure storage/GC pressure, zero plan difference.
    *
    * Deliberately NOT registered: session ARTIFACT caches (signature/
    * cluster/shingle tables, trained indexes, BPE merge tables, the
    * incremental base-edge history) — their whole point is reuse
    * across queries, and later consumers still hold their frames.
    *
    * Values are the checkpoints' RDDs, extracted at registration —
    * NOT the DataFrames. A Dataset strongly references its
    * SparkSession, so DataFrame values would pin the WeakHashMap's
    * session key forever (ADVICE r13): any path that registers but
    * never drains (ad-hoc use, an aborting runner, plain specs) would
    * retain the frames for the JVM's lifetime. An RDD references only
    * the SparkContext, so an undrained session's entry becomes
    * collectable the moment the session itself is unreachable. */
  private val deferred =
    new java.util.WeakHashMap[SparkSession, java.util.ArrayList[RDD[_]]]

  /** Register a scratch checkpoint for release at the next
    * [[drainDeferred]]; returns the frame unchanged so call sites
    * wrap construction. The checkpointed RDDs are extracted HERE (the
    * frame's plan is already the checkpoint's LogicalRDD at every
    * call site), so the registry holds no Dataset reference. Double-
    * release is a no-op at the RDD layer. */
  def defer[T](ds: Dataset[T]): ds.type = {
    val rdds = checkpointedRdds(ds)
    deferred.synchronized {
      var l = deferred.get(ds.sparkSession)
      if (l == null) {
        l = new java.util.ArrayList[RDD[_]]
        deferred.put(ds.sparkSession, l)
      }
      rdds.foreach(l.add(_))
    }
    ds
  }

  /** Release every scratch checkpoint registered for `s` since the
    * last drain. Call ONLY after the current query's result has been
    * fully materialized. Returns the number of RDDs drained. */
  def drainDeferred(s: SparkSession): Int = {
    val l = deferred.synchronized(deferred.remove(s))
    if (l == null) 0
    else {
      if (!s.sparkContext.isStopped)
        silencingRddLogger(l.forEach(_.unpersist(blocking = false)))
      l.size
    }
  }

  /** The one per-round loop (see the object scaladoc): `step(state,
    * round)` builds round `round`'s state (1-based) or returns None to
    * stop. Each state is materialized with
    * [[SerCheckpoint.serCheckpoint]], then the one it supersedes is
    * released, `init` excepted. Stops at None or after `maxRounds`
    * states; returns the last state and the number materialized. */
  def iterate(init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => Option[DataFrame]): (DataFrame, Int) = {
    @annotation.tailrec
    def loop(state: DataFrame, rounds: Int): (DataFrame, Int) =
      if (rounds >= maxRounds) (state, rounds)
      else step(state, rounds + 1) match {
        case None => (state, rounds)
        case Some(next) =>
          val materialized = next.serCheckpoint()
          if (rounds > 0) release(state)
          loop(materialized, rounds + 1)
      }
    loop(init, 0)
  }

  private def checkpointedRdds(ds: Dataset[_]) =
    ds.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd
    }

  /** Unpersist the checkpointed RDDs in `df`'s plan (non-blocking). */
  def release(df: DataFrame): Unit = {
    val rdds = checkpointedRdds(df)
    if (rdds.nonEmpty)
      silencingRddLogger(rdds.foreach(_.unpersist(blocking = false)))
  }

  /** Run `body` with the org.apache.spark.rdd logger at ERROR: every
    * unpersist of a locally-checkpointed RDD WARNs that the truncated
    * lineage can't recompute it — deliberate and by-construction safe
    * here (see the object scaladoc), and the WARNs were burying the
    * Bench metric line (VERDICT r9). */
  private[graft] def silencingRddLogger[A](body: => A): A = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val rddLogger = "org.apache.spark.rdd"
    val prev = LogManager.getLogger(rddLogger).getLevel
    Configurator.setLevel(rddLogger, Level.ERROR)
    try body
    finally Configurator.setLevel(rddLogger, prev)
  }
}
