package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import scala.util.control.NonFatal

/** Dev tool: execute EVERY registered query (not just the bench set)
  * against a given SF dir and report wall time + row count, to catch
  * queries whose plans degenerate at larger scale before the driver
  * does. Usage: scripts/run.sh graft.SweepCheck [sfDir] [name...]
  *
  * Artifact lifecycle (VERDICT r6): session caches (signature /
  * cluster / shingle tables) and per-query localCheckpoints used to
  * accumulate in executor storage for the whole sweep — BASELINE.md's
  * sf1 notes attribute the sim_label_centroids / sim_ivf_topk in-sweep
  * outliers to exactly that pressure. Each query now runs against a
  * clean store: [[clearSessionArtifacts]] drops the caches and
  * unpersists every lingering RDD afterward, so sweep timings measure
  * PLANS (each query pays its own artifact materialization, cold) —
  * which also means sweep totals are higher than, and not comparable
  * to, the shared-artifact sweeps of rounds ≤ 6.
  */
object SweepCheck {

  /** Drop every session-scoped artifact: every [[tools.SessionCache]]
    * plus any still-persisted RDD (localCheckpoints register here).
    * Safe only when no live DataFrame still depends on a checkpointed
    * plan — true between sweep queries. */
  def clearSessionArtifacts(spark: SparkSession): Unit = {
    // the full-store unpersist below subsumes the deferred scratch
    // releases — drain first so the registry drops its strong frame
    // references instead of growing for the whole sweep
    tools.Checkpoints.drainDeferred(spark)
    // every cache, every session: the unpersist below is context-wide,
    // so frames cached for any session are dead after it
    tools.SessionCache.clearAll()
    // SQL-cache entries are PLAN-matched session-wide: a df.cache()
    // from any earlier consumer silently substitutes InMemoryRelation
    // into every later plan sharing that fragment — different stats,
    // different join strategies, so sweeps would measure cache luck
    // and plan audits would audit a polluted shape (round 10 caught
    // sim_hard_negatives flipping three broadcasts to SMJ this way).
    // Unpersisting the RDDs below does NOT drop the CacheManager
    // entries; this does.
    spark.catalog.clearCache()
    tools.Checkpoints.silencingRddLogger(
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true)))
  }

  /** Materialize `df` fully through the noop sink, as Bench does,
    * and return its row count, observed on that same execution. A
    * bare count() would let Catalyst prune expensive subtrees (a
    * windowed projection counted 1M rows in 0.13s because the window
    * never ran), and a count after the write runs the plan twice. */
  def noopCount(df: DataFrame): Long = {
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    rows.get("n").asInstanceOf[Long]
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val qs = if (names.isEmpty) Registry.all else Registry.select(names)
    val spark = Sessions.local()
    // SPARK_GRAFT_ARTIFACTS_DIR: sweep against PERSISTED dedup
    // artifacts — materialize once if absent, attach, and every query
    // (even after per-query cache teardown) probes the bucketed tables
    // instead of re-deriving. The production read path.
    sys.env.get("SPARK_GRAFT_ARTIFACTS_DIR").foreach { dir =>
      val t0 = System.nanoTime()
      // ensureFor re-materializes on a source-path OR content-
      // fingerprint mismatch, then attaches from one manifest snapshot
      graft.tools.Artifacts.ensureFor(spark, sfDir, dir)
      println(f"[artifacts] ensured $dir in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      println(s"[artifacts] attached $dir " +
        s"(derivations so far: dedup=${queries.Dedup.artifactDerivations.get()}" +
        s" sim=${queries.Similarity.indexDerivations.get()}" +
        s" bpe=${queries.TextAnalysis.bpeTrainings.get()})")
    }
    val results = qs.map { q =>
      val t0 = System.nanoTime()
      val n =
        try q.execute(spark, sfDir)(noopCount)
        catch { case NonFatal(e) =>
          println(f"${q.name}%-28s FAILED ${e.getMessage.take(100)}"); -1L }
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"${q.name}%-28s ${sec}%8.2fs ${n}%10d rows")
      clearSessionArtifacts(spark) // measure plans, not cache pressure
      (q.name, sec)
    }
    println(f"TOTAL ${results.map(_._2).sum}%.1fs")
    if (sys.env.contains("SPARK_GRAFT_ARTIFACTS_DIR"))
      println(s"[artifacts] total derivations this session: " +
        s"dedup=${queries.Dedup.artifactDerivations.get()}" +
        s" sim=${queries.Similarity.indexDerivations.get()}" +
        s" bpe=${queries.TextAnalysis.bpeTrainings.get()}")
    spark.stop()
  }
}
