package graft

import scala.util.control.NonFatal

/** Headline benchmark (driver contract): run the bench-flagged
  * registry queries against SPARK_GRAFT_SF_DIR and print ONE JSON
  * line. Each query is fully materialized through the noop sink (a
  * bare count() would let Catalyst prune the project away), and the
  * whole set runs once unmeasured first — JIT, codegen cache, parquet
  * footer cache — then MEASURED THREE TIMES, pass-interleaved, so a
  * transient load spike on the shared box lands in at most one of a
  * query's three samples. The recorded per-query number is the
  * MEDIAN of the three; the per-query minimum and the system load
  * average (start/end of the measured window) ride along so a reader
  * can tell plan cost from box contention. Round 7 proved the need:
  * a single measured pass recorded 64.95s under end-of-round load
  * where the identical binary did 21.36s idle — a 3× artifact skew
  * with zero code difference.
  *
  * Attached-artifact mode (round 9): the artifact-backed queries
  * (trained similarity index, dedup cluster tables, the BPE merge
  * table) are additionally re-measured AGAINST the persisted
  * artifacts (tools/Artifacts materialize-if-absent + attach — the
  * 100 TB production plan, where indexes/tokenizers are trained once
  * per corpus drop, not once per query). Those medians ride the same
  * JSON line under `queries_attached`, so every round records BOTH
  * the derive-cold cost and the production read-path cost.
  * `SPARK_GRAFT_BENCH_ATTACHED=0` skips the attached pass;
  * `SPARK_GRAFT_ARTIFACTS_DIR` overrides where artifacts live.
  */
object Bench {

  /** Bench queries whose plan changes when an artifact set is
    * attached: they resolve cluster / trained-index / merge-table
    * artifacts via the session caches instead of deriving. */
  private[graft] val ArtifactBacked =
    Set("dd_keep_list", "t_corpus_yield", "sim_ivfpq_topk", "t_bpe_encode")

  /** The round-16 canonical medians at sf0.1 (BASELINE.md "Round-16
    * canonical re-record"; VERDICT r15 #6 — the r14 table had gone
    * stale as the 2× comparator after two optimization rounds) —
    * embedded so every bench line carries its own per-query ratios
    * and a box-state verdict (VERDICT r14 #7: the 2× comparison
    * self-normalizes instead of needing a same-loadavg forensic
    * paragraph each round). Recorded idle (loadavg_start 0.11, light
    * gauge 0.857 vs the r14 table, i.e. a fast box phase), default
    * median-of-3 noop protocol, local[32]. Update alongside any
    * future canonical re-record. */
  private[graft] val CanonicalSf01: Map[String, Double] = Map(
    "q1_pricing_summary" -> 0.77, "q2_top_orders_per_customer" -> 0.44,
    "q3_revenue_by_nation" -> 0.71, "q6_forecast_revenue" -> 0.24,
    "q10_returned_revenue" -> 0.84, "q18_large_orders" -> 0.74,
    "q_table_profile" -> 2.06, "q_basket_pairs" -> 2.21,
    "t_bpe_encode" -> 0.66, "t_corpus_yield" -> 1.14,
    "dd_keep_list" -> 0.17, "dd_simhash_neardup" -> 1.10,
    "sim_cosine_topk" -> 0.50, "sim_ivfpq_topk" -> 2.84,
    "w_tumbling_hourly" -> 0.37, "w_sessionize_30m" -> 0.62,
    "q_graph_pagerank" -> 3.49, "q_graph_triangles" -> 2.44,
    "q_graph_communities" -> 4.64, "q_graph_kcore" -> 2.16,
    "q_graph_kcore_full" -> 3.90)
  private[graft] val CanonicalSf01Total = 32.05

  /** Scan-bound sub-second queries whose plans have not changed in
    * rounds: their median canonical ratio is a pure box-load gauge
    * (a loaded box inflates THEM as much as anything heavy, a plan
    * regression does not). */
  private[graft] val LightQueries = Seq(
    "q1_pricing_summary", "q2_top_orders_per_customer",
    "q3_revenue_by_nation", "q6_forecast_revenue", "q10_returned_revenue",
    "q18_large_orders", "w_tumbling_hourly", "w_sessionize_30m")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_BENCH_ONLY=q1,q2: solo-probe subset for perf triage
    // (isolating one query's heap/GC behavior from the full pass).
    // Recorded round tables always run the full flagged set.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // select fails fast on a typo'd/stale name, which would otherwise
    // shrink the set and "measure" nothing (ADVICE r12)
    val selected = only.fold(Registry.all)(Registry.select)
    val (qs, unflagged) = selected.partition(_.bench)
    if (only.isDefined && unflagged.nonEmpty) System.err.println(
      s"[bench] WARNING: not bench-flagged, skipped: " +
        unflagged.map(_.name).sorted.mkString(", "))
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val spark = Sessions.local()

    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    // timed: build + materialization; execute's drain runs after
    def exec(q: GraftQuery): Double = {
      val t0 = System.nanoTime()
      q.execute(spark, sfDir) { df =>
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }

    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0
      else if (ok.size % 2 == 1) ok(ok.size / 2)
      else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0
    }

    /** Warm once, then `passes` interleaved measured passes →
      * per-query (median, min). */
    def measure(set: Seq[GraftQuery]): Seq[(String, Double, Double)] = {
      set.foreach(q =>
        try exec(q)
        catch { case NonFatal(e) =>
          System.err.println(s"[bench-warm] ${q.name}: ${e.getMessage}") })
      val samples: Seq[Seq[(String, Double)]] = (1 to passes).map { _ =>
        set.map(q => q.name -> (try exec(q) catch { case NonFatal(_) => -1.0 }))
      }
      set.map { q =>
        val ts = samples.map(_.find(_._1 == q.name).map(_._2).getOrElse(-1.0))
        (q.name, median(ts),
          if (ts.exists(_ >= 0)) ts.filter(_ >= 0).min else -1.0)
      }
    }

    val loadStart = loadAvg
    val byName = measure(qs)
    val loadEnd = loadAvg

    def obj(pairs: Seq[(String, Double)]): String =
      pairs.map { case (k, v) => f""""$k":${v}%.4f""" }.mkString("{", ",", "}")

    val medians = obj(byName.map(t => t._1 -> t._2))
    val mins = obj(byName.map(t => t._1 -> t._3))
    val total = byName.map(_._2).filter(_ >= 0).sum
    val totalMin = byName.map(_._3).filter(_ >= 0).sum

    // Attached-artifact pass: flip the artifact-backed subset onto
    // the persisted tables and re-measure under the same protocol.
    val attachedOn = sys.env.getOrElse("SPARK_GRAFT_BENCH_ATTACHED", "1") != "0"
    val aqs = qs.filter(q => ArtifactBacked(q.name))
    val attachedFields =
      if (!attachedOn || aqs.isEmpty) ""
      else try {
        val dir = sys.env.getOrElse("SPARK_GRAFT_ARTIFACTS_DIR",
          s"/tmp/graft_bench_artifacts_${new java.io.File(sfDir).getName}")
        val p0 = System.nanoTime()
        // materialize-if-needed: ensureFor re-materializes when the
        // manifest's source path OR its content fingerprint disagrees
        // with sfDir, so a pre-existing artifact dir from a
        // REGENERATED corpus at the same path can't be silently
        // measured (ADVICE r9)
        tools.Artifacts.ensureFor(spark, sfDir, dir)
        // attach dropped the session caches; release the derive
        // passes' persisted RDDs too
        SweepCheck.clearSessionArtifacts(spark)
        val prepSec = (System.nanoTime() - p0) / 1e9
        // guard the measurement's meaning: if any derivation counter
        // advances during the attached pass, a lookup fell through to
        // derive-on-demand and these numbers are NOT the attached
        // read path — refuse to report them as such (ADVICE r9)
        def derivations(): Long =
          queries.Dedup.artifactDerivations.get() +
            queries.Similarity.indexDerivations.get() +
            queries.TextAnalysis.bpeTrainings.get()
        val d0 = derivations()
        val att = measure(aqs)
        val fellThrough = derivations() - d0
        tools.Artifacts.detach(spark)
        if (fellThrough > 0) {
          System.err.println(s"[bench-attached] DISCARDED: $fellThrough " +
            "derivations ran during the attached pass — lookups fell " +
            "back to derive (manifest/source mismatch?); refusing to " +
            "record derive medians as queries_attached")
          ""
        } else {
          val aTotal = att.map(_._2).filter(_ >= 0).sum
          f""","queries_attached":${obj(att.map(t => t._1 -> t._2))}""" +
            f""","queries_attached_min":${obj(att.map(t => t._1 -> t._3))}""" +
            f""","attached_total":$aTotal%.4f,"artifact_prep_sec":$prepSec%.1f"""
        }
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench-attached] skipped: ${e.getMessage}")
        ""
      }

    // self-normalizing comparator fields (VERDICT r14 #7): per-query
    // ratios against the embedded canonical table, the light-query
    // load gauge, and a box-state verdict — only where the canonical
    // applies (a full bench-flagged set at sf0.1)
    val canonFields =
      if (new java.io.File(sfDir).getName != "sf0.1" || only.isDefined) ""
      else {
        val ratios = byName.collect {
          case (n, med, _) if med >= 0 && CanonicalSf01.contains(n) =>
            n -> med / CanonicalSf01(n)
        }
        val rmap = ratios.toMap
        val lightMed = median(LightQueries.flatMap(rmap.get))
        // >1.3 on queries whose plans are static means the box (or the
        // sweep's own neighborhood) is inflating everything — read
        // heavy-query deltas against lightMed, not against 1.0
        val verdict =
          if (lightMed > 1.3 || loadStart > 2.0) "loaded" else "idle"
        f""","canonical_total":$CanonicalSf01Total%.2f""" +
          s""","canonical_ratio":${obj(ratios)}""" +
          f""","light_ratio_median":$lightMed%.3f""" +
          s""","box_verdict":"$verdict""""
      }
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$medians,""" +
      s""""protocol":"median_of_$passes","total_min":$totalMin,"queries_min":$mins,""" +
      s""""loadavg_start":$loadStart,"loadavg_end":$loadEnd$attachedFields""" +
      s"""$canonFields,"sf":"$sfDir"}"""
    // file artifact first (VERDICT r9: a WARN-flooded tail left the
    // driver's parsed field null — the file survives any stdout noise)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_last.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    println(line)
    spark.stop()
  }
}
