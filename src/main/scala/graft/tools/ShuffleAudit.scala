package graft.tools

import java.util.concurrent.atomic.AtomicLong

import graft.{GraftQuery, Registry, SweepCheck}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bus
import scala.util.control.NonFatal

/** Shuffle auditor — the "minimize shuffles" rule as a MEASURED
  * number instead of a plan-reading judgment: runs queries once
  * (warmed) and reports actual task metrics — input bytes read,
  * shuffle bytes written, shuffle bytes read, and disk/memory spill —
  * summed over each query's tasks. A query whose shuffle write rivals
  * its input is moving the dataset; one whose spill is non-zero at
  * this scale would be memory-sick long before 100 TB. Writes
  * SHUFFLE_AUDIT.md when given an output path.
  *
  * Round 10 (VERDICT r9 #3): the audit now covers the FULL registry,
  * not just the bench flags — `--all` sweeps every query with the
  * SweepCheck per-query artifact teardown, so exchange-heavy
  * unbenched queries (dd_source_overlap, sim_pq_fit) carry measured
  * byte counts, and [[graft.ShuffleGateSpec]] gates zero spill
  * registry-wide at sf0.1 on every test run.
  *
  * Mechanics: one SparkListener accumulates task metrics; counters
  * snapshot around each query after the async listener bus is
  * drained ([[Bus.drain]]), so each delta holds exactly that query's
  * tasks.
  */
object ShuffleAudit {

  final case class Metrics(input: Long, shuffleWrite: Long,
      shuffleRead: Long, diskSpill: Long, memSpill: Long)

  private final class Collector extends SparkListener {
    val input = new AtomicLong
    val sw = new AtomicLong
    val sr = new AtomicLong
    val ds = new AtomicLong
    val ms = new AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        input.addAndGet(m.inputMetrics.bytesRead)
        sw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        sr.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        ds.addAndGet(m.diskBytesSpilled)
        ms.addAndGet(m.memoryBytesSpilled)
      }
    }
    def snapshot: Metrics = Metrics(input.get, sw.get, sr.get, ds.get,
      ms.get)
  }

  /** Measure task metrics per query against `sfDir`. `warm = true`
    * runs an unmeasured pass first (JIT + parquet footers + session
    * artifacts). `teardown = true` clears session artifacts between
    * measured queries (the SweepCheck discipline — each query's
    * metrics then include its own artifact derivation, cold, and
    * storage pressure never accumulates across a 150-query sweep).
    * Queries that fail are reported with all-(-1) metrics rather
    * than silently dropped. */
  def measure(spark: SparkSession, sfDir: String, qs: Seq[GraftQuery],
      warm: Boolean = true, teardown: Boolean = false)
      : Seq[(String, Metrics)] = {
    val c = new Collector
    val sc = spark.sparkContext
    sc.addSparkListener(c)
    try {
      def runOne(q: GraftQuery): Boolean =
        try q.execute(spark, sfDir) { df =>
          df.write.format("noop").mode("overwrite").save()
          true
        } catch { case NonFatal(e) =>
          System.err.println(s"[shuffle-audit] ${q.name}: ${e.getMessage}")
          false
        }
      if (warm) qs.foreach { q =>
        runOne(q)
        if (teardown) SweepCheck.clearSessionArtifacts(spark)
      }
      qs.map { q =>
        Bus.drain(sc)
        val before = c.snapshot
        val ok = runOne(q)
        Bus.drain(sc)
        val after = c.snapshot
        if (teardown) SweepCheck.clearSessionArtifacts(spark)
        val m =
          if (!ok) Metrics(-1, -1, -1, -1, -1)
          else Metrics(after.input - before.input,
            after.shuffleWrite - before.shuffleWrite,
            after.shuffleRead - before.shuffleRead,
            after.diskSpill - before.diskSpill,
            after.memSpill - before.memSpill)
        (q.name, m)
      }
    } finally spark.sparkContext.removeSparkListener(c)
  }

  private def mb(b: Long): String = f"${b / 1048576.0}%.1f"

  def render(rows: Seq[(String, Metrics)], sfDir: String,
      scope: String): String = {
    val header = "| query | input MB | shuffle write MB | shuffle read MB | disk spill MB | mem spill MB |"
    val sep = "| --- | ---: | ---: | ---: | ---: | ---: |"
    val body = rows.map { case (n, m) =>
      s"| $n | ${mb(m.input)} | ${mb(m.shuffleWrite)} | ${mb(m.shuffleRead)} " +
      s"| ${mb(m.diskSpill)} | ${mb(m.memSpill)} |"
    }
    Seq(
      "# SHUFFLE_AUDIT — measured task metrics per query",
      "",
      s"Generated by `graft.tools.ShuffleAudit` at $sfDir ($scope;",
      "warmed, one measured pass; listener-accumulated task metrics).",
      "Shuffle write ≈ data movement the plan pays per run; spill > 0",
      "means partitions outgrew executor memory at this scale (gated",
      "registry-wide by ShuffleGateSpec). The input column UNDERCOUNTS",
      "on local files (Hadoop FS statistics are thread-local and miss",
      "on reused task threads) — shuffle and spill are the auditable",
      "columns; checkpoint block reads can also surface as input",
      "(q_graph_pagerank's edge artifact).",
      "",
      header, sep, body.mkString("\n"), "").mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    val only = flags.collectFirst {
      case f if f.startsWith("--only=") =>
        f.stripPrefix("--only=").split(',').toSet
    }
    val rest = args.filterNot(_.startsWith("--"))
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val out = rest.lift(1)
    val all = flags.contains("--all")
    // --only=a,b re-measures the named queries (exact registry names)
    // — for iterating on one query family without paying the full
    // sweep. An unknown name throws here, before the session starts,
    // instead of auditing nothing.
    val qs = only.fold(
      if (all) Registry.all else Registry.all.filter(_.bench))(
      Registry.select)
    val spark = graft.Sessions.local()

    // --teardown: clear session artifacts between measured queries
    // even in bench-set mode. Without it a sweep's checkpointed
    // artifacts accumulate across queries, so a later query's spill
    // column reads ITS shuffles under EARLIER queries' storage
    // pressure — measured at sf10, that inflation OOM'd a 24 GB heap
    // before the sweep finished. --all always tears down.
    val teardown = all || flags.contains("--teardown")
    val rows = measure(spark, sfDir, qs, warm = true, teardown = teardown)
    val doc = render(rows, sfDir,
      if (all) s"FULL registry, ${qs.length} queries, per-query artifact teardown"
      else s"${if (only.isDefined) "named" else "bench"} set, " +
        s"${qs.length} queries" +
        (if (teardown) ", per-query artifact teardown" else ""))
    out match {
      case Some(p) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          doc.getBytes("UTF-8"))
        println(s"[shuffle-audit] wrote ${rows.length} rows to $p")
      case None => println(doc)
    }
    val spilled = rows.filter(r => r._2.diskSpill > 0 || r._2.memSpill > 0)
    if (spilled.nonEmpty)
      println(s"[shuffle-audit] SPILL DETECTED: " +
        spilled.map(_._1).mkString(", "))
    spark.stop()
  }
}
