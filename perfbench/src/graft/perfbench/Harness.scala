package graft.perfbench

import graft.{GraftQuery, Registry, SweepCheck}
import graft.model.Listing
import graft.operators.{AgentPipeline, Cdc, ScrapePipeline}
import graft.sinks.{CsvSinks, GraphWriter, InMemoryGraphWriter}
import graft.sources.{FixtureSource, TruliaFixtureSource}
import graft.tools.{Artifacts, Checkpoints}
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.util.LongAccumulator
import scala.collection.mutable

/** JVM side of the benchmark: one workload, one seed, one closed-loop
  * client thread driving the program's public entry points in a
  * `local[nproc]` session configured like graft.Bench.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <resultJson>
  *
  * Writes a JSON result (metrics, op counts, check messages, the
  * outputs the DuckDB oracle must compare, and the load gauge) to
  * `resultJson`; with tracing on, also the spans to `workDir/spans.jsonl`.
  */
object Harness {

  // The `queries` pass: a scan/join/window slice (parquet scan,
  // exchanges, the native I128Sum), the iterative k-core fixpoint (per-round
  // checkpoints and driver barriers) and two corpus queries (native
  // expressions and the session caches); traced runs also run the corpus
  // ones again with persisted artifacts attached. Sized so a pass takes a
  // few seconds at the benchmark's input scale on a 4-core box.
  val Relational = Seq("q1_pricing_summary", "q3_revenue_by_nation", "w_sessionize_30m")
  val Graph = Seq("q_graph_kcore_full")
  val Corpus = Seq("t_corpus_yield", "dd_keep_list")
  /** The corpus queries whose plans read persisted artifacts once a set
    * is attached (graft.Bench re-measures the same ones attached). */
  val Attached = Corpus
  val AttachedSuffix = "_attached"
  /** Untimed noop passes after the checked warm-up pass of `queries`. */
  val WarmPasses = 2

  /** Per-layer metrics only some workloads exercise; the others report
    * them as 0, so every traced run carries the same metric set. */
  val WorkloadLayers: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.page_reads_per_page" -> "ratio",
    "operators.cdc_s" -> "s", "operators.events.new_listing" -> "count",
    "operators.events.price_change" -> "count", "operators.events.off_market" -> "count",
    "sinks.graph_rows" -> "count", "cache.derivations" -> "count",
    "cache.attached_derivations" -> "count") ++
    Graph.flatMap(q => Seq(s"graph.$q.rounds" -> "count", s"graph.$q.s_per_round" -> "s"))

  def main(args: Array[String]): Unit = {
    require(args.length == 7, "usage: Harness <workload> <seed> <seconds> " +
      "<trace 0|1> <dataDir> <workDir> <resultJson>")
    val Array(workload, seedArg, secondsArg, traceArg, dataDir, workDir, resultPath) = args
    val run = new Run(workload, seedArg.toLong, secondsArg.toDouble, traceArg == "1",
      dataDir, workDir)
    val result = try run.execute() finally run.stop()
    System.err.println(s"[perfbench] session stopped")
    java.nio.file.Files.write(java.nio.file.Paths.get(resultPath), result.getBytes("UTF-8"))
  }

  private[perfbench] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private[perfbench] def json(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** A graph writer the benchmark owns: times each of the six writes as a
  * `sinks.graph_write` span and counts the rows it delivers to the
  * in-memory store. Counting goes through a pass-through filter, so the
  * wrapped frame's plan only gains one predicate. */
final class CountingGraphWriter(tracer: Tracer, rows: LongAccumulator,
    inner: GraphWriter) extends GraphWriter {
  private def counted(df: DataFrame): DataFrame = {
    val acc = rows
    val tick = udf { () => acc.add(1); true }.asNondeterministic()
    df.filter(tick())
  }
  def writeNodes(nodes: DataFrame, label: String, keys: Seq[String]): Unit =
    inner.writeNodes(counted(nodes), label, keys)
  def writeEdges(edges: DataFrame, relType: String): Unit =
    inner.writeEdges(counted(edges), relType)
  override def write(df: DataFrame, options: Map[String, String]): Unit =
    tracer.span("sinks.graph_write")(super.write(df, options))
}

final class Run(workload: String, seed: Long, seconds: Double, trace: Boolean,
    dataDir: String, workDir: String) {
  import Harness._

  private val cores = Runtime.getRuntime.availableProcessors
  // graft.Bench's session, except that the cycle keeps AQE's initial
  // shuffle partition count at the default: with Bench's 512 every
  // cycle ran ~4,700 tasks instead of ~90 and took 4x as long
  private val confs = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString) ++
    (if (workload == "cycle") Nil
     else Seq("spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "512")) ++ Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$workDir/spark-local",
    "spark.sql.warehouse.dir" -> s"$workDir/warehouse")
  private val loadStart = loadAvg()
  val spark: SparkSession = confs
    .foldLeft(SparkSession.builder().master(s"local[$cores]").appName("perfbench")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
  private val sessionS = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  private val sc = spark.sparkContext
  sc.setLogLevel("WARN")
  org.apache.logging.log4j.core.config.Configurator.setLevel(
    "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)

  private val tracer = new Tracer(sc, trace)
  private val listener = new JobListener
  if (trace) sc.addSparkListener(listener)

  // what the run records: set-up the program pays (summed into
  // setup_s), and the benchmark's own input generation (gauge only)
  private val setup = mutable.LinkedHashMap[String, Double]("session_s" -> sessionS)
  private val inputGen = mutable.LinkedHashMap[String, Double]() ++
    sys.props.get("perfbench.gen_s").map(g => "inputs_s" -> g.toDouble)
  private val stepTimes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val passTimes = mutable.ArrayBuffer[Double]()
  private val passCpu = mutable.ArrayBuffer[Double]()
  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
  private var items = 0L
  private var attempted = 0L
  private var failed = 0L
  private val checks = mutable.ArrayBuffer[String]()
  private val layer = mutable.LinkedHashMap[String, (Double, String)]()
  /** step name → (query name, result dir) for the oracle compare */
  private val oracleOut = mutable.LinkedHashMap[String, (String, String)]()
  /** step name → times it ran, timed or not */
  private val executions = mutable.Map[String, Int]().withDefaultValue(0)

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) jiffies of all CPUs from /proc/stat, if readable:
    * time the hypervisor gave to other guests. */
  private def cpuJiffies(): Option[(Long, Long)] = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    val t = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
    (t(7), t.take(8).sum)
  }.toOption

  private def stealShare(from: Option[(Long, Long)], to: Option[(Long, Long)]): String =
    (for ((s0, t0) <- from; (s1, t1) <- to if t1 > t0)
      yield f"${(s1 - s0).toDouble / (t1 - t0)}%.4f").getOrElse("null")

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def recordStep(name: String, s: Double): Unit =
    stepTimes.getOrElseUpdate(name, mutable.ArrayBuffer()) += s

  def stop(): Unit = spark.stop()

  def execute(): String = {
    InMemoryGraphWriter.clear()
    val w: Workload = workload match {
      case "cycle"      => new CycleWorkload
      case "queries"    => new QueryWorkload(Relational ++ Graph ++ Corpus, Attached)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setUp()
    // closed loop: the next pass starts when the previous one returns.
    // A budget shorter than one pass times exactly one pass per run: a
    // run whose pass count depended on the box's speed would mix first
    // passes with medians over later, faster ones
    val t0 = System.nanoTime()
    val jiffies0 = cpuJiffies()
    var passes = 0
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      passes += 1
      tracer.op = passes
      val c0 = processCpuS()
      val (_, s) = timed(tracer.span("pass")(w.pass()))
      passTimes += s
      passCpu += processCpuS() - c0
      System.err.println(f"[perfbench] pass $passes: $s%.3fs cpu ${passCpu.last}%.3fs")
      // untimed work after pass n is op -n, so it is never counted as
      // part of the pass
      tracer.op = -passes
      w.between()
    }
    System.err.println(s"[perfbench] timed passes done")
    val loadEnd = loadAvg()
    val timedSteal = stealShare(jiffies0, cpuJiffies())
    // retained state at the end of the timed region; the full GCs it
    // takes are paid only by traced runs, where heap is a metric
    val heapMb = if (trace) liveHeapMb() else Double.NaN
    w.finish()

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val stepMedians = stepTimes.values.map(ts => median(ts.toSeq))
        Seq(
          ("setup_s", setup.values.sum, "s"),
          ("pass_s", median(passTimes.toSeq), "s"),
          ("step_geomean_s", math.exp(stepMedians.map(math.log).sum / stepMedians.size), "s"),
          ("items_per_s", items / passTimes.sum, "1/s"))
      } else {
        Bus.drain(sc)
        WorkloadLayers.foreach { case (k, u) => layer.getOrElseUpdate(k, (0.0, u)) }
        layer("heap.live_mb") = (heapMb, "MB")
        traceMetrics() ++ layer.map { case (k, (v, u)) => (k, v, u) }
      }
    if (trace) tracer.writeJsonLines(java.nio.file.Paths.get(workDir, "spans.jsonl"))

    val gauge = Seq(
      "nproc" -> cores.toString,
      "loadavg_start" -> f"$loadStart%.2f",
      "loadavg_end" -> f"$loadEnd%.2f",
      "steal_share_timed" -> timedSteal,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "spark_version" -> json(spark.version),
      "spark_conf" -> confs.map { case (k, v) => s"${json(k)}:${json(v)}" }
        .mkString("{", ",", "}"),
      "passes" -> passes.toString,
      "pass_cpu_s" -> f"${median(passCpu.toSeq)}%.4f") ++
      (if (trace) Seq("heap_live_mb" -> f"$heapMb%.1f") else Nil) ++ Seq(
      "setup" -> setup.map { case (k, v) => f"${json(k)}:$v%.4f" }.mkString("{", ",", "}"),
      "input_gen" -> inputGen.map { case (k, v) => f"${json(k)}:$v%.4f" }.mkString("{", ",", "}"),
      "steps" -> stepTimes.map { case (k, v) =>
        f"""${json(k)}:{"median_s":${median(v.toSeq)}%.4f,"n":${v.size}}"""
      }.mkString("{", ",", "}"))
    val metricJson = metrics.map { case (k, v, u) =>
      s"""${json(k)}:{"value":${if (v.isNaN || v.isInfinite) "0" else v.toString},"unit":${json(u)}}"""
    }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"metrics":$metricJson,""" +
      s""""checks":${checks.map(json).mkString("[", ",", "]")},""" +
      s""""oracle":${oracleOut.map { case (k, (q, d)) =>
        s"""${json(k)}:{"query":${json(q)},"dir":${json(d)},""" +
          s""""sql":${Registry.byName(q).oracle.map(json).getOrElse("null")},""" +
          s""""executions":${executions(k)}}"""
      }.mkString("{", ",", "}")},""" +
      s""""gauge":${gauge.map { case (k, v) => s"${json(k)}:$v" }.mkString("{", ",", "}")}}"""
  }

  /** Heap in use after full collections. Spark's ContextCleaner frees
    * the blocks of collected RDDs, shuffles and broadcasts only after a
    * GC has found them, so collect until the figure stops moving. */
  private def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = used()
    var i = 0
    var stable = false
    while (!stable && i < 6) {
      Thread.sleep(250)
      val now = used()
      stable = math.abs(now - last) < 1.0
      last = now
      i += 1
    }
    last
  }

  /** Layer self times and Spark counters from the spans of the timed
    * passes (ops > 0) and, for the attached part, of the untimed work
    * after them (ops < 0): per-op sums, reported as the median over ops. */
  private def traceMetrics(): Seq[(String, Double, String)] = {
    val self = tracer.selfSeconds
    val byOp = tracer.spans.filter(_.op != 0).toVector.groupBy(_.op)
    val roots = byOp.values.flatten.filter(_.parent < 0).toVector.sortBy(_.id)
    val passRoots = roots.filter(_.op > 0)
    val attachedRoots = roots.filter(_.name == "artifacts.attached_pass")
    val jobs = listener.snapshot()
    val spanById = tracer.spans.map(s => s.id -> s).toMap
    // a job belongs to the span whose group it carries if that span was
    // open when the job started; anything else ran outside its span
    val jobSpan = jobs.map { j =>
      j -> Tracer.spanOf(j.group).flatMap(spanById.get).filter(_.contains(j.timeMs))
    }
    def jobsOf(op: Int) = jobSpan.collect { case (j, Some(s)) if s.op == op => j }
    val outside = jobSpan.collect { case (j, None) => j }
    def outsideIn(p: Span) = outside.count(j => p.contains(j.timeMs)).toDouble
    def sparkPer(rs: Seq[Span])(f: Seq[JobListener#Job] => Double): Double =
      median(rs.map(r => f(jobsOf(r.op))))
    val sparkPerPass = sparkPer(passRoots) _
    def layerSelf(n: String) =
      median(passRoots.map(p => byOp(p.op).filter(_.name == n).map(s => self(s.id)).sum))
    // per query: the derived steps from the passes, the attached ones
    // from the untimed part after each pass
    val queryMetrics = ((Relational ++ Graph ++ Corpus).map(_ -> false) ++
      Attached.map(q => (q + AttachedSuffix) -> true)).flatMap { case (q, after) =>
      val build = s"query.$q.build"
      val exec = s"query.$q.exec"
      def buildJobs(op: Int) = jobsOf(op).count(j =>
        Tracer.spanOf(j.group).flatMap(spanById.get).exists(_.name == build)).toDouble
      Seq(
        (s"$build" + "_s", spanSeconds(build, after), "s"),
        (s"$build" + "_jobs", median((if (after) attachedRoots else passRoots)
          .map(r => buildJobs(r.op))), "count"),
        (s"$exec" + "_s", spanSeconds(exec, after), "s"))
    }
    Seq(
      ("trace.pass_s", median(passRoots.map(_.seconds)), "s"),
      ("trace.root_self_s", median(passRoots.map(p => self(p.id))), "s"),
      ("trace.spans", median(passRoots.map(p => byOp(p.op).size.toDouble)), "count"),
      ("pipeline.run_cycle_self_s", layerSelf("pipeline.run_cycle"), "s"),
      ("pipeline.events_s", spanSeconds("pipeline.events"), "s"),
      ("sinks.graph_write_s", spanSeconds("sinks.graph_write"), "s"),
      ("operators.agents_s", spanSeconds("operators.agents"), "s"),
      ("sinks.state_write_s", spanSeconds("sinks.state_write"), "s"),
      ("sinks.state_read_s", spanSeconds("sinks.state_read"), "s"),
      ("cache.clear_s", spanSeconds("cache.clear"), "s"),
      ("artifacts.ensure_s", spanSeconds("artifacts.ensure", after = true), "s"),
      ("artifacts.attached_pass_s", spanSeconds("artifacts.attached_pass", after = true), "s"),
      ("artifacts.spark_jobs", sparkPer(attachedRoots)(_.size.toDouble), "count"),
      ("artifacts.spark_task_s", sparkPer(attachedRoots)(_.map(_.runMs).sum / 1e3), "s"),
      ("spark.jobs", sparkPerPass(_.size.toDouble), "count"),
      ("spark.tasks", sparkPerPass(_.map(_.tasks).sum.toDouble), "count"),
      ("spark.task_s", sparkPerPass(_.map(_.runMs).sum / 1e3), "s"),
      ("spark.gc_s", sparkPerPass(_.map(_.gcMs).sum / 1e3), "s"),
      ("spark.shuffle_mb", sparkPerPass(_.map(_.shuffleBytes).sum / 1048576.0), "MB"),
      ("spark.spill_mb", sparkPerPass(_.map(_.spillBytes).sum / 1048576.0), "MB"),
      ("spark.input_mb", sparkPerPass(_.map(_.inputBytes).sum / 1048576.0), "MB"),
      ("spark.core_util", median(passRoots.map(p =>
        jobsOf(p.op).map(_.runMs).sum / 1e3 / (p.seconds * cores))), "ratio"),
      ("spark.jobs_outside_span", median(passRoots.map(outsideIn)), "count")
    ) ++ queryMetrics
  }

  private trait Workload {
    def setUp(): Unit
    /** One timed pass over the workload's steps. */
    def pass(): Unit
    /** Untimed work between passes. */
    def between(): Unit = ()
    def finish(): Unit
  }

  // ---------------------------------------------------------------- queries

  private final class QueryWorkload(names: Seq[String], attachedNames: Seq[String])
      extends Workload {
    private val qs = names.map(Registry.byName)
    private val attachedQs = attachedNames.map(Registry.byName)
    private val artifactDir = s"$workDir/artifacts"
    private val resultDir = s"$workDir/results"
    private val rounds = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    private val derivations = mutable.ArrayBuffer[Double]()
    private val attachedDerivations = mutable.ArrayBuffer[Double]()
    private var currentRounds = 0
    /** Off in set-up: warm-up passes record no step times or counts. */
    private var timing = false

    private def derivationCount(): Long =
      graft.queries.Dedup.artifactDerivations.get() +
        graft.queries.Similarity.indexDerivations.get() +
        graft.queries.TextAnalysis.bpeTrainings.get()

    /** One query execution: plan build (eager driver barriers included)
      * then materialization through the noop sink, or into parquet for
      * the checked set-up pass. */
    private def step(stepName: String, q: GraftQuery, out: Option[String]): Unit = {
      attempted += 1
      executions(stepName) += 1
      currentRounds = 0
      val t0 = System.nanoTime()
      try {
        q.withConfs(spark) {
          val df = tracer.span(s"query.$stepName.build")(q.run(spark, dataDir))
          tracer.span(s"query.$stepName.exec") {
            out match {
              case None    => df.write.format("noop").mode("overwrite").save()
              case Some(p) => df.write.mode("overwrite").parquet(p)
            }
          }
        }
        val s = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[perfbench] $stepName: $s%.2fs")
        if (timing) {
          recordStep(stepName, s)
          items += 1
          if (trace && Graph.contains(stepName))
            rounds.getOrElseUpdate(stepName, mutable.ArrayBuffer()) += currentRounds
        }
      } catch {
        case e: Throwable =>
          failed += 1
          checks += s"$stepName threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      } finally Checkpoints.drainDeferred(spark)
    }

    private def out(step: String, check: Boolean): Option[String] =
      if (!check) None
      else {
        oracleOut(step) = (Registry.byName(step.stripSuffix(AttachedSuffix)).name,
          s"$resultDir/$step")
        Some(s"$resultDir/$step")
      }

    /** The derive pass: a fresh session state, every query derives. */
    private def runPass(check: Boolean): Unit = {
      tracer.span("cache.clear")(SweepCheck.clearSessionArtifacts(spark))
      val d0 = derivationCount()
      qs.foreach(q => step(q.name, q, out(q.name, check)))
      if (timing) derivations += (derivationCount() - d0).toDouble
    }

    /** The artifact-backed queries again, reading the persisted set. */
    private def attachedPass(check: Boolean): Unit =
      tracer.span("artifacts.attached_pass") {
        // the first call materializes the artifact set (set-up); later
        // ones find the manifest fresh and only attach
        val (_, ensureS) = timed(tracer.span("artifacts.ensure")(
          Artifacts.ensureFor(spark, dataDir, artifactDir)))
        if (check) setup("artifacts_s") = ensureS
        tracer.span("cache.clear")(SweepCheck.clearSessionArtifacts(spark))
        val a0 = derivationCount()
        attachedQs.foreach(q =>
          step(q.name + AttachedSuffix, q, out(q.name + AttachedSuffix, check)))
        val fell = derivationCount() - a0
        if (timing) attachedDerivations += fell.toDouble
        if (fell != 0) {
          failed += attachedQs.size
          checks += s"attached pass ran $fell derivations (expected 0)"
        }
        Artifacts.detach(spark)
      }

    // Materializing the artifact set costs 8-18 s on a 4-core box, more
    // than the run budget leaves, so only traced runs measure the
    // attached read path (between passes, outside the pass time).
    def setUp(): Unit = {
      if (trace) Checkpoints.planTap = Some(_ => currentRounds += 1)
      // the first warm-up pass writes every result to parquet for the
      // oracle; a pass right after it still runs 20-30% slower than the
      // ones after it, so WarmPasses more go untimed
      val (_, s) = timed {
        runPass(check = true)
        (1 to WarmPasses).foreach(_ => runPass(check = false))
      }
      setup("warmup_s") = s
      if (trace) attachedPass(check = true)
      timing = true
    }

    def pass(): Unit = runPass(check = false)

    override def between(): Unit = if (trace) attachedPass(check = false)

    def finish(): Unit = {
      Checkpoints.planTap = None
      if (trace) {
        for (q <- Graph) {
          val r = rounds.get(q).map(rs => median(rs.toSeq)).getOrElse(0.0)
          val build = spanSeconds(s"query.$q.build")
          layer(s"graph.$q.rounds") = (r, "count")
          layer(s"graph.$q.s_per_round") = (if (r > 0) build / r else 0.0, "s")
        }
        layer("cache.derivations") = (median(derivations.toSeq), "count")
        layer("cache.attached_derivations") = (median(attachedDerivations.toSeq), "count")
      }
    }
  }

  /** Median over the timed passes, or with `after` over the untimed work
    * after them, of the time spent in spans `name`. */
  private def spanSeconds(name: String, after: Boolean = false): Double = {
    val perOp = tracer.spans.filter(s => if (after) s.op < 0 else s.op > 0).groupBy(_.op)
      .values.map(_.filter(_.name == name).map(_.seconds).sum)
    median(perOp.toSeq)
  }

  // ------------------------------------------------------------------ cycle

  private final class CycleWorkload extends Workload {
    import spark.implicits._
    private val fixtures = new CycleFixtures(seed)
    private val pageReads = sc.longAccumulator("perfbench.page_reads")
    private val graphRows = sc.longAccumulator("perfbench.graph_rows")
    private val writer: GraphWriter =
      if (trace) new CountingGraphWriter(tracer, graphRows, new InMemoryGraphWriter)
      else new InMemoryGraphWriter
    private val contacts = fixtures.contacts.toDF("first_name", "last_name", "phone")
    private var prev: Dataset[Listing] = spark.emptyDataset[Listing]
    private var cycleNo = 0
    private val readsPerPage = mutable.ArrayBuffer[Double]()
    private val events = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    private val rowsPerCycle = mutable.ArrayBuffer[Double]()
    private val scanS = mutable.ArrayBuffer[Double]()
    private val cdcS = mutable.ArrayBuffer[Double]()
    private var pending: CycleInput = _

    /** Page frames; traced runs count every html value read. */
    private def frame(rows: Seq[(String, String)], key: String): DataFrame = {
      val df = rows.toDF(key, "html")
      if (!trace) df
      else {
        val acc = pageReads
        val read = udf { (h: String) => acc.add(1); h }.asNondeterministic()
        df.select(col(key), read(col("html")).as("html"))
      }
    }

    private def sources(in: CycleInput) = (
      new FixtureSource(frame(in.urePages, "zip"), Some(frame(in.ureDetails, "url"))),
      new TruliaFixtureSource(frame(in.truliaIndex, "zip"), frame(in.truliaDetails, "url")))

    /** One cycle: runCycle into the graph writer, the events it emits,
      * the agent pipeline and its two CSVs, then the state round trip
      * that becomes the next cycle's previous state. */
    private def cycle(in: CycleInput, timedOp: Boolean): Unit = {
      cycleNo += 1
      val (ure, trulia) = sources(in)
      val now = 1700000000L + cycleNo * 86400L
      val statePath = s"$workDir/state/${cycleNo % 2}"
      attempted += 1
      pageReads.reset(); graphRows.reset()
      try {
        val (counts, tCycle) = timed(tracer.span("pipeline.run_cycle") {
          val r = ScrapePipeline.runCycle(spark, ure, trulia, fixtures.zipCodes, prev, now,
            writer = Some(writer))
          val c = tracer.span("pipeline.events")(
            r.events.groupBy("status").count().as[(String, Long)].collect().toMap)
          (r, c)
        })
        val (_, tAgents) = timed(tracer.span("operators.agents") {
          val (unique, tagged) = AgentPipeline.run(counts._1.newState, contacts)
          CsvSinks.writeAgents(unique, s"$workDir/agents/unique")
          CsvSinks.writeAgents(tagged, s"$workDir/agents/tagged")
        })
        val (_, tWrite) = timed(tracer.span("sinks.state_write")(
          CsvSinks.writeState(counts._1.newState, statePath)))
        val (next, tRead) = timed(tracer.span("sinks.state_read")(
          CsvSinks.readState(spark, statePath)))
        System.err.println(f"[perfbench] cycle $cycleNo: runCycle $tCycle%.2fs agents $tAgents%.2fs " +
          f"state write $tWrite%.2fs read $tRead%.2fs")
        val got = counts._2.withDefaultValue(0L)
        val ok = in.planted.forall { case (k, v) => got(k) == v } &&
          got.keySet.subsetOf(in.planted.keySet)
        if (!ok) {
          failed += 1
          checks += s"cycle $cycleNo events ${got.toSeq.sorted} != planted ${in.planted.toSeq.sorted}"
        }
        prev = next
        if (timedOp) {
          recordStep("run_cycle", tCycle)
          recordStep("agents", tAgents)
          recordStep("state", tWrite + tRead)
          items += in.listings
          if (trace) {
            readsPerPage += pageReads.value.toDouble / in.pages
            rowsPerCycle += graphRows.value.toDouble
            for ((k, v) <- got) events.getOrElseUpdate(k, mutable.ArrayBuffer()) += v.toDouble
          }
        }
      } catch {
        case e: Throwable =>
          failed += 1
          checks += s"cycle $cycleNo threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
    }

    def setUp(): Unit = {
      // the warm-up cycle lists everything from an empty state
      val (first, g0) = timed(fixtures.next())
      val (_, s) = timed(cycle(first, timedOp = false))
      setup("warmup_s") = s
      val (second, g1) = timed(fixtures.next())
      pending = second
      inputGen("fixtures_s") = g0 + g1
    }

    def pass(): Unit = cycle(pending, timedOp = true)

    override def between(): Unit = {
      val in = pending
      pending = fixtures.next() // the next cycle's pages, generated untimed
      if (trace) {
        // standalone layer probes: one scan of both sources, and the
        // CDC join alone on cached inputs
        val (ure, trulia) = sources(in)
        scanS += timed(ure.scan(spark, fixtures.zipCodes)
          .union(trulia.scan(spark, fixtures.zipCodes))
          .write.format("noop").mode("overwrite").save())._2
        val cur = prev.cache(); cur.count()
        val before = readPreviousState().cache(); before.count()
        cdcS += timed(Cdc.batchEvents(before, cur, 1700000000L)
          .write.format("noop").mode("overwrite").save())._2
        cur.unpersist(); before.unpersist()
      }
    }

    /** The state one cycle before `prev` (the other state slot). */
    private def readPreviousState(): Dataset[Listing] =
      CsvSinks.readState(spark, s"$workDir/state/${(cycleNo + 1) % 2}")

    def finish(): Unit = if (trace) {
      layer("sources.scan_s") = (median(scanS.toSeq), "s")
      layer("sources.page_reads_per_page") = (median(readsPerPage.toSeq), "ratio")
      layer("operators.cdc_s") = (median(cdcS.toSeq), "s")
      for (k <- Seq("new_listing", "price_change", "off_market"))
        layer(s"operators.events.$k") = (median(events.get(k).fold(Seq(0.0))(_.toSeq)), "count")
      layer("sinks.graph_rows") = (median(rowsPerCycle.toSeq), "count")
    }
  }
}
