package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable

/** One traced interval: a call into a public entry point of one layer.
  * `op` is the pass the span belongs to: n for timed pass n, -n for the
  * untimed work after it, 0 for set-up. */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Int, val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def seconds: Double = (endNs - startNs) / 1e9
  def contains(ms: Long): Boolean = ms >= startMs && ms <= endMs
}

/** In-memory span recorder. Each span also becomes the Spark job group
  * of the thread that opened it, so the [[JobListener]] can attribute
  * every job to the innermost span that submitted it. Disabled, `span`
  * only runs its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  var op = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id), op,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      sc.setJobGroup(Tracer.group(s.id), name)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Span duration minus the part its children cover (children of one
    * span never overlap: the client is a single thread). */
  def selfSeconds: Map[Int, Double] = {
    val childSum = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.seconds)(_ + _)
    spans.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  def group(id: Int): String = GroupPrefix + id
  def spanOf(group: Option[String]): Option[Int] =
    group.filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt)
}

/** Per-job Spark execution counters, keyed by the job group that was
  * set on the submitting thread. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val group: Option[String], val timeMs: Long) {
    var tasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
  }
  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = new Job(e.jobId, group, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  def snapshot(): Seq[Job] = synchronized(jobs.values.toVector)
}
