package graft

import graft.streaming.{MicroBatch, StreamingFuzzy}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming fuzzy-name ingest: arriving catalog names probe the
  * persisted gram index per micro-batch, same contract family as
  * StreamingDedup/StreamingAnn/StreamingPhash triage. */
class StreamingFuzzySpec extends SparkSpec {
  import spark.implicits._

  private val catalog = Seq(
    "red bolt", "blue bolt", "small gizmo", "golden widget",
    "rod", "axe").toDF("name")

  private def naiveLev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("triage verdicts match the naive reference across all statuses") {
    val idx = StreamingFuzzy.buildIndex(catalog, tau = 1)
    val arrivals = Seq(
      "red bolt",      // exact
      "red bolts",     // fuzzy_dup of red bolt (one insert)
      "bluebolt",      // fuzzy_dup of blue bolt (one delete)
      "rot",           // short-name sidecar: fuzzy_dup of rod
      "ax",            // short arrival below gram range: fuzzy of axe
      "teleporter")    // novel
    val got = StreamingFuzzy.triageBatch(arrivals.toDF("name"), idx)
      .collect().map(r => r.getString(0) ->
        (r.getString(1), Option(r.getString(2)), Option(r.get(3)))).toMap
    val cat = catalog.as[String].collect()
    arrivals.foreach { a =>
      val (status, canonical, lev) = got(a)
      if (cat.contains(a)) assert(status == "exact" && canonical.isEmpty,
        s"$a")
      else {
        val mates = cat.map(c => (naiveLev(a, c), c)).filter(_._1 <= 1)
        if (mates.isEmpty) assert(status == "novel" && canonical.isEmpty,
          s"$a -> $status")
        else {
          val expect = mates.min
          assert(status == "fuzzy_dup" && canonical == Some(expect._2) &&
            lev == Some(expect._1.toLong), s"$a -> $status/$canonical/$lev")
        }
      }
    }
  }

  test("streaming verdicts == batch core on the same micro-batches") {
    val idx = StreamingFuzzy.buildIndex(catalog, tau = 1)
    val b1 = Seq("red bolts", "teleporter")
    val b2 = Seq("rot", "blue bolt")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Row])]
    val ckpt = java.nio.file.Files.createTempDirectory("sfuzzy").toString
    val q = MicroBatch.start(input.toDF().toDF("name"), ckpt)(
        StreamingFuzzy.triageBatch(_, idx)) { (v, id) =>
      seen.synchronized { seen += id -> v.collect().toSeq }
    }
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()

    def asSet(rows: Seq[Row]) = rows.map(_.toSeq).toSet
    val nonEmpty = seen.synchronized(seen.toMap).filter(_._2.nonEmpty)
    assert(nonEmpty.size == 2)
    val Seq(s1, s2) = nonEmpty.toSeq.sortBy(_._1).map(_._2)
    assert(asSet(s1) == asSet(StreamingFuzzy.triageBatch(
      b1.toDF("name"), idx).collect().toSeq))
    assert(asSet(s2) == asSet(StreamingFuzzy.triageBatch(
      b2.toDF("name"), idx).collect().toSeq))
  }
}
