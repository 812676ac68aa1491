package graft

import graft.model.Listing
import graft.operators.{ScrapePipeline, Skew}
import graft.sinks.InMemoryGraphWriter
import graft.sources.FixtureSource
import org.apache.spark.sql.functions._

/** EP1 end-to-end (fixture pages → parse → union → dedup → CDC →
  * graph) and the skew utilities. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def urePage(mls: String, price: String): String =
    s"""<table class="public-detail-quickview">
       |<span class="mls">$mls</span><span class="price">$price</span>
       |<span class="agent-name">Jane Doe</span>
       |<span class="agent-phone">(801) 555-0001</span>
       |<span class="broker-name">Acme</span>
       |</table>""".stripMargin

  test("EP1 cycle: parse → dedup → CDC → graph, two cycles end-to-end") {
    val now = 1700000000L
    val c1 = Seq(
      ("84601", urePage("A", "$100,000") + urePage("B", "$200,000")),
      ("84058", urePage("B", "$200,000"))) // dup mls across zips → dedup
      .toDF("zip", "html")
    val c2 = Seq(
      ("84601", urePage("A", "$90,000"))) // price drop; B disappears
      .toDF("zip", "html")
    val empty = new FixtureSource(Seq.empty[(String, String)].toDF("zip", "html"))

    InMemoryGraphWriter.clear()
    val writer = new InMemoryGraphWriter

    val r1 = ScrapePipeline.runCycle(spark, new FixtureSource(c1), empty,
      Seq("84601", "84058"), spark.emptyDataset[Listing], now, Some(writer))
    assert(r1.events.collect().map(e => (e.mls, e.status)).sorted.toSeq ==
      Seq(("A", "new_listing"), ("B", "new_listing")))
    assert(r1.newState.count() == 2) // deduped
    assert(InMemoryGraphWriter.keysWithPrefix("Listing|").size == 2)
    assert(InMemoryGraphWriter.keysWithPrefix("Agent|").size == 1)

    val r2 = ScrapePipeline.runCycle(spark, new FixtureSource(c2), empty,
      Seq("84601"), r1.newState, now, Some(writer))
    val ev2 = r2.events.collect().map(e => (e.mls, e.status)).sorted.toSeq
    assert(ev2 == Seq(("A", "price_change"), ("B", "off_market")))
    assert(r2.newState.collect().map(_.mls).toSeq == Seq("A"))
  }

  test("EP2 branch: Trulia index→detail source unions into the same CDC") {
    import graft.sources.TruliaFixtureSource
    val index = Seq(("84601",
      """<a data-testid="property-card-link" href="/p/1">x</a>
         <a data-testid="property-card-link" href="/p/2">y</a>"""))
      .toDF("zip", "html")
    val details = Seq(
      ("https://www.trulia.com/p/1",
        """<span class="mls">T1</span><span class="price">$350,000</span>
           <span class="features">3 Beds • 2 Baths • 1500 sqft</span>"""),
      ("https://www.trulia.com/p/2", "<html>broken — no mls</html>"))
      .toDF("url", "html")
    val trulia = new TruliaFixtureSource(index, details)
    val ureEmpty = new FixtureSource(Seq.empty[(String, String)].toDF("zip", "html"))

    val r = ScrapePipeline.runCycle(spark, ureEmpty, trulia, Seq("84601"),
      spark.emptyDataset[Listing], 1700000000L)
    val evs = r.events.collect()
    assert(evs.map(e => (e.mls, e.status, e.source)).toSeq ==
      Seq(("T1", "new_listing", "TRULIA"))) // broken detail row dropped
    assert(r.newState.head().beds.contains(3L))
  }

  test("EP1 cycle: every page parsed once per cycle, state threaded over three cycles") {
    import graft.sinks.CsvSinks
    import graft.sources.TruliaFixtureSource
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.LogicalRDD

    val sc = spark.sparkContext
    val reads = sc.longAccumulator("pipeline.page_reads")
    val read = udf { (h: String) => reads.add(1); h }.asNondeterministic()
    def frame(key: String, rows: (String, String)*) =
      rows.toDF(key, "html").select(col(key), read(col("html")).as("html"))
    def trulia(details: (String, String)*) = new TruliaFixtureSource(
      frame("zip", "84601" ->
        """<a data-testid="property-card-link" href="/p/1">x</a>"""),
      frame("url", details: _*))
    val t1 = "https://www.trulia.com/p/1" ->
      """<span class="mls">T1</span><span class="price">$350,000</span>"""
    def checkpointIds(ds: Dataset[_]) =
      ds.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }

    val zips = Seq("84601", "84058", "84070")
    val dir = java.nio.file.Files.createTempDirectory("pipeline-state")
    InMemoryGraphWriter.clear()
    val writer = new InMemoryGraphWriter
    def now(n: Int) = 1700000000L + n * 86400L
    def offMarketDays(n: Int) = Some((now(n) / 86400).toInt)
    try {
      // one cycle and all of its consumers: (events, state size, state)
      def cycle(n: Int, prev: Dataset[Listing], ure: FixtureSource,
          tr: TruliaFixtureSource, pages: Int) = {
        reads.reset()
        val firstRdd = sc.emptyRDD[Int].id
        val r = ScrapePipeline.runCycle(spark, ure, tr, zips, prev,
          now(n), Some(writer))
        val persisted = sc.getPersistentRDDs.keySet.filter(_ > firstRdd)
        val events = r.events.collect()
          .map(e => (e.mls, e.status, e.price, e.oldPrice, e.timeOnMarketDays, e.source))
          .sorted.toSeq
        val count = r.newState.count()
        CsvSinks.writeState(r.newState, dir.resolve(s"c$n").toString)
        assert(reads.value == pages, s"cycle $n page reads")
        // the graph sink's evented cache() is released; only the two
        // cycle checkpoints stay persisted
        val checkpoints = checkpointIds(r.events) ++ checkpointIds(r.newState)
        assert(checkpoints.size == 2)
        assert(persisted == checkpoints.toSet)
        (events, count, r.newState)
      }

      // 3 URE pages (B listed twice) + 1 Trulia index + 1 Trulia detail
      val (ev1, n1, s1) = cycle(1, spark.emptyDataset[Listing],
        new FixtureSource(frame("zip",
          "84601" -> (urePage("A", "$100,000") + urePage("B", "$200,000")),
          "84058" -> urePage("C", "$300,000"),
          "84070" -> urePage("B", "$200,000"))),
        trulia(t1), pages = 5)
      assert(ev1 == Seq(
        ("A", "new_listing", 100000L, None, None, "URE"),
        ("B", "new_listing", 200000L, None, None, "URE"),
        ("C", "new_listing", 300000L, None, None, "URE"),
        ("T1", "new_listing", 350000L, None, None, "TRULIA")))
      assert(n1 == 4)
      assert(InMemoryGraphWriter.keysWithPrefix("Listing|").size == 4)

      // A re-priced, C delisted, D new; B and T1 unchanged
      val (ev2, n2, s2) = cycle(2, s1,
        new FixtureSource(frame("zip",
          "84601" -> (urePage("A", "$90,000") + urePage("B", "$200,000")),
          "84070" -> urePage("D", "$400,000"))),
        trulia(t1), pages = 4)
      assert(ev2 == Seq(
        ("A", "price_change", 90000L, Some(100000L), None, "URE"),
        ("C", "off_market", 300000L, None, offMarketDays(2), "URE"),
        ("D", "new_listing", 400000L, None, None, "URE")))
      assert(n2 == 4)

      // B re-priced, C back, D delisted, T1's detail page no longer
      // parses (delisted); A unchanged
      val (ev3, n3, _) = cycle(3, s2,
        new FixtureSource(frame("zip",
          "84601" -> (urePage("A", "$90,000") + urePage("B", "$250,000")),
          "84058" -> urePage("C", "$310,000"))),
        trulia(t1._1 -> "<html>listing removed</html>"), pages = 4)
      assert(ev3 == Seq(
        ("B", "price_change", 250000L, Some(200000L), None, "URE"),
        ("C", "new_listing", 310000L, None, None, "URE"),
        ("D", "off_market", 400000L, None, offMarketDays(3), "URE"),
        ("T1", "off_market", 350000L, None, offMarketDays(3), "TRULIA")))
      assert(n3 == 3)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("salted aggregation matches plain aggregation") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val plain = docs.groupBy($"lang")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = Skew.saltedAgg(docs, Seq($"lang"), 16,
        Seq(count(lit(1)).as("n"), sum($"n_chars").as("chars")),
        Seq(sum($"n").as("n"), sum($"chars").as("chars")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)
  }
}
