package graft

import graft.queries.Similarity
import org.apache.spark.sql.functions._

/** Invariants for the composed IVF-PQ search (sim_ivfpq_topk):
  * the coarse quantizer only ever PRUNES (results must come from the
  * probe's own trained cell) and the PQ scan only ever SCORES (a
  * surviving pair's ADC score must be bit-identical to the unpruned
  * sim_pq_adc_topk scan's score for that pair) — so the composition
  * can drift from neither parent without a spec failure naming the
  * leg that broke. */
class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  private val d = sf("sf0.001")

  test("every IVF-PQ result lives in its probe's coarse cell, 5-per-probe, contiguous ranks") {
    val out = Registry.byName("sim_ivfpq_topk").run(spark, d).cache()
    val coarse = Similarity.kmeansAssign(spark, d).cache()
    val probeCell = coarse.select($"vec_id".as("p_id"), $"cell".as("pcell"))
    val resCell = coarse.select($"vec_id", $"cell".as("vcell"))
    val escaped = out.join(probeCell, "p_id").join(resCell, "vec_id")
      .filter($"pcell" =!= $"vcell").count()
    assert(escaped === 0, "coarse pruning must be a pure filter")
    val badShape = out.groupBy($"p_id")
      .agg(count(lit(1)).as("n"), max($"rk").as("maxrk"),
        countDistinct($"rk").as("nrk"))
      .filter($"n" > 5 || $"maxrk" =!= $"n" || $"nrk" =!= $"n").count()
    assert(badShape === 0, "per-probe top-5 with contiguous 1..n ranks")
  }

  test("surviving pairs carry the exact unpruned ADC score") {
    val ivfpq = Registry.byName("sim_ivfpq_topk").run(spark, d)
      .select($"p_id", $"vec_id", $"adc_score".as("pruned_score"))
    val adc = Registry.byName("sim_pq_adc_topk").run(spark, d)
      .select($"p_id", $"vec_id", $"adc_score".as("full_score"))
    val joined = ivfpq.join(adc, Seq("p_id", "vec_id")).cache()
    assert(joined.count() > 0,
      "fixture must produce overlap between pruned and unpruned top-5s")
    val drift = joined.filter($"pruned_score" =!= $"full_score").count()
    assert(drift === 0, "ADC scores are cell-independent by construction")
  }

  test("trainIvfPq's jobs carry the caller's job group, call after call") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    // job groups in job-start order; listener events arrive in posting
    // order, so a marker job's group delimits the jobs before it
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    def marker(name: String): Unit = {
      sc.setJobGroup(name, name)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(name) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains(name), s"listener never saw marker $name")
    }
    val e = Similarity.quantCorpus(Tables.embeddings(spark, d))
    val ejs = Similarity.pqSubvectorsOf(e)
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("ivfpq_a", "first training")
      val a = Similarity.trainIvfPq(e, ejs)
      marker("marker_1")
      sc.setJobGroup("ivfpq_b", "second training")
      val b = Similarity.trainIvfPq(e, ejs)
      marker("marker_2")
      val seen = groups.asScala.toSeq
      val during = seen.slice(seen.indexOf("marker_1") + 1,
        seen.indexOf("marker_2"))
      assert(during.nonEmpty, s"no jobs recorded for the second call: $seen")
      assert(during.forall(_ == "ivfpq_b"),
        s"every job of the second call must carry its group: $during")
      assert(a == b, "the two trainings must give identical models")
    } finally {
      sc.removeSparkListener(l)
      sc.clearJobGroup()
      tools.Checkpoints.drainDeferred(spark)
    }
  }
}
