package graft

import graft.operators.BpeTrainer

/** BPE training: the classic hand-computable corpus learns the
  * expected merges in the expected order, vocabulary mass is
  * conserved, and training is deterministic. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // the Sennrich walk-through shape: "low" x5, "lower" x2,
  // "newest" x6, "widest" x3
  private def corpus = Seq(
    (0L, (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")))
    .toDF("doc_id", "text")

  test("learns the classic merge sequence") {
    val ms = BpeTrainer.train(spark, corpus, 4)
    assert(ms.length == 4)
    // round 0: (e, s) appears in newest(6) + widest(3) = 9 — the max
    assert((ms(0).left, ms(0).right, ms(0).count) == ("e", "s", 9L))
    // round 1: (es, t</w>) = 9 dominates
    assert((ms(1).left, ms(1).right, ms(1).count) == ("es", "t</w>", 9L))
    // round 2: (l, o) in low(5) + lower(2) = 7
    assert((ms(2).left, ms(2).right, ms(2).count) == ("l", "o", 7L))
    // ranks are the learned order
    assert(ms.map(_.rank) == Seq(0, 1, 2, 3))
  }

  test("vocab after merges contains merged symbols and conserves mass") {
    val v = BpeTrainer.vocab(spark, corpus, 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v.contains("est</w>"), s"merged symbol missing from $v")
    assert(v("est</w>") == 9L)
    // total symbol mass = sum over words of count * symbols(word) —
    // every character of every word instance is in exactly one symbol
    val charMass = 5 * 4 + 2 * 6 + 6 * 7 + 3 * 7 // chars + </w> counted once
    val symMass = v.map { case (s, n) =>
      n * (s.replace("</w>", "\u00a4").length)
    }.sum
    assert(symMass == charMass, s"symbol mass $symMass != char mass $charMass")
  }

  /** Spark jobs `body` starts on this thread: jobs carry the job
    * group set here, and a marker job after `body` bounds the count
    * (listener events arrive in posting order). */
  private def jobsOf[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"bpe-jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        if (p.exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (p.exists(_.getProperty("spark.job.description") == "marker"))
            done.countDown()
          else jobs.incrementAndGet()
        }
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      val out = body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job")
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(l)
    }
  }

  test("training releases its symbol state") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    BpeTrainer.train(spark, corpus, 4)
    val left = persisted -- before
    assert(left.isEmpty, s"train left ${left.size} RDDs persisted")
  }

  test("training stops once no pair is left") {
    // the corpus's 4 word types admit 13 merges in all (every word
    // ends as one symbol); a budget far above that learns exactly
    // those and runs no more jobs than a budget of one past them
    val (all, jobsFar) = jobsOf(BpeTrainer.train(spark, corpus, 60))
    assert(all.length == 13)
    assert(all.map(_.rank) == (0 until 13))
    assert(all.take(4) == BpeTrainer.train(spark, corpus, 4))
    val (exact, jobsNext) = jobsOf(BpeTrainer.train(spark, corpus, 14))
    assert(exact == all)
    info(s"jobs: k=60 $jobsFar, k=14 $jobsNext")
    assert(jobsFar == jobsNext,
      s"k=60 ran $jobsFar jobs vs $jobsNext at k=14: no-op rounds ran")
  }

  test("training is deterministic across runs") {
    val a = BpeTrainer.train(spark, corpus, 4)
    val b = BpeTrainer.train(spark, corpus, 4)
    assert(a == b)
    // and on real data: sf0.001 documents, 5 merges, twice
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select($"doc_id", $"text")
    val x = BpeTrainer.train(spark, docs, 5)
    val y = BpeTrainer.train(spark, docs, 5)
    assert(x == y)
    assert(x.length == 5)
    // counts are non-increasing in rank ONLY within what a greedy
    // merge guarantees: each round's winner is the max of ITS round
    assert(x.forall(_.count > 0))
  }
}
