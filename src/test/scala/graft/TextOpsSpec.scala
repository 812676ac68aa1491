package graft

import org.apache.spark.sql.functions._

/** Edge-case gates for the round-3 text operators: the repetition
  * scan, the per-source term ranking, and the PII scrub. Bulk
  * correctness is oracle-gated (CORRECTNESS r3); these pin the
  * boundary behaviors an aggregate hash-compare can miss. */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def repetitionOn(texts: Seq[(Long, String)]) = {
    val df = texts.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("textops").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.TextAnalysis.qRepetition.run(spark, dir)
      .orderBy($"doc_id").collect()
  }

  test("repetition metrics: runs, single token, all-identical") {
    val rows = repetitionOn(Seq(
      (0L, "a b a b a"),      // top token 'a'×3, bigrams all repeat after 2 distinct
      (1L, "solo"),           // 1 token: no bigrams, ratio 1
      (2L, "x x x x")))       // degenerate full repetition
    // doc 0: 5 tokens, top count 3 (a), 4 bigrams {ab,ba,ab,ba} → 2 distinct
    assert(rows(0).getInt(1) == 5 && rows(0).getInt(2) == 3)
    assert(math.abs(rows(0).getDouble(4) - 0.5) < 1e-9)
    // doc 1: single token → top ratio 1.0, dup fraction 0.0
    assert(rows(1).getInt(1) == 1 && rows(1).getInt(2) == 1 &&
      rows(1).getDouble(4) == 0.0)
    // doc 2: 4 identical tokens → count 4, 3 bigrams 1 distinct → 2/3
    assert(rows(2).getInt(2) == 4)
    assert(math.abs(rows(2).getDouble(4) - 0.666667) < 1e-6)
  }

  test("term top-k ranks tf desc, df asc, term asc and caps at k") {
    val tk = new functions.TermTopK(2)
    val in = Seq(
      functions.TermScore("zeta", 5, 1),
      functions.TermScore("alpha", 5, 1),  // tie with zeta → alpha first
      functions.TermScore("mid", 5, 3),    // same tf, commoner → ranks after
      functions.TermScore("rare", 9, 1))
    val out = in.foldLeft(tk.zero)(tk.reduce)
    assert(out.map(_.term) == Seq("rare", "alpha"))
    // merge path respects the same ordering and cap
    val merged = tk.merge(out, Seq(functions.TermScore("aaa", 9, 1)))
    assert(merged.map(_.term) == Seq("aaa", "rare"))
  }

  test("top terms per source: parallelism is not bounded by source count") {
    val plan = queries.TextAnalysis.qTopTerms.run(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    // ranking must be the ObjectHashAggregate/SortAggregate udaf path,
    // never a window sort partitioned by the handful of sources
    assert(!plan.contains("Window"), plan)
  }

  test("contamination screen broadcasts the benchmark shingle set") {
    val df = queries.Dedup.qContamination.run(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // every corpus doc reports, contamination within [0,1]
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val c = r.getAs[Double]("contamination"); c >= 0.0 && c <= 1.0
    })
  }

  test("funnel stages are monotone: view ⊇ click-after ⊇ purchase-after") {
    val stages = queries.EventWindows.qFunnel.run(spark, sf("sf0.001"))
      .groupBy("funnel_stage").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def atLeast(k: Int) = stages.filter(_._1 >= k).values.sum
    assert(atLeast(1) >= atLeast(2) && atLeast(2) >= atLeast(3))
    assert(atLeast(3) > 0) // sf0.001 has purchases after clicks
  }

  test("mix sample keeps within-rate counts per language") {
    val rows = queries.TextAnalysis.qMixSample.run(spark, sf("sf0.001"))
      .collect()
    rows.foreach { r =>
      val (n, kept) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"))
      assert(kept <= n)
      // non-default langs are downsampled BELOW cap only statistically;
      // the hard invariant is determinism: re-running yields identical counts
    }
    val again = queries.TextAnalysis.qMixSample.run(spark, sf("sf0.001"))
      .collect()
    assert(rows.sortBy(_.getAs[String]("lang")).toSeq ==
      again.sortBy(_.getAs[String]("lang")).toSeq)
  }

  private def docsDir(texts: Seq[(Long, String)]): String = {
    val df = texts.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("textops").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("chunk dedup keeps first occurrence only and conserves tokens") {
    // doc 0: two chunks (25 tokens); doc 1 repeats doc 0's first chunk
    // exactly, then diverges; doc 2 is doc 1 verbatim (all dup).
    val chunk1 = (1 to 10).map(i => s"w$i").mkString(" ")
    val rest0 = (11 to 25).map(i => s"w$i").mkString(" ")
    val rest1 = (1 to 10).map(i => s"x$i").mkString(" ")
    val dir = docsDir(Seq(
      (0L, s"$chunk1 $rest0"),
      (1L, s"$chunk1 $rest1"),
      (2L, s"$chunk1 $rest1")))
    val rows = queries.Dedup.qChunkDedup.run(spark, dir)
      .orderBy($"doc_id").collect()
    // doc 0 keeps everything (first occurrence of all its chunks)
    assert(rows(0).getAs[Long]("n_chunks") == 3 &&
      rows(0).getAs[Long]("n_kept_chunks") == 3 &&
      rows(0).getAs[Long]("n_tokens") == 25 &&
      rows(0).getAs[Double]("frac_tokens_removed") == 0.0)
    // doc 1 loses its first chunk (seen in doc 0), keeps its second
    assert(rows(1).getAs[Long]("n_chunks") == 2 &&
      rows(1).getAs[Long]("n_kept_chunks") == 1 &&
      rows(1).getAs[Long]("n_tokens_kept") == 10)
    // doc 2 is fully removed
    assert(rows(2).getAs[Long]("n_kept_chunks") == 0 &&
      rows(2).getAs[Double]("frac_tokens_removed") == 1.0)
    // winner selection is an aggregate+join, never a corpus window
    val plan = queries.Dedup.qChunkDedup.run(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("bloom contamination equals the exact join and only flags hits") {
    // bench doc 0 (<50); corpus doc 60 shares its full text (every
    // shingle hits), doc 61 shares nothing.
    val bench = "alpha beta gamma delta epsilon zeta"
    val dir = docsDir(Seq(
      (0L, bench),
      (60L, bench),
      (61L, "one two three four five six seven")))
    val rows = queries.Dedup.qBloomContamination.run(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 6 tokens → 4 distinct 3-shingles, all contaminated
    assert(rows == Map(60L -> 4L))
  }

  test("verified pairs: exact jaccard on LSH candidates, dup flagged at θ") {
    // identical docs MUST collide in every band → candidate + jaccard 1;
    // the third doc shares no shingle with them
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (1 to 30).map(i => s"zzz$i").mkString(" ")
    val dir = docsDir(Seq((0L, text), (1L, text), (2L, other)))
    val rows = queries.Dedup.qVerifiedPairs.run(spark, dir).collect()
    val dup = rows.find(r => r.getLong(0) == 0L && r.getLong(1) == 1L)
    assert(dup.isDefined)
    assert(dup.get.getAs[Double]("jaccard") == 1.0 &&
      dup.get.getAs[Boolean]("is_dup"))
    // every verified pair is an LSH candidate (verify never widens)
    val cand = queries.Dedup.qLshPairs.run(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).forall(cand.contains))
  }

  test("incremental dedup triages batch docs: exact, near, novel") {
    val a = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val b = (1 to 40).map(i => s"beta$i").mkString(" ")
    // bNear: one token changed → fingerprint differs, signature mostly agrees
    val bNear = b.replace("beta20", "CHANGED")
    val dir = docsDir(Seq(
      (0L, a), (1L, b),                  // existing corpus
      (400L, a),                         // exact copy of 0
      (401L, bNear),                     // near copy of 1
      (402L, (1 to 40).map(i => s"gamma$i").mkString(" "))))  // novel
    val rows = queries.Dedup.qIncremental.run(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(rows(400L) == ("exact_dup", 0L))
    assert(rows(401L) == ("near_dup", 1L))
    assert(rows(402L) == ("novel", -1L))
    // batch docs never match each other — only the corpus
    assert(rows.keySet == Set(400L, 401L, 402L))
  }

  test("retention cohorts: offset 0 is full retention, later ≤ cohort") {
    val rows = queries.EventWindows.qRetentionCohorts
      .run(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getAs[java.sql.Timestamp]("cohort_week"))
    byCohort.values.foreach { rs =>
      val base = rs.find(_.getAs[Int]("week_offset") == 0).get
      assert(base.getAs[Double]("retention") == 1.0)
      rs.foreach { r =>
        assert(r.getAs[Long]("n_users") <= base.getAs[Long]("n_users"))
        val ret = r.getAs[Double]("retention")
        assert(ret > 0.0 && ret <= 1.0)
      }
    }
  }

  test("pii scrub masks digit runs and keeps an audit count") {
    val r = queries.Cleaning.qPiiScrub.run(spark, sf("sf0.001"))
      .filter($"c_custkey" === 1).collect().head
    assert(r.getAs[String]("masked_name").contains("<NUM>"))
    assert(!r.getAs[String]("masked_name").exists(_.isDigit))
    assert(r.getAs[Int]("n_digit_runs") >= 1)
    assert(r.getAs[Int]("n_digits_redacted") >= 3)
  }

  test("simhash near-dup: exact duplicates collide at hamming 0") {
    // sf0.1: the smallest fixture that plants exact duplicates
    import spark.implicits._
    val rows = queries.Dedup.qSimhashNearDup
      .run(spark, sf("sf0.1")).cache()
    // verdict consistency: is_dup ⇔ hamming ≤ 3, hamming ∈ [0, 60]
    assert(rows.filter($"is_dup" =!= ($"hamming" <= 3)).count() == 0)
    assert(rows.filter($"hamming" < 0 || $"hamming" > 60).count() == 0)
    // ground truth: every exact-duplicate pair (identical normalized
    // text ⇒ identical sketch ⇒ all four bands collide) must surface
    // with hamming 0
    val norm = md5(array_join(split(trim($"text"), "\\s+"), " "))
    val fps = Tables.documents(spark, sf("sf0.1"))
      .select($"doc_id", norm.as("fp"))
    val exactPairs = fps
      .select($"doc_id".as("doc_a"), $"fp")
      .join(fps.select($"doc_id".as("doc_b"), $"fp".as("fp_b")),
        $"fp" === $"fp_b" && $"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b")
    assert(exactPairs.count() > 0, "fixture must contain exact dups")
    val missing = exactPairs
      .join(rows.filter($"hamming" === 0), Seq("doc_a", "doc_b"),
        "left_anti").count()
    assert(missing == 0, s"$missing exact-dup pairs not found at hamming 0")
  }

  test("HLL approx distinct stays within 5% of the exact twin per source") {
    // t_approx_distinct_tokens is rows-only in the driver's oracle
    // sweep (DuckDB's sketch differs); this is its hard check — the
    // estimate vs the hash-checked exact companion query. The default
    // HLL++ rsd is 0.05, so a correct sketch clears 5% with margin at
    // fixture cardinalities; a broken hash or merge blows straight
    // through it.
    val approx = queries.TextAnalysis.qApproxDistinct
      .run(spark, sf("sf0.001"))
      .select("source", "approx_distinct_tokens").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = queries.TextAnalysis.qExactDistinct
      .run(spark, sf("sf0.001"))
      .select("source", "exact_distinct_tokens").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (src, ex) =>
      val ap = approx(src).toDouble
      assert(math.abs(ap - ex) / ex <= 0.05,
        s"source $src: approx $ap vs exact $ex exceeds 5% relative error")
    }
  }

  test("nll yield curve conserves the scored corpus and is cumulative-monotone") {
    val d = sf("sf0.001")
    val scores = queries.TextAnalysis.qBigramNll.run(spark, d).cache()
    val rows = queries.TextAnalysis.qNllYieldCurve.run(spark, d)
      .orderBy($"bucket").collect()
    assert(rows.nonEmpty)
    // final cumulative row = the whole scorable corpus
    assert(rows.last.getLong(4) == scores.count())
    assert(rows.last.getLong(5) ==
      scores.agg(sum($"n_bigrams" + 1L)).head().getLong(0))
    // cumulative columns are running sums of the per-bucket columns
    var (cd, ct) = (0L, 0L)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) * 500000L)
      cd += r.getLong(2); ct += r.getLong(3)
      assert(r.getLong(4) == cd && r.getLong(5) == ct)
    }
    scores.unpersist()
  }

  test("cross-source matrix conserves the verified-pair totals") {
    val d = sf("sf0.001")
    val vp = queries.Dedup.qVerifiedPairs.run(spark, d).cache()
    val m = queries.Dedup.qCrossSourceMatrix.run(spark, d).collect()
    assert(m.nonEmpty)
    // unordered source pairs: one cell per pair, lo <= hi
    m.foreach(r => assert(r.getString(0) <= r.getString(1)))
    assert(m.map(r => (r.getString(0), r.getString(1))).distinct.length
      == m.length)
    // every candidate pair lands in exactly one cell; dups conserved
    assert(m.map(_.getLong(2)).sum == vp.count())
    assert(m.map(_.getLong(3)).sum == vp.filter($"is_dup").count())
    vp.unpersist()
  }

  private def bigramNllOn(texts: Seq[(Long, String)]) = {
    val df = texts.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("textops").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    queries.TextAnalysis.qBigramNll.run(spark, dir)
      .orderBy($"doc_id").collect()
  }

  test("t_bigram_nll: hand-computed micro-nats, single-token exclusion") {
    // corpus: doc0 "a b a b", doc1 "a b c", doc2 "c" (no bigrams).
    // cab: (a,b)=3 (b,a)=1 (b,c)=1; ca: a=3 b=2.
    // nll(a,b)=ln(3/3)=0; nll(b,a)=nll(b,c)=floor(ln 2 ·1e6)=693147.
    val rows = bigramNllOn(Seq(
      (0L, "a b a b"), (1L, "a b c"), (2L, "c")))
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L),
      "single-token docs have no bigrams and no row")
    // doc0: 3 bigrams, sum 693147, mean 693147 div 3 = 231049
    assert(rows(0).getLong(1) == 3L && rows(0).getLong(2) == 693147L &&
      rows(0).getLong(3) == 231049L)
    // doc1: 2 bigrams, sum 693147, mean floor(693147/2) = 346573
    assert(rows(1).getLong(1) == 2L && rows(1).getLong(2) == 693147L &&
      rows(1).getLong(3) == 346573L)
    // the ordering signal: the doc with the corpus-rare transition
    // scores a HIGHER mean NLL than the one built of common ones
    assert(rows(1).getLong(3) > rows(0).getLong(3))
  }

  test("t_bigram_nll: bounds and bigram-count invariant on sf0.001") {
    val d = sf("sf0.001")
    val r = queries.TextAnalysis.qBigramNll.run(spark, d).cache()
    val docs = Tables.documents(spark, d)
      .select($"doc_id", size(split(trim($"text"), "\\s+")).as("n_tok"))
    val eligible = docs.filter($"n_tok" >= 2)
    assert(r.count() === eligible.count(), "one row per doc with >= 2 tokens")
    // n_bigrams = n_tokens - 1, always
    val badCount = r.join(docs, "doc_id")
      .filter($"n_bigrams" =!= $"n_tok" - 1).count()
    assert(badCount === 0, "n_bigrams must equal n_tokens - 1")
    // MLE on the training corpus: every probe bigram is in the LM, so
    // 0 <= mean_nll <= ln(total bigram instances)
    val totalBigrams = eligible.agg(sum($"n_tok" - 1)).head().getLong(0)
    val maxNll = (math.log(totalBigrams.toDouble) * 1e6).toLong + 1
    val oob = r.filter($"mean_nll_micro" < 0L || $"mean_nll_micro" > maxNll)
      .count()
    assert(oob === 0, s"mean_nll_micro must lie in [0, 1e6·ln($totalBigrams)]")
  }

  test("t_token_entropy: exact micro-nats on constructed distributions") {
    val dir = java.nio.file.Files.createTempDirectory("entropy").toString
    Seq((0L, "a a a a"), (1L, "a b c d"), (2L, "a a b b"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = queries.TextAnalysis.qTokenEntropy.run(spark, dir)
      .orderBy($"doc_id").collect()
    val ln4 = math.floor(math.log(4.0) * 1e6).toLong // 1386294
    val ln2 = math.floor(math.log(2.0) * 1e6).toLong // 693147
    // all-same tokens: H = 0 (ln4 - 4*ln4/4)
    assert(r(0).getLong(3) === 0L)
    // all-distinct: H = ln n exactly (every c = 1, ln 1 = 0)
    assert(r(1).getLong(3) === ln4)
    // two pairs: H = ln 2
    assert(r(2).getLong(3) === ln4 - ln2)
    assert(r.map(_.getLong(1)).toSeq === Seq(4L, 4L, 4L))
    assert(r.map(_.getLong(2)).toSeq === Seq(1L, 4L, 2L))
  }

  test("t_token_entropy: bounded by ln(n_distinct) on sf0.001") {
    val d = sf("sf0.001")
    val r = queries.TextAnalysis.qTokenEntropy.run(spark, d).cache()
    assert(r.count() === Tables.documents(spark, d).count())
    // 0 <= H <= ln(n_distinct); floors shift each side < 1 micro-nat
    val bad = r.filter($"entropy_micro" < lit(-2L) ||
      $"entropy_micro" > floor(log($"n_distinct".cast("double")) * 1e6) + 2L)
      .count()
    assert(bad === 0, "entropy must lie in [0, ln(n_distinct)] ± 2 micro")
  }

  test("t_backoff_nll: in-memory stupid-backoff replay matches exactly") {
    val d = sf("sf0.001")
    val docs = Tables.documents(spark, d).select($"doc_id", $"text")
      .collect().map(row => row.getLong(0) -> row.getString(1))
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 12), 16) % 100
    }
    def toks(t: String): Array[String] = t.trim.split("\\s+")
    val (train, valDocs) = docs.partition { case (id, _) => bucket(id) < 90 }
    def lnfp(num: Long, den: Long): Long =
      math.floor(math.log(num.toDouble / den.toDouble) * 1e6).toLong
    val c3 = scala.collection.mutable.Map[(String, String, String), Long]()
    val c2 = scala.collection.mutable.Map[(String, String), Long]()
    val cu = scala.collection.mutable.Map[String, Long]()
    train.foreach { case (_, t) =>
      val w = toks(t)
      w.foreach(x => cu(x) = cu.getOrElse(x, 0L) + 1)
      w.sliding(2).filter(_.length == 2).foreach { s =>
        val k = (s(0), s(1)); c2(k) = c2.getOrElse(k, 0L) + 1 }
      w.sliding(3).filter(_.length == 3).foreach { s =>
        val k = (s(0), s(1), s(2)); c3(k) = c3.getOrElse(k, 0L) + 1 }
    }
    val ctx2 = c3.groupBy { case ((a, b, _), _) => (a, b) }
      .map { case (k, m) => k -> m.values.sum }
    val ctx1 = c2.groupBy { case ((b, _), _) => b }
      .map { case (k, m) => k -> m.values.sum }
    val nTok = cu.values.sum
    val BO = 916290L
    var nBackoff = 0L
    val expected = valDocs.flatMap { case (id, t) =>
      val w = toks(t)
      if (w.length < 3) None else {
        val nlls = w.sliding(3).map { s =>
          if (c3.contains((s(0), s(1), s(2))))
            lnfp(ctx2((s(0), s(1))), c3((s(0), s(1), s(2))))
          else { nBackoff += 1
            if (c2.contains((s(1), s(2))))
              BO + lnfp(ctx1(s(1)), c2((s(1), s(2))))
            else if (cu.contains(s(2))) 2 * BO + lnfp(nTok, cu(s(2)))
            else 2 * BO + math.floor(math.log(nTok.toDouble) * 1e6).toLong }
        }.toSeq
        val sumN = nlls.sum
        Some(id -> (nlls.size.toLong, sumN,
          Math.floorDiv(sumN, nlls.size.toLong)))
      }
    }.toMap
    val got = queries.TextAnalysis.qBackoffNll.run(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === expected, "engine must equal the in-memory replay")
    assert(expected.nonEmpty, "val split must contain scorable docs")
    assert(nBackoff > 0,
      "fixture must exercise the backoff chain (else this is qBigramNll)")
  }

  test("dd_source_overlap: identical sources overlap fully, disjoint not at all") {
    val dir = java.nio.file.Files.createTempDirectory("srcovl").toString
    // srcA and srcB share every doc text; srcC is disjoint vocabulary
    val rows = Seq(
      (0L, "alpha beta gamma delta epsilon", "srcA"),
      (1L, "zeta eta theta iota kappa", "srcA"),
      (2L, "alpha beta gamma delta epsilon", "srcB"),
      (3L, "zeta eta theta iota kappa", "srcB"),
      (4L, "uno dos tres cuatro cinco", "srcC"),
      (5L, "seis siete ocho nueve diez", "srcC"))
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    tools.SessionCache.clearAll()
    val r = queries.Dedup.qSourceOverlap.run(spark, dir).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(4), x.getLong(5), x.getLong(6))).toMap
    assert(r.size === 3, "C(3,2) source pairs")
    val (abInter, abJac, abMatches) = r(("srcA", "srcB"))
    assert(abJac === 1000000L, "identical shingle sets: Jaccard = 1")
    assert(abMatches === 8L, "identical sets: all 8 signature mins match")
    assert(abInter > 0L)
    val (acInter, acJac, _) = r(("srcA", "srcC"))
    assert(acInter === 0L && acJac === 0L, "disjoint vocab: zero overlap")
    tools.SessionCache.clearAll()
  }

  test("dd_source_overlap: set-algebra invariants on sf0.001") {
    val d = sf("sf0.001")
    val r = queries.Dedup.qSourceOverlap.run(spark, d).cache()
    val nSources = Tables.documents(spark, d)
      .select($"source").distinct().count()
    assert(r.count() === nSources * (nSources - 1) / 2,
      "one row per unordered source pair")
    val bad = r.filter(
      $"n_inter" > least($"n_a", $"n_b") ||
      $"jaccard_micro" < 0L || $"jaccard_micro" > 1000000L ||
      $"minhash_matches" < 0L || $"minhash_matches" > 8L ||
      $"est_jaccard_micro" =!= $"minhash_matches" * 125000L).count()
    assert(bad === 0, "intersection/jaccard/estimate bounds must hold")
  }

  test("t_related_docs: in-memory postings replay, ranks and no self-pairs") {
    val d = sf("sf0.001")
    val docs = Tables.documents(spark, d).select($"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val toks = docs.map { case (id, t) =>
      id -> t.trim.split("\\s+").distinct.toSet }
    val n = docs.length.toLong
    val df = toks.flatMap(_._2).groupBy(identity)
      .map { case (t, v) => t -> v.size.toLong }
    val cap = math.max(2L, n / 10)
    val rare = df.filter { case (_, c) => c >= 2 && c <= cap }
      .map { case (t, c) =>
        t -> math.floor(math.log(n.toDouble / c.toDouble) * 1e6).toLong }
    // per-token postings capped at the 256 lowest doc_ids
    val postings = rare.keys.map { t =>
      t -> toks.filter(_._2.contains(t)).map(_._1).sorted.take(256).toSet
    }.toMap
    val pairScore = scala.collection.mutable.Map[(Long, Long), Long]()
    for {
      (a, ta) <- toks; (b, tb) <- toks if a < b
      shared = (ta & tb).filter(t =>
        rare.contains(t) && postings(t)(a) && postings(t)(b))
      if shared.nonEmpty
    } pairScore((a, b)) = shared.toSeq.map(rare).sum
    val sym = pairScore.toSeq.flatMap { case ((a, b), s) =>
      Seq((a, b, s), (b, a, s)) }
    val expected = sym.groupBy(_._1).flatMap { case (a, cands) =>
      cands.sortBy { case (_, b, s) => (-s, b) }.take(3).zipWithIndex
        .map { case ((_, b, s), i) => (a, b) -> (s, i + 1) }
    }
    val got = queries.TextAnalysis.qRelatedDocs.run(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getInt(3)))
      .toMap
    assert(got === expected, "engine must equal the quadratic in-memory replay")
    assert(got.nonEmpty, "fixture must produce related pairs")
    assert(got.keys.forall { case (a, b) => a != b }, "no self-pairs")
  }

  test("t_dsir_logratio: in-memory importance-weight replay matches exactly") {
    val d = sf("sf0.001")
    val docs = Tables.documents(spark, d)
      .select($"doc_id", $"lang", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def bucket(tok: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 12), 16) % 1024
    }
    val cp = scala.collection.mutable.Map[Long, Long]()
    val ct = scala.collection.mutable.Map[Long, Long]()
    var np = 0L; var nt = 0L
    val perDoc = docs.map { case (id, lang, text) =>
      val bs = text.trim.split("\\s+").map(bucket)
      bs.foreach { b =>
        cp(b) = cp.getOrElse(b, 0L) + 1; np += 1
        if (lang == "en") { ct(b) = ct.getOrElse(b, 0L) + 1; nt += 1 }
      }
      (id, lang, bs)
    }
    def lrFp(b: Long): Long = math.floor(math.log(
      ((ct.getOrElse(b, 0L) + 1) * (np + 1024)).toDouble /
        ((cp(b) + 1) * (nt + 1024)).toDouble) * 1e6).toLong
    val expected = perDoc.map { case (id, _, bs) =>
      id -> (bs.length.toLong, bs.map(lrFp).sum)
    }.toMap
    val got = queries.TextAnalysis.qDsirLogratio.run(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expected, "engine must equal the in-memory DSIR replay")
    // the target slice itself must skew target-like: en docs' mean
    // log-weight above the non-en mean (the signal DSIR resamples on)
    val byLang = perDoc.map { case (id, lang, _) =>
      (lang == "en", expected(id)._2.toDouble / expected(id)._1) }
    val enMean = byLang.filter(_._1).map(_._2).sum /
      byLang.count(_._1)
    val otherMean = byLang.filterNot(_._1).map(_._2).sum /
      byLang.count(!_._1)
    assert(enMean > otherMean,
      "en docs must score more target-like than non-en docs")
  }

  test("t_ppl_buckets: tiers partition each language's scorable docs") {
    val dir = sf("sf0.001")
    val tiers = queries.TextAnalysis.qPplBuckets.run(spark, dir).collect()
    assert(tiers.forall(r =>
      Set("head", "middle", "tail").contains(r.getAs[String]("tier"))))
    // Per language, the tier doc counts must sum to the scorable-doc
    // population (same ≥2-token domain as t_bigram_nll), and the
    // tercile-edge definition guarantees head ≥ n/3 and
    // head+middle ≥ 2n/3 (edge buckets round UP into the lower tier).
    val scorable = queries.TextAnalysis.qBigramNll.run(spark, dir)
      .join(Tables.documents(spark, dir).select($"doc_id", $"lang"), "doc_id")
      .groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byLang = tiers.groupBy(_.getAs[String]("lang"))
    assert(byLang.keySet == scorable.keySet)
    byLang.foreach { case (lang, rows) =>
      val n = scorable(lang)
      def docs(t: String) =
        rows.filter(_.getAs[String]("tier") == t)
          .map(_.getAs[Long]("n_docs")).sum
      assert(docs("head") + docs("middle") + docs("tail") == n, lang)
      assert(docs("head") * 3 >= n, s"$lang head below tercile")
      assert((docs("head") + docs("middle")) * 3 >= 2 * n,
        s"$lang head+middle below 2nd tercile")
    }
  }

  test("t_chunk_split: hand-computed windows, stride, and fingerprints") {
    val toks = (1 to 100).map(i => s"t$i")
    val df = Seq((0L, toks.mkString(" ")), (1L, "only"), (2L, "  "))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("chunks").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = queries.TextAnalysis.qChunkSplit.run(spark, dir)
      .orderBy($"doc_id", $"chunk_idx").collect()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 0: 100 tokens → windows at 1, 49, 97 of 64, 52, 4 tokens.
    val d0 = rows.filter(_.getLong(0) == 0L)
    assert(d0.map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0, 1L, 64L), (1, 49L, 52L), (2, 97L, 4L)))
    assert(d0(1).getAs[String]("fp") ==
      md5hex(toks.slice(48, 100).mkString(" ")))
    // doc 1: single token → exactly one 1-token window; doc 2: blank
    // text is excluded entirely (no [''] phantom token).
    val d1 = rows.filter(_.getLong(0) == 1L)
    assert(d1.map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0, 1L, 1L)))
    assert(d1.head.getAs[String]("fp") == md5hex("only"))
    assert(!rows.exists(_.getLong(0) == 2L))
    // Consecutive windows overlap by exactly 64-48=16 tokens.
    assert(d0(0).getLong(2) + 48 == d0(1).getLong(2))
  }
}
