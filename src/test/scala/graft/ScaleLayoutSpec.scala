package graft

import org.apache.spark.sql.functions._

/** Scale-layout proofs: bucketed co-located joins eliminate the
  * shuffle, and the CMS Aggregator gives bounded-error frequencies
  * with a mergeable fixed-size buffer. */
class ScaleLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without an exchange (co-located SMJ)") {
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")
    // the in-memory catalog forgets tables across JVMs but their
    // warehouse directories persist — clear them or CTAS refuses
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      val dir = new java.io.File(wh, t)
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    Tables.lineitem(spark, sf("sf0.001"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    Tables.orders(spark, sf("sf0.001"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("o_bucketed")

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").count()
      assert(joined.collect().map(_.getLong(1)).sum == 6000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      // the join inputs are bucket-aligned: no shuffle before the join
      val joinPart = plan.split("SortMergeJoin")(1)
      assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey"),
        s"join must not reshuffle bucketed input:\n$plan")

      // contrast: the same join over raw parquet DOES shuffle both sides
      val unbucketed = Tables.lineitem(spark, sf("sf0.001"))
        .join(Tables.orders(spark, sf("sf0.001")), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").count()
      unbucketed.collect()
      val rawPlan = unbucketed.queryExecution.executedPlan.toString
      assert(rawPlan.contains("Exchange hashpartitioning"),
        s"raw join should shuffle:\n$rawPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("predicate pushdown reaches the parquet scan (q1/q6)") {
    // formatted mode prints full PushedFilters/ReadSchema (the plan
    // toString truncates the FileScan line)
    def formatted(name: String): String = {
      val df = Registry.byName(name).run(spark, sf("sf0.001"))
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }
    val p1 = formatted("q1_pricing_summary")
    assert(p1.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"q1 shipdate filter must reach the scan:\n$p1")
    // column pruning: the scan reads only the 7 needed of 11 columns
    assert(p1.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double,l_returnflag:string,l_linestatus:string,l_shipdate"),
      s"q1 scan must prune columns:\n$p1")

    val p6 = formatted("q6_forecast_revenue")
    assert(p6.contains("GreaterThanOrEqual(l_discount,0.04)") &&
      p6.contains("LessThan(l_quantity,24.0)"),
      s"q6 range filters must reach the scan:\n$p6")
  }

  test("partitioned parquet: partition pruning skips non-matching dirs") {
    val dir = java.nio.file.Files.createTempDirectory("part").toString + "/docs"
    Tables.documents(spark, sf("sf0.001"))
      .write.partitionBy("lang").mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).filter(col("lang") === "en")
    assert(df.count() > 0)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the lang predicate must be a PartitionFilter (pruned at planning),
    // not a post-scan data filter
    assert(formatted.contains("PartitionFilters: [isnotnull(lang"),
      s"expected partition pruning:\n$formatted")
    val scannedParts = df.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(scannedParts.forall(_.contains("lang=en")),
      s"scan touched non-en partitions: ${scannedParts.mkString(",")}")
  }

  test("sim_cosine_topk ranks via hash-aggregate, not a probe-count window") {
    // VERDICT r1: row_number().over(partitionBy(probe_id)) funnels all
    // k·N rows through ≤20 tasks. The BoundedTopK aggregate shape must
    // keep Window out of the plan entirely; parallelism then follows
    // the corpus partitioning.
    val df = Registry.byName("sim_cosine_topk").run(spark, sf("sf0.001"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"top-k must not rank through a window:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"expected partial top-k aggregation:\n$plan")
  }

  test("dd_bloom_contamination probes via codegen might_contain, not a Scala UDF") {
    // ADVICE r7: the broadcast-UDF probe was the repo's last per-row
    // UDF — a serialization wall in an otherwise codegen'd map-side
    // prefilter. The probe must now be BloomFilterMightContain over
    // the serialized sketch literal, leaving zero UDF nodes anywhere
    // in the plan.
    val df = Registry.byName("dd_bloom_contamination").run(spark, sf("sf0.001"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"bloom probe must not leave codegen:\n$plan")
    assert(plan.contains("might_contain"),
      s"expected the native bloom-probe expression:\n$plan")
  }

  test("dd_embedding_neardup best-neighbor is a hash-aggregate, not a window") {
    val df = Registry.byName("dd_embedding_neardup").run(spark, sf("sf0.001"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the only window left is the deterministic per-bucket cap, keyed
    // by (tbl, bucket) — a key space that grows with `bits`; the
    // best-neighbor rank over a_id is a max(struct) hash-aggregate
    val windows = plan.split("\n").filter(_.contains("Window"))
    assert(windows.forall(w => w.contains("bucket")),
      s"only the bucket-cap window may remain:\n$plan")
  }

  test("q_window_functions: no window keyed on the 5-value priority alone") {
    // VERDICT r5: Window.partitionBy(o_orderpriority) sorts the whole
    // corpus in ≤5 tasks. The corpus makes ONE pass through the
    // bucket-keyed window (windowCore, materialized); the final plan
    // may only contain the tiny offsets/patch windows — no corpus
    // ranking window at all.
    val orders = Tables.orders(spark, sf("sf0.001"))
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
    val core = queries.Relational.windowCore(orders, nb = 4)
    core.collect()
    val corePlan = core.queryExecution.executedPlan.toString
    val coreWindows = corePlan.split("\n").filter(_.contains("Window"))
    assert(coreWindows.nonEmpty, s"expected the local-rank window:\n$corePlan")
    assert(coreWindows.forall(_.contains("bkt")),
      s"every corpus window must include the bucket key:\n$corePlan")
    val df = Registry.byName("q_window_functions").run(spark, sf("sf0.001"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("row_number"),
      s"ranking must come from the materialized core, not a re-run window:\n$plan")
  }

  test("q_window_functions: split points are a cached sampled artifact, not a per-run scan") {
    // VERDICT r6: the full-scan approxQuantile made every run read
    // orders twice. Split points now come from a bounded sample,
    // computed once per (dataset, nb) per session — a re-run must not
    // pay a second stats pass, so each run scans orders exactly once.
    Registry.byName("q_window_functions").run(spark, sf("sf0.001")).collect()
    val after1 = queries.Relational.statsPasses.get()
    val run2 = Registry.byName("q_window_functions").run(spark, sf("sf0.001"))
    run2.collect()
    assert(queries.Relational.statsPasses.get() == after1,
      "warm split-point artifact must serve re-runs without a stats pass")
    // and the per-run plan holds exactly one scan of orders
    val core = queries.Relational.windowCore(
      Tables.orders(spark, sf("sf0.001"))
        .select($"o_orderkey", $"o_orderpriority", $"o_totalprice"),
      nb = 4, splitsIn = Some(Array(50000.0, 150000.0, 250000.0)))
    val scans = core.queryExecution.executedPlan.toString
      .split("\n").count(_.contains("Scan parquet"))
    assert(scans == 1,
      s"window core must read orders exactly once, saw $scans scans")
  }

  test("two-phase ranking survives tiny buckets (cnt 1-2) and tied prices") {
    // nb far above the row count forces near-single-row buckets for
    // the unique-price priority — the worst case for the boundary
    // patch (a row can be a bucket's first, second, last and
    // second-to-last at once, and lag(2) chains through two preceding
    // buckets) — while the tied-price priority pins the
    // ties-share-a-bucket property.
    import org.apache.spark.sql.expressions.Window
    val rows =
      (for (i <- 1 to 13) yield (100L + i, "A", i * 10.0)) ++
      (for (i <- 1 to 13) yield (200L + i, "B", ((i * 7) % 5) * 10.0))
    val df = rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    // exact full-data splits (err 0): sampling would collapse the tiny
    // frame to one bucket and dodge the boundary stress this test wants
    val splits = df.stat.approxQuantile("o_totalprice",
      (1 until 64).map(_ / 64.0).toArray, 0.0).distinct.sorted
    val got = queries.Relational.windowFuncs(df, nb = 64, Some(splits))
      .collect().map(_.toSeq).toSet
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    val ref = df.select(
      $"o_orderkey", $"o_orderpriority",
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"),
      ntile(4).over(w).as("quartile"),
      lead($"o_orderkey", 1).over(w).as("next_key"),
      lag($"o_orderkey", 2).over(w).as("prev2_key"))
      .collect().map(_.toSeq).toSet
    assert(got == ref)
  }

  test("q_window_functions two-phase ranking equals the direct window") {
    // the naive single-window formulation IS the semantic definition —
    // keep it as the executable reference and require equality
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    val ref = Tables.orders(spark, sf("sf0.001")).select(
      $"o_orderkey", $"o_orderpriority",
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"),
      ntile(4).over(w).as("quartile"),
      lead($"o_orderkey", 1).over(w).as("next_key"),
      lag($"o_orderkey", 2).over(w).as("prev2_key"))
      .collect().map(_.toSeq).toSet
    val got = Registry.byName("q_window_functions")
      .run(spark, sf("sf0.001")).collect().map(_.toSeq).toSet
    assert(got == ref)
  }

  test("q_pivot_status is one aggregate: pinned values, no discovery pass") {
    // .pivot(col) without a value list runs a driver-side distinct
    // scan of the corpus BEFORE planning; the pinned list keeps the
    // whole query a single partial+final conditional aggregate.
    val df = Registry.byName("q_pivot_status").run(spark, sf("sf0.001"))
    df.collect()
    // AdaptiveSparkPlan.toString appends the initial plan — audit the
    // final plan only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = plan.split("\n")
      .count(_.trim.startsWith("+- Exchange"))
    // Spark's pinned-value pivot = (priority, status) aggregate
    // cascaded into a pivotfirst aggregate: two shuffles, both
    // map-side-partial and both keyed on grouping keys — nothing
    // corpus-sized and no discovery job before planning
    assert(exchanges <= 2,
      s"pivot must pay at most the two cascaded aggregate shuffles, saw $exchanges:\n$plan")
    assert(plan.contains("pivotfirst"),
      s"expected the pivot aggregate, not a join assembly:\n$plan")
    assert(!plan.contains("Window"), s"no window in a pivot plan:\n$plan")
  }

  test("w_value_outliers: moment join keyed on the growing key space, no window") {
    val df = Registry.byName("w_value_outliers").run(spark, sf("sf0.001"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"two-pass moments must not use a window:\n$plan")
    assert(plan.contains("user_id"),
      s"join/aggregate must key on user_id:\n$plan")
  }

  test("t_idf_rarity: no window, corpus count rides a broadcast not a collect") {
    val df = Registry.byName("t_idf_rarity").run(spark, sf("sf0.001"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no window in the idf plan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the 1-row N frame must broadcast, not cartesian:\n$plan")
  }

  test("round-7 additions prune their documents scans to the needed columns") {
    def formatted(name: String): String = {
      val df = Registry.byName(name).run(spark, sf("sf0.001"))
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }
    // t_bigram_nll touches only (doc_id, text) of documents' 5 columns.
    // Its probe side reads the checkpointed count artifact, so the plan
    // shows the artifact scan; the pruning contract shows up on the
    // pre-checkpoint pass, asserted via the builder directly.
    val cnt = queries.TextAnalysis.docBigramCounts(
      Tables.documents(spark, sf("sf0.001")).select($"doc_id", $"text"))
    val pc = cnt.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(pc.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"bigram count pass must prune documents to (doc_id, text):\n$pc")
    // mm_scene_keyframes derives everything from (doc_id, n_chars)
    val pk = formatted("mm_scene_keyframes")
    assert(pk.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      s"keyframes scan must prune documents to (doc_id, n_chars):\n$pk")
    // the scene window is keyed on doc_id (grows with the corpus),
    // never a global sort
    assert(!pk.contains("partitionBy=[]") && pk.contains("doc_id"),
      s"scene window must partition by doc_id:\n$pk")
  }

  test("q_table_profile: one PRUNED scan per column, no Expand fan-out") {
    // revised round 15 (the q_join_skew_report recipe): on columnar
    // storage 11 single-column scans read the same pages as one
    // 11-column scan, and dropping the multi-distinct Expand removes
    // the ×12 row fan-out through a (gid, 11-column)-keyed partial
    // aggregate — measured −57% at sf0.1 (4.8s → 2.1s)
    val df = Registry.byName("q_table_profile").run(spark, sf("sf0.001"))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // formatted mode prints each scan twice (tree + numbered detail);
    // count the numbered detail lines
    val nScans = """\(\d+\) Scan parquet""".r.findAllIn(plan).length
    assert(nScans == 11, s"profile must read one pruned scan per column, saw $nScans:\n$plan")
    assert(!plan.contains("Expand"),
      s"per-column distincts must not fan out through Expand:\n$plan")
    // every scan is pruned to exactly its own column
    Seq("struct<l_orderkey:bigint>", "struct<l_returnflag:string>",
      "struct<l_quantity:double>").foreach { rs =>
      assert(plan.contains(s"ReadSchema: $rs"),
        s"profile branch must prune to $rs:\n$plan")
    }
    val rows = df.collect()
    assert(rows.length == 11, "one profile row per lineitem column")
    val n = rows.head.getLong(1)
    rows.foreach { r =>
      assert(r.getLong(1) == n, "n_rows identical across columns")
      assert(r.getLong(2) >= 0 && r.getLong(3) <= n)
    }
  }

  test("q_table_profile_approx: one un-expanded pass, envelope vs the exact twin") {
    // the HLL twin's whole point is shedding the ×11 Expand the exact
    // multi-distinct needs — one scan, NO Expand, one aggregate
    val df = Registry.byName("q_table_profile_approx").run(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    val nScans = "Scan parquet".r.findAllIn(plan).length
    assert(nScans == 1, s"approx profile must read lineitem once, saw $nScans:\n$plan")
    assert(!plan.contains("Expand"),
      s"HLL buffers must not fan out through Expand:\n$plan")

    // rows-only in the driver's oracle, so the hard gate lives here:
    // counts exact, cardinalities inside the sketch envelope — at
    // sf0.01, sf0.1, and (when the round's ScaleUp artifact exists)
    // the 10× sf1 point
    val scales = Seq(sf("sf0.01"), sf("sf0.1")) ++
      Some("/tmp/sf1").filter(p => new java.io.File(p, "lineitem.parquet").exists)
    for (dir <- scales) {
      val exact = Registry.byName("q_table_profile").run(spark, dir)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      val approx = Registry.byName("q_table_profile_approx").run(spark, dir)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(approx.keySet == exact.keySet)
      approx.foreach { case (c, (n, nulls, nd)) =>
        assert((n, nulls) == (exact(c)._1, exact(c)._2),
          s"$dir $c: n_rows/n_nulls must be exact")
        val ex = exact(c)._3.toDouble
        assert(math.abs(nd - ex) / ex <= 0.10,
          s"$dir $c: approx $nd vs exact $ex exceeds 10% relative error")
      }
    }
  }

  test("sim_pq_adc_topk: the LUT rides a broadcast, ranking is the bounded aggregate") {
    val df = Registry.byName("sim_pq_adc_topk").run(spark, sf("sf0.001"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // probes × 16 × 4 LUT rows join the corpus-sized code table
    // map-side — a shuffle there would defeat the ADC design
    assert(plan.contains("BroadcastHashJoin"),
      s"LUT join must broadcast:\n$plan")
    // top-5 ranks through the bounded aggregate, not a probe-count window
    assert(!plan.contains("Window"),
      s"no window in the ADC ranking:\n$plan")
  }

  test("q3 broadcasts bounded dims; threshold off degrades to SMJ, same rows") {
    // broadcast-threshold sensitivity: the dimension joins in q3 must
    // be BroadcastHashJoin under the default threshold (no fact-side
    // shuffle before aggregation) and still produce identical results
    // when broadcasting is impossible (the 100 TB dim-too-big case).
    val q = Registry.byName("q3_revenue_by_nation")
    val bcast = q.run(spark, sf("sf0.001"))
    bcast.collect()
    val bPlan = bcast.queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin"), bPlan)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val smj = q.run(spark, sf("sf0.001"))
      val rows = smj.collect()
      val sPlan = smj.queryExecution.executedPlan.toString
      assert(sPlan.contains("SortMergeJoin"), sPlan)
      assert(rows.map(_.toString).sorted.toSeq ==
        bcast.collect().map(_.toString).sorted.toSeq)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q5_region_trade: unhinted supplier broadcasts at bench scale, degrades to SMJ, same rows") {
    // r11 unpinned broadcast(supplier) (SF-scaled — the hint cannot
    // survive 100 TB). This proves the unpin is free at bench scale:
    // AQE/CBO still picks BroadcastHashJoin for the supplier join
    // under the default threshold, and with broadcasting impossible
    // (the dim-too-big case) the same rows come back via SortMergeJoin.
    val q = Registry.byName("q5_region_trade")
    val bcast = q.run(spark, sf("sf0.001"))
    val bRows = bcast.collect()
    val bPlan = bcast.queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin"), bPlan)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val smj = q.run(spark, sf("sf0.001"))
      val rows = smj.collect()
      val sPlan = smj.queryExecution.executedPlan.toString
      assert(sPlan.contains("SortMergeJoin"), sPlan)
      // q5 ends in an orderBy and sums in decimal → bit-identical
      // ordered output regardless of join strategy
      assert(rows.map(_.toString).toSeq == bRows.map(_.toString).toSeq)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE splits a skewed sort-merge join at runtime") {
    // one hot key carries ~95% of the left side — the lang='en' shape.
    // With broadcast off, a plain SMJ puts the hot key in one task;
    // AQE's OptimizeSkewedJoin must split it (skew=true in the final
    // plan). This is the runtime complement to the explicit salting in
    // operators/Skew.
    val keep = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val left = spark.range(300000)
        .select(when($"id" % 20 =!= 0, lit(7L)).otherwise($"id" % 100).as("k"),
          $"id".as("v"))
      val right = spark.range(100).select($"id".as("k"), ($"id" * 2).as("w"))
      val j = left.join(right, "k").select(sum($"v"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should have split the skewed join:\n$plan")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q_join_skew_report: three single-column pruned scans, no wide reads") {
    val df = Registry.byName("q_join_skew_report").run(spark, sf("sf0.001"))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // each audit reads exactly its key column — the whole point of a
    // profiling query that must survive a 100 TB fact table
    Seq("struct<l_suppkey:bigint>", "struct<l_partkey:bigint>",
      "struct<o_custkey:bigint>").foreach { rs =>
      assert(plan.contains(s"ReadSchema: $rs"),
        s"skew audit must prune to $rs:\n$plan")
    }
    val rows = df.collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (nRows, nKeys, maxK) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (mean, skew) = (r.getLong(4), r.getLong(5))
      assert(maxK * nKeys >= nRows, "max*keys >= rows by pigeonhole")
      assert(mean == nRows * 1000000L / nKeys)
      assert(skew == maxK * nKeys * 1000000L / nRows)
      assert(skew >= 1000000L, "skew ratio >= 1 by definition")
    }
  }

  test("w_hopping_1h_15m: map-side Expand fan-out, no self-join against a spine") {
    val df = Registry.byName("w_hopping_1h_15m").run(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"),
      s"hopping windows must expand map-side:\n$plan")
    assert(!plan.contains("Join"),
      s"hopping windows must not join against a window spine:\n$plan")
    // every event lands in exactly span/slide = 4 windows
    val total = df.agg(sum($"n_events")).head().getLong(0)
    val events = Tables.events(spark, sf("sf0.001")).count()
    assert(total == 4 * events,
      s"fan-out conservation: $total != 4 * $events")
  }

  test("runtime bloom filter prunes the shuffled fact side of a selective dim join") {
    // the 100 TB shape: a selective filter on one join side should cut
    // the OTHER side's shuffle before it happens — Spark's runtime
    // bloom filter (InjectRuntimeFilter) does exactly that once the
    // size gates are met; this pins the wiring so the capability is
    // demonstrably available to every shuffled join in the repo
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k =>
      k -> util.Try(spark.conf.get(k)).toOption).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sf("sf0.001"))
      val o = Tables.orders(spark, sf("sf0.001"))
        .filter($"o_orderpriority" === "1-URGENT")
      val j = li.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"runtime bloom filter must reach the fact side:\n$optimized")
      // and it must not change results
      val got = j.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      confs.keys.foreach(k => prev(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      })
      val want = li.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want)
    } finally confs.keys.foreach(k => prev(k) match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    })
  }

  test("scaledPartitions sizes a file: URI like the plain path") {
    val tables = Seq("orders", "lineitem")
    val floor = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val plain = Tables.scaledPartitions(spark, sf("sf0.001"), tables,
      bytesPerPartition = 1024)
    assert(plain > floor, s"$plain partitions: input bytes never counted")
    val uri = Tables.scaledPartitions(spark, "file:" + sf("sf0.001"), tables,
      bytesPerPartition = 1024)
    assert(uri == plain, s"file: URI sized to $uri, plain path to $plain")
  }
}
