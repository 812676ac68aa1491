package graft.queries

import graft.{GraftQuery, Tables}
import graft.functions.VectorExpressions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ArgMax2, TopKAggregate}

/** Similarity search over the `embeddings` table (array<float>, 64-d).
  *
  * Determinism across engines: float dot products depend on summation
  * order, so vectors are quantized to int64 (floor(x*10000 + 0.5)) and
  * all dot/norm arithmetic is exact integer math — bit-identical in
  * any order on both engines. Cosine then divides identical ints.
  *
  * Scale notes: the brute-force path broadcasts the (small) probe set
  * against the full corpus — a map-side nested loop, no shuffle of the
  * big side; ranking is a per-probe window over k·N rows. The LSH
  * bucketed variant (sim_lsh_buckets) is the 100 TB path: candidate
  * generation via random-hyperplane sign buckets, quadratic work only
  * within buckets.
  */
object Similarity {

  private val quantSql =
    "list_transform(%s, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))"

  /** Oracle-side zero-norm guard: the `q` CTE every cosine oracle
    * reads admits only vectors with a positive squared norm — the SQL
    * twin of the engine's `qn > 0` filter
    * ([[VectorExpressions.signatures]]).
    * Without the symmetric pair, a zero vector would be absent from
    * the native output (TopKAggregate drops its NaN cosine) but rank
    * FIRST in the oracle (DuckDB's IEEE ordering sorts NaN greatest
    * under DESC) — a latent cross-engine parity break. */
  // q is MATERIALIZED: every consumer oracle references it 2+ times
  // (assignments, recenters, scoring), and an inlined q re-quantizes
  // the embedding table per reference — part of the sf10 /tmp spill
  // blowup (see kmeansCtes). ~0.5 KB/row, linear in the corpus.
  private def quantNormCte(extraCols: String = ""): String =
    s"""q0 AS (
        SELECT vec_id$extraCols, ${quantSql.format("embedding")} AS q
        FROM embeddings),
      q AS MATERIALIZED (SELECT * FROM q0
        WHERE list_sum(list_transform(q, x -> x * x)) > 0)"""

  /** Brute-force cosine top-k: 5 nearest neighbors for each probe
    * (vec_id < 20), ranked by rounded cosine with id tie-break.
    *
    * Ranking is a native bounded top-k hash-aggregate
    * ([[org.apache.spark.sql.graft.TopKAggregate]] — primitive-array
    * buffer, flat 16·k-byte shuffle serialization), NOT a window: with
    * only 20 probes, `row_number().over(partitionBy(probe_id))` would
    * sort all 20·N cosine rows in ≤20 tasks — a straggler wall at
    * scale. The aggregate reduces each input partition to ≤5 entries
    * per probe map-side, so the one shuffle moves O(partitions·k)
    * rows and parallelism follows the CORPUS partitioning, not the
    * probe count.
    *
    * Zero-norm vectors are dropped up front (`qn > 0`, mirrored in
    * the oracle's `q` CTE): their cosine is NaN on every pairing, the
    * native aggregate refuses to rank NaN, and DuckDB would rank it
    * first — filtering symmetrically pins the policy on both engines
    * (ZeroNormSpec exercises the synthetic all-zero vector). */
  private[graft] def cosineTopK(emb: org.apache.spark.sql.DataFrame,
      k: Int = 5): org.apache.spark.sql.DataFrame = {
    val e = signatures(emb, col("vec_id"))
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("q").as("pq"),
        col("qn").as("pn"))
    val cos = cosine(col("pq"), col("q"), col("pn"), col("qn"))
    e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), cos.as("cosine"))
      .groupBy(col("probe_id"))
      .agg(TopKAggregate.of(col("vec_id"), col("cosine"), k).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("probe_id"), col("e.id").as("vec_id"),
        col("e.score").as("cosine"), (col("pos") + 1).cast("int").as("rk"))
  }

  val qCosineTopK = GraftQuery(
    "sim_cosine_topk",
    (s, d) => cosineTopK(Tables.embeddings(s, d)),
    Some(s"""
      WITH ${quantNormCte()},
      p AS (SELECT vec_id AS probe_id, q AS pq FROM q WHERE vec_id < 20),
      sims AS (
        SELECT p.probe_id, q.vec_id,
          round(
            CAST(list_sum(list_transform(range(1, 65), i -> pq[i] * q[i])) AS DOUBLE) /
            (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> pq[i] * pq[i])) AS DOUBLE)) *
             sqrt(CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS DOUBLE))), 6)
          AS cosine
        FROM p JOIN q ON q.vec_id <> p.probe_id),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                     ORDER BY cosine DESC, vec_id ASC) AS rk
        FROM sims)
      SELECT probe_id, vec_id, cosine, rk FROM ranked WHERE rk <= 5"""),
    bench = true)

  /** Random-hyperplane LSH bucketing (the ANN scale path): 8 sign bits
    * from pseudo-random ±1 hyperplanes → bucket id per vector, plus
    * per-bucket population. Hyperplane j element i sign =
    * bit of md5-free deterministic LCG((j*64+i)) — pure arithmetic,
    * identical in the oracle. */
  val qLshBuckets = GraftQuery(
    "sim_lsh_buckets",
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d).select($"vec_id", quantize($"embedding").as("q"))
      // single table of 8 sign planes — same native expression as the
      // multi-table ANN path (planes 0..7 == this query's planes)
      val bucket = org.apache.spark.sql.graft.HyperplaneBuckets
        .of($"q", 1, 8).getItem(0)
      val withB = e.select($"vec_id", bucket.as("bucket"))
      withB.groupBy($"bucket")
        .agg(count(lit(1)).as("n_vectors"),
             min($"vec_id").as("min_vec_id"),
             max($"vec_id").as("max_vec_id"))
    },
    Some {
      def planeSql(j: Int): String =
        s"""(CASE WHEN list_sum(list_transform(range(1, 65), i ->
           CASE WHEN (((i - 1 + ${64L * j}) * 1103515245 + 12345) >> 16) & 1 = 1
           THEN q[i] ELSE -q[i] END)) >= 0 THEN ${1L << j} ELSE 0 END)"""
      s"""
      WITH q AS (
        SELECT vec_id, ${quantSql.format("embedding")} AS q
        FROM embeddings),
      b AS (SELECT vec_id, ${(0 until 8).map(planeSql).mkString(" + ")} AS bucket FROM q)
      SELECT bucket, COUNT(*) AS n_vectors, min(vec_id) AS min_vec_id,
        max(vec_id) AS max_vec_id
      FROM b GROUP BY bucket"""
    })

  /** Centroid per label (the IVF coarse-quantizer training step):
    * element-wise mean of quantized vectors. Element sums via
    * posexplode → (label, pos) hash-aggregate — 64·N rows, one
    * shuffle, exact int arithmetic; no collect_list of whole vectors
    * (which would break at scale). */
  val qLabelCentroids = GraftQuery(
    "sim_label_centroids",
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select($"label", quantize($"embedding").as("q"))
      e.select($"label", posexplode($"q").as(Seq("pos", "v")))
        .groupBy($"label", $"pos")
        .agg((sum($"v").cast("double") / count(lit(1)) / 10000)
               .as("centroid_v"),
             count(lit(1)).as("n_vectors"))
    },
    Some("""
      WITH q AS (
        SELECT label, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS q
        FROM embeddings)
      SELECT label, i - 1 AS pos,
        CAST(SUM(q[i]) AS DOUBLE) / COUNT(*) / 10000 AS centroid_v,
        COUNT(*) AS n_vectors
      FROM q, (SELECT unnest(range(1, 65)) AS i) idx
      GROUP BY label, pos"""))

  /** IVF-style ANN (the coarse-quantizer scale path): vectors are
    * assigned to the nearest of 10 centroid cells, probes then search
    * ONLY their own cell — a 10× candidate cut here, and the shape
    * that generalizes to √N cells at 100 TB (train centroids → assign
    * = one broadcast join → search within cell).
    *
    * Exactness trick: cos(v, S/n) = cos(v, S) — the cell count divides
    * out — so the centroid DIRECTION is the element-wise integer sum
    * vector and every comparison stays in exact int64 arithmetic on
    * both engines; no float centroid ever exists. Assignment tie-break
    * by lowest label; within-cell ranking by (cosine, vec_id) like
    * sim_cosine_topk, via the same native top-k aggregate (no
    * probe-count window). */
  /** Shared IVF builder — see [[qIvfTopK]] for the full design notes.
    * `nprobe` is the recall knob: each probe searches its `nprobe`
    * nearest cells (ranked by centroid cosine, lowest label on ties —
    * the same (score DESC, id ASC) policy as every ranking here, so
    * the probe-cell list is the native top-k aggregate, not a window).
    * Corpus vectors always live in exactly ONE cell, so the candidate
    * sets of a probe's cells are disjoint and need no dedup; the
    * candidate volume scales linearly in nprobe while recall climbs
    * toward brute force — the standard IVF trade dial. */
  private[graft] def ivfTopK(s: org.apache.spark.sql.SparkSession,
      d: String, nprobe: Int): org.apache.spark.sql.DataFrame = {
      import s.implicits._
      // per-vector norm computed ONCE before the checkpoint — every
      // downstream pairing (centroid assignment and within-cell
      // search) reuses it instead of re-deriving a self-dot per pair.
      val e = signatures(Tables.embeddings(s, d), $"vec_id", $"label")
        .localCheckpoint(true) // feeds centroids, assignment, search
      // centroid direction per label = element-wise sum vector
      val cent = centroids(e, $"label".as("clabel"))
      val ccos = cosine($"q", $"cv", $"qn", $"cn")
      val scored = e.crossJoin(broadcast(cent))
        .select($"vec_id", ccos.as("ccos"), $"clabel")
      // nearest centroid per vector: max(struct) — no window
      val assign = scored
        .groupBy($"vec_id")
        .agg(ArgMax2.of($"ccos", -$"clabel").as("m"))
        .select($"vec_id", (-$"m.tie").as("cell"))
      val cells = e.join(assign, "vec_id")
        .select($"vec_id", $"q", $"qn", $"cell")
      // nprobe nearest cells per probe (20 probes × nprobe rows)
      val probeCells = scored.filter($"vec_id" < 20)
        .groupBy($"vec_id")
        .agg(TopKAggregate.of($"clabel".cast("long"), $"ccos", nprobe).as("tk"))
        .select($"vec_id".as("probe_id"), explode($"tk").as("e"))
        .select($"probe_id", $"e.id".cast("int").as("pcell"))
      val probes = cells.filter($"vec_id" < 20)
        .select($"vec_id".as("probe_id"), $"q".as("pq"), $"qn".as("pn"))
        .join(probeCells, "probe_id")
      val cos = cosine($"pq", $"q", $"pn", $"qn")
      cells.join(broadcast(probes),
          $"cell" === $"pcell" && $"vec_id" =!= $"probe_id")
        .select($"probe_id", $"vec_id", cos.as("cosine"))
        .groupBy($"probe_id")
        .agg(TopKAggregate.of($"vec_id", $"cosine", 5).as("tk"))
        .select($"probe_id", posexplode($"tk").as(Seq("pos", "e")))
        .select($"probe_id", $"e.id".as("vec_id"), $"e.score".as("cosine"),
          ($"pos" + 1).cast("int").as("rk"))
  }

  private def ivfOracle(nprobe: Int): String = s"""
      WITH ${quantNormCte(", label")},
      cent AS (
        SELECT label AS clabel, list(sv ORDER BY i) AS cv FROM (
          SELECT label, i, CAST(SUM(q[i]) AS BIGINT) AS sv
          FROM q, (SELECT unnest(range(1, 65)) AS i) idx
          GROUP BY label, i)
        GROUP BY clabel),
      scored_cent AS (
        SELECT q.vec_id, c.clabel,
          round(
            CAST(list_sum(list_transform(range(1, 65), i -> q.q[i] * c.cv[i])) AS DOUBLE) /
            (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> q.q[i] * q.q[i])) AS DOUBLE)) *
             sqrt(CAST(list_sum(list_transform(range(1, 65), i -> c.cv[i] * c.cv[i])) AS DOUBLE))), 6)
            AS ccos
        FROM q CROSS JOIN cent c),
      assign AS (
        SELECT vec_id, clabel, crk FROM (
          SELECT vec_id, clabel,
            ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY ccos DESC, clabel ASC) AS crk
          FROM scored_cent)),
      cells AS (
        SELECT q.vec_id, q.q, a.clabel AS cell
        FROM q JOIN assign a ON a.vec_id = q.vec_id AND a.crk = 1),
      probes AS (
        SELECT c.vec_id AS probe_id, c.q AS pq, a.clabel AS pcell
        FROM cells c JOIN assign a ON a.vec_id = c.vec_id
        WHERE c.vec_id < 20 AND a.crk <= $nprobe),
      sims AS (
        SELECT p.probe_id, c.vec_id,
          round(
            CAST(list_sum(list_transform(range(1, 65), i -> p.pq[i] * c.q[i])) AS DOUBLE) /
            (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> p.pq[i] * p.pq[i])) AS DOUBLE)) *
             sqrt(CAST(list_sum(list_transform(range(1, 65), i -> c.q[i] * c.q[i])) AS DOUBLE))), 6)
            AS cosine
        FROM probes p JOIN cells c ON c.cell = p.pcell AND c.vec_id <> p.probe_id),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                     ORDER BY cosine DESC, vec_id ASC) AS rk
        FROM sims)
      SELECT probe_id, vec_id, cosine, rk FROM ranked WHERE rk <= 5"""

  val qIvfTopK = GraftQuery(
    "sim_ivf_topk", (s, d) => ivfTopK(s, d, nprobe = 1),
    Some(ivfOracle(1)))

  /** Multi-probe IVF (nprobe = 2): same plan as [[qIvfTopK]] with each
    * probe searching its two nearest cells — roughly 2× the candidate
    * work buying back most of the recall a single-cell search loses at
    * cell boundaries. IvfRecallSpec gates that the nprobe=2 result is
    * at least as close to brute force as nprobe=1 on every probe. */
  val qIvfMultiprobe = GraftQuery(
    "sim_ivf_multiprobe", (s, d) => ivfTopK(s, d, nprobe = 2),
    Some(ivfOracle(2)))

  /** Symmetric k-NN graph (k=3) over the multi-table ANN candidate
    * pairs — the neighborhood structure semantic clustering / quality
    * propagation jobs consume. Same candidate construction as
    * dd_embedding_neardup (2 tables × 8 bits, cap 128; both pair
    * directions present), ranked per vector by (cosine DESC, id ASC)
    * with the native bounded top-k hash-aggregate.
    *
    * Scale shape: identical to the near-dup query — signature
    * artifact checkpointed once, candidate shuffle on (tbl, bucket),
    * two id-keyed hash joins for the quantized vectors, and the
    * per-node ranking is a map-side-partial aggregate whose
    * parallelism follows the vec_id key space. */
  val qKnnGraph = GraftQuery(
    "sim_knn_graph",
    (s, d) => {
      import s.implicits._
      val sig = signatures(Tables.embeddings(s, d), $"vec_id")
        .localCheckpoint(true) // feeds buckets AND both cosine sides
      val pairs = Dedup.annCandidatePairs(sig, tables = 2, bits = 8, cap = 128)
      pairCosine(pairs, sig)
        .groupBy($"a_id")
        .agg(TopKAggregate.of($"b_id", $"cosine", 3).as("tk"))
        .select($"a_id", posexplode($"tk").as(Seq("pos", "e")))
        .select($"a_id".as("vec_id"), $"e.id".as("neighbor"),
          $"e.score".as("cosine"), ($"pos" + 1).cast("int").as("rk"))
    },
    Some(s"""${Dedup.annRankedCtes(tables = 2, cap = 128)}
      SELECT a_id AS vec_id, b_id AS neighbor, cosine, rk
      FROM ranked WHERE rk <= 3"""))

  /** Deterministic k-means training for the IVF coarse quantizer —
    * the step sim_ivf_topk assumes has already happened (it borrows
    * the label column as cells; production trains cells from the
    * data). k = 8 seeds = the 8 lowest-id vectors, two Lloyd
    * iterations, then a final assignment; output is the per-cell
    * population report (integers only).
    *
    * Every iteration stays EXACT cross-engine by the same trick as
    * sim_ivf_topk: cos(v, S/n) = cos(v, S), so the trained "centroid"
    * is the element-wise int64 sum vector of its members — no float
    * centroid ever exists, and the only doubles are the per-pair
    * cosines both engines compute from identical integers in an
    * identical order (rounded once, ranked with the same tie-break).
    * An emptied cell keeps its previous direction (LEFT JOIN +
    * coalesce — spelled identically in the oracle), so k never
    * silently shrinks.
    *
    * Scale shape: per iteration, one broadcast of k sum-vectors, one
    * map-side argmax (max(struct) hash-aggregate — no window), one
    * posexplode sum keyed on (cell, pos); the trained directions are
    * localCheckpoint'd per round like every other iterative artifact
    * here (CC rounds, signature tables). Lloyd's iteration count is a
    * constant, not data-dependent — the standard fixed-budget
    * training run. */
  /** The trained (vec_id, cell) assignment of [[qKmeansCells]] —
    * exposed so KmeansSpec can score the partition against a random
    * baseline. */
  /** Driver-resident centroid model: (cell, quantized vector) pairs.
    * Bounded by the model hyperparameter k (8 coarse cells / 16 PQ
    * codes per subspace) — the same driver-budget class as the BPE
    * merge table and the driver-local centroid relations it replaces:
    * k·dim longs, corpus-independent. */
  private type CentModel = Seq[(Int, Vector[Long])]

  /** Exact int64 dot replicated driver-side — the same Long
    * multiply-accumulate as the native QuantizedDotProduct, same
    * overflow envelope (see the ADC headroom scaladoc). */
  private def driverDot(a: Seq[Long], b: Seq[Long]): Long = {
    var i = 0; var acc = 0L
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** The argmax-cell EXPRESSION over literal centroids — the map-side
    * replacement for `crossJoin(broadcast(cent)) + groupBy(vec_id) +
    * ArgMax2`, which paid a k-fold row fan-out, a corpus-scale
    * partial aggregate and a V-scale shuffle PER ASSIGNMENT (7 of
    * them per ivfpq derive). The centroids are the driver-pinned
    * model table the old path already collected to the driver;
    * embedding them as literals moves the same k dot products into
    * the scan projection — zero joins, zero shuffles, whole-stage
    * codegen.
    *
    * Selection semantics replicate ArgMax2 bit-for-bit on the values
    * these call sites produce: greatest (ord, tie) pair with ord =
    * the identically-computed rounded cosine and tie = −cell; the
    * `+ 0.0` normalizes IEEE −0.0 to 0.0 so the struct comparator
    * ties exactly where ArgMax2's `===` tied (under ==/>, ±0.0 are
    * equal; raw struct ordering would rank them). NaN never reaches
    * the comparison: the unguarded form runs behind the family's
    * qn > 0 filter with non-zero centroids, and the guarded form
    * (zero subvector / zero codebook cell) pins ccos to −2.0 exactly
    * like the old pqAssignTo. cn is computed driver-side with the
    * same Long dot → toDouble → Math.sqrt chain the executor ran. */
  private def bestCellExpr(q: Column, qn: Column, cents: CentModel,
      guarded: Boolean): Column = {
    val scored = cents.sortBy(_._1).map { case (c, cv) =>
      val cn = math.sqrt(driverDot(cv, cv).toDouble)
      val raw = cosine(q, lit(cv.toArray), qn, lit(cn))
      val ccos =
        if (!guarded) raw
        else when(qn > 0 && lit(cn) > 0, raw).otherwise(-2.0)
      struct((ccos + lit(0.0)).as("ord"), lit(-c.toLong).as("tie"))
    }
    (-greatest(scored: _*).getField("tie")).cast("int")
  }

  /** One Lloyd recenter computed as ONE hash-aggregate: per-cell
    * elementwise sums as `dim` long-sum columns (the old posexplode →
    * (cell, pos) aggregate → collect_list pipeline collapsed — a
    * dim-fold row fan-out and two shuffles per round, gone), merged
    * into the driver model; absent cells keep their centroid (the old
    * `coalesce(ncv, ocv)` left join). The collect is ≤ k rows — the
    * model itself, the BpeTrainer driver-budget class. */
  private def recenterRound(e: org.apache.spark.sql.DataFrame,
      cellCol: Column, cents: CentModel, dim: Int): CentModel = {
    val aggs = (1 to dim).map(i => sum(element_at(col("q"), i)).as(s"s$i"))
    val rows = e.select(cellCol.as("cell"), col("q"))
      .groupBy(col("cell"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val sums = rows.map(r => r.getInt(0) ->
      (1 to dim).map(i => r.getLong(i)).toVector).toMap
    cents.map { case (c, old) => c -> sums.getOrElse(c, old) }
  }

  /** The ONE quantized-corpus checkpoint (vec_id, q, qn > 0) every
    * similarity trainer derives from — the coarse k-means and the PQ
    * subspace slicer previously each materialized their own identical
    * copy (two corpus scans, two checkpoints); a caller composing
    * both (sim_ivfpq_topk's derive) now builds it once and shares
    * (guide §2.4 / §1.2: don't compute what you already have).
    * Deferred per-run scratch — drained by the runner after
    * materialization, never carried across runs. */
  private[graft] def quantCorpus(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    graft.tools.Checkpoints.defer(
      signatures(emb, col("vec_id")).localCheckpoint(true))

  /** The coarse k-means training loop over a pre-built
    * [[quantCorpus]] frame — returns the trained model (empty when
    * the corpus has no seed vectors). Split from [[kmeansAssign]] so
    * a composing caller can train and then fold the assignment
    * expression into its own projection. */
  private[graft] def kmeansTrainOn(e: org.apache.spark.sql.DataFrame,
      k: Int, iters: Int): CentModel = {
    // seed model: ≤ k rows collected — the same rows the old code
    // pinned to a driver-local relation
    var cent: CentModel = e.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cell"), col("q")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toVector)
      .toSeq.sortBy(_._1)
    if (cent.isEmpty) return cent
    for (_ <- 1 to iters)
      cent = recenterRound(e,
        bestCellExpr(col("q"), col("qn"), cent, guarded = false), cent, 64)
    cent
  }

  private[graft] def kmeansAssign(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int = 8, iters: Int = 2): org.apache.spark.sql.DataFrame = {
      import s.implicits._
      val e = quantCorpus(Tables.embeddings(s, d))
      val cent = kmeansTrainOn(e, k, iters)
      if (cent.isEmpty)
        e.filter(lit(false))
          .select($"vec_id", lit(0).cast("int").as("cell"))
      else e.select($"vec_id",
        bestCellExpr($"q", $"qn", cent, guarded = false).as("cell"))
  }

  /** Derivation counter for ArtifactLifecycleSpec — how many times the
    * similarity index artifacts (coarse assignment / PQ training) were
    * actually DERIVED vs served from a persisted artifact set. */
  private[graft] val indexDerivations =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** The coarse (vec_id, cell) assignment, preferring an attached
    * persisted artifact ([[graft.tools.Artifacts]] `kmeans_cells` —
    * the table a production index persists once per corpus drop) and
    * falling back to the in-session [[kmeansAssign]] training. The
    * artifact IS the deterministic training output, so every consumer
    * — and every oracle, which always replays the derivation — sees
    * identical cells either way. */
  private[graft] def sessionCoarseAssign(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.tools.Artifacts.lookup(s, d, "kmeans_cells").getOrElse {
      indexDerivations.incrementAndGet()
      kmeansAssign(s, d)
    }

  val qKmeansCells = GraftQuery(
    "sim_kmeans_cells",
    (s, d) => {
      import s.implicits._
      sessionCoarseAssign(s, d)
        .groupBy($"cell")
        .agg(count(lit(1)).as("n_vectors"),
          min($"vec_id").as("min_vec_id"),
          max($"vec_id").as("max_vec_id"))
    },
    Some(s"""$kmeansCtes
      SELECT cell, COUNT(*) AS n_vectors,
        min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
      FROM a3
      GROUP BY cell"""))

  /** Oracle CTE chain replaying [[kmeansAssign]] — `a3` is the final
    * (vec_id, cell) assignment; requires nothing in front (starts its
    * own WITH). Shared by sim_kmeans_cells, sim_ivf_trained_topk and
    * Dedup's dd_semantic_dedup. */
  private[graft] lazy val kmeansCtes: String = {
    // Every stage CTE is MATERIALIZED (the a062fee / kcore-oracle
    // lesson): DuckDB inlines CTEs by default, and downstream oracles
    // reference a3 (and q) more than once — inlined, each reference
    // re-derives the whole 2-round training chain, and at sf10 the
    // recomputed assignment windows spilled past the box's /tmp
    // (sim_cluster_quality's oracle died on ENOSPC, round 11).
    // Materialized, each stage computes exactly once.
    // assignment CTE over centroid table `c`: argmax_cell of the
    // rounded exact-int cosine, ties to lowest cell
    def assignSql(name: String, cents: String): String = s"""
      $name AS MATERIALIZED (
        SELECT vec_id, cell FROM (
          SELECT q.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
              round(
                CAST(list_sum(list_transform(range(1, 65), i -> q.q[i] * c.cv[i])) AS DOUBLE) /
                (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> q.q[i] * q.q[i])) AS DOUBLE)) *
                 sqrt(CAST(list_sum(list_transform(range(1, 65), i -> c.cv[i] * c.cv[i])) AS DOUBLE))), 6)
              DESC, c.cell ASC) AS rn
          FROM q CROSS JOIN $cents c)
        WHERE rn = 1)"""
    def recenterSql(name: String, prev: String, assign: String): String = s"""
      ${name}_s AS (
        SELECT a.cell, i, CAST(SUM(q.q[i]) AS BIGINT) AS sv
        FROM q JOIN $assign a USING (vec_id),
             (SELECT unnest(range(1, 65)) AS i) idx
        GROUP BY a.cell, i),
      ${name}_l AS (
        SELECT cell, list(sv ORDER BY i) AS ncv FROM ${name}_s GROUP BY cell),
      $name AS MATERIALIZED (
        SELECT p.cell, coalesce(l.ncv, p.cv) AS cv
        FROM $prev p LEFT JOIN ${name}_l l USING (cell))"""
    s"""
      WITH ${quantNormCte()},
      seeds AS (
        SELECT CAST(vec_id AS INT) AS cell, q AS cv FROM q WHERE vec_id < 8),
      ${assignSql("a1", "seeds")},
      ${recenterSql("c1", "seeds", "a1")},
      ${assignSql("a2", "c1")},
      ${recenterSql("c2", "c1", "a2")},
      ${assignSql("a3", "c2")}"""
  }

  /** Product-quantization codes (spherical PQ) — the COMPRESSION
    * pillar of a 100 TB embedding store: each 64-d vector splits into
    * m = 4 16-d subvectors, each subspace trains its own k = 16
    * codebook (one Lloyd iteration, same deterministic recipe as
    * [[qKmeansCells]]), and a vector's code is its 4 per-subspace
    * centroid ids — 4 × 4 bits, a 65,536-cell product space from 64
    * trained directions, packed into one small int. 256 bytes of
    * float32 become 2 bytes; the compressed-domain scan (ADC) and the
    * persisted codebooks are what make billion-vector search fit in
    * memory at all.
    *
    * Determinism: identical machinery to the kmeans family — exact
    * int64 subvector dots, sum-vector centroids (cos(v, S/n) =
    * cos(v, S), so no float centroid exists), round(·, 6) + lowest-
    * cell tie-break. A subvector (or centroid) with zero norm has no
    * cosine; both engines score those pairings a literal −2.0 — below
    * every real cosine — so degenerate slices deterministically fall
    * to the lowest cell instead of riding NaN ordering differences.
    *
    * Scale shape: per subspace, assignment is a broadcast of 16
    * sum-vectors + a map-side argmax hash-aggregate (no window), and
    * recentering is a posexplode sum keyed on (cell, pos) — the
    * subspaces are independent, so the 4 trainings parallelize as
    * separate stages over the one checkpointed quantized table; the
    * final code table is 4 id-keyed joins. Nothing global, nothing
    * collected. */
  /** Oracle CTE chain replaying one PQ subspace training — for
    * subspace j produces `s{j}q` (sliced vectors), `s{j}c1` (the
    * trained codebook) and `s{j}a2` (the final assignment); assumes
    * the `q` CTE of [[quantNormCte]] is already in front. Shared by
    * the sim_pq_codes and sim_pq_adc_topk oracles. */
  private def pqSubCtes(j: Int): String = {
    val p = s"s$j"; val lo = j * 16 + 1; val hi = lo + 15
    def dot(a: String, b: String) =
      s"list_sum(list_transform(range(1, 17), i -> $a.q[i] * $b.cv[i]))"
    def vn(a: String) =
      s"sqrt(CAST(list_sum(list_transform(range(1, 17), i -> $a.q[i] * $a.q[i])) AS DOUBLE))"
    def cn(c: String) =
      s"sqrt(CAST(list_sum(list_transform(range(1, 17), i -> $c.cv[i] * $c.cv[i])) AS DOUBLE))"
    def assignSql(name: String, cents: String) = s"""
      $name AS (
        SELECT vec_id, cell FROM (
          SELECT v.vec_id, c.cell,
            ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
              CASE WHEN ${vn("v")} > 0 AND ${cn("c")} > 0
                   THEN round(CAST(${dot("v", "c")} AS DOUBLE) /
                     (${vn("v")} * ${cn("c")}), 6)
                   ELSE -2.0 END DESC, c.cell ASC) AS rn
          FROM ${p}q v CROSS JOIN $cents c)
        WHERE rn = 1)"""
    s"""${p}q AS (SELECT vec_id, q[$lo:$hi] AS q FROM q),
      ${p}seeds AS (
        SELECT CAST(vec_id AS INT) AS cell, q AS cv
        FROM ${p}q WHERE vec_id < 16),
      ${assignSql(s"${p}a1", s"${p}seeds")},
      ${p}c1_s AS (
        SELECT a.cell, i, CAST(SUM(v.q[i]) AS BIGINT) AS sv
        FROM ${p}q v JOIN ${p}a1 a USING (vec_id),
             (SELECT unnest(range(1, 17)) AS i) idx
        GROUP BY a.cell, i),
      ${p}c1_l AS (
        SELECT cell, list(sv ORDER BY i) AS cv FROM ${p}c1_s GROUP BY cell),
      ${p}c1 AS (
        SELECT s.cell, coalesce(l.cv, s.cv) AS cv
        FROM ${p}seeds s LEFT JOIN ${p}c1_l l USING (cell)),
      ${assignSql(s"${p}a2", s"${p}c1")}"""
  }

  /** Shared PQ trainer: per subspace j, the sliced quantized table
    * `ej`, the trained codebook (cell, cv — sum vectors after one
    * Lloyd iteration), and the final (vec_id, cell) assignment.
    * [[qPqCodes]] reads the assignments; [[qPqAdcTopK]] reads
    * assignments AND codebooks. */
  /** The argmax-assignment core shared by training, the code queries
    * and the streaming encoder: each (vec_id, q, qn) row of `ej` goes
    * to the codebook cell with the highest rounded cosine (ties to
    * the lowest cell; zero-norm pairings score −2.0 — see
    * [[qPqCodes]]). */
  private[graft] def pqAssignTo(ej: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cn = norm(col("cv"))
    val ccos = when(col("qn") > 0 && cn > 0,
      cosine(col("q"), col("cv"), col("qn"), cn))
      .otherwise(-2.0)
    ej.crossJoin(broadcast(cent))
      .select(col("vec_id"), ccos.as("ccos"), col("cell"))
      .groupBy(col("vec_id"))
      .agg(ArgMax2.of(col("ccos"), -col("cell")).as("m"))
      .select(col("vec_id"), (-col("m.tie")).cast("int").as("cell"))
  }

  /** Per-subspace sliced (vec_id, q, qn) views over a pre-built
    * [[quantCorpus]] frame (the family zero-norm filter is on the
    * FULL vector, exactly the quantCorpus contract). */
  private[graft] def pqSubvectorsOf(e: org.apache.spark.sql.DataFrame):
      Seq[org.apache.spark.sql.DataFrame] =
    (0 until 4).map { j =>
      e.select(col("vec_id"), slice(col("q"), j * 16 + 1, 16).as("q"))
        .withColumn("qn", norm(col("q")))
    }

  /** Per-subspace sliced (vec_id, q, qn) tables from raw embeddings —
    * the one quantize + slice recipe training and encoding share. */
  private[graft] def pqSubvectors(emb: org.apache.spark.sql.DataFrame):
      Seq[org.apache.spark.sql.DataFrame] =
    pqSubvectorsOf(quantCorpus(emb))

  /** The batched PQ codebook training over pre-sliced subspace
    * frames — returns the trained per-subspace models. Split from
    * [[pqTrainOn]] so a composing caller (sim_ivfpq_topk's derive)
    * can train and fold the code expressions into its own
    * projection. */
  private[graft] def pqTrainModels(ejs: Seq[org.apache.spark.sql.DataFrame])
      : Map[Int, CentModel] = {
    val k = 16
    // ONE j-keyed frame trains all 4 subspaces together (round 15):
    // the old per-subspace chains ran 4 × (seed collect + assign +
    // recenter + assign) with a driver barrier between each — 4
    // sequential job cascades over the same corpus checkpoint. Seeds
    // and the recenter are now one bounded collect + one batched
    // aggregate each, and assignments are literal-codebook map-side
    // expressions ([[bestCellExpr]]) — identical per-(j, cell)
    // arithmetic, so every code and codebook is bit-identical.
    val ejAll = ejs.zipWithIndex.map { case (ej, j) =>
      ej.select(lit(j).as("j"), col("vec_id"), col("q"), col("qn"))
    }.reduce(_ unionByName _)
    // per-subspace seed books: one ≤ 4k-row collect (the model-table
    // driver-budget class; the old path pinned the same rows)
    val seedRows = ejAll.filter(col("vec_id") < k)
      .select(col("j"), col("vec_id").cast("int").as("cell"), col("q"))
      .collect()
    val books: Map[Int, CentModel] = seedRows.groupBy(_.getInt(0)).map {
      case (j, rows) => j -> rows.map(r =>
        r.getInt(1) -> r.getSeq[Long](2).toVector).toSeq.sortBy(_._1)
    }
    pqRecenterBatch(ejAll, books)
  }

  /** The one batched (j, cell) PQ recenter over a j-keyed subspace
    * union — per (j, cell) elementwise sums as 16 long-sum columns,
    * ≤ 4k rows collected (the recenterRound shape, j-keyed). Split
    * from [[pqTrainModels]] (round 16) so the composed ivfpq trainer
    * can run it CONCURRENTLY with the first coarse Lloyd round. */
  private def pqRecenterBatch(ejAll: org.apache.spark.sql.DataFrame,
      books0: Map[Int, CentModel]): Map[Int, CentModel] = {
    var books = books0
    val trained = books.keySet.toSeq.sorted
    if (trained.nonEmpty) {
      val cellCol = trained.map(j =>
          j -> bestCellExpr(col("q"), col("qn"), books(j), guarded = true))
        .foldRight(lit(-1)) { case ((j, e), acc) =>
          when(col("j") === j, e).otherwise(acc) }
      val aggs = (1 to 16).map(i => sum(element_at(col("q"), i)).as(s"s$i"))
      val rows = ejAll.filter(col("j").isin(trained: _*))
        .select(col("j"), cellCol.as("cell"), col("q"))
        .groupBy(col("j"), col("cell"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      val sums = rows.map(r => (r.getInt(0), r.getInt(1)) ->
        (2 to 17).map(r.getLong).toVector).toMap
      books = books.map { case (j, cm) =>
        j -> cm.map { case (c, old) => c -> sums.getOrElse((j, c), old) }
      }
    }
    books
  }

  /** The composed coarse + PQ trainer for the fused ivfpq derive
    * (round 16, VERDICT r15 #3 — derive volatility): the sequential
    * composition paid 5 serialized driver barriers after the corpus
    * checkpoint (kmeans seed collect, 2 Lloyd recenters, PQ seed
    * collect, PQ recenter), and on a loaded box every barrier's
    * straggler tail serialized into the median. This trainer
    *  - collects BOTH seed sets in one ≤16-row job (the PQ seed
    *    subvectors are driver-side slices of the same quantized rows —
    *    `quant` and `slice` are both elementwise, so slicing after
    *    collect is bit-identical to collecting the sliced table), and
    *  - runs the first coarse Lloyd round CONCURRENTLY with the single
    *    batched PQ recenter (guide §2.6 — independent jobs: each needs
    *    only the seed models; the second Lloyd round is the only
    *    dependent step left).
    * 6 barriers → 4, two of them overlapped. Every aggregate and
    * assignment expression is the exact shared builder, so cells,
    * codes and books stay bit-identical to the parent queries'. */
  private[graft] def trainIvfPq(e: org.apache.spark.sql.DataFrame,
      ejs: Seq[org.apache.spark.sql.DataFrame])
      : (CentModel, Map[Int, CentModel]) = {
    val seeds = e.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cell"), col("q")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toVector)
    var cent: CentModel = seeds.filter(_._1 < 8).toSeq.sortBy(_._1)
    if (cent.isEmpty) return (cent, Map.empty)
    var books: Map[Int, CentModel] = (0 until 4).map { j =>
      j -> seeds.map { case (c, q) =>
        c -> q.slice(j * 16, j * 16 + 16) }.toSeq.sortBy(_._1)
    }.toMap
    val ejAll = ejs.zipWithIndex.map { case (ej, j) =>
      ej.select(lit(j).as("j"), col("vec_id"), col("q"), col("qn"))
    }.reduce(_ unionByName _)
    // a thread created by this call inherits the caller's Spark local
    // properties (job group, pool); a pooled thread keeps stale ones
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val km = pool.submit(() => recenterRound(e,
        bestCellExpr(col("q"), col("qn"), cent, guarded = false), cent, 64))
      books = pqRecenterBatch(ejAll, books)
      cent = km.get()
    } finally pool.shutdown()
    cent = recenterRound(e,
      bestCellExpr(col("q"), col("qn"), cent, guarded = false), cent, 64)
    (cent, books)
  }

  private[graft] def pqTrainOn(emb: org.apache.spark.sql.DataFrame):
      Seq[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val ejs = pqSubvectors(emb)
    val books = pqTrainModels(ejs)
    (0 until 4).map { j =>
      val cm = books.getOrElse(j, Seq.empty)
      val book = cm.map { case (c, cv) => (c, cv: Seq[Long]) }
        .toDF("cell", "cv")
      val assign =
        if (cm.isEmpty)
          ejs(j).filter(lit(false))
            .select(col("vec_id"), lit(0).cast("int").as("cell"))
        else ejs(j).select(col("vec_id"),
          bestCellExpr(col("q"), col("qn"), cm, guarded = true).as("cell"))
      (ejs(j), book, assign)
    }
  }

  private[graft] def pqTrain(s: org.apache.spark.sql.SparkSession, d: String):
      Seq[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)] =
    pqTrainOn(Tables.embeddings(s, d))

  /** The per-subspace (sliced vectors, codebook, assignment) triples,
    * preferring an attached persisted artifact set (`pq_books` — the
    * 4 × 16 trained sum-vectors — and `pq_codes` — the per-vector
    * 4-bit cells) and falling back to in-session [[pqTrain]]. The
    * sliced vector tables always derive locally (a cheap quantize +
    * slice off the corpus read the consumer makes anyway); only the
    * TRAINING is what the artifact buys out. */
  private[graft] def pqTrained(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)] = {
    val fromArtifacts = for {
      books <- graft.tools.Artifacts.lookup(s, d, "pq_books")
      codes <- graft.tools.Artifacts.lookup(s, d, "pq_codes")
    } yield {
      val ejs = pqSubvectors(Tables.embeddings(s, d))
      (0 until 4).map { j =>
        (ejs(j),
          books.filter(col("j") === j).select(col("cell"), col("cv")),
          codes.select(col("vec_id"), col(s"code_$j").as("cell")))
      }
    }
    fromArtifacts.getOrElse {
      indexDerivations.incrementAndGet()
      pqTrain(s, d)
    }
  }

  /** Code-table construction shared by the query and the artifact
    * materializer: 4 per-subspace assignments composed into the
    * (vec_id, code_0..3, packed) table. */
  private[graft] def pqCodesFrom(
      trained: Seq[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)])
      : org.apache.spark.sql.DataFrame = {
    val codes = trained.zipWithIndex.map { case ((_, _, a), j) =>
      a.withColumnRenamed("cell", s"code_$j")
    }
    codes.reduce(_.join(_, "vec_id"))
      .select(col("vec_id"), col("code_0"), col("code_1"), col("code_2"),
        col("code_3"),
        (col("code_0") + col("code_1") * 16 + col("code_2") * 256 +
          col("code_3") * 4096).as("packed"))
  }

  /** The (j, cell, cv) codebook union across subspaces — the other
    * half of the persistable index (always derived fresh here; the
    * materializer is the one caller). */
  private[graft] def pqBooksFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    pqTrain(s, d).zipWithIndex.map { case ((_, book, _), j) =>
      book.select(lit(j).as("j"), col("cell"), col("cv"))
    }.reduce(_ unionByName _)

  val qPqCodes = GraftQuery(
    "sim_pq_codes",
    (s, d) => pqCodesFrom(pqTrained(s, d)),
    Some {
      s"""
      WITH ${quantNormCte()},
      ${pqSubCtes(0)}, ${pqSubCtes(1)}, ${pqSubCtes(2)}, ${pqSubCtes(3)}
      SELECT q.vec_id,
        a0.cell AS code_0, a1.cell AS code_1,
        a2.cell AS code_2, a3.cell AS code_3,
        CAST(a0.cell + 16 * a1.cell + 256 * a2.cell + 4096 * a3.cell
          AS INT) AS packed
      FROM q
      JOIN s0a2 a0 ON a0.vec_id = q.vec_id
      JOIN s1a2 a1 ON a1.vec_id = q.vec_id
      JOIN s2a2 a2 ON a2.vec_id = q.vec_id
      JOIN s3a2 a3 ON a3.vec_id = q.vec_id"""
    })

  /** ADC top-k over the PQ codes — the payoff of [[qPqCodes]]: the
    * probe never touches a corpus vector, only the CODES. Each probe
    * precomputes a 16-entry lookup table per subspace (probe
    * subvector · codebook sum-vector, exact int64), the corpus scan
    * sums 4 table lookups per coded vector, and top-5 ranks on that
    * approximate score — the asymmetric-distance scan that makes a
    * billion-vector search read 2-byte codes instead of 256-byte
    * floats. Scores stay INTEGER end to end (raw dot against the
    * sum-vector codebooks — rank-equivalent per subspace to the
    * trained direction since the member count scales all cells'
    * dots... deliberately NOT normalized: no float enters the scan,
    * the tie-break is (score desc, id asc), and both engines rank
    * identical integers — within the headroom bound below).
    *
    * Integer-headroom bound (the q_graph_pagerank discipline): the
    * bounded top-k aggregate buffers scores as doubles, so ranking
    * is exact while |score| < 2^53. A score sums 4 LUT entries;
    * each is a 16-dim dot of quantized components (|q_i| ≤ 127)
    * against a codebook SUM-vector whose components grow with cell
    * membership m as ≈ m·127 — so |score| ≲ 4·16·127²·m ≈ 2^20·m,
    * leaving headroom to m ≈ 2^33 vectors per cell, far past any
    * real cell at the billion-vector scale this targets. Past that
    * (or with wider quantization), the escape hatch mirrors
    * pagerank's: rescale the codebook fixed point or swap in a
    * long-score TopKAggregate buffer. The oracle ranks native
    * BIGINTs, so a breach surfaces as a hash mismatch, not silent
    * drift.
    *
    * Scale shape: the LUT is probes × 16 × 4 rows — broadcast-sized
    * by construction, the whole point of ADC — joined to the exploded
    * (vec_id, subspace, cell) code table map-side; scoring is one
    * (probe, vec) hash-aggregate; ranking is the native bounded
    * top-k aggregate, parallelism following the corpus. The corpus-
    * sized input to all of it is the CODE table, not the vectors. */
  val qPqAdcTopK = GraftQuery(
    "sim_pq_adc_topk",
    (s, d) => {
      import s.implicits._
      val trained = pqTrained(s, d)
      val lut = trained.zipWithIndex.map { case ((ej, book, _), j) =>
        ej.filter($"vec_id" < 10)
          .select($"vec_id".as("p_id"), $"q")
          .crossJoin(broadcast(book))
          .select($"p_id", lit(j).as("j"), $"cell",
            quantizedDot($"q", $"cv").as("pd"))
      }.reduce(_ unionByName _)
      val cells = trained.zipWithIndex.map { case ((_, _, a), j) =>
        a.select($"vec_id", lit(j).as("j"), $"cell")
      }.reduce(_ unionByName _)
      cells.join(broadcast(lut), Seq("j", "cell"))
        .filter($"vec_id" =!= $"p_id") // self-match excluded pre-rank
        .groupBy($"p_id", $"vec_id")
        .agg(sum($"pd").as("score"))
        .groupBy($"p_id")
        .agg(TopKAggregate.of($"vec_id", $"score".cast("double"), 5).as("tk"))
        .select($"p_id", posexplode($"tk").as(Seq("pos", "e")))
        .select($"p_id", $"e.id".as("vec_id"),
          $"e.score".cast("long").as("adc_score"),
          ($"pos" + 1).cast("int").as("rk"))
    },
    Some {
      def probe(j: Int) = s"""
        lut$j AS (
          SELECT p.vec_id AS p_id, $j AS j, c.cell,
            CAST(list_sum(list_transform(range(1, 17),
              i -> p.q[i] * c.cv[i])) AS BIGINT) AS pd
          FROM s${j}q p CROSS JOIN s${j}c1 c
          WHERE p.vec_id < 10),
        cell$j AS (SELECT vec_id, $j AS j, cell FROM s${j}a2)"""
      s"""
      WITH ${quantNormCte()},
      ${pqSubCtes(0)}, ${pqSubCtes(1)}, ${pqSubCtes(2)}, ${pqSubCtes(3)},
      ${probe(0)}, ${probe(1)}, ${probe(2)}, ${probe(3)},
      luts AS (SELECT * FROM lut0 UNION ALL SELECT * FROM lut1
               UNION ALL SELECT * FROM lut2 UNION ALL SELECT * FROM lut3),
      cls AS (SELECT * FROM cell0 UNION ALL SELECT * FROM cell1
              UNION ALL SELECT * FROM cell2 UNION ALL SELECT * FROM cell3),
      scores AS (
        SELECT l.p_id, c.vec_id, CAST(SUM(l.pd) AS BIGINT) AS score
        FROM cls c JOIN luts l ON l.j = c.j AND l.cell = c.cell
        WHERE c.vec_id <> l.p_id
        GROUP BY 1, 2),
      ranked AS (
        SELECT p_id, vec_id, score,
          ROW_NUMBER() OVER (PARTITION BY p_id
            ORDER BY score DESC, vec_id ASC) AS rk
        FROM scores)
      SELECT p_id, vec_id, score AS adc_score, CAST(rk AS INT) AS rk
      FROM ranked WHERE rk <= 5"""
    })

  /** PQ distortion report — the third leg of the family (train →
    * code → search → HOW GOOD IS THE FIT): for every coded vector,
    * the rounded cosine between each subvector and its assigned
    * codebook direction, plus their sum as the one-number quality.
    * This is the report that justifies (or indicts) the codebook
    * budget — fit degrading on a new ingest slice is the retraining
    * signal for the [[graft.streaming.StreamingPq]] pipeline.
    *
    * Determinism: each fit is the same round(·, 6) exact-int cosine
    * the assignment itself ranked (zero-norm slices keep their −2.0
    * sentinel — visible in the report, not silently dropped); the sum
    * adds the SAME four doubles left-to-right on both engines, so no
    * float-order divergence exists to worry about.
    *
    * Scale shape: per subspace one broadcast codebook join onto the
    * assignment, then a 4-way id-keyed join — all corpus passes are
    * the ones training already made; the report itself is
    * assignment-sized. */
  val qPqFit = GraftQuery(
    "sim_pq_fit",
    (s, d) => {
      import s.implicits._
      val fits = pqTrained(s, d).zipWithIndex.map { case ((ej, book, a), j) =>
        val cn = norm($"cv")
        val fit = when($"qn" > 0 && cn > 0,
          cosine($"q", $"cv", $"qn", cn))
          .otherwise(-2.0)
        ej.join(a, "vec_id").join(broadcast(book), "cell")
          .select($"vec_id", fit.as(s"fit_$j"))
      }
      fits.reduce(_.join(_, "vec_id"))
        .select($"vec_id", $"fit_0", $"fit_1", $"fit_2", $"fit_3",
          ($"fit_0" + $"fit_1" + $"fit_2" + $"fit_3").as("fit_sum"))
    },
    Some {
      def fit(j: Int) = s"""
        fit$j AS (
          SELECT v.vec_id,
            CASE WHEN sqrt(CAST(list_sum(list_transform(range(1, 17),
                     i -> v.q[i] * v.q[i])) AS DOUBLE)) > 0
                  AND sqrt(CAST(list_sum(list_transform(range(1, 17),
                     i -> c.cv[i] * c.cv[i])) AS DOUBLE)) > 0
                 THEN round(
                   CAST(list_sum(list_transform(range(1, 17),
                     i -> v.q[i] * c.cv[i])) AS DOUBLE) /
                   (sqrt(CAST(list_sum(list_transform(range(1, 17),
                      i -> v.q[i] * v.q[i])) AS DOUBLE)) *
                    sqrt(CAST(list_sum(list_transform(range(1, 17),
                      i -> c.cv[i] * c.cv[i])) AS DOUBLE))), 6)
                 ELSE -2.0 END AS fit
          FROM s${j}q v
          JOIN s${j}a2 a USING (vec_id)
          JOIN s${j}c1 c ON c.cell = a.cell)"""
      s"""
      WITH ${quantNormCte()},
      ${pqSubCtes(0)}, ${pqSubCtes(1)}, ${pqSubCtes(2)}, ${pqSubCtes(3)},
      ${fit(0)}, ${fit(1)}, ${fit(2)}, ${fit(3)}
      SELECT f0.vec_id,
        f0.fit AS fit_0, f1.fit AS fit_1, f2.fit AS fit_2, f3.fit AS fit_3,
        f0.fit + f1.fit + f2.fit + f3.fit AS fit_sum
      FROM fit0 f0
      JOIN fit1 f1 ON f1.vec_id = f0.vec_id
      JOIN fit2 f2 ON f2.vec_id = f0.vec_id
      JOIN fit3 f3 ON f3.vec_id = f0.vec_id"""
    })

  /** IVF search over the TRAINED cells — train → assign → search as
    * one composed pipeline: [[kmeansAssign]]'s partition replaces the
    * borrowed label column of [[qIvfTopK]], probes (vec_id < 20)
    * search their own trained cell, ranking via the native top-k
    * aggregate. Same scale shape as sim_ivf_topk; the training cost
    * amortizes across every query that reuses the assignment (in
    * production the assignment is a persisted artifact — here it is
    * recomputed per run so the oracle can replay it end to end). */
  val qIvfTrainedTopK = GraftQuery(
    "sim_ivf_trained_topk",
    (s, d) => {
      import s.implicits._
      val e = signatures(Tables.embeddings(s, d), $"vec_id")
      val cells = e.join(sessionCoarseAssign(s, d), "vec_id")
        .select($"vec_id", $"q", $"qn", $"cell")
      val probes = cells.filter($"vec_id" < 20)
        .select($"vec_id".as("probe_id"), $"q".as("pq"),
          $"qn".as("pn"), $"cell".as("pcell"))
      val cos = cosine($"pq", $"q", $"pn", $"qn")
      cells.join(broadcast(probes),
          $"cell" === $"pcell" && $"vec_id" =!= $"probe_id")
        .select($"probe_id", $"vec_id", cos.as("cosine"))
        .groupBy($"probe_id")
        .agg(TopKAggregate.of($"vec_id", $"cosine", 5).as("tk"))
        .select($"probe_id", posexplode($"tk").as(Seq("pos", "e")))
        .select($"probe_id", $"e.id".as("vec_id"), $"e.score".as("cosine"),
          ($"pos" + 1).cast("int").as("rk"))
    },
    Some(s"""$kmeansCtes,
      cells AS (
        SELECT q.vec_id, q.q, a.cell FROM q JOIN a3 a USING (vec_id)),
      probes AS (
        SELECT vec_id AS probe_id, q AS pq, cell FROM cells
        WHERE vec_id < 20),
      sims AS (
        SELECT p.probe_id, c.vec_id,
          round(
            CAST(list_sum(list_transform(range(1, 65), i -> p.pq[i] * c.q[i])) AS DOUBLE) /
            (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> p.pq[i] * p.pq[i])) AS DOUBLE)) *
             sqrt(CAST(list_sum(list_transform(range(1, 65), i -> c.q[i] * c.q[i])) AS DOUBLE))), 6)
            AS cosine
        FROM probes p JOIN cells c ON c.cell = p.cell AND c.vec_id <> p.probe_id),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                     ORDER BY cosine DESC, vec_id ASC) AS rk
        FROM sims)
      SELECT probe_id, vec_id, cosine, rk FROM ranked WHERE rk <= 5"""))

  /** IVF-PQ search — the two scale pillars composed the way a
    * billion-vector index actually runs (the FAISS IVFPQ shape): the
    * TRAINED coarse quantizer ([[kmeansAssign]], 8 cells, 2 Lloyd
    * iterations) prunes the corpus to the probe's own cell, and
    * within that cell ranking is the compressed-domain ADC scan of
    * [[qPqAdcTopK]] — 4 LUT lookups per CODED vector, exact-integer
    * scores, never a corpus float. Neither ingredient is new; the
    * composition is the point: candidate volume divides by the cell
    * count AND per-candidate cost drops to 2-byte codes, which is
    * the only combination that holds at 10⁹ vectors.
    *
    * Determinism: coarse assignment and PQ codes are the exact same
    * deterministic artifacts their parent queries green-light; the
    * ADC score inherits [[qPqAdcTopK]]'s integer-headroom bound
    * (|score| < 2^53 to m ≈ 2^33 members/cell — see that scaladoc).
    *
    * Scale shape: the probe sidecar (LUTs ⋈ probe coarse cell —
    * probes × 64 rows) broadcasts onto the exploded code table; the
    * coarse filter is one broadcast-joined equality BEFORE the score
    * aggregate, so the (probe, vec) hash-aggregate only ever sees
    * candidates from matching cells; ranking is the native bounded
    * top-k. Corpus-sized inputs: the code table and the coarse
    * assignment — both artifacts a production index persists. */
  val qIvfPqTopK = GraftQuery(
    "sim_ivfpq_topk",
    (s, d) => {
      import s.implicits._
      // the common (probe-side + score + rank) tail over a
      // (vec_id, cell, j, pq_cell) corpus stream — shared by the
      // attached and fused-derive heads below
      def searchTail(codesCoarse: org.apache.spark.sql.DataFrame,
          lut: org.apache.spark.sql.DataFrame,
          probeCoarse: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        val probeSide = lut.join(probeCoarse, "p_id")
          .select($"p_id", $"j".as("pj"), $"pq_cell".as("ppq_cell"),
            $"pd", $"pcoarse")
        codesCoarse
          .join(broadcast(probeSide),
            $"j" === $"pj" && $"pq_cell" === $"ppq_cell" &&
              $"cell" === $"pcoarse" && $"vec_id" =!= $"p_id")
          .groupBy($"p_id", $"vec_id")
          .agg(sum($"pd").as("score"))
          .groupBy($"p_id")
          .agg(TopKAggregate.of($"vec_id", $"score".cast("double"), 5).as("tk"))
          .select($"p_id", posexplode($"tk").as(Seq("pos", "e")))
          .select($"p_id", $"e.id".as("vec_id"),
            $"e.score".cast("long").as("adc_score"),
            ($"pos" + 1).cast("int").as("rk"))
      }
      // ANY attached artifact routes through the composed path, whose
      // components each fall back to training just their own model
      // (sessionCoarseAssign / pqTrained) — a partial attach (e.g.
      // only kmeans_cells) must not silently retrain EVERYTHING via
      // the fused derive below (ADVICE r15: the all-or-nothing gate
      // ignored attached artifacts and bumped indexDerivations).
      // Results are identical either way: training is deterministic.
      val artifactBacked =
        graft.tools.Artifacts.lookup(s, d, "kmeans_cells").isDefined ||
          graft.tools.Artifacts.lookup(s, d, "pq_books").isDefined ||
          graft.tools.Artifacts.lookup(s, d, "pq_codes").isDefined
      if (artifactBacked) {
        // attached read path (the production shape): coarse cells and
        // codes come from the persisted index tables; composing them
        // is the two-table join a deployed index pays
        val coarse = sessionCoarseAssign(s, d)
        val trained = pqTrained(s, d)
        val lut = trained.zipWithIndex.map { case ((ej, book, _), j) =>
          ej.filter($"vec_id" < 10)
            .select($"vec_id".as("p_id"), $"q")
            .crossJoin(broadcast(book))
            .select($"p_id", lit(j).as("j"), $"cell".as("pq_cell"),
              quantizedDot($"q", $"cv").as("pd"))
        }.reduce(_ unionByName _)
        val probeCoarse = coarse.filter($"vec_id" < 10)
          .select($"vec_id".as("p_id"), $"cell".as("pcoarse"))
        val codes = trained.zipWithIndex.map { case ((_, _, a), j) =>
          a.select($"vec_id", lit(j).as("j"), $"cell".as("pq_cell"))
        }.reduce(_ unionByName _)
        searchTail(codes.join(coarse, "vec_id"), lut, probeCoarse)
      } else {
        // fused derive (round 15): the coarse cell and the PQ codes
        // are literal-model map-side expressions over the SAME
        // quantized row, so they ride ONE shared corpus checkpoint —
        // the old composition materialized the quantized corpus twice
        // (k-means' and PQ's identical checkpoints) and paid a
        // V-scale SMJ to re-join its own two projections on vec_id
        // (guide §2.4: remove shuffles outright; the join had nothing
        // to reconcile). Training, expressions and arithmetic are the
        // exact shared builders, so every cell/code is bit-identical
        // to the parent queries'.
        indexDerivations.incrementAndGet()
        val e = quantCorpus(Tables.embeddings(s, d))
        // batched + overlapped trainer (round 16): one shared seed
        // collect, first Lloyd round concurrent with the PQ recenter —
        // see trainIvfPq; models bit-identical to the sequential
        // kmeansTrainOn + pqTrainModels composition
        val ejs = pqSubvectorsOf(e)
        val (cent, books) = trainIvfPq(e, ejs)
        if (cent.isEmpty)
          // no seed vectors: the composed form's coarse side is empty,
          // so the search result is too (schema preserved)
          e.filter(lit(false)).select($"vec_id".as("p_id"), $"vec_id",
            lit(0L).as("adc_score"), lit(0).cast("int").as("rk"))
        else {
          // One (vec_id, cell, j, pq_cell) branch per subspace, each a
          // map-side projection over the shared checkpoint. The coarse
          // cell is recomputed per branch (3 extra evaluations of a
          // codegen'd literal-model expression) instead of computed
          // once and fused or re-attached, because both alternatives
          // measured worse: a single fused projection of cell + all 4
          // codes makes the consuming stage's generated aggregate
          // method exceed janino's 64 KB limit — codegen compilation
          // fails and the WHOLE stage (broadcast join + partial agg
          // included) runs interpreted, +29% at sf0.1 — and a vec_id
          // re-join of two separate projections is exactly the
          // V-scale SMJ this restructure removes. Union children
          // codegen as separate stages, so each branch stays far
          // under the method limit (guide §1.2 per-task work: keep
          // the hot path inside whole-stage codegen).
          // Projection barriers keep each slice / norm computed once
          // (CollapseProject keeps a non-cheap alias referenced more
          // than once — the t_corpus_yield lesson).
          val codesCoarse = (0 until 4).map { j =>
            val sliced = e.select($"vec_id", $"q", $"qn",
              slice($"q", j * 16 + 1, 16).as("qj"))
            val normed = sliced.select($"vec_id", $"q", $"qn", $"qj",
              norm($"qj").as("qnj"))
            normed.select($"vec_id",
              bestCellExpr($"q", $"qn", cent, guarded = false).as("cell"),
              lit(j).as("j"),
              bestCellExpr($"qj", $"qnj", books(j), guarded = true)
                .as("pq_cell"))
          }.reduce(_ unionByName _)
          val lut = (0 until 4).map { j =>
            val book = books(j).map { case (c, cv) => (c, cv: Seq[Long]) }
              .toDF("cell", "cv")
            ejs(j).filter($"vec_id" < 10)
              .select($"vec_id".as("p_id"), $"q")
              .crossJoin(broadcast(book))
              .select($"p_id", lit(j).as("j"), $"cell".as("pq_cell"),
                quantizedDot($"q", $"cv").as("pd"))
          }.reduce(_ unionByName _)
          val probeCoarse = e.filter($"vec_id" < 10)
            .select($"vec_id".as("p_id"),
              bestCellExpr($"q", $"qn", cent, guarded = false).as("pcoarse"))
          searchTail(codesCoarse, lut, probeCoarse)
        }
      }
    },
    Some {
      def probe(j: Int) = s"""
        lut$j AS (
          SELECT p.vec_id AS p_id, $j AS j, c.cell,
            CAST(list_sum(list_transform(range(1, 17),
              i -> p.q[i] * c.cv[i])) AS BIGINT) AS pd
          FROM s${j}q p CROSS JOIN s${j}c1 c
          WHERE p.vec_id < 10),
        cell$j AS (SELECT vec_id, $j AS j, cell FROM s${j}a2)"""
      s"""$kmeansCtes,
      ${pqSubCtes(0)}, ${pqSubCtes(1)}, ${pqSubCtes(2)}, ${pqSubCtes(3)},
      ${probe(0)}, ${probe(1)}, ${probe(2)}, ${probe(3)},
      luts AS (SELECT * FROM lut0 UNION ALL SELECT * FROM lut1
               UNION ALL SELECT * FROM lut2 UNION ALL SELECT * FROM lut3),
      cls AS (SELECT * FROM cell0 UNION ALL SELECT * FROM cell1
              UNION ALL SELECT * FROM cell2 UNION ALL SELECT * FROM cell3),
      pc AS (SELECT vec_id AS p_id, cell AS pcoarse FROM a3 WHERE vec_id < 10),
      scores AS (
        SELECT l.p_id, c.vec_id, CAST(SUM(l.pd) AS BIGINT) AS score
        FROM cls c
        JOIN luts l ON l.j = c.j AND l.cell = c.cell
        JOIN a3 cc ON cc.vec_id = c.vec_id
        JOIN pc ON pc.p_id = l.p_id AND pc.pcoarse = cc.cell
        WHERE c.vec_id <> l.p_id
        GROUP BY 1, 2),
      ranked AS (
        SELECT p_id, vec_id, score,
          ROW_NUMBER() OVER (PARTITION BY p_id
            ORDER BY score DESC, vec_id ASC) AS rk
        FROM scores)
      SELECT p_id, vec_id, score AS adc_score, CAST(rk AS INT) AS rk
      FROM ranked WHERE rk <= 5"""
    },
    bench = true)

  /** Embedding outlier screen — the curation filter SemDeDup's
    * sibling papers run before training (mislabeled / off-manifold
    * vectors): every vector scored by its rounded cosine to its OWN
    * label's centroid direction, flagged when it falls below θ = 0.2.
    * The centroid is the exact integer SUM vector (the member count
    * divides out of cosine — [[qIvfTopK]]'s trick), so no float
    * centroid exists and the flag boundary is the same rounded double
    * on both engines.
    *
    * Scale shape: one posexplode aggregate keyed on (label, pos)
    * builds the bounded centroid table; scoring is a broadcast join +
    * map-side expression over the corpus — no shuffle of the vector
    * table at all. Corpus-sized output is the point: this is the
    * per-row verdict column a keep-list consumes. */
  val qCentroidOutliers = GraftQuery(
    "sim_centroid_outliers",
    (s, d) => {
      import s.implicits._
      val e = signatures(Tables.embeddings(s, d), $"vec_id", $"label")
      val cent = centroids(e, $"label")
      val ccos = cosine($"q", $"cv", $"qn", $"cn")
      e.join(broadcast(cent), "label")
        .select($"vec_id", $"label", ccos.as("centroid_cos"),
          (ccos < 0.2).as("is_outlier"))
    },
    Some(s"""
      WITH ${quantNormCte(", label")},
      cent AS (
        SELECT label, list(sv ORDER BY i) AS cv FROM (
          SELECT label, i, CAST(SUM(q[i]) AS BIGINT) AS sv
          FROM q, (SELECT unnest(range(1, 65)) AS i) idx
          GROUP BY label, i)
        GROUP BY label)
      SELECT q.vec_id, q.label,
        round(
          CAST(list_sum(list_transform(range(1, 65), i -> q.q[i] * c.cv[i])) AS DOUBLE) /
          (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> q.q[i] * q.q[i])) AS DOUBLE)) *
           sqrt(CAST(list_sum(list_transform(range(1, 65), i -> c.cv[i] * c.cv[i])) AS DOUBLE))), 6)
          AS centroid_cos,
        round(
          CAST(list_sum(list_transform(range(1, 65), i -> q.q[i] * c.cv[i])) AS DOUBLE) /
          (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> q.q[i] * q.q[i])) AS DOUBLE)) *
           sqrt(CAST(list_sum(list_transform(range(1, 65), i -> c.cv[i] * c.cv[i])) AS DOUBLE))), 6)
          < 0.2 AS is_outlier
      FROM q JOIN cent c ON c.label = q.label"""))

  /** Cluster-quality report over the trained coarse cells — the
    * one-page answer to "is this index partitioning worth probing":
    * per cell, the mean cosine of members to their OWN cell centroid
    * (cohesion) vs the best cosine to any OTHER cell centroid
    * (separation), silhouette-style. `is_separated` = cohesion beats
    * the nearest-neighbor centroid — cells failing it are merge/
    * retrain candidates and multiprobe targets.
    *
    * Centroids here are derived FROM the final assignment (exact
    * integer sum-vectors of each cell's members), so the report works
    * identically off the persisted (vec_id, cell) artifact — no
    * training internals needed, and it measures the clusters as they
    * will actually be probed. All cosines land in micro units via
    * floor(cos·10⁶ + 0.5) on bit-identical doubles (exact int64
    * operands on both engines); the mean uses the +10⁶ shift so floor
    * division never sees a negative numerator (truncate-vs-floor
    * would diverge there). Integer headroom: |centroid|² ≤
    * 64·(n_cell·10⁴)² < 2⁶³ holds to ~3.8·10⁷ vectors per cell —
    * past that, rescale the sum-vector (cosine is scale-invariant,
    * same escape hatch as q_graph_pagerank).
    *
    * Scale shape: one id-keyed join to attach cells, one posexplode
    * aggregate for the k bounded centroids (broadcast everywhere
    * after), a map-side cosine + per-cell rollup; the centroid
    * pairwise table is k², driver-trivial. Nothing global. */
  val qClusterQuality = GraftQuery(
    "sim_cluster_quality",
    (s, d) => {
      import s.implicits._
      val e = signatures(Tables.embeddings(s, d), $"vec_id")
      val ea = e.join(sessionCoarseAssign(s, d), "vec_id")
        .localCheckpoint(true) // centroid sums + intra scoring read it
      val cent = centroids(ea, $"cell")
        .localCheckpoint(true) // intra join + the pairwise table
      val cmicro = floor(
        quantizedDot($"q", $"cv").cast("double") / ($"qn" * $"cn") * 1e6 + 0.5)
        .cast("long")
      val intra = ea.join(broadcast(cent), "cell")
        .groupBy($"cell")
        .agg(count(lit(1)).as("n_vectors"), sum(cmicro).as("csum"))
      val pmicro = floor(
        quantizedDot($"cv", $"ocv").cast("double") / ($"cn" * $"ocn") * 1e6 + 0.5)
        .cast("long")
      val nn = cent.select($"cell", $"cv", $"cn")
        .crossJoin(broadcast(cent.select($"cell".as("ocell"),
          $"cv".as("ocv"), $"cn".as("ocn"))))
        .where($"cell" =!= $"ocell")
        .select($"cell", $"ocell", pmicro.as("pmicro"))
        .groupBy($"cell")
        .agg(ArgMax2.of($"pmicro", -$"ocell").as("m"))
        .select($"cell", (-$"m.tie").cast("int").as("nn_cell"),
          $"m.ord".as("nn_cos_micro"))
      intra.join(nn, "cell")
        .select($"cell", $"n_vectors",
          expr("(csum + n_vectors * 1000000) div n_vectors - 1000000")
            .as("mean_intra_micro"),
          $"nn_cell", $"nn_cos_micro",
          (expr("(csum + n_vectors * 1000000) div n_vectors - 1000000") >
            $"nn_cos_micro").as("is_separated"))
    },
    Some(s"""$kmeansCtes,
      c3s AS (
        SELECT a.cell, i, CAST(SUM(q.q[i]) AS BIGINT) AS sv
        FROM q JOIN a3 a USING (vec_id),
             (SELECT unnest(range(1, 65)) AS i) idx
        GROUP BY a.cell, i),
      c3 AS MATERIALIZED (
        SELECT cell, list(sv ORDER BY i) AS cv FROM c3s GROUP BY cell),
      intra AS (
        SELECT a.cell,
          CAST(floor(
            CAST(list_sum(list_transform(range(1, 65), i -> q.q[i] * c.cv[i])) AS DOUBLE) /
            (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> q.q[i] * q.q[i])) AS DOUBLE)) *
             sqrt(CAST(list_sum(list_transform(range(1, 65), i -> c.cv[i] * c.cv[i])) AS DOUBLE)))
            * 1e6 + 0.5) AS BIGINT) AS cmicro
        FROM q JOIN a3 a USING (vec_id) JOIN c3 c ON c.cell = a.cell),
      agg AS (
        SELECT cell, COUNT(*) AS n_vectors,
          CAST(SUM(cmicro) AS BIGINT) AS csum
        FROM intra GROUP BY cell),
      p AS (
        SELECT a.cell, b.cell AS ocell,
          CAST(floor(
            CAST(list_sum(list_transform(range(1, 65), i -> a.cv[i] * b.cv[i])) AS DOUBLE) /
            (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> a.cv[i] * a.cv[i])) AS DOUBLE)) *
             sqrt(CAST(list_sum(list_transform(range(1, 65), i -> b.cv[i] * b.cv[i])) AS DOUBLE)))
            * 1e6 + 0.5) AS BIGINT) AS pmicro
        FROM c3 a JOIN c3 b ON a.cell <> b.cell),
      nn AS (
        SELECT cell, ocell, pmicro FROM (
          SELECT cell, ocell, pmicro,
            ROW_NUMBER() OVER (PARTITION BY cell
              ORDER BY pmicro DESC, ocell ASC) AS rn
          FROM p)
        WHERE rn = 1)
      SELECT agg.cell, agg.n_vectors,
        CAST((agg.csum + agg.n_vectors * 1000000) // agg.n_vectors
          - 1000000 AS BIGINT) AS mean_intra_micro,
        nn.ocell AS nn_cell, nn.pmicro AS nn_cos_micro,
        ((agg.csum + agg.n_vectors * 1000000) // agg.n_vectors - 1000000)
          > nn.pmicro AS is_separated
      FROM agg JOIN nn USING (cell)"""))

  /** Hard-negative mining — the contrastive-training staple: for each
    * vector, the most-similar vector carrying a DIFFERENT label (the
    * "hard" negative a triplet/InfoNCE loss wants, versus the easy
    * random negative). Candidates come from the same 2-table×8-bit
    * LSH banding as sim_knn_graph — a hard negative is by definition
    * nearby, exactly the regime the sign-hyperplane buckets recall —
    * so the oracle's candidate CTE replays the identical construction
    * and the hash gate re-proves the pipeline end to end. Output: one
    * row per anchor that has at least one cross-label candidate, with
    * the negative's id, both labels, and the exact-integer cosine.
    *
    * Scale shape: identical to sim_knn_graph (capped banded buckets,
    * vocabulary-keyed label joins, bounded top-k hash-aggregate — no
    * window over the corpus); the label filter only SHRINKS the
    * candidate set, and the final top-1 carries ≤ 1 row per anchor
    * into the two label re-joins. */
  val qHardNegatives = GraftQuery(
    "sim_hard_negatives",
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val sig = signatures(e, $"vec_id")
        .localCheckpoint(true) // feeds buckets AND both cosine sides
      val lab = e.select($"vec_id", $"label")
      val crossLabel = Dedup.annCandidatePairs(sig, tables = 2, bits = 8, cap = 128)
        .join(lab.select($"vec_id".as("a_id"), $"label".as("a_label")), "a_id")
        .join(lab.select($"vec_id".as("b_id"), $"label".as("b_label")), "b_id")
        .filter($"a_label" =!= $"b_label")
      pairCosine(crossLabel, sig)
        .groupBy($"a_id")
        .agg(TopKAggregate.of($"b_id", $"cosine", 1).as("tk"))
        .select($"a_id", $"tk".getItem(0).getField("id").as("hard_neg"),
          $"tk".getItem(0).getField("score").as("cosine"))
        .join(lab.select($"vec_id".as("a_id"), $"label"), "a_id")
        .join(lab.select($"vec_id".as("hard_neg"), $"label".as("neg_label")),
          "hard_neg")
        .select($"a_id".as("vec_id"), $"label", $"hard_neg", $"neg_label",
          $"cosine")
    },
    Some(s"""${Dedup.annRankedCtes(tables = 2, cap = 128)},
      lab AS (SELECT vec_id, label FROM embeddings),
      xl AS (
        SELECT s.a_id, la.label AS label, s.b_id, lb.label AS neg_label,
          s.cosine
        FROM scored s
        JOIN lab la ON la.vec_id = s.a_id
        JOIN lab lb ON lb.vec_id = s.b_id
        WHERE la.label <> lb.label),
      hr AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
          ORDER BY cosine DESC, b_id ASC) AS hrk
        FROM xl)
      SELECT a_id AS vec_id, label, b_id AS hard_neg, neg_label, cosine
      FROM hr WHERE hrk = 1"""))

  /** Leave-one-out k-NN evaluation — the standard embedding-quality
    * probe: each vector is classified by majority vote of its k=3
    * nearest neighbors' labels (itself excluded — the candidate pairs
    * never contain self-pairs), and the output is the confusion
    * matrix (true label, predicted label, count), ≤ |labels|² rows.
    * The per-class diagonal/off-diagonal read directly gives recall
    * and the dominant confusions — the report an embedding-model
    * retrain is judged by. Vote ties break to the SMALLEST label
    * (spelled identically in both engines).
    *
    * Scale shape: rides sim_knn_graph's candidate machinery (banded
    * buckets, bounded top-k — see its scaladoc); the vote is a
    * (vec_id, label) hash-aggregate over ≤ 3 rows per anchor, the
    * argmax a max(struct) aggregate (never a window), and the final
    * confusion rollup lands on a |labels|²-bounded key space. */
  val qKnnEval = GraftQuery(
    "sim_knn_eval",
    (s, d) => {
      import s.implicits._
      val lab = Tables.embeddings(s, d).select($"vec_id", $"label")
      val votes = qKnnGraph.run(s, d)
        .join(lab.select($"vec_id".as("neighbor"), $"label".as("nl")),
          "neighbor")
        .groupBy($"vec_id", $"nl")
        .agg(count(lit(1)).as("votes"))
      votes.groupBy($"vec_id")
        .agg(ArgMax2.of($"votes", -$"nl").as("m"))
        .select($"vec_id", (-$"m.tie").cast("int").as("predicted"))
        .join(lab, "vec_id")
        .groupBy($"label", $"predicted")
        .agg(count(lit(1)).as("n"))
    },
    Some(s"""${Dedup.annRankedCtes(tables = 2, cap = 128)},
      knn AS (SELECT a_id, b_id FROM ranked WHERE rk <= 3),
      votes AS (
        SELECT k.a_id, lb.label AS nl, COUNT(*) AS votes
        FROM knn k JOIN embeddings lb ON lb.vec_id = k.b_id
        GROUP BY 1, 2),
      pred AS (
        SELECT a_id, nl AS predicted,
          ROW_NUMBER() OVER (PARTITION BY a_id
            ORDER BY votes DESC, nl ASC) AS prk
        FROM votes)
      SELECT la.label, p.predicted, COUNT(*) AS n
      FROM pred p JOIN embeddings la ON la.vec_id = p.a_id
      WHERE p.prk = 1
      GROUP BY 1, 2"""))

  /** Feature Gram matrix — the second-moment table every
    * PCA/whitening/low-rank step starts from: S[i][j] = Σ_v v_i·v_j
    * over the whole corpus, on the quantized integer vectors so the
    * 64×64 output is EXACT on both engines (the float covariance it
    * feeds is derived downstream, outside the hash gate — same
    * discipline as the integer sum-vector centroids). Row count is
    * dim², fixed at any corpus size.
    *
    * Integer headroom: |v_i| ≤ 10⁴·max|x| ≈ 10⁴, so each product is
    * ≤ 10⁸ and the sum stays exact to ~9·10¹⁰ vectors — past any
    * embedding corpus; rescale the quantization step beyond that
    * (the q_graph_pagerank documentation discipline).
    *
    * Scale shape: the double posexplode is pure map-side fan-out
    * (×dim² CPU, zero extra I/O), and the one shuffle carries only
    * dim² partial sums per partition thanks to map-side combine —
    * the aggregate key space IS the output. No join, nothing
    * collected, nothing corpus-sized ever crosses the wire. */
  /** The exact-integer Gram frame (i, j, s_ij) shared by
    * sim_gram_matrix and the power-iteration consumer. */
  private def gramFrame(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d).select(quantize($"embedding").as("q"))
      .select($"q", posexplode($"q").as(Seq("i0", "vi")))
      .select($"vi", ($"i0" + 1).cast("long").as("i"),
        posexplode($"q").as(Seq("j0", "vj")))
      .select($"i", ($"j0" + 1).cast("long").as("j"),
        ($"vi" * $"vj").as("p"))
      .groupBy($"i", $"j").agg(sum($"p").as("s_ij"))
  }

  val qGramMatrix = GraftQuery(
    "sim_gram_matrix",
    (s, d) => gramFrame(s, d),
    Some(s"""
      WITH q AS (SELECT ${quantSql.format("embedding")} AS q
                 FROM embeddings)
      SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        CAST(SUM(q[i] * q[j]) AS BIGINT) AS s_ij
      FROM q, range(1, 65) t1(i), range(1, 65) t2(j)
      GROUP BY 1, 2"""))

  /** Round budget of the power iteration — sized against the
    * synthetic corpus's nearly-flat spectrum (λ₂/λ₁ ≈ 0.93 at
    * sf0.001, 0.98 at sf0.01 — measured Rayleigh capture: 0.978 at
    * 24 rounds, ≥ 0.9998 at 96 on both fixtures), where direction
    * convergence is slow by nature; rounds are driver-local Long
    * arithmetic on a 64-vector, so the budget is effectively free; the Rayleigh gate in GramMatrixSpec is the numerical
    * contract, the oracle hash the exactness one. */
  private val PowerRounds = 96

  /** Dominant principal direction by fixed-point power iteration over
    * the exact integer Gram matrix — the first component every
    * PCA / whitening / all-but-the-top embedding-postprocessing step
    * needs.
    *
    * Execution shape is Spark's own: `RowMatrix
    * .computePrincipalComponents` collects the Gramian and runs the
    * eigen-step LOCALLY, because the corpus-sized work is the Gram
    * pass (distributed, shared with sim_gram_matrix) while the
    * eigen-iteration is dim²-bounded — 4096 longs here, the same
    * driver-artifact class as the broadcast PQ codebooks or the BPE
    * merge table, at ANY corpus size. The local loop runs
    * [[PowerRounds]] multiply-renormalize rounds from the all-ones
    * start in pure Long arithmetic with DIV-FIRST normalization
    * (`v / max(max|v| / 10⁶, 1)` — divide the scale down BEFORE
    * multiplying; `v·10⁶ / max|v|` would overflow at 10²⁰), and the
    * oracle unrolls the identical rounds in SQL — truncation toward
    * zero agrees between Java `/`, Spark `div`, and DuckDB `//`
    * (verified on negative operands), so the hash gate is exact.
    *
    * Numerical contract: on a near-degenerate spectrum the top
    * DIRECTION is ill-conditioned (any λ₁-tier mixture is equally
    * valid for whitening/ABTT), so the spec gates the RAYLEIGH
    * QUOTIENT — the fixed-point result must capture ≥ 0.98 of the
    * maximal variance a fully-converged double-precision iteration
    * reaches — which is stable under near-ties where an alignment
    * gate would be noise. */
  val qTopComponent = GraftQuery(
    "sim_top_component",
    (s, d) => {
      import s.implicits._
      val dim = 64
      val gmat = Array.ofDim[Long](dim, dim)
      gramFrame(s, d).collect().foreach(r =>
        gmat(r.getLong(0).toInt - 1)(r.getLong(1).toInt - 1) = r.getLong(2))
      val sMax = math.max(1L, gmat.map(_.map(math.abs).max).max)
      val gDen = math.max(sMax / 1000000L, 1L)
      val g = gmat.map(_.map(_ / gDen))
      var x = Array.fill(dim)(1000000L)
      for (_ <- 1 to PowerRounds) {
        val y = Array.tabulate(dim)(i =>
          (0 until dim).map(j => g(i)(j) * x(j)).sum)
        val yDen = math.max(y.map(math.abs).max / 1000000L, 1L)
        x = y.map(_ / yDen)
      }
      x.zipWithIndex
        .map { case (v, i) => ((i + 1).toLong, v) }.toSeq
        .toDF("dim", "component_fp")
    },
    Some {
      val round = (r: Int) => s"""
        y$r AS MATERIALIZED (
          SELECT i, CAST(SUM(g_fp * x) AS BIGINT) AS y
          FROM gn JOIN x${r - 1} USING (j) GROUP BY 1),
        x$r AS MATERIALIZED (
          SELECT i AS j, y // GREATEST(
            (SELECT MAX(ABS(y)) FROM y$r) // 1000000, 1) AS x
          FROM y$r)"""
      s"""
      WITH q AS MATERIALIZED (
        SELECT ${quantSql.format("embedding")} AS q FROM embeddings),
      g AS MATERIALIZED (
        SELECT i, j, CAST(SUM(q[i] * q[j]) AS BIGINT) AS s_ij
        FROM q, range(1, 65) t1(i), range(1, 65) t2(j) GROUP BY 1, 2),
      gm AS MATERIALIZED (
        SELECT GREATEST(MAX(ABS(s_ij)), 1) AS s_max FROM g),
      gn AS MATERIALIZED (
        SELECT i, j, s_ij // GREATEST(s_max // 1000000, 1) AS g_fp
        FROM g, gm),
      x0 AS MATERIALIZED (
        SELECT DISTINCT j, CAST(1000000 AS BIGINT) AS x FROM gn),
      ${(1 to PowerRounds).map(round).mkString(", ")}
      SELECT CAST(j AS BIGINT) AS dim, CAST(x AS BIGINT) AS component_fp
      FROM x$PowerRounds"""
    })

  val all: Seq[GraftQuery] =
    Seq(qCosineTopK, qLshBuckets, qLabelCentroids, qIvfTopK,
      qIvfMultiprobe, qKnnGraph, qKmeansCells, qIvfTrainedTopK,
      qPqCodes, qPqAdcTopK, qPqFit, qIvfPqTopK, qCentroidOutliers,
      qClusterQuality, qHardNegatives, qKnnEval, qGramMatrix,
      qTopComponent)
}
