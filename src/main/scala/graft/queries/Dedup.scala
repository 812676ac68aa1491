package graft.queries

import graft.{GraftQuery, Tables}
import graft.functions.VectorExpressions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tools.{Artifacts, Checkpoints, SessionCache}
import graft.tools.Checkpoints.SerCheckpoint
import org.apache.spark.sql.graft.ArgMax2

/** Deduplication operators over `documents` — the core of a
  * training-data pipeline. Four families (SURVEY extension surface):
  * exact (hash groupBy), MinHash signatures + LSH banding
  * (shingle → minhash → band → bucket join), SimHash (in
  * TextAnalysis.qFingerprint), and n-gram Jaccard.
  *
  * Scale notes: exact dedup is one hash-aggregate shuffle on the
  * fingerprint. MinHash signatures are per-row expressions (NO
  * shuffle, no explode — array_min over a transform). LSH candidate
  * generation shuffles once on (band, bucket) — the whole point is
  * that the quadratic pair space is never materialized, only
  * same-bucket pairs.
  */
object Dedup {

  import org.apache.spark.sql.graft.ShingleMinHash
  private val P = ShingleMinHash.P

  /** Signature in ONE native per-row expression
    * ([[org.apache.spark.sql.graft.ShingleMinHash]]): tokens →
    * shingle rolling hashes → all 8 permutation minima in a single
    * codegen'd loop. Pure scan+map — no explode, no groupBy shuffle,
    * no per-shingle string or md5. (History: the explode+groupBy
    * formulation this replaces ran 7.2s at sf0.1; the naive
    * 8×array_min(transform(...)) one before it, 67s.) The 8 getItem
    * projections collapse to one evaluation via codegen
    * subexpression elimination. */
  private def withSignature(df: DataFrame): DataFrame = {
    val sig = ShingleMinHash.of(col("text"))
    df.select(col("doc_id") +:
      (0 until 8).map(i => sig.getItem(i).as(s"mh$i")): _*)
  }

  private val shinglesSql =
    """CASE WHEN length(toks) >= 3
         THEN list_distinct(list_transform(range(1, length(toks) - 1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         ELSE [array_to_string(toks, ' ')] END"""

  /** Oracle twin of [[org.apache.spark.sql.graft.ShingleMinHash]]'s
    * rolling hash: fold unicode codepoints through
    * (acc·M + cp) mod P from seed 7, in pure integer SQL. */
  private val polyHashSql =
    s"""list_reduce(list_concat([CAST(${ShingleMinHash.Seed} AS BIGINT)],
       list_transform(range(1, length(v) + 1), i -> CAST(unicode(v[i]) AS BIGINT))),
       (acc, c) -> (acc * ${ShingleMinHash.M} + c) % $P)"""

  private def minhashSql(i: Int): String = {
    val (a, b) = (ShingleMinHash.A(i), ShingleMinHash.B(i))
    s"""list_min(list_transform(sh, v -> ($polyHashSql * $a + $b) % $P))"""
  }

  private[queries] val sigCte =
    s"""WITH t AS (
         SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS toks
         FROM documents),
       s AS (SELECT doc_id, source, $shinglesSql AS sh FROM t),
       sig AS (SELECT doc_id, source,
         ${(0 until 8).map(i => s"${minhashSql(i)} AS mh$i").mkString(", ")}
       FROM s)"""

  private[queries] val bandsCte =
    """bands AS MATERIALIZED (
        SELECT doc_id, b.band,
          CAST(CASE b.band WHEN 0 THEN mh0 WHEN 1 THEN mh2 WHEN 2 THEN mh4 ELSE mh6 END AS VARCHAR)
            || '_' ||
          CAST(CASE b.band WHEN 0 THEN mh1 WHEN 1 THEN mh3 WHEN 2 THEN mh5 ELSE mh7 END AS VARCHAR)
            AS bucket,
          mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7
        FROM sig, (SELECT unnest(range(0, 4)) AS band) b)"""

  /** Exact dedup: canonical doc per md5(normalized text). Reads the
    * session fingerprint artifact ([[sessionFingerprints]]) — same
    * expression when derived, zero text scan when attached. */
  val qDedupExact = GraftQuery(
    "dd_exact",
    (s, d) => {
      import s.implicits._
      sessionFingerprints(s, d)
        .groupBy($"fp")
        .agg(min($"doc_id").as("canonical_id"),
             count(lit(1)).as("n_copies"))
    },
    Some("""
      SELECT md5(array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ')) AS fp,
        min(doc_id) AS canonical_id, COUNT(*) AS n_copies
      FROM documents
      GROUP BY 1"""))

  /** MinHash signatures: 8 permutation minima per doc, computed as
    * per-row array expressions (zero shuffle). */
  val qMinhashSig = GraftQuery(
    "dd_minhash_signature",
    (s, d) => sessionSignatures(s, d),
    Some(s"""$sigCte SELECT doc_id, ${(0 until 8).map(i => s"mh$i").mkString(", ")} FROM sig"""))

  // The three per-doc artifacts as pure row derivations of a docs
  // frame: the session accessors below checkpoint them for the
  // registry, and the corpus-drop job writes them for a new batch, so
  // a batch's rows equal the full derivation's rows by construction.

  /** Signature table (doc_id, mh0..mh7). */
  private[graft] def signatureTable(docs: DataFrame): DataFrame =
    withSignature(docs)
      .select(col("doc_id") +: (0 until 8).map(i => col(s"mh$i")): _*)

  /** The normalized-text exact-dup fingerprint — ONE expression shared
    * by dd_exact, the keeper derivation, incremental triage, the
    * corpus-drop job and the streaming triage twin, so no consumer can
    * drift on normalization. */
  private[graft] def fingerprintExpr: Column =
    md5(array_join(split(trim(col("text")), "\\s+"), " "))

  /** Fingerprint table (doc_id, fp). */
  private[graft] def fingerprintTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprintExpr.as("fp"))

  /** Shingle-hash set table (doc_id, hsh): sorted-distinct int64
    * shingle hashes per doc. */
  private[graft] def shingleTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      org.apache.spark.sql.graft.ShingleHashes.of(col("text")).as("hsh"))

  /** How many times any of the four dedup artifacts was actually
    * DERIVED (vs served from the session cache or a persisted table)
    * — the ArtifactLifecycleSpec contract counter. */
  private[graft] val artifactDerivations =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** The dedup artifact `name` for dataset `d`, cached per session:
    * the persisted table if one is attached, else `derive` (counted).
    * The public accessors below are also what tools/Artifacts
    * materializes, so the persisted tables can never drift from the
    * session derivation. */
  private def artifact(cache: SessionCache[String, DataFrame], name: String,
      s: SparkSession, d: String)(derive: => DataFrame): DataFrame =
    cache(s, d)(Artifacts.lookup(s, d, name).getOrElse {
      artifactDerivations.incrementAndGet()
      derive
    })

  /** Session-scoped signature table: three registry queries
    * (dd_minhash_signature, dd_lsh_candidate_pairs, dd_dup_clusters)
    * read the same artifact; computing the signatures once per
    * (session, dataset) is exactly the persisted-artifact shape —
    * a sweep pays the signature pass once instead of three times.
    * Checkpointed before any consumer: a lazy plan would re-derive
    * the shingle hashes once per referencing column per self-join
    * side. */
  private val signatureCache = SessionCache[String, DataFrame]()
  def sessionSignatures(s: SparkSession, d: String): DataFrame =
    artifact(signatureCache, "signatures", s, d)(
      signatureTable(Tables.documents(s, d)).localCheckpoint(true))

  /** Session-scoped fingerprint table — the fourth dedup artifact
    * (alongside signatures, clusters, shingles): dd_exact, the
    * keeper frame (dd_keep_list, t_corpus_yield) and dd_incremental
    * all read (doc_id, fp), and the corpus-drop job needs the OLD
    * corpus's fingerprints persisted to classify a new batch without
    * re-scanning corpus text. */
  private val fingerprintCache = SessionCache[String, DataFrame]()
  def sessionFingerprints(s: SparkSession, d: String): DataFrame =
    artifact(fingerprintCache, "fingerprints", s, d)(
      fingerprintTable(Tables.documents(s, d)).localCheckpoint(true))

  /** Session-scoped cluster table: dd_dup_clusters, dd_keep_list and
    * t_corpus_yield all consume the LSH cluster table, and a
    * production pipeline materializes it once per corpus — the
    * iterative CC rounds are the most expensive dedup step, so
    * re-deriving them per consumer is pure waste. The result frame is
    * already localCheckpoint'd by [[connectedComponents]]. */
  private val clusterCache = SessionCache[String, DataFrame]()
  def sessionClusters(s: SparkSession, d: String): DataFrame =
    artifact(clusterCache, "clusters", s, d)(
      connectedComponents(
        pairsFromSignatures(sessionSignatures(s, d))
          .select(col("doc_a"), col("doc_b")),
        Tables.scaledPartitions(s, d, Seq("documents")))
        .select(col("node").as("doc_id"), col("label").as("cluster_id")))

  /** Session-scoped per-doc shingle-hash set table — the third
    * persisted artifact alongside signatures and clusters: the exact
    * verify/containment queries (array-shaped) and both contamination
    * screens (explode-shaped) read the same sorted-distinct int64
    * arrays, and a production pipeline lands them next to the MinHash
    * signatures in the same materialization pass. */
  private val shingleCache = SessionCache[String, DataFrame]()
  def sessionShingleSets(s: SparkSession, d: String): DataFrame =
    artifact(shingleCache, "shingles", s, d)(
      shingleTable(Tables.documents(s, d)).localCheckpoint(true))

  /** (doc_id, band, bucket, mh0..mh7) rows — 4 bands × 2 signature
    * rows per doc; the probe table both the self-join pair generator
    * and the incremental batch-vs-corpus probe read. */
  private[graft] def bandFrame(sig: DataFrame): DataFrame =
    (0 until 4).map { b =>
      val cols = Seq(col("doc_id"), lit(b).as("band"),
        concat_ws("_", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).as("bucket")) ++
        (0 until 8).map(i => col(s"mh$i"))
      sig.select(cols: _*)
    }.reduce(_ union _)

  /** Signature agreement count between the l./r. sides of a band join. */
  private def sigAgreement: Column =
    (0 until 8).map(i =>
      when(col(s"l.mh$i") === col(s"r.mh$i"), 1).otherwise(0))
      .reduce(_ + _)

  /** The LSH band join: `l` and `r` band-frame rows sharing a (band,
    * bucket), under the aliases `l` and `r`. `ordered` keeps only
    * l.doc_id < r.doc_id — each unordered pair of a self-join once. */
  private[graft] def bandJoin(l: DataFrame, r: DataFrame,
      ordered: Boolean): DataFrame = {
    val on = col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
    l.as("l").join(r.as("r"),
      if (ordered) on && col("l.doc_id") < col("r.doc_id") else on)
  }

  private def pairsFromSignatures(sig: DataFrame): DataFrame = {
    val bands = bandFrame(sig)
    val agree = sigAgreement
    bandJoin(bands, bands, ordered = true)
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        (agree.cast("double") / 8).as("est_jaccard"))
      .distinct()
  }

  /** LSH banding: 4 bands × 2 rows; docs sharing any band bucket are
    * candidate near-dup pairs; estimated Jaccard = signature agreement. */
  val qLshPairs = GraftQuery(
    "dd_lsh_candidate_pairs",
    (s, d) => pairsFromSignatures(sessionSignatures(s, d)),
    Some(s"""$sigCte, $bandsCte
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
        CAST(${(0 until 8).map(i => s"(CASE WHEN l.mh$i = r.mh$i THEN 1 ELSE 0 END)").mkString(" + ")} AS DOUBLE) / 8 AS est_jaccard
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id"""))

  /** Connected components over a pair frame by iterative min-label
    * propagation: every node starts labeled with its own id; each
    * round every node takes the min of its own and its neighbors'
    * labels; fixpoint = each node labeled with its component's min id.
    *
    * Scale: the driver loop runs O(component diameter) ROUNDS (dup
    * clusters are shallow — a handful), each round one join + one
    * hash-aggregate, both keyed on node id — the standard large-graph
    * CC shape (GraphX Pregel does the same dataflow). Convergence is
    * detected by counting rows whose label changed this round — one
    * scalar per round on the driver, never the label table, and
    * immune to the (theoretical) sum-collision a label-sum check
    * admits. Rounds run on [[Checkpoints.iterate]]. `parts` is the
    * layout's input-scaled count ([[Tables.scaledPartitions]] over the
    * table the pairs come from).
    *
    * An empty pair frame returns an empty label frame (no NPE on the
    * null sum); a component with diameter > maxRounds throws rather
    * than silently returning unconverged labels. The returned labels
    * are their own checkpoint, owned by the caller. */
  def connectedComponents(pairs: DataFrame, parts: Int,
      maxRounds: Int = 20): DataFrame = {
    // probe-key pre-partitioning + pre-sort (the lpaOver discipline):
    // the pair graph crosses the wire once and is sorted once, not
    // once per round — each round's SMJ only shuffles+sorts the
    // node-scale label table. EXPLICIT count (round 16, the
    // pagerankOver rationale): plain HashPartitioning(dst, n) is the
    // only declarable layout the per-round join can align to — the
    // coalescible form re-shuffled AND re-sorted the edge checkpoint
    // into every round's SMJ.
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(parts, col("dst")).sortWithinPartitions(col("dst"))
      .serCheckpoint()
    // dedup rides the node-keyed layout exchange (pagerankOver
    // discipline), and the declared (node, n) layout makes every
    // round's label-side join exchange-free
    val init = edges.select(col("src").as("node"))
      .repartition(parts, col("node")).dropDuplicates()
      .sortWithinPartitions(col("node"))
      .withColumn("label", col("node"))
      .serCheckpoint()
    // a round's state keeps the labels it replaced: the next round
    // first counts the changed rows (one scalar) and stops at zero
    def changed(state: DataFrame): Long =
      state.filter(col("label") =!= col("prev_label")).count()
    val (last, rounds) = Checkpoints.iterate(init, maxRounds) { (st, r) =>
      if (r > 1 && changed(st) == 0) None
      else {
        val labels = st.select(col("node"), col("label"))
        val nbrMin = edges.join(labels, edges("dst") === labels("node"))
          .groupBy(col("src")).agg(min(col("label")).as("nbr_min"))
        Some(labels.join(nbrMin, labels("node") === nbrMin("src"), "left")
          .select(labels("node"), labels("label").as("prev_label"),
            least(col("label"), coalesce(col("nbr_min"), col("label")))
              .as("label")))
      }
    }
    // a stop before the cap counted zero; at the cap, count the last
    val converged = rounds < maxRounds || changed(last) == 0
    // the labels are their own checkpoint: edges and init are dead
    Seq(edges, init).foreach(Checkpoints.release)
    if (!converged) {
      Checkpoints.release(last)
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxRounds rounds " +
          "(component diameter exceeds maxRounds); raise maxRounds — " +
          "refusing to return truncated cluster labels")
    }
    last.select(col("node"), col("label"))
  }

  /** Duplicate clusters: connected components over the LSH candidate
    * graph — the step that turns pairwise near-dup hits into "keep one
    * per cluster" decisions. cluster_id = min doc_id of the component
    * (deterministic; only docs appearing in ≥1 candidate pair emit a
    * row). Oracle replays the same graph via a recursive-CTE
    * transitive closure. */
  /** DuckDB replay of the LSH candidate graph + transitive closure —
    * CTEs `cand`, `edges`, `reach`, `clusters` (clusters has doc_id,
    * cluster_id). Requires $sigCte as WITH RECURSIVE + $bandsCte in
    * front. Shared by the dup-clusters and keep-list oracles. */
  /** MATERIALIZED on bands/cand/edges is load-bearing at scale: the
    * recursive `reach` references `edges` every iteration, and an
    * inlined `edges` re-derives `cand`'s band self-join — which
    * re-derives the 8-fold minhash chain — once per round. At sf10
    * that replay blew the 2400s oracle budget (same mechanism the
    * kcore oracle hit at sf1); materialized, each CTE computes once. */
  private[queries] val clusterCtes =
    """cand AS MATERIALIZED (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM bands l JOIN bands r
          ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
      edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM cand
        UNION SELECT doc_b, doc_a FROM cand),
      reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      clusters AS (
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src)"""

  val qDupClusters = GraftQuery(
    "dd_dup_clusters",
    (s, d) => sessionClusters(s, d),
    Some(s"""${sigCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, $bandsCte,
      $clusterCtes
      SELECT doc_id, cluster_id FROM clusters"""))

  /** n-gram Jaccard on a linear pair set (consecutive doc_ids) —
    * the verification-side of near-dup detection. At scale this runs
    * on LSH candidates; here the pair generator is pinned
    * deterministic so the oracle can replay it.
    *
    * Keyed on the HASHED shingle sets ([[sessionShingleSets]] — the
    * same sorted-distinct int64 arrays every other verify consumer
    * reads), not the string shingles: the hashed sets are one of the
    * three persisted dedup artifacts, so in attached mode this query
    * is a bucketed read + one linear join instead of re-tokenizing
    * the corpus per run (~8s → read cost at sf0.1). Jaccard over
    * hashed sets equals string-shingle Jaccard unless two distinct
    * shingles collide in the 61-bit polynomial ring: within one doc
    * pair that is ≤ |A|·|B| / P ≈ 10⁴ / 2.3·10¹⁸ ≈ 4·10⁻¹⁵ — and
    * the oracle hashes identically, so the gate stays exact even in
    * the astronomically-unlikely collision case. */
  val qNgramJaccard = GraftQuery(
    "dd_ngram_jaccard",
    (s, d) => {
      import s.implicits._
      val docs = sessionShingleSets(s, d)
      val a = docs.select($"doc_id".as("doc_a"), $"hsh".as("sh_a"))
      val b = docs.select($"doc_id".as("doc_b"), $"hsh".as("sh_b"))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .select($"doc_a", $"doc_b",
          round(size(array_intersect($"sh_a", $"sh_b")).cast("double") /
            size(array_union($"sh_a", $"sh_b")), 6).as("jaccard"))
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents),
      sgl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
      hs AS (SELECT doc_id,
        list_distinct(list_transform(sh, v -> $polyHashSql)) AS hsh
      FROM sgl)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        round(CAST(length(list_intersect(a.hsh, b.hsh)) AS DOUBLE) /
          length(list_distinct(list_concat(a.hsh, b.hsh))), 6) AS jaccard
      FROM hs a JOIN hs b ON b.doc_id = a.doc_id + 1"""))

  /** Benchmark-contamination screening — the eval-integrity pass a
    * training pipeline runs before release: for every corpus document,
    * the fraction of its 3-word shingles that appear anywhere in the
    * benchmark set (here pinned deterministically as doc_id < 50;
    * production passes a held-out eval corpus). Docs at ≥ 20% overlap
    * are flagged.
    *
    * Scale shape: the benchmark shingle set is tiny relative to the
    * corpus (eval suites are MBs, corpora are TBs) — it is broadcast,
    * so the corpus side is one map-side probe + one hash-aggregate on
    * doc_id. No corpus-sized shuffle, no pairwise anything. */
  /** Shared shingle-hash CTE for the contamination oracles: the
    * DuckDB twin of [[org.apache.spark.sql.graft.ShingleHashes]]
    * (distinct rolling hashes of the 3-word shingles; sort order is
    * irrelevant post-unnest). */
  private val hashExCte =
    s"""t AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
         FROM documents),
       sgl AS (SELECT doc_id, $shinglesSql AS sh FROM t),
       ex AS (SELECT doc_id,
         unnest(list_distinct(list_transform(sh, v -> $polyHashSql))) AS h
       FROM sgl)"""

  val qContamination = GraftQuery(
    "dd_contamination",
    (s, d) => {
      import s.implicits._
      val sh = sessionShingleSets(s, d)
        .select($"doc_id", explode($"hsh").as("h"))
      val bench = sh.filter($"doc_id" < 50).select($"h").distinct()
      val corpus = sh.filter($"doc_id" >= 50)
      corpus
        .join(broadcast(bench.withColumn("hit", lit(1))), Seq("h"), "left")
        .groupBy($"doc_id")
        .agg(count($"hit").as("n_overlap"), count(lit(1)).as("n_shingles"))
        .select($"doc_id", $"n_overlap", $"n_shingles",
          round($"n_overlap".cast("double") / $"n_shingles", 6)
            .as("contamination"),
          ($"n_overlap".cast("double") / $"n_shingles" >= 0.2)
            .as("contaminated"))
    },
    Some(s"""
      WITH $hashExCte,
      bench AS (SELECT DISTINCT h FROM ex WHERE doc_id < 50),
      corpus AS (SELECT * FROM ex WHERE doc_id >= 50),
      o AS (
        SELECT c.doc_id, COUNT(b.h) AS n_overlap, COUNT(*) AS n_shingles
        FROM corpus c LEFT JOIN bench b ON c.h = b.h
        GROUP BY 1)
      SELECT doc_id,
        CAST(n_overlap AS BIGINT) AS n_overlap,
        CAST(n_shingles AS BIGINT) AS n_shingles,
        round(CAST(n_overlap AS DOUBLE) / n_shingles, 6) AS contamination,
        CAST(n_overlap AS DOUBLE) / n_shingles >= 0.2 AS contaminated
      FROM o"""))

  /** Hyperplane bit-width for a corpus of `n` vectors at a target
    * mean bucket population: 2^bits buckets ⇒ bits =
    * ceil(log2(n / targetBucketPop)), clamped to [1, 30]. This is
    * "grow `bits` with N, buy recall back with `tables`" as code —
    * per-bucket population stays ~flat as the corpus grows, so the
    * quadratic within-bucket pair work per bucket is constant and
    * total candidate work stays linear in N. The registry
    * instantiation below derives its bit-width from this rule. */
  def bitsFor(n: Long, targetBucketPop: Int): Int = {
    require(n > 0 && targetBucketPop > 0,
      s"need positive corpus size and target, got n=$n target=$targetBucketPop")
    val raw = math.ceil(
      math.log(n.toDouble / targetBucketPop) / math.log(2.0)).toInt
    math.min(30, math.max(1, raw))
  }

  /** (vec_id, tbl, bucket) rows: `tables` independent hash tables of
    * `bits` sign planes each (table t uses planes t·bits … t·bits+b-1),
    * computed by the native codegen'd
    * [[org.apache.spark.sql.graft.HyperplaneBuckets]] expression.
    * One map-side pass — the bucket array is built per row and
    * posexploded, no shuffle. */
  def annBuckets(sig: DataFrame, tables: Int, bits: Int): DataFrame =
    sig.select(col("vec_id"),
      posexplode(org.apache.spark.sql.graft.HyperplaneBuckets
        .of(col("q"), tables, bits)).as(Seq("tbl", "bucket")))

  /** (vec_id, tbl, bucket) memberships of [[annBuckets]] with each
    * (tbl, bucket) capped to its `cap` lowest vec_ids
    * ([[graft.operators.BucketCap.lowestIds]]) — the index
    * [[annCandidatePairs]] pairs within and StreamingAnn probes. */
  def annCappedBuckets(sig: DataFrame, tables: Int, bits: Int,
      cap: Int): DataFrame =
    graft.operators.BucketCap.lowestIds(annBuckets(sig, tables, bits),
      Seq("tbl", "bucket"), "vec_id", cap)

  /** Candidate pairs from multi-table LSH with a deterministic
    * per-bucket population cap: within each (tbl, bucket) only the
    * `cap` lowest vec_ids participate in pairing, so a degenerate hot
    * bucket contributes ≤ cap² pairs instead of pop² — the skew
    * guard at 100 TB. [[annDroppedCount]] reports what the cap cut.
    * Pairs seen in several tables collapse via one distinct. */
  def annCandidatePairs(sig: DataFrame, tables: Int, bits: Int,
      cap: Int): DataFrame = {
    val capped = annCappedBuckets(sig, tables, bits, cap)
    val l = capped.select(col("vec_id").as("a_id"), col("tbl"), col("bucket"))
    val r = capped.select(col("vec_id").as("b_id"), col("tbl"), col("bucket"))
    l.join(r, Seq("tbl", "bucket"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
  }

  /** Bucket memberships dropped by the cap — the no-silent-caps
    * counter a production run would log/monitor per batch. 0 on an
    * empty signature table, where the sum over no buckets is NULL. */
  def annDroppedCount(sig: DataFrame, tables: Int, bits: Int,
      cap: Int): Long =
    annBuckets(sig, tables, bits)
      .groupBy(col("tbl"), col("bucket")).count()
      .select(coalesce(sum(greatest(col("count") - cap, lit(0L))), lit(0L))
        .cast("long")).collect()(0).getLong(0)

  /** Parameterized embedding near-dup: best candidate neighbor per
    * vector, flagged near_dup above `threshold`. Bits/tables/cap are
    * free parameters — grow `bits` with N to hold per-bucket
    * population flat, add `tables` to buy recall back (collision
    * P(same bucket) = (1-θ/π)^bits per table; AnnRecallSpec gates
    * recall ≥ 0.5 against brute force).
    *
    * Scale shape: signatures materialized once; candidate generation
    * shuffles on (tbl, bucket); quantized vectors re-join by id (two
    * hash joins keyed on a_id/b_id — candidates ≪ N², and no vector
    * array ever rides the pair shuffle). Best-per-vector is a
    * max(struct) hash-aggregate with map-side partials, NOT a window:
    * parallelism follows the vec_id key space. */
  def embeddingNearDup(embeddings: DataFrame, tables: Int, bits: Int,
      cap: Int, threshold: Double): DataFrame = {
    // sig feeds buckets AND both cosine sides
    val sig = VectorExpressions.signatures(embeddings, col("vec_id"))
      .localCheckpoint(true)
    VectorExpressions.pairCosine(
        annCandidatePairs(sig, tables, bits, cap), sig)
      .groupBy(col("a_id"))
      .agg(ArgMax2.of(col("cosine"), -col("b_id")).as("m"))
      .select(col("a_id"), (-col("m.tie")).as("nearest_in_bucket"),
        col("m.ord").as("cosine"),
        (col("m.ord") >= threshold).as("near_dup"))
  }

  /** Shared DuckDB CTE chain replaying the multi-table ANN candidate
    * construction + exact cosine scoring + per-vector ranking —
    * produces CTEs `q`, `bands`, `capped`, `pairs`, `scored`,
    * `ranked` (ranked has a_id, b_id, cosine, rk). Used by the
    * near-dup oracle (rk = 1) and the kNN-graph oracle (rk ≤ k). */
  private[queries] def annRankedCtes(tables: Int, cap: Int): String = {
    def planeSql(p: Int): String =
      s"""(CASE WHEN list_sum(list_transform(range(1, 65), i ->
         CASE WHEN (((i - 1 + ${64L * p}) * 1103515245 + 12345) >> 16) & 1 = 1
         THEN q[i] ELSE -q[i] END)) >= 0 THEN ${1L << (p % 8)} ELSE 0 END)"""
    def tableSql(t: Int): String =
      s"""SELECT vec_id, $t AS tbl,
          ${(t * 8 until t * 8 + 8).map(planeSql).mkString(" + ")} AS bucket
          FROM q"""
    s"""
      WITH q0 AS (
        SELECT vec_id,
          list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS q
        FROM embeddings),
      q AS (SELECT * FROM q0
        WHERE list_sum(list_transform(q, x -> x * x)) > 0),
      bands AS (${(0 until tables).map(tableSql).mkString(" UNION ALL ")}),
      capped AS (
        SELECT vec_id, tbl, bucket FROM (
          SELECT vec_id, tbl, bucket,
            ROW_NUMBER() OVER (PARTITION BY tbl, bucket ORDER BY vec_id) AS rn
          FROM bands)
        WHERE rn <= $cap),
      pairs AS (
        SELECT DISTINCT l.vec_id AS a_id, r.vec_id AS b_id
        FROM capped l JOIN capped r
          ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id <> r.vec_id),
      scored AS (
        SELECT p.a_id, p.b_id,
          round(
            CAST(list_sum(list_transform(range(1, 65), i -> qa.q[i] * qb.q[i])) AS DOUBLE) /
            (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> qa.q[i] * qa.q[i])) AS DOUBLE)) *
             sqrt(CAST(list_sum(list_transform(range(1, 65), i -> qb.q[i] * qb.q[i])) AS DOUBLE))), 6)
            AS cosine
        FROM pairs p
        JOIN q qa ON qa.vec_id = p.a_id
        JOIN q qb ON qb.vec_id = p.b_id),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
                                     ORDER BY cosine DESC, b_id ASC) AS rk
        FROM scored)"""
  }

  /** Registry bit-width via [[bitsFor]]: the sweep's largest corpus
    * (sf0.1, ~5k vectors) at a ~20-vector target bucket population →
    * 8 bits. The oracle's plane SQL is pinned to 8 bits per table, so
    * drift in the sizing rule fails fast here instead of as a silent
    * hash mismatch. */
  private val registryBits = bitsFor(5000L, 20)
  require(registryBits == 8,
    s"registry ANN oracle is pinned to 8 bits/table, bitsFor gave $registryBits")

  /** Registry instantiation: 2 tables × 8 bits (bits from
    * [[bitsFor]]), cap 128, θ=0.42. The oracle mirrors the exact
    * construction (same planes, same deterministic cap, same
    * tie-breaks). */
  val qEmbeddingNearDup = GraftQuery(
    "dd_embedding_neardup",
    (s, d) => embeddingNearDup(Tables.embeddings(s, d),
      tables = 2, bits = registryBits, cap = 128, threshold = 0.42),
    Some(s"""${annRankedCtes(tables = 2, cap = 128)}
      SELECT a_id, b_id AS nearest_in_bucket, cosine, cosine >= 0.42 AS near_dup
      FROM ranked WHERE rk = 1"""))

  /** Chunk-level exact dedup (the C4 "line dedup" shape): documents
    * are cut into deterministic 10-token chunks, each chunk is kept
    * only at its first occurrence corpus-wide (lowest (doc_id, pos)),
    * and the per-document report shows how much text global span
    * dedup removes. The fixture text has no newlines, so fixed-width
    * token chunks stand in for lines — the dataflow is identical.
    *
    * Scale shape: explode to (fp=md5(chunk), doc_id, pos) — the md5
    * key keeps the shuffle narrow (16 bytes, not the chunk text);
    * winner-per-fp is a min(struct) hash-aggregate with map-side
    * partials; the winner table joins back on fp (same key as the
    * aggregate, so the exchange is reused, and fp is
    * content-uniform — no skew); the final rollup shuffles on doc_id.
    * No window over the corpus, no driver-side state. */
  val qChunkDedup = GraftQuery(
    "dd_chunk_dedup",
    (s, d) => {
      import s.implicits._
      // Chunk table computed ONCE (round 16). The old form paid the
      // split+md5 Generate over documents TWICE (winners side + join
      // side), recomputed split(trim(text)) per CHUNK row for n_tok
      // (the t_corpus_yield lesson: codegen CSE doesn't collapse
      // split through generator/lambda children), and broadcast the
      // CHUNK-scale table into the winners join — a 100 TB hazard.
      // Projection barriers materialize toks/n_toks once per doc,
      // one checkpoint feeds both aggregates, and the chunk-scale
      // join is gone entirely: per-chunk `kept` only ever feeds
      // per-doc sums, so winners aggregate straight to per-doc kept
      // stats (one fp group wins exactly one chunk) and re-join the
      // per-doc totals at DOC scale (guide §2.3/§2.4). min(struct)
      // carries n_tok as a third field — (doc_id, pos) is unique
      // within a group, so the winner and its n_tok are unchanged.
      // The isnotnull(fp) filter mirrors the old inner join's key
      // semantics (null-text docs drop out entirely, as before).
      val chunks = Checkpoints.defer(
        Tables.documents(s, d)
          .select($"doc_id", split(trim($"text"), "\\s+").as("toks"))
          .select($"doc_id", $"toks", size($"toks").as("n_toks"))
          .select($"doc_id", $"n_toks",
            transform(sequence(lit(0),
                ceil($"n_toks" / lit(10.0)).cast("int") - 1),
              i => md5(array_join(slice($"toks", i * 10 + 1, lit(10)), " ")))
              .as("ch"))
          .select($"doc_id", $"n_toks", posexplode($"ch").as(Seq("pos", "fp")))
          .select($"doc_id", $"pos", $"fp",
            least(lit(10), $"n_toks" - $"pos" * 10).cast("long").as("n_tok"))
          .filter($"fp".isNotNull)
          .serCheckpoint())
      val kept = chunks.groupBy($"fp")
        .agg(min(struct($"doc_id", $"pos", $"n_tok")).as("w"))
        .select($"w.doc_id".as("doc_id"), $"w.n_tok".as("kept_tok"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_kept_chunks"),
          sum($"kept_tok").as("n_tokens_kept"))
      chunks.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks"), sum($"n_tok").as("n_tokens"))
        .join(kept, Seq("doc_id"), "left")
        .select($"doc_id", $"n_chunks",
          coalesce($"n_kept_chunks", lit(0L)).as("n_kept_chunks"),
          $"n_tokens",
          coalesce($"n_tokens_kept", lit(0L)).as("n_tokens_kept"),
          round(lit(1.0) -
            coalesce($"n_tokens_kept", lit(0L)).cast("double") / $"n_tokens", 6)
            .as("frac_tokens_removed"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      c0 AS (
        SELECT doc_id,
          unnest(list_transform(range(0, CAST(ceil(length(toks) / 10.0) AS BIGINT)),
            i -> {'pos': i,
                  'fp': md5(array_to_string(list_slice(toks, i*10 + 1, i*10 + 10), ' ')),
                  'n_tok': least(10, length(toks) - i*10)})) AS ch
        FROM t),
      c AS (
        SELECT doc_id, ch['pos'] AS pos, ch['fp'] AS fp,
          CAST(ch['n_tok'] AS BIGINT) AS n_tok
        FROM c0),
      r AS (
        SELECT doc_id, n_tok,
          ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
        FROM c),
      agg AS (
        SELECT doc_id, COUNT(*) AS n_chunks,
          SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept_chunks,
          SUM(n_tok) AS n_tokens,
          SUM(CASE WHEN rn = 1 THEN n_tok ELSE 0 END) AS n_tokens_kept
        FROM r GROUP BY 1)
      SELECT doc_id,
        CAST(n_chunks AS BIGINT) AS n_chunks,
        CAST(n_kept_chunks AS BIGINT) AS n_kept_chunks,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(n_tokens_kept AS BIGINT) AS n_tokens_kept,
        round(1.0 - CAST(n_tokens_kept AS DOUBLE) / n_tokens, 6)
          AS frac_tokens_removed
      FROM agg"""))

  /** Bloom-prefiltered contamination screen — the companion to
    * [[qContamination]] for when the benchmark shingle set is too big
    * to broadcast as a hash table but fits as a Bloom filter (bits
    * per item, not strings). The sketch is built distributed and
    * merged on the driver ([[org.apache.spark.sql.DataFrameStatFunctions.bloomFilter]]),
    * broadcast to every executor, and probed map-side — only the
    * ~hit-rate+fpp fraction of corpus shingles reaches the exact
    * confirm join, so the corpus-sized shuffle disappears. False
    * positives are removed by the exact join; false negatives are
    * impossible — the result is bit-identical to the plain join the
    * oracle runs. The probe is Spark's codegen'd
    * [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * over the serialized sketch as a binary literal — the exact shape
    * Spark's own runtime bloom-filter joins inject after subquery
    * evaluation, and the expression deserializes the sketch once per
    * task, so the probe stays inside whole-stage codegen (the
    * pre-round-8 Scala UDF here was the repo's last serialization
    * wall). Output: contaminated corpus docs only, with their
    * benchmark-hit shingle count. */
  val qBloomContamination = GraftQuery(
    "dd_bloom_contamination",
    (s, d) => {
      import s.implicits._
      val sh = sessionShingleSets(s, d)
        .select($"doc_id", explode($"hsh").as("h"))
      // Materialize the benchmark shingle set once: count(), the bloom
      // build, and the exact confirm join each launch a job over it,
      // and without this each re-runs the scan+explode of documents.
      // Like the other localCheckpoint sites, the blocks stay resident
      // for the session (and are lost on executor failure) — the
      // benchmark set is eval-suite-sized, so retention is cheap and a
      // lost block just re-fails the one query that owns it.
      val bench = sh.filter($"doc_id" < 50).select($"h").distinct()
        .localCheckpoint()
      val nBench = bench.count()
      val bf = bench.stat.bloomFilter("h", math.max(nBench, 1L), 0.01)
      sh.filter($"doc_id" >= 50)
        .filter(org.apache.spark.sql.graft.BloomProbe.mightContain(bf, $"h"))
        .join(bench, Seq("h"), "left_semi")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_hit_shingles"))
    },
    Some(s"""
      WITH $hashExCte,
      bench AS (SELECT DISTINCT h FROM ex WHERE doc_id < 50)
      SELECT c.doc_id, COUNT(*) AS n_hit_shingles
      FROM ex c JOIN bench b USING (h)
      WHERE c.doc_id >= 50
      GROUP BY 1"""))

  /** The verify side of LSH dedup run on its REAL input: exact
    * shingle-set Jaccard over the LSH candidate pairs (not the
    * pinned linear pair set of [[qNgramJaccard]], which exists to
    * pin the Jaccard arithmetic itself). This is the end-to-end
    * production pipeline: signatures → banding → candidates → exact
    * verify → is_dup decision at θ=0.8.
    *
    * Scale shape: candidates ≪ N² by construction; the shingle-hash
    * sets (sorted-distinct int64 arrays from the native
    * [[org.apache.spark.sql.graft.ShingleHashes]]) join candidates by
    * doc id — two hash joins keyed on doc_a/doc_b — and the per-pair
    * intersect/union is linear in document length. No text rides the
    * shuffle, only hash arrays. */
  val qVerifiedPairs = GraftQuery(
    "dd_verified_pairs",
    (s, d) => {
      import s.implicits._
      val cand = pairsFromSignatures(sessionSignatures(s, d))
        .select($"doc_a", $"doc_b")
      val hs = sessionShingleSets(s, d)
      val a = hs.select($"doc_id".as("doc_a"), $"hsh".as("hs_a"))
      val b = hs.select($"doc_id".as("doc_b"), $"hsh".as("hs_b"))
      // nullif guard mirrored in the oracle (see qContainment): two
      // empty sets would yield NULL here but inf/nan in DuckDB
      val jac = round(
        size(array_intersect($"hs_a", $"hs_b")).cast("double") /
          nullif(size(array_union($"hs_a", $"hs_b")), lit(0)), 6)
      cand.join(a, "doc_a").join(b, "doc_b")
        .select($"doc_a", $"doc_b", jac.as("jaccard"),
          (jac >= 0.8).as("is_dup"))
    },
    Some(s"""$sigCte, $bandsCte,
      cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM bands l JOIN bands r
          ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
      hs AS (
        SELECT doc_id,
          list_distinct(list_transform(sh, v -> $polyHashSql)) AS hsh
        FROM s)
      SELECT c.doc_a, c.doc_b,
        round(CAST(length(list_intersect(a.hsh, b.hsh)) AS DOUBLE) /
          nullif(length(list_distinct(list_concat(a.hsh, b.hsh))), 0),
          6) AS jaccard,
        round(CAST(length(list_intersect(a.hsh, b.hsh)) AS DOUBLE) /
          nullif(length(list_distinct(list_concat(a.hsh, b.hsh))), 0), 6) >= 0.8 AS is_dup
      FROM cand c
      JOIN hs a ON a.doc_id = c.doc_a
      JOIN hs b ON b.doc_id = c.doc_b"""))

  /** Asymmetric containment over the same LSH candidate pairs as
    * [[qVerifiedPairs]]: containment(A⊆B) = |A∩B| / |A| on the
    * shingle-hash sets. Jaccard misses inclusion — a short document
    * quoted whole inside a long one scores low symmetric similarity
    * but containment ≈ 1 on the short side — and a production dedup
    * pass wants that distinction (drop the quote, keep the superset).
    * `relation` classifies each pair at θ = 0.9: `a_in_b` / `b_in_a` /
    * `mutual` (≈ exact dup) / `none`.
    *
    * Scale shape: identical to dd_verified_pairs — candidate-sized
    * work throughout, two id-keyed hash joins, only sorted int64 hash
    * arrays on the shuffle; the per-pair intersections are linear in
    * doc length. The round(x, 6) edges can't tie-break differently
    * cross-engine: x = i/n with n ≤ shingle count ≪ 2·10⁶, so x never
    * lands on a half-millionth. */
  val qContainment = GraftQuery(
    "dd_containment",
    (s, d) => {
      import s.implicits._
      val cand = pairsFromSignatures(sessionSignatures(s, d))
        .select($"doc_a", $"doc_b")
      val hs = sessionShingleSets(s, d)
      val a = hs.select($"doc_id".as("doc_a"), $"hsh".as("hs_a"))
      val b = hs.select($"doc_id".as("doc_b"), $"hsh".as("hs_b"))
      // nullif guard, mirrored in the oracle: an empty shingle set
      // would otherwise divide by zero as NULL here but inf in DuckDB
      // (ieee_floating_point_ops). ShingleHashes' <3-token fallback
      // makes sets non-empty today; the guard pins the edge anyway.
      val inter = size(array_intersect($"hs_a", $"hs_b")).cast("double")
      val ca = round(inter / nullif(size($"hs_a"), lit(0)), 6)
      val cb = round(inter / nullif(size($"hs_b"), lit(0)), 6)
      cand.join(a, "doc_a").join(b, "doc_b")
        .select($"doc_a", $"doc_b",
          ca.as("containment_a"), cb.as("containment_b"),
          when(ca >= 0.9 && cb >= 0.9, "mutual")
            .when(ca >= 0.9, "a_in_b")
            .when(cb >= 0.9, "b_in_a")
            .otherwise("none").as("relation"))
    },
    Some(s"""$sigCte, $bandsCte,
      cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM bands l JOIN bands r
          ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
      hs AS (
        SELECT doc_id,
          list_distinct(list_transform(sh, v -> $polyHashSql)) AS hsh
        FROM s),
      sc AS (
        SELECT c.doc_a, c.doc_b,
          round(CAST(length(list_intersect(a.hsh, b.hsh)) AS DOUBLE) /
            nullif(length(a.hsh), 0), 6) AS containment_a,
          round(CAST(length(list_intersect(a.hsh, b.hsh)) AS DOUBLE) /
            nullif(length(b.hsh), 0), 6) AS containment_b
        FROM cand c
        JOIN hs a ON a.doc_id = c.doc_a
        JOIN hs b ON b.doc_id = c.doc_b)
      SELECT doc_a, doc_b, containment_a, containment_b,
        CASE WHEN containment_a >= 0.9 AND containment_b >= 0.9 THEN 'mutual'
             WHEN containment_a >= 0.9 THEN 'a_in_b'
             WHEN containment_b >= 0.9 THEN 'b_in_a'
             ELSE 'none' END AS relation
      FROM sc"""))

  /** Exact-of: the lowest doc id per fingerprint of a (doc_id, fp)
    * frame, as (fp, `as`) — the keeper frame's exact canonical and
    * triage's exact match. */
  private[graft] def lowestIdPerFp(fps: DataFrame, as: String): DataFrame =
    fps.groupBy(col("fp")).agg(min(col("doc_id")).as(as))

  /** The triage verdict: exact beats near and near beats novel;
    * `dup_of` is the winning match. */
  private[graft] def triageVerdict(exactOf: Column, nearOf: Column): Seq[Column] =
    Seq(when(exactOf.isNotNull, "exact_dup")
        .when(nearOf.isNotNull, "near_dup")
        .otherwise("novel").as("status"),
      coalesce(exactOf, nearOf).as("dup_of"))

  /** (doc_id, status, dup_of) per batch doc. `batchFps` are the batch's
    * (doc_id, fp) rows; `exactOf` is (fp, exact_of) over the corpus
    * ([[lowestIdPerFp]]), an argument so each caller chooses how the
    * corpus side is pre-filtered. Near-of is the best corpus candidate
    * sharing a band bucket with at least 4 of 8 signature agreements:
    * most agreements, ties to the lowest id ([[ArgMax2]]). */
  private[graft] def triage(batchFps: DataFrame, exactOf: DataFrame,
      corpusBands: DataFrame, batchBands: DataFrame): DataFrame = {
    val exact = batchFps.join(exactOf, Seq("fp"), "left")
      .select(col("doc_id"), col("exact_of"))
    val near = bandJoin(corpusBands, batchBands, ordered = false)
      .select(col("r.doc_id").as("doc_id"),
        col("l.doc_id").as("cand"), sigAgreement.as("agree"))
      .filter(col("agree") >= 4)
      .groupBy(col("doc_id"))
      .agg(ArgMax2.of(col("agree"), -col("cand")).as("m"))
      .select(col("doc_id"), (-col("m.tie")).as("near_of"))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id") +: triageVerdict(col("exact_of"), col("near_of")): _*)
  }

  /** Incremental-ingestion dedup triage — the shape a production
    * corpus actually runs: a NEW batch (doc_id ≥ 400; the pinned
    * stand-in for "this cycle's ingest") is checked against the
    * EXISTING corpus (doc_id < 400), never against itself, and each
    * batch doc is classified:
    *
    *  - `exact_dup`  — same normalized-text md5 as a corpus doc
    *    (dup_of = lowest matching corpus id);
    *  - `near_dup`   — ≥4 of 8 MinHash agreements with some corpus
    *    doc via LSH band probe (dup_of = best candidate: most
    *    agreements, ties to lowest id);
    *  - `novel`      — neither.
    *
    * Exact wins over near. Scale shape: the batch probes the
    * corpus's PERSISTED signature artifact (sessionSignatures — no
    * corpus re-scan); both the fingerprint join and the band probe
    * shuffle batch-sized, not corpus-sized, data on hash keys; the
    * best-candidate pick is a max(struct) hash-aggregate keyed on
    * batch doc_id, not a window. The rules are [[triage]]'s, which
    * the corpus-drop job runs against its persisted artifacts. */
  val qIncremental = GraftQuery(
    "dd_incremental",
    (s, d) => {
      val fps = sessionFingerprints(s, d)
      val bands = bandFrame(sessionSignatures(s, d))
      triage(fps.filter(col("doc_id") >= 400),
        lowestIdPerFp(fps.filter(col("doc_id") < 400), "exact_of"),
        bands.filter(col("doc_id") < 400), bands.filter(col("doc_id") >= 400))
    },
    Some(s"""$sigCte, $bandsCte,
      fp AS (SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp FROM t),
      cfp AS (SELECT fp, min(doc_id) AS exact_of FROM fp
              WHERE doc_id < 400 GROUP BY 1),
      ex AS (
        SELECT b.doc_id, c.exact_of
        FROM (SELECT doc_id, fp FROM fp WHERE doc_id >= 400) b
        LEFT JOIN cfp c USING (fp)),
      near0 AS (
        SELECT r.doc_id,
          l.doc_id AS cand,
          ${(0 until 8).map(i => s"(CASE WHEN l.mh$i = r.mh$i THEN 1 ELSE 0 END)").mkString(" + ")} AS agree
        FROM bands l JOIN bands r
          ON l.band = r.band AND l.bucket = r.bucket
        WHERE l.doc_id < 400 AND r.doc_id >= 400),
      near AS (
        SELECT doc_id, cand AS near_of FROM (
          SELECT doc_id, cand, agree,
            ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY agree DESC, cand ASC) AS rn
          FROM near0 WHERE agree >= 4)
        WHERE rn = 1)
      SELECT e.doc_id,
        CASE WHEN e.exact_of IS NOT NULL THEN 'exact_dup'
             WHEN n.near_of IS NOT NULL THEN 'near_dup'
             ELSE 'novel' END AS status,
        coalesce(e.exact_of, n.near_of) AS dup_of
      FROM ex e LEFT JOIN near n USING (doc_id)"""))

  /** SimHash near-dup pairs — the Hamming-space counterpart of the
    * MinHash/Jaccard family (Manku et al.'s web-dedup shape): a
    * 60-bit SimHash per document (sign of the per-bit ±1 vote over
    * distinct-token hashes, the 60-bit widening of t_fingerprint's
    * 16-bit sketch), split into 4 × 15-bit bands; documents sharing
    * any band value EXACTLY are candidates (pigeonhole: Hamming ≤ 3
    * over 60 bits forces ≥ 1 identical band), then the true Hamming
    * distance — bit_count(xor) — verifies each candidate at θ = 3.
    *
    * Scale shape: the sketch is one map-side pass (the token hash
    * array is materialized once per row, the 60 sign-folds read it);
    * candidate generation shuffles once on (band, value) with the
    * same deterministic per-bucket cap as the ANN path (a 15-bit
    * band space is large but fixed, so a degenerate corpus could
    * still pile into one value — the cap bounds that to cap² like
    * everywhere else); verification touches candidates only, and
    * only 8-byte sketches ride the pair shuffle. The sketch runs in
    * the native codegen expression
    * [[org.apache.spark.sql.graft.SimHash60]] (one md5 + one 60-vote
    * loop per distinct token) — the swap-in this scaladoc planned;
    * [[simhashViaHofs]] keeps the original 60-fold HOF chain as the
    * executable reference SimHash60Spec pins it against. */
  /** The original HOF sketch derivation (doc_id, sh), kept as the
    * executable reference for [[org.apache.spark.sql.graft.SimHash60]]. */
  private[graft] def simhashViaHofs(docs: DataFrame): DataFrame = {
    val toks = array_distinct(split(trim(col("text")), "\\s+"))
    val hv = transform(toks, t =>
      conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    def bit(i: Int): Column =
      when(aggregate(col("hv"), lit(0L), (acc, v) =>
        acc + when(shiftright(v, i).bitwiseAND(1) === 1, 1L)
          .otherwise(-1L)) >= 0, 1L).otherwise(0L)
    val sim = (0 until 60).map(i => bit(i) * (1L << i)).reduce(_ + _)
    docs.select(col("doc_id"), hv.as("hv"))
      .select(col("doc_id"), sim.as("sh"))
  }

  /** DuckDB replay of the SimHash60 sketch — CTEs `${p}t0`, `${p}h`,
    * `${p}sh` (sh has doc_id, sh); the prefix lets it share a WITH
    * chain with another sketch family (mm_crossmodal_keep_list). */
  private[queries] def simhashShCtes(p: String = ""): String = {
    def bitSql(i: Int): String =
      s"""(CASE WHEN list_sum(list_transform(hv, v ->
         CASE WHEN (v >> $i) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
         THEN ${1L << i} ELSE 0 END)"""
    s"""${p}t0 AS (
        SELECT doc_id,
          list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS dtoks
        FROM documents),
      ${p}h AS (SELECT doc_id,
        list_transform(dtoks, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hv
        FROM ${p}t0),
      ${p}sh AS (SELECT doc_id, ${(0 until 60).map(bitSql).mkString(" + ")} AS sh FROM ${p}h)"""
  }

  val qSimhashNearDup = GraftQuery(
    "dd_simhash_neardup",
    (s, d) => {
      import s.implicits._
      graft.operators.HammingBands.nearDupPairs(
        Tables.documents(s, d).select($"doc_id",
          org.apache.spark.sql.graft.SimHash60.of($"text").as("sh")),
        nBands = 4, bandBits = 15, cap = 256, theta = 3)
    },
    Some(s"""
      WITH ${simhashShCtes()},
      ${graft.operators.HammingBands.oracleSqlTail(
        nBands = 4, bandBits = 15, cap = 256, theta = 3)}"""),
    bench = true,
    // this query's exchanges are all cap-bounded (band-bucket groups
    // capped at 256, pair shuffle carries 8-byte sketches) and it ran
    // spill-free at sf10 under a 32-way start — the registry-wide
    // 512-way AQE start exists for the edge-scale graph iterations and
    // only charged simhash per-partition overhead (+38% at sf10,
    // BASELINE.md r11 trade note). Advisory, applied per-query around
    // materialization and restored after.
    confs = Map(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "32"))

  /** The pipeline's final answer — one keep/drop decision per
    * document, composing exact dedup and the LSH near-dup clusters:
    *
    *  - `keeper(doc)` = its cluster's min doc_id if it appears in any
    *    LSH candidate pair, else the min doc_id of its exact
    *    fingerprint group;
    *  - `keep` ⇔ doc_id == keeper; dropped docs carry `dup_of` =
    *    keeper and a reason: `exact_dup` when an identical lower-id
    *    copy exists, `near_dup` otherwise.
    *
    * The keeper is always itself kept: identical docs share all
    * MinHash signatures, so an exact-dup group is always inside one
    * cluster — hence a cluster's min doc_id is also the min of its
    * own fingerprint group, and an exact canonical outside any
    * cluster has no lower copy anywhere. KeepListSpec asserts the
    * resulting invariants (partition of the corpus + dropped docs
    * point at kept docs); the DuckDB oracle replays the same
    * composition over the recursive-CTE closure.
    *
    * Scale shape: fingerprinting is one hash-aggregate on md5 (16
    * bytes on the shuffle); the canonical join re-uses the fp key;
    * clustering is the bounded-round label propagation of
    * [[connectedComponents]]; the final assembly is two id-keyed
    * joins. Nothing driver-side, nothing keyed on a bounded space. */
  /** (doc_id, exact_canonical, keeper) for every corpus document —
    * the decision core of [[qKeepList]], shared with the corpus-yield
    * report (TextAnalysis.qCorpusYield) and the corpus-drop job's
    * initial keeper state. */
  private[graft] def keeperFrame(s: SparkSession, d: String): DataFrame = {
    val fps = sessionFingerprints(s, d)
    withKeeper(fps.join(lowestIdPerFp(fps, "exact_canonical"), "fp")
        .select(col("doc_id"), col("exact_canonical")),
      sessionClusters(s, d))
  }

  /** The keeper rule over (doc_id, exact_canonical) rows: a doc's LSH
    * cluster label (its component's min id) if it is in any
    * candidate pair, else its exact canonical. */
  private[graft] def withKeeper(canon: DataFrame,
      clusters: DataFrame): DataFrame =
    canon.join(clusters, Seq("doc_id"), "left")
      .withColumn("keeper", coalesce(col("cluster_id"), col("exact_canonical")))
      .select(col("doc_id"), col("exact_canonical"), col("keeper"))

  /** dd_keep_list's rows from a keeper frame: keep ⇔ doc_id == keeper;
    * a dropped doc is an `exact_dup` when its exact canonical is a
    * lower copy, else a `near_dup`, and points at its keeper. */
  private[graft] def keepList(keepers: DataFrame): DataFrame =
    keepers.select(col("doc_id"),
      (col("doc_id") === col("keeper")).as("keep"),
      when(col("doc_id") === col("keeper"), "keep")
        .when(col("doc_id") =!= col("exact_canonical"), "exact_dup")
        .otherwise("near_dup").as("reason"),
      when(col("doc_id") =!= col("keeper"), col("keeper")).as("dup_of"))

  /** Oracle CTE chain producing `keeper(doc_id, exact_canonical,
    * keeper)` — the SQL twin of [[keeperFrame]]; requires $sigCte (as
    * WITH RECURSIVE) + $bandsCte + $clusterCtes in front. */
  private[queries] val keeperCtes =
    """fp AS (SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp FROM t),
      canon AS (SELECT fp, min(doc_id) AS exact_canonical
                FROM fp GROUP BY 1),
      keeper AS (
        SELECT f.doc_id, c.exact_canonical,
          coalesce(cl.cluster_id, c.exact_canonical) AS keeper
        FROM fp f JOIN canon c USING (fp)
        LEFT JOIN clusters cl USING (doc_id))"""

  val qKeepList = GraftQuery(
    "dd_keep_list",
    (s, d) => keepList(keeperFrame(s, d)),
    Some(s"""${sigCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, $bandsCte,
      $clusterCtes, $keeperCtes
      SELECT doc_id,
        doc_id = keeper AS keep,
        CASE WHEN doc_id = keeper THEN 'keep'
             WHEN doc_id <> exact_canonical THEN 'exact_dup'
             ELSE 'near_dup' END AS reason,
        CASE WHEN doc_id <> keeper THEN keeper END AS dup_of
      FROM keeper"""),
    bench = true)

  /** Cluster-size distribution — the one-page summary a dedup run
    * reports: how many near-dup clusters exist at each size, plus the
    * doc volume they bind. Composes the cached cluster artifact with
    * two tiny hash-aggregates (cluster_id-keyed, then size-keyed —
    * both key spaces shrink as they aggregate); nothing here touches
    * text or signatures. Singleton docs (no LSH candidate pair) are
    * not in the cluster table and therefore not in this report —
    * dd_keep_list is the per-doc account. */
  val qClusterStats = GraftQuery(
    "dd_cluster_stats",
    (s, d) => {
      import s.implicits._
      sessionClusters(s, d)
        .groupBy($"cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy($"cluster_size")
        .agg(count(lit(1)).as("n_clusters"),
          sum($"cluster_size").as("n_docs"),
          (sum($"cluster_size") - count(lit(1))).as("n_droppable"))
    },
    Some(s"""${sigCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, $bandsCte,
      $clusterCtes,
      cs AS (SELECT cluster_id, COUNT(*) AS cluster_size
             FROM clusters GROUP BY 1)
      SELECT cluster_size,
        COUNT(*) AS n_clusters,
        CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
        CAST(SUM(cluster_size) - COUNT(*) AS BIGINT) AS n_droppable
      FROM cs GROUP BY cluster_size"""))

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    * 2303.09540): assign every embedding to a trained k-means cell
    * ([[Similarity.kmeansAssign]] — the same deterministic 2-round
    * Lloyd run the IVF queries share), then compare vectors ONLY
    * within their cell and drop any vector that has a near-identical
    * (cosine ≥ θ) cell-mate with a smaller id. Complements
    * dd_embedding_neardup: LSH banding catches near-copies by random
    * projection, the cluster pass catches semantic redundancy around
    * learned modes — the two methods a production corpus runs
    * side by side.
    *
    * Per-cell work is bounded by a deterministic cap: within each
    * cell only the `cap` lowest vec_ids participate in pairing
    * (`in_scope`), so a degenerate cell costs ≤ cap² cosines — the
    * same skew guard as the ANN bucket cap. Out-of-scope vectors are
    * reported with `in_scope = false` and kept (no silent verdicts).
    * At 100 TB the real dial is k: SemDeDup sizes k ∝ N/(target cell
    * population) so cells stay cap-sized and pair work stays linear
    * in N; k = 8 here is the test-scale instantiation pinned by the
    * shared oracle CTE chain.
    *
    * Scale shape: the trained assignment is the session's cluster
    * artifact (localCheckpoint'd, reused by all three consumers
    * below); in-scope selection is the native bounded top-k aggregate
    * — map-side ≤ cap survivors per partition, NEVER a corpus window
    * over the k-valued cell key; the participant table is ≤ k·cap
    * rows BY CONSTRUCTION, so the pair join broadcasts it regardless
    * of corpus size and the only corpus-sized shuffles are the
    * assignment itself and the final vec_id-keyed left joins. */
  private[graft] def semanticDedup(s: org.apache.spark.sql.SparkSession,
      d: String, cap: Int, threshold: Double): DataFrame = {
    import s.implicits._
    val sig = VectorExpressions.signatures(Tables.embeddings(s, d), $"vec_id")
    val cells = sig.join(Similarity.sessionCoarseAssign(s, d), "vec_id")
      .localCheckpoint(true) // feeds scope selection, pairing, output
    val scoped = graft.operators.BucketCap
      .lowestIds(cells, Seq("cell"), "vec_id", cap)
      .select($"vec_id", lit(true).as("in_scope"))
    val p = cells.join(broadcast(scoped.select($"vec_id")), "vec_id")
      .select($"vec_id", $"q", $"qn", $"cell")
    val a = p.select($"cell", $"vec_id".as("a_id"), $"q".as("aq"),
      $"qn".as("an"))
    val b = p.select($"cell", $"vec_id".as("b_id"), $"q".as("bq"),
      $"qn".as("bn"))
    val cos = VectorExpressions.cosine($"aq", $"bq", $"an", $"bn")
    val near = a.join(broadcast(b), Seq("cell"))
      .filter($"a_id" =!= $"b_id")
      .filter(cos >= threshold)
      .groupBy($"a_id")
      .agg(count(lit(1)).as("n_near"),
        sum(when($"b_id" < $"a_id", 1L).otherwise(0L)).as("n_prior"))
      .withColumnRenamed("a_id", "vec_id")
    cells.select($"vec_id", $"cell")
      .join(broadcast(scoped), Seq("vec_id"), "left")
      .join(broadcast(near), Seq("vec_id"), "left")
      .select($"vec_id", $"cell",
        coalesce($"in_scope", lit(false)).as("in_scope"),
        coalesce($"n_near", lit(0L)).as("n_near"),
        (coalesce($"in_scope", lit(false)) === false ||
          coalesce($"n_prior", lit(0L)) === 0L).as("keep"))
  }

  /** Registry instantiation: cap 256 (the house per-bucket cap),
    * θ = 0.42 — the house near-dup threshold (dd_embedding_neardup
    * uses the same θ, so the two methods' verdicts are comparable;
    * within-cell cosines top out ≈ 0.51 on the synthetic fixture, so
    * the verdict is non-trivial at every SF). The
    * oracle replays the full chain: shared k-means CTEs → per-cell
    * ROW_NUMBER cap → both-direction pair scoring → greedy-by-id
    * keep rule. */
  val qSemanticDedup = GraftQuery(
    "dd_semantic_dedup",
    (s, d) => semanticDedup(s, d, cap = 256, threshold = 0.42),
    Some(s"""${Similarity.kmeansCtes},
      cells AS (
        SELECT q.vec_id, q.q, a.cell FROM q JOIN a3 a USING (vec_id)),
      scoped AS (
        SELECT vec_id, q, cell FROM (
          SELECT vec_id, q, cell,
            ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
          FROM cells)
        WHERE rn <= 256),
      near AS (
        SELECT a.vec_id AS vid,
          COUNT(*) AS n_near,
          CAST(SUM(CASE WHEN b.vec_id < a.vec_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_prior
        FROM scoped a JOIN scoped b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id
        WHERE round(
            CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE) /
            (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * a.q[i])) AS DOUBLE)) *
             sqrt(CAST(list_sum(list_transform(range(1, 65), i -> b.q[i] * b.q[i])) AS DOUBLE))), 6)
          >= 0.42
        GROUP BY a.vec_id),
      sc AS (SELECT vec_id FROM scoped)
      SELECT c.vec_id, c.cell,
        (sc.vec_id IS NOT NULL) AS in_scope,
        COALESCE(n.n_near, 0) AS n_near,
        (sc.vec_id IS NULL OR COALESCE(n.n_prior, 0) = 0) AS keep
      FROM cells c
      LEFT JOIN sc ON sc.vec_id = c.vec_id
      LEFT JOIN near n ON n.vid = c.vec_id"""))

  /** Edit-distance fuzzy join — entity resolution over a dimension's
    * name column (near-identical product names in a catalog; the
    * master-data twin of the document-level near-dup family).
    *
    * Scale shape (trigram blocking in the ED-Join tradition, Xiao et
    * al., VLDB 2008): the quadratic name-pair space is never
    * materialized. Names sharing at least one character trigram meet
    * in ONE (gram) shuffle. Completeness is provable, not heuristic:
    * a single edit destroys at most q = 3 positional trigrams, so a
    * name with ≥ 3·tau + 1 trigrams (length ≥ 3·tau + 3) keeps at
    * least one trigram through tau edits — when BOTH names clear that
    * bar the gram join cannot miss their pair. Names short enough
    * that tau edits can erase every gram go through a short-name
    * sidecar instead: any mate within tau edits of a short name is
    * itself ≤ minLong + tau − 1 chars, so the sidecar pairs the
    * bounded sub-minLong population exhaustively against the ≤
    * (minLong + tau − 1)-char slice and never touches the long tail.
    * The two candidate paths are disjoint by construction (gram path
    * requires both ≥ minLong; sidecar requires min < minLong).
    *
    * The oracle is the NAIVE QUADRATIC formulation — DuckDB can
    * afford it on the 64-name catalog — so the hash gate empirically
    * re-proves blocking completeness on every run, at every SF.
    *
    * Verification uses the banded levenshtein(_, _, tau) kernel
    * (O(tau·n) per pair with early exit, Spark 3.5+) on candidates
    * deduped on (name_a, name_b); only surviving pairs carry a
    * distance.
    *
    * Skew defense — ED-Join rarest-gram PREFIX selection (Xiao et
    * al., VLDB 2008): a gram shared by df names would contribute df²
    * candidate rows, and no per-bucket cap is admissible here (unlike
    * HammingBands, the oracle equality IS the completeness proof —
    * dropping candidates would break it). Instead each long name is
    * indexed under only its 3·tau + 1 rarest grams (global order:
    * catalog df ascending, then gram — one total order shared by both
    * join sides). Completeness is still provable, not heuristic, via
    * the prefix-filter lemma: if |Ga ∩ Gb| ≥ α, the (|Ga| − α + 1)-
    * and (|Gb| − α + 1)-prefixes under any shared total order must
    * intersect. Here tau edits remove at most 3·tau gram TYPES from a
    * set (a removed type needs a destroyed occurrence, and each edit
    * touches ≤ 3 occurrence slots), so α = max(|Ga|, |Gb|) − 3·tau,
    * giving prefix length 3·tau + 1; when that α ≤ 0 both gram sets
    * have ≤ 3·tau elements, the prefixes are the full sets, and the
    * positional pigeonhole above still guarantees a shared gram. A
    * hot gram (df ≫ k) is displaced from every prefix that has rarer
    * grams available, so candidate volume tracks the RARE end of the
    * df distribution; FuzzyJoinSpec pins this with an adversarial
    * shared-hot-gram vocabulary. */
  private[graft] def fuzzyCandidates(names: DataFrame, tau: Int): DataFrame = {
    val minLong = 3 * tau + 3
    val k = 3 * tau + 1
    val longNames = names.filter(length(col("name")) >= minLong)
    val grams = longNames.select(col("name"),
      explode(expr(
        "array_distinct(transform(sequence(1, length(name) - 2)," +
          " i -> substring(name, i, 3)))")).as("gram"))
    // catalog-wide document frequency = the global prefix order; the
    // join is gram-keyed (one shuffle, linear in gram rows)
    val gramDf = grams.groupBy("gram").agg(count(lit(1)).as("gram_df"))
    val prefix = grams.join(gramDf, Seq("gram"))
      .groupBy(col("name"))
      .agg(slice(sort_array(collect_list(struct(col("gram_df"), col("gram")))),
        1, k).as("pref"))
      .select(col("name"), explode(col("pref.gram")).as("gram"))
    val candLong = prefix.as("a")
      .join(prefix.as("b"),
        col("a.gram") === col("b.gram") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
    // every possible tau-edit mate of a sub-minLong name fits here
    val shortSlice = names.filter(length(col("name")) <= minLong + tau - 1)
    val candShort = shortSlice.as("a")
      .join(shortSlice.as("b"), col("a.name") < col("b.name"))
      .filter(least(length(col("a.name")), length(col("b.name"))) < minLong)
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    candLong.unionByName(candShort)
  }

  /** Tau-edit pairs over the deduped catalog `names`. The gram path
    * and both sidecar sides each read `names`, so callers pass it
    * materialized ([[partNames]]). */
  private[graft] def fuzzyJoin(names: DataFrame, tau: Int): DataFrame =
    fuzzyCandidates(names, tau)
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= tau)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b"), tau).cast("long").as("lev"))
      .filter(col("lev") >= 0)

  /** The deduped part-name catalog, materialized once (the
    * persisted-artifact shape, same as HammingBands' sketch table)
    * and deferred to the runner's drain. */
  private def partNames(s: SparkSession, d: String): DataFrame =
    Checkpoints.defer(Tables.part(s, d).select(col("p_name").as("name"))
      .distinct().localCheckpoint(true))

  val qFuzzyJoin = GraftQuery(
    "dd_fuzzy_join",
    (s, d) => fuzzyJoin(partNames(s, d), tau = 1),
    Some("""
      WITH n AS (SELECT DISTINCT p_name AS name FROM part)
      SELECT a.name AS name_a, b.name AS name_b,
        CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
      FROM n a JOIN n b ON a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 1"""))

  /** Catalog canonicalization — the entity-resolution END ANSWER the
    * fuzzy join feeds: tau-edit pairs become an undirected graph,
    * [[connectedComponents]] labels it (min-label propagation is
    * type-generic — least()/min() work on strings exactly as on ids),
    * and every catalog name maps to its cluster's lexicographic min
    * as `canonical_name`. Transitive chains resolve: A~B and B~C
    * canonicalize C to A even when lev(A, C) > tau — the master-data
    * behavior a pairwise join alone cannot deliver. Names in no pair
    * are their own canonical. Scale shape: blocking inherits
    * [[fuzzyJoin]]'s contract; clustering moves only (name, label)
    * tables for O(diameter) rounds; assembly is one name-keyed left
    * join. Oracle: naive-quadratic pairs + the dd_dup_clusters
    * recursive-closure shape over them. */
  val qFuzzyCanonical = GraftQuery(
    "dd_fuzzy_canonical",
    (s, d) => {
      val names = partNames(s, d)
      val pairs = fuzzyJoin(names, tau = 1)
        .select(col("name_a").as("doc_a"), col("name_b").as("doc_b"))
      val labels = Checkpoints.defer(connectedComponents(pairs,
        Tables.scaledPartitions(s, d, Seq("part"))))
        .withColumnRenamed("node", "name")
      names.join(labels, Seq("name"), "left")
        .select(col("name"),
          coalesce(col("label"), col("name")).as("canonical_name"),
          (coalesce(col("label"), col("name")) === col("name"))
            .as("is_canonical"))
    },
    Some("""
      WITH RECURSIVE n AS (SELECT DISTINCT p_name AS name FROM part),
      p0 AS (
        SELECT a.name AS name_a, b.name AS name_b
        FROM n a JOIN n b ON a.name < b.name
        WHERE levenshtein(a.name, b.name) <= 1),
      dedges AS (
        SELECT DISTINCT src, dst FROM (
          SELECT name_a AS src, name_b AS dst FROM p0
          UNION ALL SELECT name_b, name_a FROM p0)),
      reach AS (
        SELECT src, dst FROM dedges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN dedges e ON r.dst = e.src),
      clusters AS (
        SELECT src AS name, least(src, min(dst)) AS label
        FROM reach GROUP BY src)
      SELECT n.name,
        coalesce(c.label, n.name) AS canonical_name,
        (coalesce(c.label, n.name) = n.name) AS is_canonical
      FROM n LEFT JOIN clusters c USING (name)"""))

  /** Cross-source duplication matrix — the corpus-governance rollup of
    * [[qVerifiedPairs]]: every verified LSH candidate pair attributed
    * to its (source, source) cell, with candidate and confirmed-dup
    * counts per cell. This is the report a curation team reads to see
    * WHICH feeds copy from which (mirror sites, syndication, scraped
    * re-posts) before deciding per-source keep policies; source pairs
    * are unordered (least/greatest) so A→B and B→A land in one cell.
    *
    * Outputs stay exact integers — a dup RATE is one division away
    * downstream, but n_pairs can exceed 2·10⁶ per cell at scale, where
    * round(i/n, 6) half-millionth ties become possible cross-engine.
    *
    * Scale shape: candidate-sized work end to end — the pair table
    * joins the (doc_id, source) projection twice by id, then one
    * hash-aggregate on a source²-bounded key space. No corpus pass
    * beyond the shared signature/shingle artifacts. */
  val qCrossSourceMatrix = GraftQuery(
    "dd_cross_source_matrix",
    (s, d) => {
      import s.implicits._
      val cand = pairsFromSignatures(sessionSignatures(s, d))
        .select($"doc_a", $"doc_b")
      val hs = sessionShingleSets(s, d)
      val a = hs.select($"doc_id".as("doc_a"), $"hsh".as("hs_a"))
      val b = hs.select($"doc_id".as("doc_b"), $"hsh".as("hs_b"))
      val jac = round(
        size(array_intersect($"hs_a", $"hs_b")).cast("double") /
          nullif(size(array_union($"hs_a", $"hs_b")), lit(0)), 6)
      val src = Tables.documents(s, d).select($"doc_id", $"source")
      cand.join(a, "doc_a").join(b, "doc_b")
        .select($"doc_a", $"doc_b", (jac >= 0.8).as("is_dup"))
        .join(src.select($"doc_id".as("doc_a"), $"source".as("src_a")), "doc_a")
        .join(src.select($"doc_id".as("doc_b"), $"source".as("src_b")), "doc_b")
        .groupBy(least($"src_a", $"src_b").as("src_lo"),
          greatest($"src_a", $"src_b").as("src_hi"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when($"is_dup", 1L).otherwise(0L)).as("n_dups"))
    },
    Some(s"""$sigCte, $bandsCte,
      cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM bands l JOIN bands r
          ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
      hs AS (
        SELECT doc_id,
          list_distinct(list_transform(sh, v -> $polyHashSql)) AS hsh
        FROM s),
      vp AS (
        SELECT c.doc_a, c.doc_b,
          round(CAST(length(list_intersect(a.hsh, b.hsh)) AS DOUBLE) /
            nullif(length(list_distinct(list_concat(a.hsh, b.hsh))), 0),
            6) >= 0.8 AS is_dup
        FROM cand c
        JOIN hs a ON a.doc_id = c.doc_a
        JOIN hs b ON b.doc_id = c.doc_b)
      SELECT least(da.source, db.source) AS src_lo,
        greatest(da.source, db.source) AS src_hi,
        COUNT(*) AS n_pairs,
        CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
      FROM vp
      JOIN documents da ON da.doc_id = vp.doc_a
      JOIN documents db ON db.doc_id = vp.doc_b
      GROUP BY 1, 2"""))

  /** Corpus-level overlap between SOURCES — the governance question
    * above [[qCrossSourceMatrix]]'s pair attribution: how much of
    * source A's shingle vocabulary does source B share, as a whole?
    * Reports BOTH the exact Jaccard of the per-source shingle-hash
    * sets and the MinHash estimate from the element-wise-min
    * per-source signature — so the query doubles as the sketch's own
    * live error report (the estimate is deterministic: same mins,
    * same matches, on any engine — granularity 1/8 at 8 perms).
    *
    * Scale shape: the corpus-sized work is one distinct
    * (source, shingle-hash) aggregate over the persisted shingle
    * artifact; the exact-intersection self-join keys on the shingle
    * hash, where each key carries ≤ |sources| rows — per-key fan-out
    * is bounded by the source count, not the corpus. The per-source
    * signature is an 8-column min aggregate (|sources| rows); the
    * source-pair frames are |sources|² and ride broadcasts. */
  val qSourceOverlap = GraftQuery(
    "dd_source_overlap",
    (s, d) => {
      import s.implicits._
      val srcOf = Tables.documents(s, d).select($"doc_id", $"source")
      // Probed round 16 (guide §2.4): re-keying the distinct onto an
      // h repartition (the r15 tradeEdgesRaw pattern) measured
      // 5.5–5.9 s vs 3.3–4.2 s for this form at sf0.1 — unlike
      // tradeEdgesRaw, the raw exploded shingle volume here far
      // exceeds the distinct volume, so losing the plain distinct()'s
      // map-side partial dedup before the exchange costs more than
      // the probe-side exchanges the shared layout removes. Floor.
      val mem = sessionShingleSets(s, d).join(srcOf, "doc_id")
        .select($"source", explode($"hsh").as("h"))
        .distinct()
        .localCheckpoint(true) // sizes + the intersection both read it
      val sizes = mem.groupBy($"source").agg(count(lit(1)).as("n"))
      val inter = mem.select($"source".as("src_a"), $"h")
        .join(mem.select($"source".as("src_b"), $"h"), "h")
        .where($"src_a" < $"src_b")
        .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("n_inter"))
      val ssig = sessionSignatures(s, d).join(srcOf, "doc_id")
        .groupBy($"source")
        .agg(min(col("mh0")).as("m0"),
          (1 until 8).map(i => min(col(s"mh$i")).as(s"m$i")): _*)
      val est = ssig.select($"source".as("src_a") +:
          (0 until 8).map(i => col(s"m$i").as(s"a$i")): _*)
        .crossJoin(broadcast(ssig.select($"source".as("src_b") +:
          (0 until 8).map(i => col(s"m$i").as(s"b$i")): _*)))
        .where($"src_a" < $"src_b")
        .select($"src_a", $"src_b",
          (0 until 8).map(i =>
            (col(s"a$i") === col(s"b$i")).cast("long"))
            .reduce(_ + _).as("minhash_matches"))
      sizes.select($"source".as("src_a"), $"n".as("n_a"))
        .crossJoin(broadcast(
          sizes.select($"source".as("src_b"), $"n".as("n_b"))))
        .where($"src_a" < $"src_b")
        .join(inter, Seq("src_a", "src_b"), "left")
        .na.fill(0L, Seq("n_inter"))
        .join(broadcast(est), Seq("src_a", "src_b"))
        .select($"src_a", $"src_b", $"n_a", $"n_b", $"n_inter",
          expr("(n_inter * 1000000) div (n_a + n_b - n_inter)")
            .as("jaccard_micro"),
          $"minhash_matches",
          ($"minhash_matches" * 125000L).as("est_jaccard_micro"))
    },
    Some(s"""$sigCte,
      hs AS (
        SELECT doc_id, source,
          list_distinct(list_transform(sh, v -> $polyHashSql)) AS hsh
        FROM s),
      mem AS (
        SELECT DISTINCT source, h
        FROM (SELECT source, unnest(hsh) AS h FROM hs)),
      sizes AS (SELECT source, COUNT(*) AS n FROM mem GROUP BY 1),
      inter AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
        FROM mem a JOIN mem b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2),
      ssig AS (
        SELECT source, ${(0 until 8).map(i => s"min(mh$i) AS m$i").mkString(", ")}
        FROM sig GROUP BY source),
      est AS (
        SELECT a.source AS src_a, b.source AS src_b,
          ${(0 until 8).map(i =>
            s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")}
            AS minhash_matches
        FROM ssig a JOIN ssig b ON a.source < b.source)
      SELECT p.src_a, p.src_b,
        CAST(p.n_a AS BIGINT) AS n_a, CAST(p.n_b AS BIGINT) AS n_b,
        CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
        CAST((COALESCE(i.n_inter, 0) * 1000000)
          // (p.n_a + p.n_b - COALESCE(i.n_inter, 0)) AS BIGINT)
          AS jaccard_micro,
        CAST(e.minhash_matches AS BIGINT) AS minhash_matches,
        CAST(e.minhash_matches * 125000 AS BIGINT) AS est_jaccard_micro
      FROM (SELECT a.source AS src_a, b.source AS src_b,
              a.n AS n_a, b.n AS n_b
            FROM sizes a JOIN sizes b ON a.source < b.source) p
      LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
      JOIN est e ON e.src_a = p.src_a AND e.src_b = p.src_b"""))

  /** Quality-aware keeper selection — [[qKeepList]] keeps each
    * cluster's LOWEST id (the deterministic default); production
    * pipelines usually keep the BEST copy instead, because near-dup
    * clusters mix clean and mangled variants of the same content.
    * This is that composition: every clustered doc scored by the
    * SAME quality expression t_quality_score and the corpus-yield
    * verdict use ([[TextAnalysis.qualityScoreExpr]] — shared builder,
    * so "best" can never drift from what the quality filter would
    * keep), keeper = argmax score with ties to the lowest id. Scope
    * is the cluster table (like dd_cluster_stats): singletons have
    * no competing copy to choose between.
    *
    * Determinism: both engines derive the score double from
    * identical integer token counts with the identical operand
    * order, so score equality and ordering are bit-deterministic;
    * the id tie-break covers exact-copy clusters where every score
    * ties. Scale shape: the cluster artifact joins the map-side
    * scored docs id-keyed; the argmax is one cluster-keyed
    * max(struct) hash-aggregate — no window, no text on the
    * shuffle after the score projection. */
  val qQualityKeepList = GraftQuery(
    "dd_quality_keep_list",
    (s, d) => {
      import s.implicits._
      val scored = Tables.documents(s, d).select($"doc_id",
        TextAnalysis.qualityScoreExpr($"text").as("score"))
      val withCl = sessionClusters(s, d).join(scored, "doc_id")
      val keep = withCl.groupBy($"cluster_id")
        .agg(ArgMax2.of($"score", -$"doc_id").as("m"))
        .select($"cluster_id", (-$"m.tie").as("keeper"),
          round($"m.ord", 6).as("keeper_score"))
      withCl.join(keep, "cluster_id")
        .select($"doc_id", $"cluster_id",
          round($"score", 6).as("quality_score"),
          $"keeper", ($"doc_id" === $"keeper").as("is_kept"),
          $"keeper_score")
    },
    Some(s"""${sigCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, $bandsCte,
      $clusterCtes,
      qm AS (
        SELECT doc_id,
          length(toks) AS n_tokens,
          length(list_filter(toks, x -> list_contains(
            ['the','a','and','of','to','in','is','on','for','with'], x)))
            AS n_stopwords,
          length(list_distinct(toks)) AS n_distinct
        FROM t),
      qsc AS (
        SELECT doc_id,
          (CASE WHEN n_tokens BETWEEN 10 AND 2000 THEN 0.5 ELSE 0.0 END) +
          (CASE WHEN CAST(n_stopwords AS DOUBLE) / n_tokens
                  BETWEEN 0.01 AND 0.5 THEN 0.25 ELSE 0.0 END) +
          CAST(n_distinct AS DOUBLE) / n_tokens * 0.25 AS score
        FROM qm),
      qk AS (
        SELECT c.doc_id, c.cluster_id, qsc.score
        FROM clusters c JOIN qsc USING (doc_id)),
      arg AS (
        SELECT cluster_id, doc_id AS keeper, score AS keeper_score FROM (
          SELECT cluster_id, doc_id, score,
            ROW_NUMBER() OVER (PARTITION BY cluster_id
              ORDER BY score DESC, doc_id ASC) AS rn
          FROM qk)
        WHERE rn = 1)
      SELECT qk.doc_id, qk.cluster_id, round(qk.score, 6) AS quality_score,
        arg.keeper, qk.doc_id = arg.keeper AS is_kept,
        round(arg.keeper_score, 6) AS keeper_score
      FROM qk JOIN arg USING (cluster_id)"""))

  /** Minimum verbatim run length (tokens) dd_substring_runs reports.
    * 8 on the ~55-token fixture docs; production LM pipelines use
    * 50 — one constant, both engines. */
  private val SubstringRunK = 8

  /** Boilerplate cap: k-grams in more distinct docs than this are
    * dropped before the anchor join (deterministic, oracle-replayed). */
  private val SubstringMaxDf = 64

  /** The two 31-bit polynomial folds of [[qSubstringRuns]]'s oracle —
    * polyHashSql's proven spelling, parameterized by seed/multiplier,
    * over the gram string column `gram`. */
  private def substringFoldSql(seed: Long, m: Long): String =
    s"""list_reduce(list_concat([CAST($seed AS BIGINT)],
       list_transform(range(1, length(gram) + 1),
         i -> CAST(unicode(gram[i]) AS BIGINT))),
       (acc, c) -> (acc * $m + c) % 2147483647)"""

  /** Substring-level exact dedup (VERDICT r9 #4): cross-document
    * VERBATIM token runs of ≥ RunK tokens — the suffix-array-style
    * "50-token verbatim overlap" modality LM-corpus pipelines run
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better") — via k-gram ANCHORS + chain extension instead of a
    * suffix array. A shared verbatim run of L ≥ k tokens is exactly a
    * maximal chain of positionally CONSECUTIVE anchor matches at one
    * alignment offset (delta = pos_b − pos_a), so:
    *
    *  1. anchor table: one positional k-gram hash per token position
    *     (native [[org.apache.spark.sql.graft.GramPositionHashes]] —
    *     ~62-bit composite hash; one codegen'd scan, explode is
    *     linear in corpus tokens, the dd_contamination cost class);
    *  2. boilerplate cap: grams appearing in more than MaxDf distinct
    *     docs are dropped BEFORE the self-join (the ED-Join
    *     rarest-gram discipline — a license header shared by 100k
    *     docs must not fan out 10^10 anchor pairs). The cap is a
    *     DETERMINISTIC corpus property, so the oracle replays it
    *     exactly — dropped grams are a semantics choice, not a
    *     silent truncation (runs bridged ONLY by boilerplate grams
    *     split; their non-boilerplate fragments still report);
    *  3. anchor self-join on the hash (doc_a < doc_b) — a hash join
    *     whose fan-out is bounded by the cap at ≤ MaxDf matches per
    *     gram occurrence;
    *  4. chain extension: per (pair, delta), consecutive anchor
    *     positions collapse via the islands trick (pos − row_number
    *     is constant on a chain); run length = chain + k − 1. The
    *     window partitions by (pair, delta) — capped candidate
    *     groups, never corpus-wide.
    *
    * Why anchors and not a suffix array at 100 TB: SA construction
    * needs a global order over the corpus token stream (a multi-round
    * all-to-all of the full text); the anchor form is one linear
    * scan + one capped hash join + partition-local windows — the
    * exact bucketed discipline every other dd_* family already uses,
    * and the anchor table lands next to the shingle sets in the same
    * per-corpus-drop materialization in production (positions are
    * required here, so the positionless persisted shingle SETS
    * cannot serve). Output per overlapping pair: the longest shared
    * run and the number of maximal chains (internal text periodicity
    * yields chains at several deltas — deterministic on both
    * engines). */
  val qSubstringRuns = GraftQuery(
    "dd_substring_runs",
    (s, d) => {
      import s.implicits._
      // Probed round 16 (guide §2.4): re-keying this checkpoint on gh
      // (so the distinct-df aggregate and self-join ride one layout
      // exchange) measured 4.5–5.0 s vs 3.3–3.6 s for this form at
      // sf0.1 — the anchor table is TOKEN-scale, so one extra full
      // repartition of it costs more than the consumer exchanges it
      // removes (which AQE coalesces, and the self-join's build side
      // broadcasts anyway). This shape is the measured floor: the
      // cost is the gram-hash Generate + the run window, not layout.
      val anchors = Tables.documents(s, d)
        .select($"doc_id", posexplode(
          org.apache.spark.sql.graft.GramPositionHashes.of($"text", SubstringRunK)))
        .select($"doc_id", ($"pos" + 1).as("pos"), $"col".as("gh"))
        .localCheckpoint(true) // consumed 3× (df, both join sides)
      val rare = anchors.groupBy($"gh")
        .agg(countDistinct($"doc_id").as("df"))
        .filter($"df" <= SubstringMaxDf)
        .select($"gh")
      val kept = anchors.join(rare, "gh")
      val m = kept.as("a").join(kept.as("b"),
          $"a.gh" === $"b.gh" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("da"), $"a.pos".as("pa"),
          $"b.doc_id".as("db"), $"b.pos".as("pb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"da", $"db", $"delta").orderBy($"pa".asc)
      m.withColumn("delta", $"pb" - $"pa")
        .withColumn("isl", $"pa" - row_number().over(w))
        .groupBy($"da", $"db", $"delta", $"isl")
        .agg((count(lit(1)) + (SubstringRunK - 1)).as("run_len"))
        .groupBy($"da", $"db")
        .agg(max($"run_len").as("max_run_tokens"),
          count(lit(1)).as("n_runs"))
        .select($"da".as("doc_a"), $"db".as("doc_b"),
          $"max_run_tokens", $"n_runs")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents),
      g0 AS MATERIALIZED (
        SELECT doc_id, i AS pos,
          array_to_string(toks[i:i+${SubstringRunK - 1}], ' ') AS gram
        FROM t, unnest(range(1, length(toks) - ${SubstringRunK - 2})) AS r(i)),
      gh AS MATERIALIZED (
        SELECT doc_id, pos,
          ${substringFoldSql(7, 1000003)} * 2147483647
            + ${substringFoldSql(13, 1000033)} AS gh
        FROM g0),
      rare AS MATERIALIZED (
        SELECT gh FROM (
          SELECT gh, COUNT(DISTINCT doc_id) AS df FROM gh GROUP BY 1)
        WHERE df <= $SubstringMaxDf),
      m AS (
        SELECT a.doc_id AS da, a.pos AS pa, b.doc_id AS db, b.pos AS pb
        FROM gh a JOIN gh b ON a.gh = b.gh AND a.doc_id < b.doc_id
        WHERE a.gh IN (SELECT gh FROM rare)),
      isl AS (
        SELECT da, db, pb - pa AS delta,
          pa - row_number() OVER (PARTITION BY da, db, pb - pa
                                  ORDER BY pa ASC) AS isl
        FROM m),
      runs AS (
        SELECT da, db, COUNT(*) + ${SubstringRunK - 1} AS run_len
        FROM isl GROUP BY da, db, delta, isl)
      SELECT da AS doc_a, db AS doc_b,
        CAST(MAX(run_len) AS BIGINT) AS max_run_tokens,
        CAST(COUNT(*) AS BIGINT) AS n_runs
      FROM runs GROUP BY 1, 2"""))

  val all: Seq[GraftQuery] =
    Seq(qDedupExact, qMinhashSig, qLshPairs, qNgramJaccard,
      qEmbeddingNearDup, qDupClusters, qContamination, qChunkDedup,
      qBloomContamination, qVerifiedPairs, qIncremental, qKeepList,
      qSimhashNearDup, qContainment, qClusterStats, qSemanticDedup,
      qFuzzyJoin, qFuzzyCanonical, qCrossSourceMatrix, qSourceOverlap,
      qQualityKeepList, qSubstringRuns)
}
