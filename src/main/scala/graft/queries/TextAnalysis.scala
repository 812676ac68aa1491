package graft.queries

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token stats, quality scoring, language ID,
  * fingerprinting. All pure column expressions (codegen'd, no UDFs) —
  * at 100 TB these run embarrassingly parallel with zero shuffle.
  */
object TextAnalysis {

  private def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Marker-word lists for the n-gram language heuristic. Real
    * deployments would use char-trigram profiles; the scoring shape
    * (per-language token hit count → argmax) is the same. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "und", "ist", "von", "mit", "das"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "es"),
    "fr" -> Seq("le", "la", "et", "de", "un", "est", "dans"),
    "zh" -> Seq("de", "le", "shi", "zai", "you", "wo", "ta"))

  private val stopWords =
    Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")

  /** Composite quality score over a text column — shared by
    * t_quality_score and the corpus-yield verdict so the keep
    * threshold can never drift between the report and the per-doc
    * query. Raw ratios feed the score; any rounding happens only at
    * an output edge. */
  private[queries] def qualityScoreExpr(text: Column): Column =
    qualityScoreFromToks(tokens(text))

  /** The same composite score over an ALREADY-SPLIT token array —
    * consumers that need several token-derived columns project
    * `tokens(text)` ONCE and feed the alias here, so the regex split
    * runs once per row instead of once per referencing expression
    * (codegen CSE does not reliably collapse the split through
    * `when` branches and lambda-function children — measured round
    * 15 on the corpus-yield verdict). */
  private[queries] def qualityScoreFromToks(toks: Column): Column = {
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t.isInCollection(stopWords)))
    val stopRatio = nStop.cast("double") / nTok
    val ttr = size(array_distinct(toks)).cast("double") / nTok
    when(nTok.between(10, 2000), 0.5).otherwise(0.0) +
      when(stopRatio.between(0.01, 0.5), 0.25).otherwise(0.0) +
      ttr * 0.25
  }

  /** Alphabetical-first argmax language prediction over an
    * already-split token array (shared by t_lang_id and the
    * corpus-yield verdict) — see [[qualityScoreFromToks]] for why the
    * split is hoisted. */
  private def predictedLangFromToks(toks: Column): Column = {
    val scores = markers.map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isInCollection(words)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.sortBy(_._1).foldRight(lit("unknown")) {
      case ((lang, sc), acc) =>
        when(sc === best && best > 0, lang).otherwise(acc)
    }
  }

  /** Oracle twins of the language scorer: per-language score columns
    * over a `toks` list column, the greatest() expression, and the
    * alphabetical-first CASE chain (expects the scores + `best` in
    * scope). */
  private def langScoreSql: String = markers.map { case (lang, words) =>
    val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
    s"length(list_filter(toks, x -> list_contains($lst, x))) AS score_$lang"
  }.mkString(", ")
  private def langBestSql: String =
    markers.map(m => s"score_${m._1}").mkString("greatest(", ", ", ")")
  private def langCaseSql: String =
    markers.map(_._1).sorted.reverse.foldLeft("'unknown'") { (acc, lang) =>
      s"CASE WHEN score_$lang = best AND best > 0 THEN '$lang' ELSE $acc END"
    }

  val qTokenStats = GraftQuery(
    "t_token_stats",
    (s, d) => {
      import s.implicits._
      // one split feeds the 3 token-derived outputs (the
      // yieldContrib projection-barrier rationale)
      Tables.documents(s, d)
        .select($"doc_id", $"lang", $"text", tokens($"text").as("toks"))
        .select(
          $"doc_id",
          $"lang",
          length($"text").as("n_chars_calc"),
          size($"toks").as("n_tokens"),
          size(array_distinct($"toks")).as("n_distinct_tokens"),
          round(length(regexp_replace($"text", "\\s", "")).cast("double") /
            size($"toks"), 6).as("avg_token_len"))
    },
    Some("""
      SELECT doc_id, lang,
        length(text) AS n_chars_calc,
        length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        length(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_distinct_tokens,
        round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) /
          length(regexp_split_to_array(trim(text), '\s+')), 6) AS avg_token_len
      FROM documents"""))

  /** Quality scoring: length band, stopword ratio, type-token ratio,
    * punctuation density → composite score + keep flag. All integer
    * counts divided identically on both sides → bit-identical. */
  val qQualityScore = GraftQuery(
    "t_quality_score",
    (s, d) => {
      import s.implicits._
      // tokens materialized once in a projection barrier (the
      // yieldContrib rationale): 6 token-derived outputs share one
      // regex split instead of relying on codegen CSE
      val toks = $"toks"
      val nTok = size(toks)
      val nStop = size(filter(toks, t => t.isInCollection(stopWords)))
      // raw ratios feed the score; rounding only at the output edge.
      // (Rounding twice creates exact decimal ties where Spark's
      // BigDecimal rounding and DuckDB's scaled-double rounding split.)
      val stopRatio = nStop.cast("double") / nTok
      val ttr = size(array_distinct(toks)).cast("double") / nTok
      val nPunct = length($"text") - length(regexp_replace($"text", "[^a-zA-Z0-9\\s]", ""))
      val score = qualityScoreFromToks(toks)
      Tables.documents(s, d)
        .select($"doc_id", $"text", tokens($"text").as("toks"))
        .select(
          $"doc_id", nTok.as("n_tokens"), nStop.as("n_stopwords"),
          round(stopRatio, 6).as("stop_ratio"),
          round(ttr, 6).as("type_token_ratio"),
          nPunct.as("n_punct"), round(score, 6).as("quality_score"),
          (score >= 0.5).as("keep"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, text,
          regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      m AS (
        SELECT doc_id,
          length(toks) AS n_tokens,
          length(list_filter(toks, x -> list_contains(
            ['the','a','and','of','to','in','is','on','for','with'], x))) AS n_stopwords,
          length(list_distinct(toks)) AS n_distinct,
          length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS n_punct
        FROM t),
      r AS (
        SELECT doc_id, n_tokens, n_stopwords,
          CAST(n_stopwords AS DOUBLE) / n_tokens AS sr,
          CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
          n_punct
        FROM m),
      sc AS (
        SELECT *, (CASE WHEN n_tokens BETWEEN 10 AND 2000 THEN 0.5 ELSE 0.0 END) +
                  (CASE WHEN sr BETWEEN 0.01 AND 0.5 THEN 0.25 ELSE 0.0 END) +
                  ttr * 0.25 AS score
        FROM r)
      SELECT doc_id, n_tokens, n_stopwords,
        round(sr, 6) AS stop_ratio,
        round(ttr, 6) AS type_token_ratio,
        n_punct,
        round(score, 6) AS quality_score,
        score >= 0.5 AS keep
      FROM sc"""))

  /** Language ID: per-language marker hit count → argmax with
    * alphabetical tie-break ('unknown' when nothing hits). */
  val qLangId = GraftQuery(
    "t_lang_id",
    (s, d) => {
      import s.implicits._
      // one split feeds the 5 language scores + en_score (the
      // yieldContrib projection-barrier rationale)
      val enScore = size(filter($"toks",
        t => t.isInCollection(markers.find(_._1 == "en").get._2)))
      Tables.documents(s, d)
        .select($"doc_id", $"lang", tokens($"text").as("toks"))
        .select(
          $"doc_id", $"lang".as("labeled_lang"),
          predictedLangFromToks($"toks").as("predicted_lang"),
          enScore.as("en_score"))
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents),
      sc AS (SELECT doc_id, lang, $langScoreSql FROM t),
      b AS (SELECT *, $langBestSql AS best FROM sc)
      SELECT doc_id, lang AS labeled_lang, $langCaseSql AS predicted_lang,
        score_en AS en_score
      FROM b"""))

  /** Document fingerprinting: md5 of whitespace-normalized text (the
    * exact-dup key) + a 16-bit SimHash over distinct tokens (the
    * near-dup key). SimHash bit i = sign of Σ ±1 over token hashes. */
  val qFingerprint = GraftQuery(
    "t_fingerprint",
    (s, d) => {
      import s.implicits._
      // the per-token md5 hash vector is materialized ONCE in a
      // projection barrier: the 16 bit expressions each aggregate
      // over it, and inlined they would re-split + re-md5 the text
      // 16× per row (the yieldContrib projection-barrier rationale)
      val hv0 = transform(array_distinct(tokens($"text")), t =>
        conv(substring(md5(t), 1, 12), 16, 10).cast("long"))
      def bit(i: Int): Column =
        when(aggregate($"hv", lit(0L), (acc, v) =>
          acc + when(shiftright(v, i).bitwiseAND(1) === 1, 1L).otherwise(-1L)
        ) >= 0, 1L).otherwise(0L)
      val simhash = (0 until 16).map(i => bit(i) * (1L << i)).reduce(_ + _)
      Tables.documents(s, d)
        .select($"doc_id",
          md5(array_join(tokens($"text"), " ")).as("exact_fp"),
          hv0.as("hv"))
        .select(
          $"doc_id",
          $"exact_fp",
          simhash.as("simhash16"))
    },
    Some {
      def bitSql(i: Int): String =
        s"""(CASE WHEN list_sum(list_transform(dtoks, t ->
           CASE WHEN (CAST('0x' || substr(md5(t),1,12) AS BIGINT) >> $i) & 1 = 1
           THEN 1 ELSE -1 END)) >= 0 THEN ${1L << i} ELSE 0 END)"""
      val sim = (0 until 16).map(bitSql).mkString(" + ")
      """
      WITH t AS (
        SELECT doc_id,
          array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ') AS norm,
          list_distinct(regexp_split_to_array(trim(text), '\s+')) AS dtoks
        FROM documents)
      SELECT doc_id, md5(norm) AS exact_fp, """ + sim + """ AS simhash16
      FROM t"""
    })

  /** BPE-ish token counting: a GPT-2-flavored pre-tokenizer regex
    * (letter runs / digit runs / single punctuation) — the whitespace
    * count's companion for LLM-budget estimation. regexp_extract_all
    * exists on both engines with compatible semantics for this
    * character-class-only pattern. */
  val qTokenBpe = GraftQuery(
    "t_token_count_bpe",
    (s, d) => {
      import s.implicits._
      val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
      Tables.documents(s, d).select(
        $"doc_id",
        size(split(trim($"text"), "\\s+")).as("n_ws_tokens"),
        size(regexp_extract_all($"text", lit(pat), lit(0))).as("n_bpe_tokens"),
        ceil(length($"text") / 4.0).cast("long").as("n_chars_div4_est"))
    },
    Some("""
      SELECT doc_id,
        length(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
        length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
        CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_chars_div4_est
      FROM documents"""))

  /** End-to-end learned tokenization: train 20 BPE merges on the
    * corpus itself ([[graft.operators.BpeTrainer]]), then encode every
    * document against the learned table — the full tokenizer-train →
    * tokenizer-apply loop a data pipeline runs before token-budget
    * accounting, where [[qTokenBpe]] only approximated the applying
    * half with a fixed regex. Per doc: whitespace token count and the
    * true BPE token count under the learned merges.
    *
    * Oracle: the TRAINER is an iterative argmax no single SQL
    * statement replays (same stance as the BpeTrainer scaladoc), so
    * it stays spec-gated (BpeSpec hand-computable corpus); the
    * ENCODER, however, is fully cross-engine checkable once the
    * learned table is in hand — [[bpeEncodeOracleSql]] inlines the k
    * learned merges (they are the hyperparameter-sized artifact, 20
    * literal pairs) into DuckDB SQL that replays the encoding, and
    * [[graft.Verify]] emits it into oracle_sql.json at dump time, so
    * the driver hash-compares this query like any other (VERDICT r14
    * #2 — closes the last rows-only registry hole). BpeEncodeSpec
    * additionally pins the encoder's arithmetic anchors: zero-merge
    * encoding equals exact per-doc character mass, symbol
    * concatenation reconstructs every word, token counts are monotone
    * non-increasing in the merge budget.
    *
    * Scale shape: training per BpeTrainer (word-type table, k
    * argmax rounds); encoding applies the broadcast merge table to
    * word TYPES only, then one hash-join back onto the per-doc word
    * counts — the imperative rewrite never sees a corpus-sized row
    * set. */
  val qBpeEncode = GraftQuery(
    "t_bpe_encode",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      graft.operators.BpeTrainer.encode(s, docs, trainedBpeMerges(s, d))
    },
    None,
    bench = true)

  /** Merge budget shared by t_bpe_encode, the persisted tokenizer
    * artifact (tools/Artifacts "bpe_merges") and the streaming
    * encoder — a hyperparameter, 20 at fixture scale where a
    * production tokenizer runs 30k+. */
  private[graft] val BpeMergeBudget = 20

  /** Count of in-session BPE trainings — the attach gate's
    * evidence: at production merge counts the trained table MUST be
    * a persisted artifact, so attached sessions are asserted to hold
    * this at zero (ArtifactLifecycleSpec). */
  private[graft] val bpeTrainings =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Session-scoped trained merge table: resolve the persisted
    * "bpe_merges" artifact if one is attached for this dataset, else
    * train once per (session, dataset) and share across consumers
    * (the bench warmup pass trains; measured passes encode — the same
    * warmed-artifact protocol the dedup family gets). */
  private val bpeCache =
    graft.tools.SessionCache[String, Seq[graft.operators.BpeTrainer.Merge]]()
  private[graft] def trainedBpeMerges(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[graft.operators.BpeTrainer.Merge] =
    bpeCache(s, d)(
      graft.tools.Artifacts.lookup(s, d, "bpe_merges")
        .map(graft.operators.BpeTrainer.mergesFromFrame)
        .getOrElse {
          bpeTrainings.incrementAndGet()
          graft.operators.BpeTrainer.train(s,
            Tables.documents(s, d).select(col("doc_id"), col("text")),
            BpeMergeBudget)
        })

  /** DuckDB SQL replaying [[qBpeEncode]]'s ENCODER against a learned
    * merge table, with the k merges inlined as literals — emitted into
    * oracle_sql.json by [[graft.Verify]] after the queries run (the
    * merges depend on the corpus, so this oracle is generated at dump
    * time, not statically). The trainer stays spec-gated; this proves
    * the corpus-scale half (word split, per-type rewrite, join-back,
    * per-doc aggregation) cross-engine.
    *
    * Representation: a word's symbol sequence is rendered as a single
    * string of chr(1)-wrapped symbols (writing chr(1) as "|"): the
    * sequence [ab, c] becomes "|ab||c|", so adjacent symbols meet as
    * "||" and every symbol is boundary-anchored on both sides. One
    * merge (l, r) is then ONE SQL replace of "|l||r|" with "|lr|":
    * `replace` scans left-to-right and resumes AFTER the substituted
    * text, which is exactly BpeTrainer.rewrite's non-overlapping
    * semantics (BpeEncodeSpec pins the equivalence against
    * java.lang.String.replace, which shares those semantics; the
    * DuckDB run itself is the driver's hash-compare). The corpus is
    * ASCII and chr(1)-free (fixture property, asserted in the spec),
    * so the wrapper can't collide with symbol content and Spark's
    * UTF-16 `toCharArray` agrees with RE2's per-codepoint `(.)`. */
  def bpeEncodeOracleSql(merges: Seq[graft.operators.BpeTrainer.Merge]): String = {
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    def wrap(s: String) = s"chr(1)||${lit(s)}||chr(1)"
    val rewritten = merges.sortBy(_.rank).foldLeft("s") { (acc, m) =>
      s"replace($acc, ${wrap(m.left)}||${wrap(m.right)}, ${wrap(m.left + m.right)})"
    }
    s"""
      WITH docwords AS (
        SELECT doc_id, w, COUNT(*) AS cnt FROM (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
          FROM documents)
        WHERE length(w) > 0 GROUP BY doc_id, w),
      -- initial symbols: every char chr(1)-wrapped, </w> marker joined
      -- into the final char's symbol (BpeTrainer.initialSymbols)
      t1 AS (
        SELECT w, regexp_replace(w, '(.)', chr(1)||'\\1'||chr(1), 'g') AS s
        FROM (SELECT DISTINCT w FROM docwords)),
      t2 AS (
        SELECT w, substr(s, 1, length(s)-1) || '</w>' || chr(1) AS s
        FROM t1),
      t3 AS (SELECT w, $rewritten AS s FROM t2),
      -- each symbol carries exactly 2 wrapper chars
      enc AS (
        SELECT w,
               (length(s) - length(replace(s, chr(1), ''))) // 2 AS n_sym
        FROM t3)
      SELECT d.doc_id,
             CAST(SUM(d.cnt) AS BIGINT) AS ws_tokens,
             CAST(SUM(d.cnt * e.n_sym) AS BIGINT) AS bpe_tokens
      FROM docwords d JOIN enc e USING (w)
      GROUP BY d.doc_id"""
  }

  /** Oracle entries that can only be built AFTER the queries run
    * against a concrete corpus (learned-artifact-dependent SQL).
    * Called by [[graft.Verify]] with the same (session, sfDir) the
    * queries saw — the merge cache guarantees the inlined table is
    * bit-identical to the one t_bpe_encode's output used. */
  def dynamicOracles(s: org.apache.spark.sql.SparkSession,
      d: String): Map[String, String] =
    Map("t_bpe_encode" -> bpeEncodeOracleSql(trainedBpeMerges(s, d)))

  /** Approximate distinct counts (HLL++) per source — the sketch-based
    * companion to exact countDistinct for 100 TB cardinality work. No
    * SQL oracle: DuckDB's approx_count_distinct uses a different
    * sketch, so the driver records the rows-only check; the exact
    * column is there to eyeball the approximation in results.
    *
    * The sketch IS hard-checked, just not by cross-engine hashing:
    * [[qExactDistinct]] is the oracle-able exact twin of this query,
    * and TextOpsSpec gates the HLL estimate's relative error against
    * it at ≤ 5% per source (the default rsd is 0.05, so a correct
    * sketch sits inside that bound with huge margin at fixture
    * cardinalities). */
  val qApproxDistinct = GraftQuery(
    "t_approx_distinct_tokens",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"source", explode(tokens($"text")).as("tok"))
        .groupBy($"source")
        .agg(approx_count_distinct($"tok").as("approx_distinct_tokens"),
             countDistinct($"tok").as("exact_distinct_tokens"),
             count(lit(1)).as("n_tokens"))
    },
    None)

  /** Exact-distinct twin of [[qApproxDistinct]]: same explode + group,
    * COUNT(DISTINCT) instead of the sketch — trivially oracle-able, so
    * the approx-distinct surface gets a hash-checked anchor (the HLL
    * row itself stays rows-only by design). Scale: COUNT(DISTINCT tok)
    * is a two-phase hash-aggregate (partial distinct per partition on
    * (source, tok), then merge) — the exact path you run while the
    * corpus still fits, and the number the sketch is judged against. */
  val qExactDistinct = GraftQuery(
    "t_exact_distinct_tokens",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select($"source", explode(tokens($"text")).as("tok"))
        .groupBy($"source")
        .agg(countDistinct($"tok").as("exact_distinct_tokens"),
             count(lit(1)).as("n_tokens"))
    },
    Some("""
      WITH t AS (
        SELECT source,
          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents)
      SELECT source, COUNT(DISTINCT tok) AS exact_distinct_tokens,
        COUNT(*) AS n_tokens
      FROM t GROUP BY source"""))

  /** Deterministic train/val split: assignment = md5(doc_id) bucket,
    * NOT random — reproducible across runs, engines and reshuffles,
    * and stable under incremental ingest (a doc's split never changes
    * when other docs arrive). 48-bit md5 prefix mod 100 < 90 → train.
    * Output: per (lang, split) doc and token counts — the sanity
    * report a pipeline emits after splitting. Scale: one
    * hash-aggregate, split assignment is map-side. */
  val qTrainValSplit = GraftQuery(
    "t_train_val_split",
    (s, d) => {
      import s.implicits._
      val bucket = pmod(
        conv(substring(md5($"doc_id".cast("string")), 1, 12), 16, 10)
          .cast("long"), lit(100L))
      Tables.documents(s, d)
        .select($"lang", $"text",
          when(bucket < 90, "train").otherwise("val").as("split"))
        .groupBy($"lang", $"split")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens($"text")).cast("long")).as("n_tokens"))
    },
    Some("""
      WITH b AS (
        SELECT lang, text,
          CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) % 100 < 90
               THEN 'train' ELSE 'val' END AS split
        FROM documents)
      SELECT lang, split, COUNT(*) AS n_docs,
        CAST(SUM(length(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
      FROM b GROUP BY lang, split"""))

  /** Sequence packing: assign documents to fixed token-budget bins
    * (2048) — the batch-construction step before training. Packing is
    * contiguous by doc_id within a SHARD (doc_id div 500): the
    * running-token cumulative sum keyed per shard makes the window
    * parallel (one partition per shard, not one global sort — the
    * difference between a scalable pack and a single-task straggler
    * at 100 TB). bin = (cumsum - n_tokens) / 2048, i.e. binned by
    * starting offset; a doc longer than the budget occupies its bins
    * alone. */
  val qSequencePack = GraftQuery(
    "t_sequence_pack",
    (s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"shard").orderBy($"doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.documents(s, d)
        .select($"doc_id", expr("doc_id div 500").as("shard"),
          size(tokens($"text")).cast("long").as("n_tokens"))
        .withColumn("cum", sum($"n_tokens").over(w))
        .select($"shard", expr("(cum - n_tokens) div 2048").as("bin"),
          $"n_tokens")
        .groupBy($"shard", $"bin")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("tokens_in_bin"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, doc_id // 500 AS shard,
          CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT shard, n_tokens,
          SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM t)
      SELECT shard, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin,
        COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens_in_bin
      FROM c GROUP BY shard, bin"""))

  /** Skew-salted aggregation, oracle-verified: the two-phase
    * (key, salt) → key rollup from operators/Skew must produce results
    * identical to a plain GROUP BY — here checked against DuckDB's
    * independent plain aggregate. lang is the canonical hot key of a
    * documents corpus (one language dominates at 100 TB); the salt
    * spreads it over 16 partial groups. */
  val qSkewSaltedAgg = GraftQuery(
    "t_skew_salted_agg",
    (s, d) => {
      import s.implicits._
      graft.operators.Skew.saltedAgg(
        Tables.documents(s, d).select($"lang", $"n_chars"),
        Seq($"lang"), buckets = 16,
        partialAggs = Seq(count(lit(1)).as("pn"),
          sum($"n_chars").as("pc")),
        mergeAggs = Seq(sum($"pn").as("n_docs"),
          sum($"pc").as("total_chars")))
    },
    Some("""
      SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY lang"""))

  /** Intra-document repetition metrics (Gopher-style quality rules):
    * the highest single-token count and the duplicate-bigram
    * fraction. Counting runs in ONE native codegen'd pass
    * ([[org.apache.spark.sql.graft.RepetitionStats]] — hash
    * multiplicity + distinct-bigram tables; the previous
    * aggregate/transform/array_distinct HOF formulation was
    * interpreted and measured ~21s for 50k docs in the honest sf1
    * sweep, ~2.5× this shape). All float math stays out here in
    * ordinary expressions so the oracle's arithmetic is matched in
    * exactly one place. Zero shuffle — repetition filtering at
    * 100 TB is a map-only pass.
    *
    * [[repetitionViaHofs]] keeps the original HOF formulation as the
    * executable reference; RepetitionStatsSpec pins row equality. */
  private[graft] def repetitionViaHofs(docs: org.apache.spark.sql.DataFrame) = {
    val toks = tokens(col("text"))
    val sorted = array_sort(toks)
    // max run length over the sorted tokens = max token count
    val maxCount = aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val newRun = when(x === acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), newRun.as("run"),
          greatest(acc.getField("best"), newRun).as("best"))
      },
      acc => acc.getField("best"))
    val bg = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    val dupBigram = when(size(bg) > 0,
      round(lit(1.0) - size(array_distinct(bg)).cast("double") / size(bg), 6))
      .otherwise(lit(0.0))
    docs.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      maxCount.as("top_token_count"),
      round(maxCount.cast("double") / size(toks), 6).as("top_token_ratio"),
      dupBigram.as("dup_bigram_frac"))
  }

  val qRepetition = GraftQuery(
    "t_repetition",
    (s, d) => {
      import s.implicits._
      val st = org.apache.spark.sql.graft.RepetitionStats.of($"text")
      Tables.documents(s, d)
        .select($"doc_id", st.as("st"))
        .select(
          $"doc_id",
          $"st.n_tokens".as("n_tokens"),
          $"st.top_token_count".as("top_token_count"),
          round($"st.top_token_count".cast("double") / $"st.n_tokens", 6)
            .as("top_token_ratio"),
          when($"st.n_bigrams" > 0,
            round(lit(1.0) -
              $"st.n_distinct_bigrams".cast("double") / $"st.n_bigrams", 6))
            .otherwise(lit(0.0)).as("dup_bigram_frac"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      r AS (
        SELECT doc_id, toks, list_sort(toks) AS sorted,
          CASE WHEN length(toks) >= 2
            THEN list_transform(range(1, length(toks)), i -> toks[i] || ' ' || toks[i+1])
            ELSE [] END AS bg
        FROM t),
      m AS (
        SELECT doc_id, length(toks) AS n_tokens,
          list_reduce(
            list_transform(sorted, x -> {'prev': x, 'run': 1, 'best': 1}),
            (acc, x) -> CASE WHEN x.prev = acc.prev
              THEN {'prev': x.prev, 'run': acc.run + 1,
                    'best': greatest(acc.best, acc.run + 1)}
              ELSE {'prev': x.prev, 'run': 1, 'best': acc.best} END).best
            AS top_token_count,
          CASE WHEN length(bg) > 0
            THEN round(1.0 - CAST(length(list_distinct(bg)) AS DOUBLE) / length(bg), 6)
            ELSE 0.0 END AS dup_bigram_frac
        FROM r)
      SELECT doc_id, n_tokens, top_token_count,
        round(CAST(top_token_count AS DOUBLE) / n_tokens, 6) AS top_token_ratio,
        dup_bigram_frac
      FROM m"""))

  /** Distinctive terms per source: corpus term frequency (tf, per
    * source) joined with cross-source document frequency (df), top 5
    * per source by tf DESC / df ASC / term ASC — the corpus-stats
    * report a data pipeline emits per snapshot. Integer ranking only
    * (no float idf) so the oracle can't drift.
    *
    * Scale: explode shuffles once on (source, term) with map-side
    * count partials, df is a second key-space-wide agg, and the final
    * ranking is a [[graft.functions.TermTopK]] hash-aggregate — NOT a
    * window — so parallelism follows the vocabulary partitioning,
    * never the handful of sources. */
  val qTopTerms = GraftQuery(
    "t_top_terms_source",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
      val tf = Tables.documents(s, d)
        .select($"source", explode(tokens($"text")).as("term"))
        .groupBy($"source", $"term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val topk = udaf(new graft.functions.TermTopK(5),
        ExpressionEncoder[graft.functions.TermScore]())
      tf.join(df, "term")
        .groupBy($"source")
        .agg(topk($"term", $"tf", $"df").as("tk"))
        .select($"source", posexplode($"tk").as(Seq("pos", "e")))
        .select($"source", $"e.term".as("term"), $"e.tf".as("tf"),
          $"e.df".as("df"), ($"pos" + 1).cast("int").as("rk"))
    },
    Some("""
      WITH tok AS (
        SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        FROM documents),
      tfc AS (SELECT source, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
      r AS (
        SELECT tfc.source, tfc.term,
          CAST(tfc.tf AS BIGINT) AS tf, CAST(dfc.df AS BIGINT) AS df,
          ROW_NUMBER() OVER (PARTITION BY tfc.source
                             ORDER BY tfc.tf DESC, dfc.df ASC, tfc.term ASC) AS rk
        FROM tfc JOIN dfc USING (term))
      SELECT source, term, tf, df, CAST(rk AS INT) AS rk
      FROM r WHERE rk <= 5"""))

  /** Data-mixing downsampler: per-language target rates (basis
    * points of 10000) applied via the same deterministic md5 bucket
    * as t_train_val_split — reproducible across engines, runs, and
    * incremental ingest, and auditable (the report shows realized vs
    * target retention). The keep decision is map-side; one
    * hash-aggregate on lang produces the mixture report a pipeline
    * logs per snapshot. */
  val qMixSample = GraftQuery(
    "t_mix_sample",
    (s, d) => {
      import s.implicits._
      val bucket = pmod(
        conv(substring(md5($"doc_id".cast("string")), 1, 12), 16, 10)
          .cast("long"), lit(10000L))
      val rate = when($"lang" === "en", 5000L)
        .when($"lang" === "de", 7500L)
        .when($"lang" === "fr", 2500L)
        .otherwise(10000L)
      val keep = bucket < rate
      Tables.documents(s, d)
        .select($"lang", $"text", keep.as("keep"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
          sum(when($"keep", size(tokens($"text")).cast("long"))
            .otherwise(0L)).as("n_tokens_kept"))
    },
    Some("""
      WITH b AS (
        SELECT lang, text,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) % 10000
            < (CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 7500
                         WHEN 'fr' THEN 2500 ELSE 10000 END) AS keep
        FROM documents)
      SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN keep
          THEN length(regexp_split_to_array(trim(text), '\s+')) ELSE 0 END) AS BIGINT)
          AS n_tokens_kept
      FROM b GROUP BY lang"""))

  /** Corpus-yield report — what a production filtering run actually
    * publishes: per (labeled lang, source), documents and tokens
    * before and after the full filter chain, with per-reason drop
    * counts. One verdict per document with fixed precedence:
    *
    *   1. `drop_dedup`   — not its group's keeper (Dedup.keeperFrame:
    *      exact canonical / LSH cluster min);
    *   2. `drop_quality` — composite quality score < 0.5
    *      ([[qualityScoreExpr]], same expression as t_quality_score);
    *   3. `drop_lang`    — the language scorer can't identify it
    *      ([[predictedLangFromToks]] == "unknown");
    *   4. `kept`.
    *
    * This composes dedup + quality + lang-id through their SHARED
    * expression builders, so the report can never disagree with the
    * per-doc queries it summarizes. Scale shape: the verdict is one
    * map-side expression over documents joined to the keeper frame
    * (id-keyed), then a single hash-aggregate on (lang, source);
    * token counting rides the same pass. */
  /** Per-doc yield contribution (lang, source, n_tok, verdict) given
    * a (doc_id, keeper) frame — the shared decision core of
    * [[qCorpusYield]] and the corpus-drop job's incremental yield
    * delta (tools/CorpusDrop): ONE expression set, so the summary can
    * drift from neither the per-doc queries nor the incremental
    * refresh path. */
  private[graft] def yieldContrib(docs: DataFrame,
      keepers: DataFrame): DataFrame = {
    // tokens materialized ONCE in a projection barrier: the verdict
    // chain references the array ~10× (n_tok, 3 quality pieces, 6
    // language scores) and CollapseProject keeps a non-cheap alias
    // used more than once, so every reference reads the computed
    // array instead of re-running the regex split (measured round 15:
    // t_corpus_yield −53% at sf0.1: 2.27s → 1.06s)
    val verdict = when(col("doc_id") =!= col("keeper"), "drop_dedup")
      .when(qualityScoreFromToks(col("toks")) < 0.5, "drop_quality")
      .when(predictedLangFromToks(col("toks")) === "unknown", "drop_lang")
      .otherwise("kept")
    docs.join(keepers, "doc_id")
      .select(col("lang"), col("source"), col("doc_id"), col("keeper"),
        tokens(col("text")).as("toks"))
      .select(col("lang"), col("source"),
        size(col("toks")).cast("long").as("n_tok"),
        verdict.as("verdict"))
  }

  /** The seven yield measures over a contribution frame, each an
    * integer sum, so reports over disjoint contributions add up
    * exactly ([[yieldMerge]]). */
  private val yieldMeasures: Seq[(String, Column)] = Seq(
    "n_docs" -> count(lit(1)),
    "n_tokens" -> sum(col("n_tok")),
    "n_kept" -> sum(when(col("verdict") === "kept", 1L).otherwise(0L)),
    "n_tokens_kept" ->
      sum(when(col("verdict") === "kept", col("n_tok")).otherwise(0L)),
    "n_drop_dedup" ->
      sum(when(col("verdict") === "drop_dedup", 1L).otherwise(0L)),
    "n_drop_quality" ->
      sum(when(col("verdict") === "drop_quality", 1L).otherwise(0L)),
    "n_drop_lang" ->
      sum(when(col("verdict") === "drop_lang", 1L).otherwise(0L)))

  /** The (lang, source) yield rollup over a contribution frame —
    * [[qCorpusYield]]'s aggregate, also applied by the corpus-drop
    * job to batch-only contributions. */
  private[graft] def yieldAggregate(contrib: DataFrame): DataFrame =
    aggregateYield(contrib, yieldMeasures.map { case (n, m) => m.as(n) })

  /** A yield report with every measure negated: adding it retracts
    * the contributions it was aggregated from. */
  private[graft] def yieldNegate(report: DataFrame): DataFrame =
    report.select(col("lang") +: col("source") +:
      yieldMeasures.map { case (n, _) => (-col(n)).as(n) }: _*)

  /** The sum of yield reports per (lang, source), keeping the groups
    * with documents left. */
  private[graft] def yieldMerge(reports: Seq[DataFrame]): DataFrame =
    aggregateYield(reports.reduce(_ unionByName _),
      yieldMeasures.map { case (n, _) => sum(col(n)).as(n) })
      .filter(col("n_docs") > 0)

  private def aggregateYield(df: DataFrame, aggs: Seq[Column]): DataFrame =
    df.groupBy(col("lang"), col("source")).agg(aggs.head, aggs.tail: _*)

  val qCorpusYield = GraftQuery(
    "t_corpus_yield",
    (s, d) => {
      import s.implicits._
      yieldAggregate(yieldContrib(
        Tables.documents(s, d),
        Dedup.keeperFrame(s, d).select($"doc_id", $"keeper")))
    },
    Some(s"""${Dedup.sigCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
      ${Dedup.bandsCte}, ${Dedup.clusterCtes}, ${Dedup.keeperCtes},
      d2 AS (
        SELECT doc_id, lang, source,
          regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents),
      qm AS (
        SELECT doc_id, length(toks) AS n_tok,
          length(list_filter(toks, x -> list_contains(
            [${stopWords.map(w => s"'$w'").mkString(",")}], x))) AS n_stop,
          length(list_distinct(toks)) AS n_distinct
        FROM d2),
      qq AS (
        SELECT doc_id, n_tok,
          ((CASE WHEN n_tok BETWEEN 10 AND 2000 THEN 0.5 ELSE 0.0 END) +
           (CASE WHEN CAST(n_stop AS DOUBLE) / n_tok BETWEEN 0.01 AND 0.5
                 THEN 0.25 ELSE 0.0 END) +
           CAST(n_distinct AS DOUBLE) / n_tok * 0.25) >= 0.5 AS q_keep
        FROM qm),
      ls AS (SELECT doc_id, $langScoreSql FROM d2),
      lb AS (SELECT *, $langBestSql AS best FROM ls),
      lp AS (SELECT doc_id, $langCaseSql AS predicted FROM lb),
      v AS (
        SELECT d.doc_id, d.lang, d.source, qq.n_tok,
          CASE WHEN k.keeper <> d.doc_id THEN 'drop_dedup'
               WHEN NOT qq.q_keep THEN 'drop_quality'
               WHEN lp.predicted = 'unknown' THEN 'drop_lang'
               ELSE 'kept' END AS verdict
        FROM d2 d
        JOIN keeper k USING (doc_id)
        JOIN qq USING (doc_id)
        JOIN lp USING (doc_id))
      SELECT lang, source,
        COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_kept,
        CAST(SUM(CASE WHEN verdict = 'kept' THEN n_tok ELSE 0 END) AS BIGINT)
          AS n_tokens_kept,
        CAST(SUM(CASE WHEN verdict = 'drop_dedup' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_drop_dedup,
        CAST(SUM(CASE WHEN verdict = 'drop_quality' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_drop_quality,
        CAST(SUM(CASE WHEN verdict = 'drop_lang' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_drop_lang
      FROM v GROUP BY 1, 2"""),
    bench = true)

  /** Corpus-relative rarity score — the unigram-LM-flavored quality
    * signal (a cheap stand-in for KenLM-style perplexity filtering):
    * per document, the mean inverse-document-frequency of its DISTINCT
    * tokens. idf(t) = ln(N / df(t)) is computed per TOKEN in 1e-6
    * fixed point — `floor(ln(N/df)·10⁶)` as a BIGINT — so the per-doc
    * sum is exact integer arithmetic, associative and partition-order-
    * free, and the per-doc mean stays in integer micro-idf units — the
    * only doubles anywhere are the one ln per vocabulary entry, fed
    * bit-identical operands on both engines. (The fixed-point floor was validated exhaustively
    * for every df ∈ 1..N up to N = 200k — 255,500 inputs — against
    * DuckDB's ln: the 1-ulp StrictMath/libm double differences never
    * cross a millionths boundary on these rational inputs.)
    *
    * Scale shape: df is one hash-aggregate on token (map-side partial
    * over per-doc distinct tokens); N rides a broadcast 1-row frame,
    * never the driver; the token→idf join keys on the VOCABULARY —
    * a key space that grows with the corpus — and each right-side key
    * is a single row, so stop-word skew fans out only on the probe
    * side, which AQE's skew split handles. The per-doc rollup then
    * shuffles on doc_id. Nothing global, nothing collected. */
  val qIdfRarity = GraftQuery(
    "t_idf_rarity",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select($"doc_id", array_distinct(tokens($"text")).as("toks"))
      val tok = docs.select($"doc_id", explode($"toks").as("tok"))
      val n = docs.agg(count(lit(1)).as("n"))
      val idf = tok.groupBy($"tok").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .select($"tok",
          floor(log($"n".cast("double") / $"df".cast("double")) * 1e6)
            .cast("long").as("idf_fp"))
      // the mean stays in exact micro-idf units (floor division):
      // round(sum/n/1e6, 6) would land exactly on a .5 tie whenever
      // n divides 2·sum — and Spark (decimal HALF_UP) and DuckDB
      // (binary-double rounding) break those ties differently. sf0.1
      // produced three such docs; integer division has no ties.
      tok.join(idf, "tok")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_distinct"), sum($"idf_fp").as("idf_sum"))
        .select($"doc_id", $"n_distinct", $"idf_sum",
          expr("idf_sum div n_distinct").as("mean_idf_micro"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
          list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
        FROM documents),
      tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      n AS (SELECT COUNT(*) AS n FROM documents),
      idf AS (
        SELECT tok,
          CAST(floor(ln(CAST(n.n AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 1e6)
            AS BIGINT) AS idf_fp
        FROM tok, n GROUP BY tok, n.n)
      SELECT doc_id, COUNT(*) AS n_distinct,
        CAST(SUM(idf_fp) AS BIGINT) AS idf_sum,
        CAST(SUM(idf_fp) // COUNT(*) AS BIGINT) AS mean_idf_micro
      FROM tok JOIN idf USING (tok)
      GROUP BY doc_id"""))

  /** Per-doc distinct-bigram counts (doc_id, a, b) → c_doc over
    * whitespace tokens: the one corpus-sized pass of the bigram-LM
    * family, shared by [[qBigramNll]] and the streaming scorer
    * ([[graft.streaming.StreamingQuality]]) so their tokenization and
    * bigram extraction cannot drift. Docs with < 2 tokens contribute
    * no rows. */
  def docBigramCounts(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 2)
    tok.select(col("doc_id"),
      explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))
      .groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("c_doc"))
  }

  /** MLE bigram LM from per-doc counts: (a, b, nll_fp) with
    * nll_fp = floor(ln(c(a·)/c(ab))·10⁶) ≥ 0 in 1e-6 fixed point.
    * The vocab-sized c(ab) is checkpointed since both the LM join and
    * its marginal read it. */
  def bigramLm(cdoc: DataFrame): DataFrame = {
    val cab = cdoc.groupBy(col("a"), col("b"))
      .agg(sum(col("c_doc")).as("cab"))
      .localCheckpoint(true)
    val ca = cab.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    cab.join(ca, "a")
      .select(col("a"), col("b"),
        floor(log(col("ca").cast("double") / col("cab").cast("double")) * 1e6)
          .cast("long").as("nll_fp"))
  }

  /** Bigram-LM perplexity proxy — the KenLM-style quality filter: the
    * corpus trains a bigram language model over itself (CCNet trains on
    * a held-out reference corpus; the dataflow is identical — the LM
    * table would simply arrive as a persisted artifact instead of the
    * first two aggregates), and every document is scored by the mean
    * negative log-likelihood of its bigrams. High mean-NLL = the doc's
    * word transitions are rare in the corpus = boilerplate/garbled;
    * the standard perplexity cut in C4/CCNet-shaped pipelines.
    *
    * Determinism contract (same scheme as [[qIdfRarity]], validated
    * there): nll(a→b) = ln(c(a·)/c(ab)) ≥ 0 is computed once per
    * DISTINCT bigram in 1e-6 fixed point — `floor(ln(ca/cab)·10⁶)` as
    * a BIGINT — so per-doc totals are exact integer sums and the mean
    * is integer floor-division in micro-nats. Formulating NLL (not
    * log-prob) keeps every fixed-point value non-negative, sidestepping
    * the Spark-`div`-vs-DuckDB-`//` negative-division asymmetry
    * entirely. MLE needs no smoothing: the model is trained on the
    * corpus it scores, so every probe bigram has count ≥ 1.
    *
    * Scale shape: ONE corpus pass — bigrams aggregate straight to
    * per-doc counts (doc_id, a, b) → c_doc, materialized once
    * (localCheckpoint, the same artifact discipline as the dedup
    * signature tables — column pruning would otherwise specialize the
    * explode per consumer and rescan the corpus for each), and
    * everything downstream (corpus counts, the marginal, the LM, the
    * probe join) runs over aggregated tables — the vocab-sized c(ab)
    * is checkpointed too since both the LM and its marginal read it.
    * c(a·) derives from c(ab) (no second
    * corpus pass for the marginal); the LM join keys on the bigram
    * VOCABULARY — a key space that grows with the corpus — and each LM
    * key is one row, so hot function-word bigrams skew only the probe
    * side, which AQE's skew split handles. The per-doc rollup shuffles
    * on doc_id. Nothing global, nothing collected. */
  val qBigramNll = GraftQuery(
    "t_bigram_nll",
    (s, d) => {
      import s.implicits._
      val cdoc = docBigramCounts(
        Tables.documents(s, d).select($"doc_id", $"text"))
        .localCheckpoint(true)
      cdoc.join(bigramLm(cdoc), Seq("a", "b"))
        .groupBy($"doc_id")
        .agg(sum($"c_doc").as("n_bigrams"),
          sum($"nll_fp" * $"c_doc").as("nll_sum"))
        .select($"doc_id", $"n_bigrams", $"nll_sum",
          expr("nll_sum div n_bigrams").as("mean_nll_micro"))
    },
    Some(s"""WITH $bigramScoreCtes
      SELECT doc_id, n_bigrams, nll_sum, mean_nll_micro FROM scores"""))

  /** Oracle CTE chain ending in `scores` (doc_id, n_bigrams, nll_sum,
    * mean_nll_micro) — shared by [[qBigramNll]] and
    * [[qNllYieldCurve]] so the two oracles replay ONE scoring
    * definition (a def: object-init order can't bite, same as the
    * phash CTEs). */
  private def bigramScoreCtes = """t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      b0 AS (
        SELECT doc_id,
          unnest(list_transform(range(1, length(toks)),
            i -> {'a': toks[i], 'b': toks[i + 1]})) AS bg
        FROM t WHERE length(toks) >= 2),
      big AS (SELECT doc_id, bg['a'] AS a, bg['b'] AS b FROM b0),
      cab AS (SELECT a, b, COUNT(*) AS cab FROM big GROUP BY 1, 2),
      ca AS (SELECT a, SUM(cab) AS ca FROM cab GROUP BY 1),
      lm AS (
        SELECT a, b,
          CAST(floor(ln(CAST(ca AS DOUBLE) / CAST(cab AS DOUBLE)) * 1e6)
            AS BIGINT) AS nll_fp
        FROM cab JOIN ca USING (a)),
      scores AS (
        SELECT doc_id, COUNT(*) AS n_bigrams,
          CAST(SUM(nll_fp) AS BIGINT) AS nll_sum,
          CAST(SUM(nll_fp) // COUNT(*) AS BIGINT) AS mean_nll_micro
        FROM big JOIN lm USING (a, b)
        GROUP BY doc_id)"""

  /** Yield curve over the perplexity scores — the report a curation
    * team reads to PICK the quality threshold: docs bucketed by
    * mean NLL in fixed 0.5-nat steps, with per-bucket and cumulative
    * doc/token volume. "Cut at 3.5 nats" then reads directly off
    * `cum_docs`/`cum_tokens` at that bucket edge — the
    * threshold-sweep C4/CCNet-style pipelines run before committing a
    * perplexity cut. Token volume counts n_bigrams + 1 = the doc's
    * token count (only ≥ 2-token docs are scorable, same domain as
    * [[qBigramNll]]).
    *
    * Scale shape: rides the scored table (one row per doc), one
    * hash-aggregate onto the bucket key, then a cumulative window
    * over the BUCKET table only — bounded by ln(corpus)/0.5 buckets
    * (≤ ~60 rows at 100 TB), so the unpartitioned window is a
    * driver-trivial tail, never a corpus sort. */
  val qNllYieldCurve = GraftQuery(
    "t_nll_yield_curve",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val bu = qBigramNll.run(s, d)
        .select(expr("mean_nll_micro div 500000").as("bucket"),
          ($"n_bigrams" + 1L).as("n_toks"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("n_tokens"))
      val w = Window.orderBy($"bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bu.select($"bucket", ($"bucket" * 500000L).as("nll_lo_micro"),
        $"n_docs", $"n_tokens",
        sum($"n_docs").over(w).as("cum_docs"),
        sum($"n_tokens").over(w).as("cum_tokens"))
    },
    Some(s"""WITH $bigramScoreCtes,
      bu AS (
        SELECT mean_nll_micro // 500000 AS bucket,
          COUNT(*) AS n_docs,
          CAST(SUM(n_bigrams + 1) AS BIGINT) AS n_tokens
        FROM scores GROUP BY 1)
      SELECT bucket, CAST(bucket * 500000 AS BIGINT) AS nll_lo_micro,
        n_docs, n_tokens,
        CAST(SUM(n_docs) OVER w AS BIGINT) AS cum_docs,
        CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens
      FROM bu
      WINDOW w AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING)"""))

  /** Deterministic per-group "reservoir" sample: exactly k = 20 docs
    * per language, selected by ranking on a 48-bit md5 hash of the
    * doc id — uniform-ish like a reservoir, but reproducible across
    * runs, engines, and reshuffles (the same stability argument as
    * t_train_val_split), and stable under ingest growth in the sense
    * that a doc's sort key never changes.
    *
    * Scale shape: `lang` is a LOW-cardinality key, so the obvious
    * row_number window would sort the whole corpus in ≤|langs| tasks —
    * the exact straggler wall q_window_functions/sim_cosine_topk
    * engineered away. Instead the native bounded top-k aggregate
    * ([[org.apache.spark.sql.graft.TopKAggregate]]) keeps ≤ k
    * candidates per partition map-side, so the one shuffle moves
    * O(partitions·k) rows and parallelism follows the corpus. */
  val qReservoirSample = GraftQuery(
    "t_reservoir_sample",
    (s, d) => {
      import s.implicits._
      val score = conv(substring(md5($"doc_id".cast("string")), 1, 12), 16, 10)
        .cast("long")
      Tables.documents(s, d)
        .select($"lang", $"doc_id", score.as("score"))
        .groupBy($"lang")
        .agg(org.apache.spark.sql.graft.TopKAggregate
          .of($"doc_id", $"score".cast("double"), 20).as("tk"))
        .select($"lang", posexplode($"tk").as(Seq("pos", "e")))
        .select($"lang", $"e.id".as("doc_id"),
          ($"pos" + 1).cast("int").as("rk"))
    },
    Some("""
      WITH scored AS (
        SELECT lang, doc_id,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)
            AS score
        FROM documents),
      ranked AS (
        SELECT lang, doc_id,
          ROW_NUMBER() OVER (PARTITION BY lang
                             ORDER BY score DESC, doc_id ASC) AS rk
        FROM scored)
      SELECT lang, doc_id, CAST(rk AS INT) AS rk
      FROM ranked WHERE rk <= 20"""))

  /** Collocation mining — the phrase-discovery pass tokenizer-vocab
    * and entity pipelines run over a corpus: adjacent bigrams ranked
    * by LIFT (observed co-occurrence over the independence
    * expectation, c_ab·N / (c_a·c_b) — the monotone exp of PMI, so no
    * logarithm enters the pipeline at all) with a minimum-support cut
    * (c_ab ≥ 5) killing the hapax noise PMI is notorious for.
    *
    * Determinism: the score is SEQUENTIAL integer fixed point —
    * t = (c_ab·10⁶) div c_a (t ≤ 10⁶ since c_ab ≤ c_a by
    * construction), then (t·N) div c_b — two floors, identical on
    * both engines, with every intermediate bounded by 10⁶·N ≪ 2⁶³
    * at any corpus size (the one-step product c_ab·N·10⁶ would
    * overflow past N ≈ 3·10⁶). Top-50 ordering ties break on (a, b).
    *
    * Scale shape: one bigram hash-aggregate (the t_bigram_nll corpus
    * pass), one unigram hash-aggregate reused for BOTH marginals off
    * a single checkpoint, a 1-row N broadcast, two vocabulary-keyed
    * joins, and a TakeOrdered top-50 (per-partition heaps + a 50-row
    * driver merge — never a global sort). */
  val qCollocations = GraftQuery(
    "t_collocations",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id", $"text")
      val cab = docBigramCounts(docs)
        .groupBy($"a", $"b").agg(sum($"c_doc").as("cab"))
        .filter($"cab" >= 5)
      val uni = docs.select(explode(tokens($"text")).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("c"))
        .localCheckpoint(true) // both marginals + N read it
      val n = uni.agg(sum($"c").as("n_tokens"))
      cab.join(uni.select($"w".as("a"), $"c".as("ca")), "a")
        .join(uni.select($"w".as("b"), $"c".as("cb")), "b")
        .crossJoin(broadcast(n))
        .select($"a", $"b", $"cab",
          expr("(((cab * 1000000) div ca) * n_tokens) div cb")
            .as("lift_micro"))
        .orderBy($"lift_micro".desc, $"a", $"b")
        .limit(50)
    },
    Some("""
      WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      b0 AS (
        SELECT unnest(list_transform(range(1, length(toks)),
          i -> {'a': toks[i], 'b': toks[i + 1]})) AS bg
        FROM t WHERE length(toks) >= 2),
      cab AS (
        SELECT bg['a'] AS a, bg['b'] AS b, COUNT(*) AS cab
        FROM b0 GROUP BY 1, 2 HAVING COUNT(*) >= 5),
      uni AS (
        SELECT w, COUNT(*) AS c
        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
      n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni)
      SELECT cab.a, cab.b, CAST(cab.cab AS BIGINT) AS cab,
        CAST((((cab.cab * 1000000) // ua.c) * n.n_tokens) // ub.c
          AS BIGINT) AS lift_micro
      FROM cab
      JOIN uni ua ON ua.w = cab.a
      JOIN uni ub ON ub.w = cab.b
      CROSS JOIN n
      ORDER BY lift_micro DESC, cab.a, cab.b
      LIMIT 50"""))

  /** Token-distribution Shannon entropy per document — the diversity
    * quality signal the length/stopword heuristics miss: boilerplate,
    * keyword-stuffed, and template docs repeat a few tokens (low H)
    * while natural prose spreads mass (H near ln of the distinct
    * count). H = ln n − (1/n)·Σ c·ln c over per-doc token counts c.
    *
    * Fixed-point contract (the [[qIdfRarity]] scheme): ln c and ln n
    * are floored to micro-nats per DISTINCT (doc, token) pair — both
    * ln operands are integers, the validated-safe case — so the
    * weighted sum is exact integer arithmetic and the mean is integer
    * floor division; entropy_micro = floor(ln n·10⁶) −
    * (Σ c·floor(ln c·10⁶)) div n. Monotone-equivalent to true H at
    * 1e-6 resolution, and bit-identical cross-engine.
    *
    * Scale shape: one corpus-sized explode → (doc_id, tok)
    * hash-aggregate (map-side partial on the composite key), then a
    * doc_id rollup. No joins, no windows, nothing global. */
  val qTokenEntropy = GraftQuery(
    "t_token_entropy",
    (s, d) => {
      import s.implicits._
      val cnt = Tables.documents(s, d)
        .select($"doc_id", explode(tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      cnt.groupBy($"doc_id")
        .agg(sum($"c").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum($"c" * floor(log($"c".cast("double")) * 1e6).cast("long"))
            .as("clnc_sum"))
        .select($"doc_id", $"n_tokens", $"n_distinct",
          (floor(log($"n_tokens".cast("double")) * 1e6).cast("long") -
            expr("clnc_sum div n_tokens")).as("entropy_micro"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents),
      c AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
      agg AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
          COUNT(*) AS n_distinct,
          CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT))
            AS BIGINT) AS clnc_sum
        FROM c GROUP BY doc_id)
      SELECT doc_id, n_tokens, n_distinct,
        CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
          - clnc_sum // n_tokens AS entropy_micro
      FROM agg"""))

  /** Trigram stupid-backoff LM scoring — the web-scale LM recipe
    * (Brants et al. 2007: "Large Language Models in Machine
    * Translation" — no discounting, no normalization, just
    * count-ratio scores with a fixed 0.4 backoff multiplier, chosen
    * BECAUSE it trains and serves at corpus scale): the md5-bucket
    * TRAIN split ([[qTrainValSplit]]'s exact assignment) trains
    * trigram/bigram/unigram count tables, the VAL split scores
    * against them — so unseen n-grams genuinely occur and the
    * backoff chain (trigram → ×0.4 bigram → ×0.4² unigram → OOV
    * floor) is exercised for real, unlike [[qBigramNll]]'s
    * self-trained MLE where every probe is seen.
    *
    * Fixed point: every count-ratio ln is floored to micro-nats
    * (integer operands, the validated scheme); each backoff level
    * ADDS the constant 916290 = floor(ln(1/0.4)·10⁶) — a literal on
    * both engines, so no cross-engine transcendental ever computes
    * 0.4. OOV tokens (unseen even as unigrams) score the unigram
    * floor ln(N/1) plus both backoff penalties. NLL stays ≥ 0
    * throughout, sidestepping negative floor-division asymmetry.
    *
    * Scale shape: counts aggregate straight from one pass over the
    * train split; context marginals derive from the count tables
    * (c(ab·) from trigrams, c(b·) from bigrams — no extra corpus
    * passes); the probe side left-joins three VOCABULARY-keyed LM
    * tables (key spaces that grow with the corpus, one row per key —
    * hot-key skew rides the probe side, AQE splits it); N broadcasts
    * as one row. Per-doc rollup shuffles on doc_id. */
  val qBackoffNll = GraftQuery(
    "t_backoff_nll",
    (s, d) => {
      import s.implicits._
      def lnfp(num: org.apache.spark.sql.Column,
          den: org.apache.spark.sql.Column) =
        floor(log(num.cast("double") / den.cast("double")) * 1e6)
          .cast("long")
      val BO = 916290L // floor(ln(1/0.4)*1e6), literal on both engines
      val bucket = pmod(
        conv(substring(md5($"doc_id".cast("string")), 1, 12), 16, 10)
          .cast("long"), lit(100L))
      val toks = Tables.documents(s, d)
        .select($"doc_id", tokens($"text").as("toks"),
          (bucket < 90).as("is_train"))
        .localCheckpoint(true) // train aggregates + probe side read it
      def tri(t: org.apache.spark.sql.Column) =
        transform(sequence(lit(1), size(t) - 2), i =>
          struct(element_at(t, i).as("a"), element_at(t, i + 1).as("b"),
            element_at(t, i + 2).as("c")))
      val train = toks.where($"is_train")
      val c3 = train.where(size($"toks") >= 3)
        .select(explode(tri($"toks")).as("g"))
        .groupBy($"g.a".as("a"), $"g.b".as("b"), $"g.c".as("c"))
        .agg(count(lit(1)).as("c3")).localCheckpoint(true)
      val triLm = c3
        .join(c3.groupBy($"a", $"b").agg(sum($"c3").as("c2ctx")),
          Seq("a", "b"))
        .select($"a", $"b", $"c", lnfp($"c2ctx", $"c3").as("tri_nll"))
      val c2 = train.where(size($"toks") >= 2)
        .select(explode(zip_with(
          slice($"toks", lit(1), size($"toks") - 1),
          slice($"toks", lit(2), size($"toks") - 1),
          (x, y) => struct(x.as("b"), y.as("c")))).as("g"))
        .groupBy($"g.b".as("b"), $"g.c".as("c"))
        .agg(count(lit(1)).as("c2")).localCheckpoint(true)
      val bigLm = c2
        .join(c2.groupBy($"b").agg(sum($"c2").as("c1ctx")), "b")
        .select($"b", $"c", lnfp($"c1ctx", $"c2").as("big_nll"))
      val uni = train.select(explode($"toks").as("c"))
        .groupBy($"c").agg(count(lit(1)).as("cu")).localCheckpoint(true)
      val nTok = uni.agg(sum($"cu").as("n"))
      val uniLm = uni.crossJoin(broadcast(nTok))
        .select($"c", lnfp($"n", $"cu").as("uni_nll"))
      val probes = toks.where(!$"is_train" && size($"toks") >= 3)
        .select($"doc_id", explode(tri($"toks")).as("g"))
        .groupBy($"doc_id", $"g.a".as("a"), $"g.b".as("b"), $"g.c".as("c"))
        .agg(count(lit(1)).as("cnt"))
      probes
        .join(triLm, Seq("a", "b", "c"), "left")
        .join(bigLm, Seq("b", "c"), "left")
        .join(uniLm, Seq("c"), "left")
        .crossJoin(broadcast(nTok))
        .select($"doc_id", $"cnt",
          coalesce($"tri_nll",
            $"big_nll" + BO,
            $"uni_nll" + 2 * BO,
            floor(log($"n".cast("double")) * 1e6).cast("long") + 2 * BO)
            .as("nll"))
        .groupBy($"doc_id")
        .agg(sum($"cnt").as("n_trigrams"),
          sum($"nll" * $"cnt").as("nll_sum"))
        .select($"doc_id", $"n_trigrams", $"nll_sum",
          expr("nll_sum div n_trigrams").as("mean_nll_micro"))
    },
    Some("""
      WITH t0 AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
            AS BIGINT) % 100 < 90 AS is_train
        FROM documents),
      tr3 AS (
        SELECT unnest(list_transform(range(1, length(toks) - 1),
          i -> {'a': toks[i], 'b': toks[i + 1], 'c': toks[i + 2]})) AS g
        FROM t0 WHERE is_train AND length(toks) >= 3),
      c3 AS (SELECT g['a'] AS a, g['b'] AS b, g['c'] AS c, COUNT(*) AS c3
             FROM tr3 GROUP BY 1, 2, 3),
      ctx2 AS (SELECT a, b, SUM(c3) AS c2ctx FROM c3 GROUP BY 1, 2),
      tri_lm AS (
        SELECT a, b, c,
          CAST(floor(ln(CAST(c2ctx AS DOUBLE) / CAST(c3 AS DOUBLE)) * 1e6)
            AS BIGINT) AS tri_nll
        FROM c3 JOIN ctx2 USING (a, b)),
      tr2 AS (
        SELECT unnest(list_transform(range(1, length(toks)),
          i -> {'b': toks[i], 'c': toks[i + 1]})) AS g
        FROM t0 WHERE is_train AND length(toks) >= 2),
      c2 AS (SELECT g['b'] AS b, g['c'] AS c, COUNT(*) AS c2
             FROM tr2 GROUP BY 1, 2),
      ctx1 AS (SELECT b, SUM(c2) AS c1ctx FROM c2 GROUP BY 1),
      big_lm AS (
        SELECT b, c,
          CAST(floor(ln(CAST(c1ctx AS DOUBLE) / CAST(c2 AS DOUBLE)) * 1e6)
            AS BIGINT) AS big_nll
        FROM c2 JOIN ctx1 USING (b)),
      uni AS (
        SELECT c, COUNT(*) AS cu FROM (
          SELECT unnest(toks) AS c FROM t0 WHERE is_train) GROUP BY 1),
      n AS (SELECT CAST(SUM(cu) AS BIGINT) AS n FROM uni),
      uni_lm AS (
        SELECT c,
          CAST(floor(ln(CAST(n.n AS DOUBLE) / CAST(cu AS DOUBLE)) * 1e6)
            AS BIGINT) AS uni_nll
        FROM uni, n),
      probes AS (
        SELECT doc_id, g['a'] AS a, g['b'] AS b, g['c'] AS c,
          COUNT(*) AS cnt
        FROM (
          SELECT doc_id,
            unnest(list_transform(range(1, length(toks) - 1),
              i -> {'a': toks[i], 'b': toks[i + 1], 'c': toks[i + 2]})) AS g
          FROM t0 WHERE NOT is_train AND length(toks) >= 3)
        GROUP BY 1, 2, 3, 4),
      scored AS (
        SELECT doc_id, cnt,
          COALESCE(tri_lm.tri_nll,
            big_lm.big_nll + 916290,
            uni_lm.uni_nll + 1832580,
            CAST(floor(ln(CAST(n.n AS DOUBLE)) * 1e6) AS BIGINT) + 1832580)
            AS nll
        FROM probes
        LEFT JOIN tri_lm USING (a, b, c)
        LEFT JOIN big_lm USING (b, c)
        LEFT JOIN uni_lm USING (c)
        CROSS JOIN n)
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_trigrams,
        CAST(SUM(nll * cnt) AS BIGINT) AS nll_sum,
        CAST(SUM(nll * cnt) // SUM(cnt) AS BIGINT) AS mean_nll_micro
      FROM scored GROUP BY doc_id"""))

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): every document
    * scored by how much more likely its tokens are under a TARGET
    * distribution (here the lang='en' slice — in production, the
    * high-quality reference corpus) than under the full-corpus
    * PROPOSAL distribution, over a FIXED hashed feature space —
    * 1024 md5-bucketed unigram features with add-1 smoothing, so both
    * count tables are bounded 1024-row frames no matter the corpus
    * size. log-weight(doc) = Σ_b c_doc(b)·ln(p_t(b)/p_p(b)); docs
    * with positive weight look target-like and survive resampling.
    *
    * Fixed point: the per-bucket log-ratio is
    * floor(ln((ct+1)·(Np+1024) / ((cp+1)·(Nt+1024)))·10⁶) — integer
    * operands fed bit-identical to both engines' ln; the value CAN be
    * negative (floor is true floor on both sides), so per-doc output
    * stays a SUM (exact integer, no division — integer division
    * truncates toward zero in Spark and floors in DuckDB, so a mean
    * would diverge on negatives; consumers divide if they want one).
    * Headroom: the products are < (corpus tokens + 1024)² — exact in
    * a double below ~9·10⁷ tokens per operand (2^53 product); past
    * that, compute the two ln's separately and subtract (documented
    * escape hatch, same discipline as sim_pq_adc_topk's bound).
    *
    * Scale shape: ONE corpus tokenize pass aggregates per-doc bucket
    * counts (checkpointed — target/proposal tables AND the probe side
    * all derive from it); both smoothed count tables collapse to 1024
    * rows and the log-ratio table BROADCASTS, so scoring is a
    * map-side join + doc_id rollup. Nothing global, nothing
    * collected. */
  /** The DSIR hashed-feature bucket: md5's 48-bit prefix mod 1024.
    * Shared by the batch query and [[graft.streaming.StreamingDsir]]
    * so corpus training and stream scoring can never hash apart. */
  def dsirBucket(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(c), 1, 12), 16, 10).cast("long"), lit(1024L))

  /** Per-doc hashed-bucket counts (doc_id [, lang], b, c) — the one
    * corpus-sized pass of the DSIR family. `keepLang` carries the
    * lang column for corpus-side training; probe batches don't need
    * it. */
  def dsirDocBuckets(docs: DataFrame, keepLang: Boolean): DataFrame = {
    val keys: Seq[org.apache.spark.sql.Column] =
      if (keepLang) Seq(col("doc_id"), col("lang")) else Seq(col("doc_id"))
    docs.select(keys :+ explode(tokens(col("text"))).as("tok"): _*)
      .select(keys :+ dsirBucket(col("tok")).as("b"): _*)
      .groupBy(keys :+ col("b"): _*).agg(count(lit(1)).as("c"))
  }

  /** The 1024-row smoothed log-ratio table (b, lr_fp) over the FULL
    * bucket spine — buckets no corpus token hashed to score the
    * neutral prior ln((Np+1024)/(Nt+1024)) via the same add-1 formula
    * with ct = cp = 0, so a streamed doc with out-of-corpus
    * vocabulary still gets a total verdict. The batch query's inner
    * probe join only ever reads observed buckets, where the spine
    * rows are irrelevant — one artifact serves both. */
  def dsirLrTable(docBuckets: DataFrame): DataFrame = {
    val prop = docBuckets.groupBy(col("b")).agg(sum(col("c")).as("cp"))
    val targ = docBuckets.where(col("lang") === "en")
      .groupBy(col("b")).agg(sum(col("c")).as("ct"))
    val totals = docBuckets.agg(
      sum(col("c")).as("np"),
      sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("nt"))
    val spine = totals.select(col("np"), col("nt"),
      explode(sequence(lit(0L), lit(1023L))).as("b"))
    spine.join(prop, Seq("b"), "left").na.fill(0L, Seq("cp"))
      .join(targ, Seq("b"), "left").na.fill(0L, Seq("ct"))
      .select(col("b"),
        floor(log(((col("ct") + 1L) * (col("np") + 1024L)).cast("double") /
          ((col("cp") + 1L) * (col("nt") + 1024L)).cast("double")) * 1e6)
          .cast("long").as("lr_fp"))
  }

  val qDsirLogratio = GraftQuery(
    "t_dsir_logratio",
    (s, d) => {
      import s.implicits._
      val docBuckets = dsirDocBuckets(
        Tables.documents(s, d).select($"doc_id", $"lang", $"text"),
        keepLang = true)
        .localCheckpoint(true)
      docBuckets.join(broadcast(dsirLrTable(docBuckets)), "b")
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_tokens"),
          sum($"c" * $"lr_fp").as("logratio_sum_micro"))
        .select($"doc_id", $"n_tokens", $"logratio_sum_micro",
          ($"logratio_sum_micro" > 0L).as("is_target_like"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, lang,
          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents),
      db AS (
        SELECT doc_id, lang,
          CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) % 1024 AS b,
          COUNT(*) AS c
        FROM t GROUP BY 1, 2, 3),
      prop AS (SELECT b, SUM(c) AS cp FROM db GROUP BY 1),
      targ AS (SELECT b, SUM(c) AS ct FROM db WHERE lang = 'en' GROUP BY 1),
      tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS np,
          CAST(SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS nt
        FROM db),
      lr AS (
        SELECT prop.b,
          CAST(floor(ln(
            CAST((COALESCE(targ.ct, 0) + 1) * (tot.np + 1024) AS DOUBLE) /
            CAST((prop.cp + 1) * (tot.nt + 1024) AS DOUBLE)) * 1e6)
            AS BIGINT) AS lr_fp
        FROM prop LEFT JOIN targ USING (b) CROSS JOIN tot)
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        CAST(SUM(c * lr_fp) AS BIGINT) AS logratio_sum_micro,
        CAST(SUM(c * lr_fp) AS BIGINT) > 0 AS is_target_like
      FROM db JOIN lr USING (b)
      GROUP BY doc_id"""))

  /** Related-document retrieval over SPARSE tf-idf features — the
    * token-space complement of the dense-embedding sim_* family: for
    * each document, the top-3 others sharing the most rare-token
    * evidence, scored by summed idf over the shared DISTINCT tokens.
    * This is the "similar articles" / citation-candidate shape, and
    * the join is the classic df-capped postings trick (prefix
    * filtering, Bayardo et al. WWW'07) with two scale guards:
    * (1) "rare" is RELATIVE — 2 ≤ df ≤ max(2, N/10), i.e. tokens in
    * at most 10% of documents — so the token set carrying evidence is
    * stable across scale factors (an absolute cap, or even a capped
    * floor, empties the result as the corpus grows: at 10× every df
    * grows 10× and nothing stays "rare" — the same cross-SF flip
    * q_graph_triangles' degree cap exists to prevent);
    * (2) each token's postings list is capped at the 256 LOWEST
    * doc_ids (deterministic, oracle-replayed — the LSH per-bucket
    * cap precedent), so per-token pair fan-out is ≤ 256² no matter
    * how the df distribution shifts. The stated recall contract: a
    * pair sharing only ubiquitous tokens, or meeting only beyond a
    * hot token's 256-doc prefix, is invisible by design — shared
    * stop-words are not evidence of relatedness, and the idf weight
    * of a near-cap token is close to zero anyway.
    *
    * Determinism: scores are exact integer sums of the same
    * validated floor(ln(N/df)·10⁶) fixed point as [[qIdfRarity]];
    * ranking ties break by the smaller related id. The top-3 window
    * is keyed on doc_id — a key space that grows with the corpus
    * (the house window discipline). */
  val qRelatedDocs = GraftQuery(
    "t_related_docs",
    (s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"doc_id", explode(array_distinct(tokens($"text"))).as("tok"))
        .localCheckpoint(true) // df + the postings join read it
      val n = toks.select($"doc_id").distinct().agg(count(lit(1)).as("n"))
      val rare = toks.groupBy($"tok").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .filter($"df" >= 2 &&
          $"df" <= greatest(lit(2L), expr("n div 10")))
        .select($"tok",
          floor(log($"n".cast("double") / $"df".cast("double")) * 1e6)
            .cast("long").as("idf_fp"))
      val wTok = org.apache.spark.sql.expressions.Window
        .partitionBy($"tok").orderBy($"doc_id")
      val post = toks.join(rare, "tok")
        .withColumn("prn", row_number().over(wTok))
        .where($"prn" <= 256).drop("prn")
        .localCheckpoint(true)
      val pairs = post.select($"tok", $"doc_id".as("doc_a"), $"idf_fp")
        .join(post.select($"tok", $"doc_id".as("doc_b")), "tok")
        .where($"doc_a" < $"doc_b")
        .groupBy($"doc_a", $"doc_b").agg(sum($"idf_fp").as("score"))
      val sym = pairs.union(
        pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b"), $"score"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_a").orderBy($"score".desc, $"doc_b".asc)
      sym.withColumn("rank", row_number().over(w))
        .where($"rank" <= 3)
        .select($"doc_a".as("doc_id"), $"doc_b".as("related_id"),
          $"score".as("shared_idf_micro"), $"rank")
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
          unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS tok
        FROM documents),
      n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM t),
      rare AS (
        SELECT tok,
          CAST(floor(ln(CAST(n.n AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 1e6)
            AS BIGINT) AS idf_fp
        FROM t, n GROUP BY tok, n.n
        HAVING COUNT(*) BETWEEN 2 AND greatest(2, n.n // 10)),
      post AS (
        SELECT doc_id, tok, idf_fp FROM (
          SELECT t.doc_id, t.tok, rare.idf_fp,
            ROW_NUMBER() OVER (PARTITION BY t.tok ORDER BY t.doc_id) AS prn
          FROM t JOIN rare USING (tok))
        WHERE prn <= 256),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(SUM(a.idf_fp) AS BIGINT) AS score
        FROM post a JOIN post b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sym AS (
        SELECT doc_a, doc_b, score FROM pairs
        UNION ALL
        SELECT doc_b, doc_a, score FROM pairs)
      SELECT doc_a AS doc_id, doc_b AS related_id,
        score AS shared_idf_micro, rank FROM (
        SELECT doc_a, doc_b, score,
          ROW_NUMBER() OVER (PARTITION BY doc_a
            ORDER BY score DESC, doc_b ASC) AS rank
        FROM sym)
      WHERE rank <= 3"""))

  /** CCNet-style perplexity tiers — the head/middle/tail split CCNet
    * cuts each language's corpus into before sampling (Wenzek et al.,
    * "CCNet: Extracting High Quality Monolingual Datasets", the
    * standard precursor to a perplexity-filtered pretraining mix):
    * per language, the best-scoring third of documents by LM mean-NLL
    * is `head`, the next third `middle`, the rest `tail`; the report
    * is per-(lang, tier) doc and token volume, the table a curation
    * run reads to decide how much of each tier to keep.
    *
    * Tercile semantics are HISTOGRAM-GRANULAR by design: docs bucket
    * into fixed 0.1-nat NLL steps, and tier edges are the smallest
    * bucket whose cumulative doc count reaches n/3 (resp. 2n/3) of the
    * language. A doc-exact NTILE would need a full per-language sort —
    * with ≤ a handful of languages that is the straggler wall
    * t_reservoir_sample documents — while the bucket histogram is one
    * hash-aggregate, and at 0.1-nat granularity the cut differs from
    * doc-exact terciles only inside the single edge bucket. Everything
    * is integer (micro-nat fixed point from the shared bigram scorer),
    * so both engines derive identical edges.
    *
    * Scale shape: rides t_bigram_nll's one corpus pass (see its
    * scaladoc), then one (lang, bucket) hash-aggregate; the cumulative
    * window and the tercile-edge argmin run over the BUCKET table only
    * (≤ ~languages · ln(corpus)/0.1 rows — thousands, not corpus);
    * classification back to tiers is a bucket-table join, never a
    * second doc pass. */
  val qPplBuckets = GraftQuery(
    "t_ppl_buckets",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val hist = qBigramNll.run(s, d)
        .join(Tables.documents(s, d).select($"doc_id", $"lang"), "doc_id")
        .select($"lang", expr("mean_nll_micro div 100000").as("bucket"),
          ($"n_bigrams" + 1L).as("n_toks"))
        .groupBy($"lang", $"bucket")
        .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("n_tokens"))
        .localCheckpoint(true) // cum window + totals + classify all read it
      val w = Window.partitionBy($"lang").orderBy($"bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum_docs", sum($"n_docs").over(w))
      val tot = hist.groupBy($"lang").agg(sum($"n_docs").as("n"))
      // tot and edges are |languages|-bounded — pin the broadcasts
      // (aggregates over checkpointed lineage carry no AQE stats).
      val edges = cum.join(broadcast(tot), "lang")
        .groupBy($"lang")
        .agg(min(when($"cum_docs" * 3 >= $"n", $"bucket")).as("t1"),
          min(when($"cum_docs" * 3 >= $"n" * 2, $"bucket")).as("t2"))
      hist.join(broadcast(edges), "lang")
        .select($"lang",
          when($"bucket" <= $"t1", lit("head"))
            .when($"bucket" <= $"t2", lit("middle"))
            .otherwise(lit("tail")).as("tier"),
          $"n_docs", $"n_tokens")
        .groupBy($"lang", $"tier")
        .agg(sum($"n_docs").as("n_docs"), sum($"n_tokens").as("n_tokens"))
    },
    Some(s"""WITH $bigramScoreCtes,
      sc AS (
        SELECT d.lang, s.mean_nll_micro // 100000 AS bucket,
          s.n_bigrams + 1 AS n_toks
        FROM scores s JOIN documents d USING (doc_id)),
      hist AS (
        SELECT lang, bucket, COUNT(*) AS n_docs,
          CAST(SUM(n_toks) AS BIGINT) AS n_tokens
        FROM sc GROUP BY 1, 2),
      cum AS (
        SELECT *, SUM(n_docs) OVER (PARTITION BY lang ORDER BY bucket
          ROWS UNBOUNDED PRECEDING) AS cum_docs FROM hist),
      tot AS (SELECT lang, SUM(n_docs) AS n FROM hist GROUP BY 1),
      edges AS (
        SELECT lang,
          MIN(CASE WHEN cum_docs * 3 >= n THEN bucket END) AS t1,
          MIN(CASE WHEN cum_docs * 3 >= n * 2 THEN bucket END) AS t2
        FROM cum JOIN tot USING (lang) GROUP BY 1)
      SELECT h.lang,
        CASE WHEN bucket <= t1 THEN 'head'
             WHEN bucket <= t2 THEN 'middle' ELSE 'tail' END AS tier,
        CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM hist h JOIN edges USING (lang)
      GROUP BY 1, 2"""))

  /** Context-window chunking — the split step that turns documents
    * into fixed-size training windows with overlap (the "stride"
    * pattern every LM data loader applies before packing): windows of
    * 64 whitespace tokens starting every 48 tokens (16-token overlap
    * carries context across the cut), the final window simply short.
    * Output is one row per chunk with its token coordinates and an
    * md5 fingerprint of the chunk text — the 16-byte key downstream
    * chunk-level dedup (dd_chunk_dedup's shape) joins on, so the
    * chunk text itself never has to shuffle.
    *
    * Scale shape: pure map-side — one projection, one bounded
    * explode (⌈n/48⌉ rows per doc, fan-out proportional to input
    * size exactly like the token explodes), no join, no aggregate,
    * no shuffle at all; parallelism follows the corpus scan. */
  val qChunkSplit = GraftQuery(
    "t_chunk_split",
    (s, d) => {
      import s.implicits._
      val win = 64
      val stride = 48
      val len = least(lit(win), size($"toks") - $"tok_lo" + 1)
      Tables.documents(s, d)
        .where(length(trim($"text")) > 0)
        .select($"doc_id", tokens($"text").as("toks"))
        .select($"doc_id", $"toks",
          posexplode(sequence(lit(1), size($"toks"), lit(stride)))
            .as(Seq("ci", "tok_lo")))
        .select($"doc_id", $"ci".cast("int").as("chunk_idx"),
          $"tok_lo".cast("long").as("tok_lo"),
          len.cast("long").as("n_toks"),
          md5(array_join(slice($"toks", $"tok_lo", len), " ")).as("fp"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents WHERE length(trim(text)) > 0),
      st AS (
        SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
          unnest(range(1, len(toks) + 1, 48)) AS tok_lo
        FROM t)
      SELECT doc_id,
        CAST((tok_lo - 1) // 48 AS INT) AS chunk_idx,
        CAST(tok_lo AS BIGINT) AS tok_lo,
        CAST(least(64, n - tok_lo + 1) AS BIGINT) AS n_toks,
        md5(array_to_string(
          list_slice(toks, tok_lo, least(tok_lo + 63, n)), ' ')) AS fp
      FROM st"""))

  val all: Seq[GraftQuery] =
    Seq(qTokenStats, qQualityScore, qLangId, qFingerprint, qTokenBpe,
      qBpeEncode,
      qApproxDistinct, qExactDistinct, qTrainValSplit, qSequencePack,
      qSkewSaltedAgg,
      qRepetition, qTopTerms, qMixSample, qCorpusYield, qIdfRarity,
      qReservoirSample, qBigramNll, qNllYieldCurve, qCollocations,
      qTokenEntropy, qBackoffNll, qDsirLogratio, qRelatedDocs,
      qPplBuckets, qChunkSplit)
}
