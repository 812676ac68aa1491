package graft.operators

import graft.tools.Checkpoints
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE vocabulary induction — the tokenizer-TRAINING side
  * of t_token_count_bpe's tokenizer-APPLYING shape: learn the merge
  * table from the corpus itself (Sennrich-style byte-pair encoding
  * over word types).
  *
  * The classic formulation is a driver loop over a word-type
  * dictionary; the distributed shape keeps exactly that structure but
  * makes each step corpus-scalable:
  *  - the WORD TYPE table (word, count) is one hash-aggregate over the
  *    corpus — the only corpus-sized pass; everything after works on
  *    word types, whose cardinality grows slowly (Heaps' law);
  *  - each merge round scores all adjacent symbol pairs with one
  *    explode + weighted hash-aggregate over the type table, takes the
  *    argmax (count desc, then lexicographic pair — the determinism
  *    tie-break), and applies the merge with a typed per-row map
  *    (genuinely imperative left-to-right non-overlapping rewrite —
  *    the documented Dataset-map exception, linear per word);
  *  - the driver holds ONE (pair, count) row per round, never the
  *    dictionary.
  *
  * Rounds are a fixed budget (vocab size is a hyperparameter, not
  * data-dependent), so the job is at most k deterministic stages
  * (fewer once no pair is left), on [[Checkpoints.iterate]] like the
  * graph loops.
  *
  * BpeSpec pins the classic hand-computable corpus and determinism;
  * there is no SQL oracle — replaying an iterative argmax-merge in
  * one DuckDB statement would prove the SQL, not the operator — so
  * this stays a spec-verified operator like the other operators/
  * members, not a registry query.
  */
object BpeTrainer {

  /** One learned merge: rank order, the two symbols joined, and the
    * weighted pair count that won the round. */
  final case class Merge(rank: Int, left: String, right: String, count: Long)

  /** The one rewrite kernel every consumer applies: left-to-right
    * non-overlapping replacement of the adjacent pair (l, r) with the
    * joined symbol — training, vocab derivation and corpus encoding
    * must agree on this or the learned table means nothing. */
  private def rewrite(ss: Seq[String], l: String, r: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < ss.length) {
      if (i + 1 < ss.length && ss(i) == l && ss(i + 1) == r) {
        out += (l + r); i += 2 // left-to-right, non-overlapping
      } else { out += ss(i); i += 1 }
    }
    out.result()
  }

  /** A word as its initial symbol sequence: single characters, </w>
    * marker on the last. */
  private def initialSymbols(w: String): Seq[String] = {
    val cs = w.toCharArray.map(_.toString)
    cs.init.toSeq :+ (cs.last + "</w>")
  }

  /** Train `k` merges from a (doc_id, text) corpus. Words are
    * whitespace tokens; symbols start as single characters with the
    * standard </w> end-of-word marker on the final character. Returns
    * the merge table in learned order. */
  def train(spark: SparkSession, docs: DataFrame, k: Int): Seq[Merge] = {
    import spark.implicits._
    val words = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("n"))
      .as[(String, Long)]
    // a plain (untapped) localCheckpoint: the plan audit would count
    // the tapped aggregate's Exchange
    val init = words
      .map { case (w, n) => (initialSymbols(w), n) }
      .localCheckpoint(true).toDF()

    val merges = Seq.newBuilder[Merge]
    val (last, _) = Checkpoints.iterate(init, k) { (state, round) =>
      val syms = state.as[(Seq[String], Long)]
      val best = syms.flatMap { case (ss, n) =>
        ss.zip(ss.tail).map(p => (p._1, p._2, n))
      }
        .toDF("l", "r", "n")
        .groupBy($"l", $"r").agg(sum($"n").as("cnt"))
        .orderBy($"cnt".desc, $"l", $"r")
        .limit(1)
        .collect()
      // None once every word is one symbol: no pair is left
      best.headOption.map { row =>
        val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += Merge(round - 1, l, r, c)
        syms.map { case (ss, n) => (rewrite(ss, l, r), n) }.toDF()
      }
    }
    Seq(init, last).foreach(Checkpoints.release) // merges are on the driver
    merges.result()
  }

  /** The vocabulary after training: every surviving symbol with its
    * corpus frequency (weighted by word count). */
  def vocab(spark: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val ms = train(spark, docs, k)
    val words = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("n"))
      .as[(String, Long)]
    words.map { case (w, n) =>
      (ms.foldLeft(initialSymbols(w))((ss, m) => rewrite(ss, m.left, m.right)), n)
    }
      .flatMap { case (ss, n) => ss.map(s => (s, n)) }
      .toDF("symbol", "n")
      .groupBy($"symbol").agg(sum($"n").as("freq"))
  }

  /** The merge table as a (rank, l, r, cnt) DataFrame — the
    * persistable tokenizer-artifact form tools/Artifacts writes and
    * [[mergesFromFrame]] reopens. */
  def mergesToFrame(spark: SparkSession, ms: Seq[Merge]): DataFrame = {
    import spark.implicits._
    ms.map(m => (m.rank, m.left, m.right, m.count))
      .toDF("rank", "l", "r", "cnt")
  }

  /** Reopen a persisted merge table. The collect is the
    * hyperparameter-sized artifact itself (k rows — 20 here, 30k in a
    * production tokenizer), the same driver-value shape `train`
    * returns; merge ORDER is semantic, so ranks re-sort here rather
    * than trusting file order. */
  def mergesFromFrame(df: DataFrame): Seq[Merge] =
    df.select("rank", "l", "r", "cnt").collect()
      .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_.rank).toSeq

  /** Encode each distinct word type against a trained merge table:
    * (word, symbol sequence, symbol count). The merge table rides a
    * broadcast (it is the hyperparameter-sized artifact a tokenizer
    * ships); the rewrite applies per WORD TYPE, so encode cost scales
    * with the vocabulary (Heaps' law), never the corpus — the corpus
    * only ever pays the hash-join back onto its word counts. */
  def encodeTypes(spark: SparkSession, words: Dataset[String],
      merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      merges.sortBy(_.rank).map(m => (m.left, m.right)).toArray)
    words.map { w =>
      val ss = bc.value.foldLeft(initialSymbols(w)) {
        case (acc, (l, r)) => rewrite(acc, l, r)
      }
      (w, ss, ss.length.toLong)
    }.toDF("w", "symbols", "n_sym")
  }

  /** Corpus encoding report: per document, whitespace token count and
    * BPE token count under the trained table. Scale shape: one
    * corpus-sized (doc_id, word) aggregate, a vocabulary-sized typed
    * map (encodeTypes), one hash-join on the word, one per-doc
    * aggregate — the imperative rewrite never touches a corpus-sized
    * row set. */
  def encode(spark: SparkSession, docs: DataFrame,
      merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    val docWords = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("cnt"))
    val types = encodeTypes(spark, docWords.select($"w").distinct().as[String],
      merges)
    docWords.join(types, "w")
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("ws_tokens"),
        sum($"cnt" * $"n_sym").as("bpe_tokens"))
  }
}
