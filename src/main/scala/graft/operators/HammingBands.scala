package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Banded Hamming-space near-dup machinery, shared by every
  * fixed-width-sketch family (dd_simhash_neardup over token SimHash,
  * mm_phash_neardup over the perceptual block hash): split each
  * sketch into `nBands` bit-bands, bucket on exact band value, cap
  * each bucket deterministically, emit candidate pairs, verify with
  * the true Hamming distance.
  *
  * Pigeonhole guarantee: Hamming ≤ nBands − 1 forces at least one
  * identical band, so with θ ≤ nBands − 1 banding recall is exactly 1
  * (before the cap). The per-bucket cap bounds a degenerate corpus
  * (every sketch identical) to cap² pairs per bucket — the same
  * no-silent-skew contract as the ANN path; cap survivors are chosen
  * by lowest doc_id, so reruns are deterministic.
  *
  * Scale shape: one (band, value) shuffle for candidates — the pair
  * space is never materialized beyond actual bucket co-residents —
  * and the verification join moves only 8-byte sketches. The sketch
  * table is localCheckpoint'd once and read by the banding pass and
  * both sides of the verify join (the persisted-artifact shape a
  * production pipeline would store).
  */
object HammingBands {

  /** The `nBands` band values of a sketch column: band b holds bits
    * [b·bandBits, (b+1)·bandBits). */
  def bandValues(sh: Column, nBands: Int, bandBits: Int): Column = {
    val mask = (1L << bandBits) - 1
    array((0 until nBands).map(b =>
      shiftright(sh, bandBits * b).bitwiseAND(lit(mask))): _*)
  }

  /** (doc_id, band, bval) memberships of (doc_id, sh) sketches, each
    * (band, bval) bucket capped to its `cap` lowest doc_ids
    * ([[BucketCap.lowestIds]]) — the band index nearDupPairs pairs
    * within and StreamingPhash probes. */
  def cappedBands(sketches: DataFrame, nBands: Int, bandBits: Int,
      cap: Int): DataFrame =
    BucketCap.lowestIds(
      sketches.select(col("doc_id"),
        posexplode(bandValues(col("sh"), nBands, bandBits)).as(Seq("band", "bval"))),
      Seq("band", "bval"), "doc_id", cap)

  /** sketches: (doc_id, sh) — sh a ≤63-bit non-negative long sketch.
    * Returns (doc_a, doc_b, hamming, is_dup θ-verified), doc_a <
    * doc_b. */
  def nearDupPairs(sketches: DataFrame, nBands: Int, bandBits: Int,
      cap: Int, theta: Int): DataFrame = {
    // deferred per-run scratch (round 15): un-registered, repeated
    // bench passes stacked a fresh generation of this checkpoint
    val sh = graft.tools.Checkpoints.defer(sketches.localCheckpoint(true))
    val capped = cappedBands(sh, nBands, bandBits, cap)
    val pairs = capped.as("l")
      .join(capped.as("r"),
        col("l.band") === col("r.band") && col("l.bval") === col("r.bval") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    val ham = expr("bit_count(sh_a ^ sh_b)").cast("int")
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), ham.as("hamming"),
        (ham <= theta).as("is_dup"))
  }

  /** The band/cap/pair CTEs shared by the DuckDB oracles — expects a
    * CTE `${p}sh` with (doc_id, sh) already defined; yields
    * `${p}bands`, `${p}capped`, `${p}pairs`. The prefix lets two
    * sketch families (e.g. the visual block hash and the caption
    * SimHash of mm_crossmodal_keep_list) coexist in one WITH chain. */
  def oracleBandCtes(nBands: Int, bandBits: Int, cap: Int,
      p: String = ""): String = {
    val mask = (1L << bandBits) - 1
    s"""
      ${p}bands AS (
        SELECT doc_id, b.band, (sh >> ($bandBits * b.band)) & $mask AS bval
        FROM ${p}sh, (SELECT unnest(range(0, $nBands)) AS band) b),
      ${p}capped AS (
        SELECT doc_id, band, bval FROM (
          SELECT doc_id, band, bval,
            ROW_NUMBER() OVER (PARTITION BY band, bval ORDER BY doc_id) AS rn
          FROM ${p}bands)
        WHERE rn <= $cap),
      ${p}pairs AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM ${p}capped l JOIN ${p}capped r
          ON l.band = r.band AND l.bval = r.bval AND l.doc_id < r.doc_id)"""
  }

  /** θ-verified dup-pair CTE `${p}dup(doc_a, doc_b)` over
    * `${p}pairs` + `${p}sh`. */
  def oracleDupCte(theta: Int, p: String = ""): String =
    s"""${p}dup AS (
        SELECT pp.doc_a, pp.doc_b
        FROM ${p}pairs pp
        JOIN ${p}sh a ON a.doc_id = pp.doc_a
        JOIN ${p}sh b ON b.doc_id = pp.doc_b
        WHERE bit_count(xor(a.sh, b.sh)) <= $theta)"""

  /** Full band/cap/pair/verify SQL tail (final SELECT included). */
  def oracleSqlTail(nBands: Int, bandBits: Int, cap: Int,
      theta: Int): String =
    s"""${oracleBandCtes(nBands, bandBits, cap)}
      SELECT p.doc_a, p.doc_b,
        CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming,
        bit_count(xor(a.sh, b.sh)) <= $theta AS is_dup
      FROM pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b"""
}
