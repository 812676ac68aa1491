package graft

import org.apache.spark.sql.functions._

/** mm_crossmodal_keep_list's values are hash-checked against the
  * DuckDB oracle by the driver; this suite pins the CROSS-MODAL
  * transitivity that motivates the operator — a chain A ~vis~ B ~txt~ C
  * must collapse into ONE cluster with one keeper, although A and C
  * share no signal directly — plus the flag semantics and the
  * partition invariants, on a constructed corpus where each link is
  * forced through exactly one modality. */
class CrossmodalSpec extends SparkSpec {
  import spark.implicits._

  // A long shared scanline so one late character edit keeps the
  // block-mean perceptual hash close (visual link A-B) …
  private val base =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 8
  private val aText = base + "alpha bravo charlie delta echo juliet"
  private val bText = base + "alpha bravo charlie delta echo juliex"
  // … and C = exactly B's distinct token set in scrambled order:
  // SimHash60 reads DISTINCT tokens only, so the text link B-C is
  // Hamming 0 by construction while the scanline is permuted.
  private val cText = ("juliex echo delta charlie bravo alpha juliet " +
    "india hotel golf foxtrot ") * 9
  private val dText = "zebra quokka wombat numbat dingo " * 12

  private def corpus = Seq(
    (1L, aText), (2L, bText), (3L, cText), (4L, dText))
    .toDF("doc_id", "text")

  test("cross-modal chain collapses to one cluster; flags name the signals") {
    val out = queries.Multimodal.crossmodalKeepList(corpus, parts = 4)
      .orderBy("doc_id").collect()
    assert(out.length == 4)
    val byId = out.map(r => r.getLong(0) ->
      (r.getBoolean(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
        r.getBoolean(3), r.getBoolean(4))).toMap
    // keeper is the chain's min id; B and C both resolve to it in one hop
    assert(byId(1L) == ((true, None, true, false)),
      s"A should keep, vis-linked only: ${byId(1L)}")
    assert(byId(2L)._1 == false && byId(2L)._2 == Some(1L),
      s"B drops to A: ${byId(2L)}")
    assert(byId(2L)._3 && byId(2L)._4, "B carries BOTH modality flags")
    assert(byId(3L) == ((false, Some(1L), false, true)),
      s"C drops to A although they share no direct signal: ${byId(3L)}")
    assert(byId(4L) == ((true, None, false, false)), "control doc keeps")
  }

  test("partition invariants hold on the fixture corpus") {
    val rows = queries.Multimodal.qCrossmodalKeepList
      .run(spark, sf("sf0.001")).cache()
    val total = Tables.documents(spark, sf("sf0.001")).count()
    assert(rows.count() == total)
    assert(rows.filter($"keep" && $"dup_of".isNotNull).count() == 0)
    assert(rows.filter(!$"keep" && $"dup_of".isNull).count() == 0)
    // a doc in no dup pair must keep, and carry no flags
    assert(rows.filter(!$"vis_dup" && !$"txt_dup" && !$"keep").count() == 0)
    // every dropped doc's keeper is itself kept (one-hop resolution)
    val kept = rows.filter($"keep").select($"doc_id").as[Long].collect().toSet
    val dupOf = rows.filter(!$"keep").select($"dup_of").as[Long].collect()
    assert(dupOf.forall(kept.contains))
    // the union gate bites: the fixture has at least one drop
    assert(dupOf.nonEmpty)
  }
}
