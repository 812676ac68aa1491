package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** dd_fuzzy_join's value-level output is hash-checked against the
  * naive-quadratic DuckDB oracle by the driver sweep; this suite pins
  * the BLOCKING contract on inputs the fixture catalog doesn't cover:
  * completeness of trigram blocking + short-name sidecar against an
  * in-test naive cross join, on adversarial and randomized vocabularies,
  * at both tau = 1 and tau = 2.
  */
class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Ground truth: materialize the full quadratic pair space. */
  private def naive(names: Seq[String], tau: Int): Set[(String, String, Long)] = {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    (for {
      a <- names; b <- names if a < b
      l = lev(a, b) if l <= tau
    } yield (a, b, l.toLong)).toSet
  }

  private def blocked(names: Seq[String], tau: Int): Set[(String, String, Long)] =
    queries.Dedup.fuzzyJoin(names.toDF("name").distinct(), tau)
      .as[(String, String, Long)].collect().toSet

  test("tau=1: gram-destroying edits at the minLong boundary are not missed") {
    // one substitution in the middle of a 6-char name kills 3 of its 4
    // trigrams — the surviving gram must still pair it; 5-char names
    // (where one edit CAN kill every gram) must flow via the sidecar
    val names = Seq(
      "abcdef", "abcxef", // 6-char pair, ed=1, shares only one gram
      "abcde", "abXde",   // 5-char pair, ed=1, sidecar territory
      "bolt", "bolts",    // 4 vs 5 chars across the length boundary
      "rod", "rot",       // bare-minimum trigram count (exactly 1 gram)
      "a", "b",           // sub-trigram names: no grams at all
      "completely-unrelated-name")
    assert(blocked(names, 1) == naive(names, 1))
    // and the gate bites: the fixture has real pairs and real non-pairs
    assert(naive(names, 1).nonEmpty)
    assert(naive(names, 1).size < names.combinations(2).size)
  }

  test("tau=2: wider band, wider sidecar (minLong=9), same contract") {
    val names = Seq(
      "abcdefghi", "abcdeXgYi", // 9-char pair, ed=2, most grams destroyed
      "abcdefgh", "abZdefZh",   // 8-char: below minLong(9) -> sidecar
      "widgetron", "widgetrons", "widgetronx",
      "short", "shirt", "shred")
    assert(blocked(names, 2) == naive(names, 2))
    assert(naive(names, 2).nonEmpty)
  }

  test("randomized vocabulary: blocked == naive (fixed seed)") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abcd" // tiny alphabet forces dense near-collisions
    def word() = (1 to (3 + rnd.nextInt(8))).map(_ =>
      alphabet(rnd.nextInt(alphabet.length))).mkString
    val names = Seq.fill(120)(word()).distinct
    for (tau <- Seq(1, 2))
      assert(blocked(names, tau) == naive(names, tau), s"tau=$tau")
  }

  test("adversarial hot gram: candidates stay bounded, output stays complete") {
    // every name shares the hot trigram "zzz" — the pre-round-8 full
    // gram join would route all C(n,2) pairs through that one bucket;
    // rarest-gram prefix selection (k = 3*tau+1 lowest-df grams per
    // name) must displace "zzz" from every prefix that has rarer
    // grams, keeping candidates near-linear WITHOUT losing a pair
    val rnd = new scala.util.Random(7)
    val letters = "abcdefghijklmnopqrstuvwxy" // no 'z': hot gram stays unique
    def tail() = (1 to 9).map(_ => letters(rnd.nextInt(letters.length))).mkString
    val base = Seq.fill(150)("zzz" + tail()).distinct
    // plant genuine tau=1 pairs so the completeness assertion bites
    val names = (base ++ base.take(5).map(n => n.dropRight(1) + "q")).distinct

    val quadratic = names.size.toLong * (names.size - 1) / 2
    val cands = queries.Dedup.fuzzyCandidates(
      names.toDF("name").localCheckpoint(true), 1).count()
    assert(cands < quadratic / 5,
      s"hot gram not suppressed: $cands candidates vs $quadratic quadratic")
    assert(blocked(names, 1) == naive(names, 1))
    assert(naive(names, 1).size >= 5, "planted pairs present")
  }

  test("canonicalization resolves transitive chains past tau") {
    // aaaa ~1~ aaab ~1~ aabb, but lev(aaaa, aabb) = 2 > tau: only the
    // cluster closure maps all three to one canonical
    val names = Seq("aaaa", "aaab", "aabb", "zzzz").toDF("name")
    val labels = queries.Dedup.connectedComponents(
      queries.Dedup.fuzzyJoin(names, 1)
        .select($"name_a".as("doc_a"), $"name_b".as("doc_b")), parts = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels == Map("aaaa" -> "aaaa", "aaab" -> "aaaa",
      "aabb" -> "aaaa"), s"got $labels")

    val out = queries.Dedup.qFuzzyCanonical.run(spark, sf("sf0.001"))
      .cache()
    val n = Tables.part(spark, sf("sf0.001"))
      .select($"p_name").distinct().count()
    assert(out.count() == n, "one decision per catalog name")
    // every canonical_name is itself canonical (one-hop resolution)
    val canon = out.filter($"is_canonical")
      .select($"name").as[String].collect().toSet
    val targets = out.select($"canonical_name").as[String].collect()
    assert(targets.forall(canon.contains))
    assert(out.filter(!$"is_canonical").count() > 0, "the gate bites")
  }

  test("registry query: pairs are ordered, deduped, within tau") {
    val out = queries.Dedup.qFuzzyJoin.run(spark, sf("sf0.001")).cache()
    val rows = out.as[(String, String, Long)].collect()
    assert(rows.nonEmpty, "fixture catalog has tau=1 name pairs")
    assert(rows.forall { case (a, b, l) => a < b && l >= 1 && l <= 1 })
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length)
    // the pair space was reduced, not enumerated: candidates stay far
    // below the quadratic bound on the 64-name catalog
    val n = Tables.part(spark, sf("sf0.001"))
      .select($"p_name").distinct().count()
    assert(rows.length < n * (n - 1) / 2)
  }
}
