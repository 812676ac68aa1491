package graft

/** Smoke gate: every registered query plans and executes at sf0.001
  * (one [[RegistrySweep]] run, shared with PlanAuditSpec); entry
  * returns rows; names/oracles stay consistent. */
class RegistrySpec extends SparkSpec {

  test("registry names are unique and oracle keys ⊆ query keys") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry (flagship) returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Bench's attached set names real bench-flagged queries") {
    // a typo here would silently drop a query from the attached-mode
    // measurement instead of failing
    val benched = Registry.all.filter(_.bench).map(_.name).toSet
    assert(Bench.ArtifactBacked.subsetOf(benched),
      s"unknown/unbenched names: ${Bench.ArtifactBacked diff benched}")
  }

  test("Registry.select: registry order, every unknown name listed") {
    assert(Registry.select(Seq("q_graph_kcore", "q1_pricing_summary"))
      .map(_.name) == Seq("q1_pricing_summary", "q_graph_kcore"))
    val e = intercept[IllegalArgumentException](
      Registry.select(Seq("q_typo", "q1_pricing_summary", "q_other_typo")))
    assert(e.getMessage.contains("q_typo") &&
      e.getMessage.contains("q_other_typo"))
  }

  private def withTempDir(body: java.nio.file.Path => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("verify_subset")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("Verify.dump subset writes only the named results, the full oracle map") {
    withTempDir { dir =>
      val names = Seq("q1_pricing_summary", "q_graph_kcore")
      Verify.dump(spark, sf("sf0.001"), dir.toString, Some(names),
        coalesce1 = true)
      val dirs = dir.toFile.listFiles.filter(_.isDirectory).map(_.getName)
      assert(dirs.toSet == names.toSet)
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(dir.resolve("oracle_sql.json").toFile)
      SparkEntry.oracleSql.foreach { case (k, sql) =>
        assert(json.has(k), s"oracle_sql.json lacks $k")
        assert(json.get(k).asText == sql, s"$k oracle SQL garbled")
      }
    }
  }

  test("Verify.dump rejects an unknown name before writing anything") {
    withTempDir { dir =>
      val out = dir.resolve("out")
      val e = intercept[IllegalArgumentException](
        Verify.dump(spark, sf("sf0.001"), out.toString,
          Some(Seq("q1_pricing_summary", "q_typo")), coalesce1 = true))
      assert(e.getMessage.contains("q_typo"))
      assert(!java.nio.file.Files.exists(out))
    }
  }

  Registry.all.foreach { q =>
    test(s"${q.name} executes at sf0.001") {
      val r = RegistrySweep.records(q.name)
      assert(r.error.isEmpty, s"${q.name} failed: ${r.error.getOrElse("")}")
      assert(r.rows >= 0)
    }
  }
}
