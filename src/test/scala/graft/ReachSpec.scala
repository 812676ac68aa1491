package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Main code is what the public surface reaches. The scan reads
  * `src/main/scala`, starts from the surface and follows "this type's
  * source names that type" to a fixed point. Two kinds of leftover
  * fail it:
  *  - a top-level main type that no root reaches;
  *  - a public member of a reachable object that no main file names.
  *
  * The surface: `Registry` (its `all`), every object with a `main`,
  * the streaming twins, `ScrapePipeline` with `AgentPipeline`, and the
  * SQL entry points `Graft`/`GraftExtensions`. All public members of a
  * twin, the cycle or the SQL entry points are surface; a main's only
  * surface member is `main`. A leftover on [[Reach.KeepList]] passes,
  * and so does nothing else: a keep-list entry the scan no longer
  * reports fails too, so the list stays true.
  */
class ReachSpec extends AnyFunSuite {

  test("every main type and public object member is reached or kept with a reason") {
    val src = new File("src/main/scala")
    assert(src.isDirectory, s"run from the repository root: no $src")
    val found = Reach.leftovers(src, Reach.SurfaceRoots, Reach.isSurface,
      Reach.KeepList.keySet)
    val unlisted = found.filterNot(Reach.KeepList.contains)
    val stale = Reach.KeepList.keySet.diff(found.toSet).toSeq.sorted
    assert(unlisted.isEmpty,
      "main code no surface root reaches (delete it, give it a caller, " +
        "or keep-list it with a reason):\n  " + unlisted.mkString("\n  "))
    assert(stale.isEmpty,
      "keep-list entries the scan no longer reports:\n  " +
        stale.mkString("\n  "))
  }

  test("the scan reports an unreached object and an unnamed member") {
    val dir = Files.createTempDirectory("reach").toFile
    def write(name: String, body: String): Unit =
      Files.writeString(new File(dir, name).toPath, body)
    write("Main.scala",
      """package p
        |object Main {
        |  def main(args: Array[String]): Unit = println(Used.f()) // Orphan
        |}
        |""".stripMargin)
    write("Used.scala",
      """package p
        |object Used {
        |  def f(): Int = g2
        |  def g(): String = "x"
        |  private def g2: Int = 1
        |}
        |object Orphan { def x = 1 }
        |""".stripMargin)
    write("Other.scala",
      """package q
        |/** Used: a comment never reaches. */
        |object Used { def h = 1 }
        |""".stripMargin)
    assert(Reach.leftovers(dir, Set.empty, _ => false, Set.empty) ==
      Seq("p.Orphan", "p.Used.g", "q.Used"))
  }
}

object Reach {

  /** Surface roots besides the mains, which the scan finds itself. */
  val SurfaceRoots: Set[String] = Set("graft.Registry", "graft.Graft",
    "graft.GraftExtensions", "graft.operators.ScrapePipeline",
    "graft.operators.AgentPipeline")

  /** Objects whose every public member is surface: the cycle, the SQL
    * entry points and the streaming twins. */
  def isSurface(fqn: String): Boolean =
    (SurfaceRoots - "graft.Registry").contains(fqn) ||
      fqn.startsWith("graft.streaming.Streaming")

  /** Main code that only specs, the benchmark harness or a one-shot job
    * reach, each kept for the reason given. */
  val KeepList: Map[String, String] = Map(
    "graft.sources.FixtureSource" ->
      "page-fixture ListingSource; the perfbench harness and PipelineSpec drive runCycle through it",
    "graft.sources.TruliaFixtureSource" ->
      "Trulia index/detail fixture ListingSource; the perfbench harness and PipelineSpec drive runCycle through it",
    "graft.sources.PaginatedHttpSource" ->
      "the live S1/S2 ListingSource for runCycle; its fetcher is injected, and PaginationSpec/HttpLoopbackSpec drive it",
    "graft.sources.FileScans" ->
      "the reference's S7/S8/S9 file reads; it reads ZipReferenceJob's output back",
    "graft.sinks.InMemoryGraphWriter" ->
      "the GraphWriter the perfbench harness and GraphSinkSpec/PipelineSpec write the cycle's graph into",
    "graft.sinks.CsvSinks" ->
      "the reference's K2/K3/K4 file sinks; runCycle leaves persistence to its caller, and the perfbench cycle writes agents and state through them",
    "graft.sinks.Metrics" ->
      "the reference's A2/K5 counters and progress as an accumulator and a StreamingQueryListener for callers of the streaming twins",
    "graft.functions.BoundedTopK" -> "TopKAggregateSpec's reference for TopKAggregate",
    "graft.functions.Scored" -> "BoundedTopK's element type",
    "graft.operators.ZipReferenceJob" -> "the reference's utahZip.py one-shot job (S12)",
    "graft.Tables.dsumDecimal" -> "I128SumSpec's reference for the i128 dsum",
    "graft.operators.Cdc.replay" ->
      "threads batchEvents over scripted cycles, the reference's poll loop; CdcSpec's 3-cycle scenario runs on it",
    "graft.functions.Cleaning.sqftSlice" ->
      "the reference's E6 sqft slice as a column, held to HtmlListingParser.sqftFromStats by CleaningSpec",
    "graft.functions.Cleaning.detailUrl" ->
      "the reference's E14 detail-URL template as a column; PaginationSpec checks it",
    "graft.functions.Cleaning.lastToken" ->
      "the reference's E16 facts-line rule as a column; CleaningSpec checks it",
    "graft.operators.BpeTrainer.vocab" ->
      "the vocabulary train's merges yield; BpeSpec checks merged symbols and mass conservation on it",
    "graft.queries.Dedup.annDroppedCount" ->
      "the ANN bucket cap's dropped-membership counter; AnnRecallSpec holds the cap to it",
    "graft.tools.Compact.runVersioned" ->
      "reader-atomic compaction through Versioned; CompactSpec holds it to wholly-old-or-new reads",
    "graft.tools.Layout.publishZorder" ->
      "reader-atomic z-order re-layout through Versioned; CompactSpec checks it",
    "graft.tools.PlanAudit.pinnedScaledBroadcasts" ->
      "the scaled-broadcast gate RegistrySweep records and PlanAuditSpec asserts")

  private val TopDecl =
    """^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(object|class|trait)\s+(\w+)""".r
  private val MemberDecl =
    """^  (?:@\w+\s+)*((?:(?:final|implicit|lazy|override|private(?:\[\w+\])?|protected(?:\[\w+\])?|case|sealed|abstract)\s+)*)(?:def|val|var|object|class|trait|type)\s+(\w+)""".r
  private val AnyDecl = """\b(?:def|val|var|object|class|trait|type)\s+(\w+)""".r
  private val Ident = """[A-Za-z_]\w*""".r
  private val Import = """import\s+([\w.]+)\.(\{[^}]*\}|\w+)""".r

  /** A top-level type (class and companion object share one). */
  private final case class TopType(pkg: String, name: String,
      header: String, fileText: String, lines: Seq[String],
      objectMembers: Seq[(String, String)]) {
    def fqn: String = s"$pkg.$name"
    lazy val text: String = lines.mkString("\n")
  }

  /** Leftovers under `root`, sorted: unreached top-level types and
    * unnamed public members of reached objects, as fully qualified
    * names. `roots`, the `surface` objects and every object with a
    * `main` seed the reach. A `kept` type is still reported, but what
    * it names is reached. Members of `surface` objects and of `kept`
    * types are exempt. */
  def leftovers(root: File, roots: Set[String], surface: String => Boolean,
      kept: Set[String]): Seq[String] = {
    val types = scan(root)
    val bySimple = types.values.groupBy(_.name)
    val mains = types.values.filter(_.text.contains("def main(")).map(_.fqn)
    def names(t: TopType): Set[String] = {
      val toks = Ident.findAllIn(t.header + "\n" + t.text).toSet
      toks.flatMap(bySimple.getOrElse(_, Nil))
        .filter(c => c.fqn != t.fqn && refers(t, c)).map(_.fqn)
    }
    def closure(seeds: Set[String]): Set[String] = {
      var reached = seeds.intersect(types.keySet)
      var frontier = reached
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(f => names(types(f))) -- reached
        reached ++= frontier
      }
      reached
    }
    val core = closure(roots ++ mains ++ types.keySet.filter(surface))
    // kept types are reported (so the keep-list stays checkable), but
    // what they name counts as reached
    val reached = closure(core ++ kept)
    val all = types.values.map(_.text).mkString("\n")
    val uses = Ident.findAllIn(all).toSeq.groupBy(identity).map {
      case (k, v) => k -> v.size }
    val decls = AnyDecl.findAllMatchIn(all).map(_.group(1)).toSeq
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val members = for {
      f <- reached.toSeq if !surface(f) && !kept(f)
      (mods, m) <- types(f).objectMembers
      if !Seq("private", "protected", "override", "implicit")
        .exists(mods.contains)
      if !Set("main", "apply", "unapply")(m)
      if uses.getOrElse(m, 0) <= decls.getOrElse(m, 0)
    } yield s"$f.$m"
    ((types.keySet -- core).toSeq.filter(t => kept(t) || !reached(t)) ++
      members).sorted
  }

  /** Does `t` name `c`: same package, an import of it (or of its
    * package), or a package-qualified reference? */
  private def refers(t: TopType, c: TopType): Boolean = {
    val seg = c.pkg.split('.').last
    c.pkg == t.pkg ||
      s"\\b$seg\\.${c.name}\\b".r
        .findFirstIn(t.header + "\n" + t.text).nonEmpty ||
      Import.findAllMatchIn(t.fileText).exists { m =>
        m.group(1) == c.pkg && {
          val sel = m.group(2)
          sel == c.name || sel == "_" || (sel.startsWith("{") &&
            s"\\b(?:${c.name}|_)\\b".r.findFirstIn(sel).nonEmpty)
        }
      }
  }

  private def read(path: String): String =
    new String(Files.readAllBytes(new File(path).toPath), "UTF-8")

  private def scan(root: File): Map[String, TopType] = {
    def files(d: File): Seq[File] = Option(d.listFiles).toSeq.flatten
      .flatMap(f => if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val parts = files(root).sortBy(_.getPath).flatMap { f =>
      val src = Source.strip(read(f.getPath))
      val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(src)
        .map(_.group(1)).getOrElse("")
      val lines = src.split("\n", -1).toSeq
      val header = lines.takeWhile(TopDecl.findFirstIn(_).isEmpty)
        .mkString("\n")
      // split the file at each top-level declaration
      val starts = lines.indices.filter(i => TopDecl.findFirstIn(lines(i)).nonEmpty)
      starts.zip(starts.drop(1) :+ lines.length).map { case (a, b) =>
        val m = TopDecl.findFirstMatchIn(lines(a)).get
        val span = lines.slice(a, b)
        val members =
          if (m.group(1) != "object") Nil
          else span.flatMap(l => MemberDecl.findFirstMatchIn(l)
            .map(mm => (mm.group(1), mm.group(2))))
        TopType(pkg, m.group(2), header, src, span, members)
      }
    }
    parts.groupBy(_.fqn).map { case (k, ps) =>
      k -> ps.reduce((a, b) => a.copy(lines = a.lines ++ b.lines,
        objectMembers = a.objectMembers ++ b.objectMembers))
    }
  }

  /** Scala source with its comments blanked (line breaks kept) and its
    * string literals kept, so a name in a comment never reaches. */
  object Source {
    def strip(s: String): String = {
      val out = new StringBuilder
      var i = 0
      val n = s.length
      while (i < n) {
        if (s.startsWith("\"\"\"", i)) {
          var j = s.indexOf("\"\"\"", i + 3)
          j = if (j < 0) n else j + 3
          while (j < n && s(j) == '"') j += 1
          out ++= s.substring(i, j); i = j
        } else if (s(i) == '"') {
          var j = i + 1
          while (j < n && s(j) != '"' && s(j) != '\n')
            j += (if (s(j) == '\\') 2 else 1)
          j = math.min(j + 1, n)
          out ++= s.substring(i, j); i = j
        } else if (s(i) == '\'' && i + 2 < n &&
            (s(i + 2) == '\'' || s(i + 1) == '\\')) {
          val from = if (s(i + 1) == '\\') i + 3 else i + 2
          val j = s.indexOf('\'', from) match { case -1 => n case k => k + 1 }
          out ++= s.substring(i, j); i = j
        } else if (s.startsWith("//", i)) {
          i = s.indexOf('\n', i) match { case -1 => n case k => k }
        } else if (s.startsWith("/*", i)) {
          var depth = 1
          var j = i + 2
          while (j < n && depth > 0) {
            if (s.startsWith("/*", j)) { depth += 1; j += 2 }
            else if (s.startsWith("*/", j)) { depth -= 1; j += 2 }
            else j += 1
          }
          out ++= "\n" * s.substring(i, j).count(_ == '\n'); i = j
        } else { out += s(i); i += 1 }
      }
      out.toString
    }
  }
}
