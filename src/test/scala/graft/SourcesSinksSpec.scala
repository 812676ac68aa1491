package graft

import graft.model.Listing
import graft.sinks.CsvSinks
import graft.sources.{FileScans, FixtureSource}
import java.nio.file.Files

/** S1/S7/S8/S9 sources and K2/K3/K4 sinks. */
class SourcesSinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeFile(dir: String, name: String, content: String): String = {
    val p = java.nio.file.Paths.get(dir, name)
    Files.writeString(p, content)
    p.toString
  }

  test("S1 FixtureSource: pages → parsed listings, zip filter applied") {
    val page = """<table class="public-detail-quickview">
      <span class="mls">Z1</span><span class="price">$100,000</span></table>"""
    val pages = Seq(("84601", page), ("84058", page.replace("Z1", "Z2")))
      .toDF("zip", "html")
    val src = new FixtureSource(pages)
    val got = src.scan(spark, Seq("84601"))
    assert(got.collect().map(_.mls).toSeq == Seq("Z1"))
  }

  test("S7 contacts CSV scan normalizes phones") {
    val dir = tmp("contacts")
    val csv = writeFile(dir, "contacts.csv",
      "First Name,Last Name,Phone\njane,doe,(801) 555-0001\nbob,known,8015550002\n")
    val df = FileScans.contacts(spark, csv)
    assert(df.columns.toSeq == Seq("first_name", "last_name", "phone"))
    assert(df.collect().map(_.getString(2)).sorted.toSeq ==
      Seq("+18015550001", "+18015550002"))
  }

  test("S9 nested zip JSON double-explodes and validates zips (F4/F6)") {
    val dir = tmp("zips")
    val json = writeFile(dir, "z.json",
      """{"Utah": {"Provo": ["84601", "84602"], "Orem": ["84058"]},
          "Salt Lake": {"Sandy": ["84070", "bad"]}}""")
    val all = FileScans.nestedZips(spark, json)
    assert(all.count() == 4) // "bad" dropped by F6
    val utah = FileScans.nestedZips(spark, json, Seq("Utah"))
    assert(utah.select("zip").as[String].collect().sorted.toSeq ==
      Seq("84058", "84601", "84602"))
  }

  test("K4 listing CSV frame: fixed 8-col header, empty Email, sentinels") {
    val ls = Seq(
      Listing.minimal("M1", 100, city = Some("Provo"),
        agentName = Some("Jane"), agentPhone = Some("1")),
      Listing.minimal("M2", 200)).toDS()
    val df = CsvSinks.listingsFrame(ls)
    assert(df.columns.toSeq == Seq("Property Address", "City", "State",
      "Zip", "Price", "Agent", "Email", "Phone"))
    val rows = df.collect()
    assert(rows.forall(_.getString(6) == "")) // Email always ''
    assert(rows.exists(_.getString(1) == "")) // sentinel for missing city
  }

  test("K2/S11 state round-trip; corrupt path → empty state") {
    val dir = tmp("state") + "/st"
    val state = Seq(Listing.minimal("A", 1), Listing.minimal("B", 2)).toDS()
    CsvSinks.writeState(state, dir)
    val back = CsvSinks.readState(spark, dir)
    assert(back.collect().map(_.mls).sorted.toSeq == Seq("A", "B"))
    assert(CsvSinks.readState(spark, "/nonexistent/state").isEmpty)
  }

  test("S11: half-corrupt state file restores EMPTY (main.py:64-76)") {
    // the reference json.load()s the whole file: one bad byte → {}.
    // A lazy permissive read would instead surface null-mls rows at
    // action time; FAILFAST + eager validation reproduces the all-or-
    // nothing semantics.
    val dir = tmp("state_corrupt")
    writeFile(dir, "part-0.json",
      """{"mls":"OK","price":1,"source":"URE","sqft":0,"ppsqft":0.0,
        |"acres":0.0,"foundDate":0,"page_views":0,"favorited":0,
        |"days_online":0,"days_left":0,"price_change_percentage":0.0,
        |"property_details":{}}""".stripMargin.replace("\n", "") +
        "\n{\"mls\": TRUNCATED GARBAGE")
    assert(CsvSinks.readState(spark, dir).isEmpty)
  }

  test("S3: detail-page enrichment join grafts days_on_ure/type/style") {
    val page = """<table class="public-detail-quickview">
      <span class="mls">E1</span><span class="price">$100,000</span>
      <span class="url">http://x/detail/E1</span></table>
      <table class="public-detail-quickview">
      <span class="mls">E2</span><span class="price">$200,000</span>
      <span class="url">http://x/detail/E2</span></table>"""
    val pages = Seq(("84601", page)).toDF("zip", "html")
    val detail = // E2 has no detail page → facts stay None (S3 error path)
      Seq(("http://x/detail/E1",
        """<div class="facts___item"><span class="facts-header">Days on URE</span><div>Days on URE 17</div></div>
          |<div class="facts___item"><span class="facts-header">Type</span><div>Type Single Family</div></div>
          |<div class="facts___item"><span class="facts-header">Style</span><div>Style Rambler/Ranch</div></div>"""
          .stripMargin)).toDF("url", "html")
    val got = new FixtureSource(pages, Some(detail))
      .scan(spark, Seq("84601")).collect().sortBy(_.mls)
    assert(got.length == 2)
    val e1 = got(0)
    assert(e1.days_on_ure.contains("17")) // E16 last token
    assert(e1.`type`.contains("Single Family"))
    assert(e1.style.contains("Rambler/Ranch"))
    val e2 = got(1)
    assert(e2.days_on_ure.isEmpty && e2.`type`.isEmpty && e2.style.isEmpty)
  }

  test("S11 state tolerance: unknown fields in state JSON are ignored (from_dict permissiveness)") {
    // the reference's Listing.from_dict accepts any keys
    // (listing.py:48-52); the schema'd JSON read reproduces that:
    // extra fields are dropped, known fields load
    val dir = tmp("state_evo")
    val p = java.nio.file.Paths.get(dir, "part-0.json")
    java.nio.file.Files.writeString(p,
      """{"mls":"X1","price":123,"source":"URE","sqft":0,"ppsqft":0.0,
         |"acres":0.0,"foundDate":0,"page_views":0,"favorited":0,
         |"days_online":0,"days_left":0,"price_change_percentage":0.0,
         |"property_details":{},"SOME_FUTURE_FIELD":"ignored","another":42}"""
        .stripMargin.replace("\n", ""))
    val back = CsvSinks.readState(spark, dir)
    val rows = back.collect()
    assert(rows.length == 1)
    assert(rows.head.mls == "X1" && rows.head.price == 123L)
    // SURVEY §7.4.4 state schema evolution: this file predates
    // `expiration_date` (it has no such key) yet restores fine, the
    // new field surfacing as None — exactly from_dict's permissiveness
    // (listing.py:48-52). The streaming checkpoint is version-pinned
    // by Spark's state-store schema check; cross-version durability
    // rides this JSON snapshot (K2), the reference's own format.
    assert(rows.head.expiration_date.isEmpty)
  }
}
