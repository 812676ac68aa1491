package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's per-field extraction/cleaning semantics (SURVEY §2.8
  * E1–E18) as pure Catalyst column expressions — no UDFs, everything
  * stays inside whole-stage codegen.
  *
  * Citations are into /root/reference/ (see SURVEY.md for context).
  */
object Cleaning {

  /** E1 — phone normalization (data_loader.py:16-24, dup utils.py:6-14):
    * strip non-digits; 10 digits → +1##########; 11 digits starting
    * with 1 → +###########; anything else passes through; null → ''.
    */
  def normalizePhone(phone: Column): Column = {
    val d = regexp_replace(phone, "[^0-9]", "")
    when(phone.isNull, lit(""))
      .when(length(d) === 10, concat(lit("+1"), d))
      .when(length(d) === 11 && d.startsWith("1"), concat(lit("+"), d))
      .otherwise(phone)
  }

  /** E2 — per-word capitalize (data_processing.py:5-6). Python
    * str.capitalize lowercases the tail of each word; initcap matches. */
  def capitalizeWords(c: Column): Column = initcap(c)

  /** E3 — price parse (ure_scraping.py:75-76, trulia_scraper.py:72-73):
    * '$1,234,567' → long; parse failure → 0 (sentinel discipline §1.3). */
  def parsePrice(priceStr: Column): Column =
    coalesce(regexp_replace(priceStr, "[$,]", "").try_cast("long"), lit(0L))

  /** E4 — address decompose (ure_scraping.py:171-189): split on ', ';
    * city = part[1], state = first token of part[2], zip = last 5 chars. */
  def addressCity(addr: Column): Column = element_at(split(addr, ", "), 2)
  def addressState(addr: Column): Column =
    element_at(split(element_at(split(addr, ", "), 3), " "), 1)
  def addressZip(addr: Column): Column = substring(addr, -5, 5)

  /** E5 — name split (ure_scraping.py:122-125): first token → first
    * name, remaining tokens rejoined → last name ('' if none). */
  def firstName(name: Column): Column = element_at(split(name, " "), 1)
  def lastName(name: Column): Column = {
    val parts = split(name, " ")
    array_join(slice(parts, lit(2), greatest(size(parts) - 1, lit(0))), " ")
  }

  /** E6 — bug-for-bug positional sqft slice (ure_scraping.py:192):
    * int(stats[-12:-8]) with every failure path → 0. Python negative
    * slicing clamps both bounds at 0 (a short string yields a shorter
    * or empty slice, never an error); int() tolerates surrounding
    * whitespace, so the slice is trimmed before the guarded cast. */
  def sqftSlice(stats: Column): Column = {
    val len = length(stats)
    val start = greatest(len - 12, lit(0))
    val end = greatest(len - 8, lit(0))
    val sliced = when(end > start,
      stats.substr(start + 1, end - start)).otherwise(lit(""))
    // Python int() rejects fractional strings ("12.5" raises), so a
    // decimal slice must fall through to the 0 sentinel — guard with
    // an integer-shape rlike before the cast (try_cast alone would
    // truncate "12.5" to 12 and break E6 parity).
    val t = trim(sliced)
    coalesce(when(t.rlike("^[+-]?\\d+$"), t.try_cast("long")), lit(0L))
  }

  /** E7 — guarded division (ure_scraping.py:197): price/sqft, 0 when
    * the denominator is 0 (Python float division semantics → double). */
  def guardedDiv(num: Column, den: Column): Column =
    when(den =!= 0, num.cast("double") / den.cast("double")).otherwise(0.0)

  /** E9 — price-change percentage (main.py:39-52). */
  def priceChangePct(newPrice: Column, oldPrice: Column): Column =
    (newPrice - oldPrice) / oldPrice * 100

  /** E11 — time on market in whole days (hunter.py:343). */
  def daysBetween(later: Column, earlier: Column): Column =
    datediff(to_date(later), to_date(earlier))

  /** E14 — URL templating (ure_scraping.py:211): the detail-page URL
    * derived from the listing key, mls substituted twice. The search
    * pagination template (ure_scraping.py:26) lives in
    * PaginatedHttpSource where the page counter exists. */
  def detailUrl(mls: Column): Column =
    format_string(Cleaning.DetailUrlTemplate, mls, mls)

  val DetailUrlTemplate: String =
    "http://www.utahrealestate.com/report/public.single.report/report/detailed/listno/%s/scroll_to/%s"

  /** E16 — facts-item extraction (ure_scraping.py:226-231): the value
    * is the last whitespace-separated token of the raw facts line
    * ("Days on URE 17" → "17"). */
  def lastToken(c: Column): Column =
    element_at(split(trim(c), "\\s+"), -1)

  /** E12 — city-tag transform (data_processing.py:27-33): per element
    * of a comma-split list, append a suffix, rejoin with ', '. */
  def tagList(csv: Column, suffix: String): Column =
    array_join(
      transform(split(csv, ","), c => concat(trim(c), lit(suffix))), ", ")

  /** E17 — whitespace cleanup (ure_scraping.py:173,180): trim + single
    * pass double-space collapse, matching Python str.replace('  ',' '). */
  def cleanWhitespace(c: Column): Column =
    trim(regexp_replace(c, "  ", " "))

  /** §1.3 sentinel discipline: engine keeps real nulls; sinks that need
    * reference-faithful output apply this default. */
  def sentinelStr(c: Column): Column = coalesce(c, lit(""))
}
