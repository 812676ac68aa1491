package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S12 — the zip-code reference one-shot job (utahZip.py:54-68):
  * (county, city, zip) rows → three artifacts: the nested
  * {county:{city:[zips]}} JSON, the flat zip array, and per-county zip
  * counts. The nested build is A5's grouped nested collection
  * (groupBy city collect → groupBy county map_from_entries), with F6
  * zip validation applied on the way in. Round-trips through
  * FileScans.nestedZips (S9).
  */
object ZipReferenceJob {

  /** rows(county, city, zip) → single nested JSON object string.
    * The whole object is built by to_json over a county→cities map so
    * every key is JSON-escaped by Spark — no hand-quoting (a county
    * with a quote or backslash must round-trip through S9). */
  def nestedJson(rows: DataFrame): String = {
    val perCity = rows
      .filter(col("zip").rlike("^[0-9]{5}$")) // F6
      .groupBy(col("county"), col("city"))
      .agg(array_sort(collect_list(col("zip"))).as("zips"))
    val perCounty = perCity
      .groupBy(col("county"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("city"), col("zips"))))).as("cities"))
    // each county becomes a single-entry JSON object so key AND value
    // are Spark-escaped; the whole document is then assembled by ONE
    // final aggregate (sort entries by county, strip braces, join) —
    // the only driver traffic is the finished JSON string itself
    val entry = to_json(map(col("county"), col("cities")))
    perCounty
      .select(col("county"), entry.as("entry"))
      .agg(concat(lit("{"),
        array_join(transform(
          array_sort(collect_list(struct(col("county"), col("entry")))),
          e => e("entry").substr(lit(2), length(e("entry")) - 2)), ", "),
        lit("}")).as("doc"))
      .head().getString(0)
  }

  /** Write all three artifacts like the reference's save_data_to_file. */
  def run(rows: DataFrame, outDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, "county_city_zips.json"),
      nestedJson(rows))
    // dedup + sort + join inside one aggregate — a scalar string read,
    // not a per-zip collect
    val flat = rows.filter(col("zip").rlike("^[0-9]{5}$"))
      .agg(concat(lit("[\""),
        array_join(array_sort(collect_set(col("zip"))), "\", \""),
        lit("\"]")).as("doc"))
      .head().getString(0)
    Files.writeString(Paths.get(outDir, "all_zip_codes.json"), flat)
    rows.filter(col("zip").rlike("^[0-9]{5}$"))
      .groupBy(col("county")).agg(countDistinct(col("zip")).as("n_zips"))
      .coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$outDir/county_counts")
  }
}
