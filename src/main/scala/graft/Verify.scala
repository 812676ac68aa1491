package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (scripts/check.py).
  *
  * Usage: scripts/run.sh graft.Verify <sfDir> <outDir> [name,name...]
  * — with a name list only those queries are (re)written, into the
  * same layout, so scripts/check.py can compare just them. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: Verify <sfDir> <outDir> [name,name...]")
    val spark = Sessions.local()
    // coalesce(1) keeps the driver's per-query dir a single file; at
    // synthetic large SFs (sf1/sf10 scale records) the single-threaded
    // write of multi-hundred-MB outputs dominates the whole dump —
    // SPARK_GRAFT_VERIFY_COALESCE=0 writes partitioned (check.py and
    // check_tiered.py read the dir either way)
    val coalesce1 =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_COALESCE", "1") != "0"
    dump(spark, args(0), args(1),
      args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq),
      coalesce1)
    spark.stop()
  }

  /** Write the selected queries (all when `names` is None) under
    * `outDir`, each as one file when `coalesce1`, then the FULL oracle
    * map. Unknown names throw before anything is written. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Option[Seq[String]], coalesce1: Boolean): Unit = {
    val qs = names.fold(Registry.all)(Registry.select)
    new java.io.File(outDir).mkdirs()
    // iterates the Registry (the table SparkEntry.queries is derived
    // from, same names and plans): the bare (SparkSession, String) =>
    // DataFrame signature carries no conf advisories
    qs.foreach { q =>
      try q.execute(spark, sfDir) { df =>
        (if (coalesce1) df.coalesce(1) else df)
          .write.mode("overwrite").parquet(s"$outDir/${q.name}")
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // learned-artifact-dependent oracles (t_bpe_encode): generated
    // from the SAME per-(session, dataset) cached merge table the
    // query run used, so the inlined literals cannot drift from the
    // output being checked — and only when that query ran (a subset
    // that skips it shouldn't pay for training); a failure here
    // degrades that one query to the old rows-only record instead of
    // sinking the dump
    val dynamic =
      if (!qs.exists(_.name == "t_bpe_encode")) Map.empty[String, String]
      else try queries.TextAnalysis.dynamicOracles(spark, sfDir)
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] dynamic oracle failed: ${e.getMessage}")
        Map.empty[String, String]
      }
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
