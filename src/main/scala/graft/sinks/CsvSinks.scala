package graft.sinks

import graft.model.Listing
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** K2/K3/K4 — the reference's file sinks (SURVEY §2.2). */
object CsvSinks {

  /** K3: agent CSV (agent_manager.py:34, data_processing.py:36) —
    * header on, deterministic order must be applied upstream
    * (SURVEY §2.7 deviation). */
  def writeAgents(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)

  /** K4: legacy 8-column listing CSV (hunter.py:317-334) — fixed
    * header, Email always empty, sentinel defaults applied. */
  def listingsFrame(listings: Dataset[Listing]): DataFrame = {
    import graft.functions.Cleaning._
    listings.toDF().select(
      sentinelStr(col("address")).as("Property Address"),
      sentinelStr(col("city")).as("City"),
      sentinelStr(col("state")).as("State"),
      sentinelStr(col("zip")).as("Zip"),
      col("price").as("Price"),
      sentinelStr(col("agent_name")).as("Agent"),
      lit("").as("Email"), // always empty (hunter.py:330)
      sentinelStr(col("agent_phone")).as("Phone"))
      .orderBy("Property Address", "Agent") // deterministic K4 order
  }

  /** K2: JSON state snapshot (main.py:144-171). In streaming this is
    * the checkpoint; in batch an explicit overwrite dump keyed by mls. */
  def writeState(state: Dataset[Listing], path: String): Unit =
    state.write.mode("overwrite").json(path)

  /** S11: state restore — missing/corrupt file → empty state
    * (main.py:64-76). The reference json.load()s the WHOLE file and
    * any decode error empties the state, so a lazy PERMISSIVE read
    * (which would surface half-corrupt files as null rows at action
    * time) is not faithful: read FAILFAST and validate eagerly with a
    * distributed full pass (state is one row per active listing —
    * bounded, and scanned once per restart, never collected). Only
    * non-fatal errors empty the state: a fatal one (OOM, interrupt)
    * propagates, since an empty state would re-list every listing as
    * new and drop every price change. */
  def readState(spark: org.apache.spark.sql.SparkSession, path: String)
      : Dataset[Listing] = {
    import spark.implicits._
    try {
      val ds = spark.read
        .schema(implicitly[org.apache.spark.sql.Encoder[Listing]].schema)
        .option("mode", "FAILFAST")
        .json(path)
        .as[Listing]
      ds.foreach(_ => ()) // force parse+decode errors inside the catch
      ds
    } catch {
      case NonFatal(_) => spark.emptyDataset[Listing]
    }
  }
}
