package graft

import org.apache.spark.sql.SparkSession

/** The one session policy every `main` runs on — the configuration
  * Bench measures, so plans, sweeps and dumps describe the session
  * that actually serves the queries. A tool that needs one more
  * SQL conf sets it with `spark.conf.set` after construction.
  */
object Sessions {

  /** `local[$SPARK_GRAFT_CPUS]` (default: every available core) with
    * shuffle.partitions = cpus, AQE on, UTC, no UI, WARN logging. */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      // initialPartitionNum >> cores: shuffles START at fine granularity
      // and AQE coalesces DOWN to the advisory size at small scale — so
      // the same binary neither over-partitions sf0.1 nor starves sf10+
      // (measured: at sf10 the 32-partition graph iterations spilled
      // 10-89 GB per query; the cluster-shaped setting is thousands)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The registry's only partition-less windows run over BOUNDED
    // tables (PlanAuditSpec gates the allowlist), so WindowExec's
    // single-partition caution is expected-by-design here — at sf10
    // it printed hundreds of times, burying real warnings in the
    // recorded tail.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
