package graft.tools

import graft.Tables
import graft.model.Listing
import graft.operators.Cdc
import graft.streaming.{StreamingCusum, StreamingDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming operating-point bench (VERDICT r10 #5): the 14 streaming
  * twins are correctness/recovery spec'd on fixtures, but a user's
  * first question about the ingest path is throughput — rows/s,
  * state-store footprint, and how long a kill/restart takes to
  * resume. This main replays the SF-dir events/documents tables as
  * time-ordered micro-batches through the three operators a
  * training-data ingest runs first, and prints ONE JSON line:
  *
  *  - `cusum`: [[StreamingCusum.monitored]] over the full events
  *    table (baseline trained in batch from the same table — the
  *    parity configuration), event-time hour closure via timers;
  *  - `dedup`: [[StreamingDedup.dedupByFingerprint]] over documents
  *    with a deterministic synthetic event-time (1 doc/sec by doc_id)
  *    and a 1h watermark, so state is exercised AND evicted;
  *  - `cdc`: [[Cdc.streamingEventsEventTime]] over sightings derived
  *    from events (mls = user_id, price = cents of value) — the
  *    stateful new/price_change/off_market machine, plus a
  *    KILL/RESTART midway through the replay: the restart resumes
  *    from the checkpoint and the recovery lag (start() to first
  *    committed batch) and the replayed tail are timed separately;
  *  - `dedup_fullbatch` / `dedup_rocksdb` (round 12): the same dedup
  *    plan at the full-corpus batch size (every slice in ONE
  *    micro-batch — the batch-size axis of the rows/s claim) and on
  *    the RocksDB state-store provider;
  *  - `ann_attached` / `pq_attached` / `phash_attached` (round 12):
  *    the artifact-backed triage/encode twins against PRE-MATERIALIZED
  *    indexes (LSH bucket index, PQ codebooks — read from the attached
  *    Artifacts set when present — and the pHash band index), index
  *    prep timed separately from the steady-state ingest replay; these
  *    carry zero state-store rows by design (the index IS the state
  *    and it lives in storage);
  *  - `ann_fullbatch` / `pq_fullbatch` / `phash_fullbatch` (round
  *    14): the attached twins at the full-corpus single-batch size,
  *    indexes reused from the 20-slice runs — the batch-size axis
  *    measured for the artifact-backed families too, so per-row cost
  *    at production batch sizes is a record, not an inference from
  *    the dedup family;
  *  - `cdc_rocksdb_*` / `scd2_*` / `scd2_rocksdb_*` (round 15): the
  *    CDC event-time machine and the SCD-2 maintainer on BOTH state
  *    store providers, each under the same kill/restart protocol —
  *    the RocksDB rows are the configuration a 100 TB deployment
  *    actually runs (changelog-checkpointed local state), recorded
  *    next to the HDFS-map default the specs gate on.
  *
  * Replay protocol: inputs are staged as `slices` range-partitioned
  * parquet files sorted by event time (file k = k-th time slice), and
  * the file source feeds them one per micro-batch
  * (`maxFilesPerTrigger=1`) in path order — so watermarks advance
  * monotonically exactly as they would on a live in-order feed, and
  * the same staging replays identically across runs (and across the
  * kill/restart, which is what makes the recovery number meaningful).
  *
  * Wall times include Spark streaming's per-batch planning overhead —
  * that IS the operating point of a micro-batch engine; rows/s here
  * is end-to-end ingest throughput, not per-operator CPU. State rows
  * and bytes come from the last progress's stateOperators (the
  * HDFS-backed store the specs run on; RocksDB is spec'd separately
  * in RocksDbStateSpec). */
object StreamBench {

  final case class StreamStats(rows: Long, wallSec: Double, batches: Long,
      stateRows: Long, stateBytes: Long, outRows: Long)

  private def statsOf(q: StreamingQuery, rows: Long, wallSec: Double,
      outRows: Long): StreamStats = {
    val ps = q.recentProgress
    val state = ps.reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(s => (s.numRowsTotal, s.memoryUsedBytes)))
      .getOrElse(Array.empty)
    StreamStats(rows, wallSec,
      ps.count(_.numInputRows > 0).toLong,
      state.map(_._1).sum, state.map(_._2).sum, outRows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
    val slices = sys.env.getOrElse("SPARK_GRAFT_STREAM_SLICES", "20").toInt
    val spark = graft.Sessions.local()
    import spark.implicits._

    val work = java.nio.file.Files.createTempDirectory("stream_bench")
      .toString

    // ---- stage time-ordered slices ----
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    ev.repartitionByRange(slices, $"ts").sortWithinPartitions($"ts")
      .write.parquet(s"$work/events_in")
    val nEvents = spark.read.parquet(s"$work/events_in").count()
    val evSchema = spark.read.parquet(s"$work/events_in").schema

    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text",
        timestamp_seconds(lit(1704067200L) + $"doc_id").as("ts"))
    docs.repartitionByRange(slices, $"ts").sortWithinPartitions($"ts")
      .write.parquet(s"$work/docs_in")
    val nDocs = spark.read.parquet(s"$work/docs_in").count()
    val docSchema = spark.read.parquet(s"$work/docs_in").schema

    def fileStream(dir: String, schema: StructType): DataFrame =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(dir)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- cusum: online drift over the full events replay ----
    val baseline = StreamingCusum.trainBaseline(ev)
      .as[(String, Long)].collect().toMap
    val cusumStats = {
      val q = StreamingCusum.monitored(
          fileStream(s"$work/events_in", evSchema), baseline)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$work/ckpt_cusum").start()
      val (_, wall) = timed { q.processAllAvailable() }
      val st = statsOf(q, nEvents, wall, -1L)
      q.stop(); st
    }

    // ---- dedup: fingerprint dedup with watermark eviction ----
    val dedupStats = {
      val q = StreamingDedup.dedupByFingerprint(
          fileStream(s"$work/docs_in", docSchema), "ts", "1 hour")
        .writeStream.format("parquet")
        .option("path", s"$work/dedup_out")
        .option("checkpointLocation", s"$work/ckpt_dedup").start()
      val (_, wall) = timed { q.processAllAvailable() }
      val st = statsOf(q, nDocs, wall,
        spark.read.parquet(s"$work/dedup_out").count())
      q.stop(); st
    }

    // ---- dedup at full-corpus batch size (VERDICT r11 #3): the
    // prose claim "feed it 50k-doc batches and the same plan runs at
    // document-ingest volume" measured instead of asserted — all
    // slices in ONE micro-batch ----
    val dedupBigStats = {
      val q = StreamingDedup.dedupByFingerprint(
          spark.readStream.schema(docSchema)
            .option("maxFilesPerTrigger", slices.toString)
            .parquet(s"$work/docs_in"), "ts", "1 hour")
        .writeStream.format("parquet")
        .option("path", s"$work/dedup_big_out")
        .option("checkpointLocation", s"$work/ckpt_dedup_big").start()
      val (_, wall) = timed { q.processAllAvailable() }
      val st = statsOf(q, nDocs, wall,
        spark.read.parquet(s"$work/dedup_big_out").count())
      q.stop(); st
    }

    // ---- dedup on the RocksDB state-store provider: the same
    // 20-slice replay, state spilled to local RocksDB instead of the
    // HDFS-backed in-memory map ----
    val dedupRocksStats = {
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = util.Try(spark.conf.get(providerKey)).toOption
      spark.conf.set(providerKey, "org.apache.spark.sql.execution." +
        "streaming.state.RocksDBStateStoreProvider")
      try {
        val q = StreamingDedup.dedupByFingerprint(
            fileStream(s"$work/docs_in", docSchema), "ts", "1 hour")
          .writeStream.format("parquet")
          .option("path", s"$work/dedup_rocks_out")
          .option("checkpointLocation", s"$work/ckpt_dedup_rocks").start()
        val (_, wall) = timed { q.processAllAvailable() }
        val st = statsOf(q, nDocs, wall,
          spark.read.parquet(s"$work/dedup_rocks_out").count())
        q.stop(); st
      } finally prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }

    // ---- attached-index triage twins (VERDICT r11 #3): the
    // production ingest shape — the index is a PRE-MATERIALIZED
    // artifact (trained/built once, lives in storage, zero state-store
    // rows), every micro-batch pays batch-sized probe work only.
    // Index prep is timed separately; the stream numbers are the
    // steady-state ingest operating point. ----
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    emb.repartitionByRange(slices, $"vec_id").sortWithinPartitions($"vec_id")
      .write.parquet(s"$work/emb_in")
    val nVecs = spark.read.parquet(s"$work/emb_in").count()
    val embSchema = spark.read.parquet(s"$work/emb_in").schema

    val (annIdx, annPrep) = timed {
      graft.streaming.StreamingAnn.buildIndex(emb, tables = 2,
        bits = graft.queries.Dedup.bitsFor(nVecs, 20), cap = 128)
    }
    // One stream-static twin run: `batch` over `input` through
    // MicroBatch into $work/<name>_out (checkpoint $work/ckpt_<name>),
    // the drain timed, the written rows counted back.
    def twinStats(input: DataFrame, name: String, rows: Long)(
        batch: DataFrame => DataFrame): StreamStats = {
      val q = graft.streaming.MicroBatch.start(input, s"$work/ckpt_$name")(
          batch) { (out, _) =>
        out.write.mode("append").parquet(s"$work/${name}_out")
      }
      val (_, wall) = timed { q.processAllAvailable() }
      val st = statsOf(q, rows, wall,
        spark.read.parquet(s"$work/${name}_out").count())
      q.stop(); st
    }

    val annStats = twinStats(fileStream(s"$work/emb_in", embSchema), "ann",
      nVecs)(graft.streaming.StreamingAnn.triageBatch(_, annIdx, 0.9))

    // PQ prefers the ATTACHED artifact codebooks (the tokenizer-style
    // read path); falls back to a one-off train when no artifact set
    // is materialized for this corpus
    val artDir = sys.env.getOrElse("SPARK_GRAFT_ARTIFACTS_DIR",
      s"/tmp/graft_stream_artifacts_${new java.io.File(sfDir).getName}")
    val (pqIdx, pqAttached, pqPrep) = {
      val t0 = System.nanoTime()
      val attached = util.Try {
        Artifacts.ensureFor(spark, sfDir, artDir)
        graft.streaming.StreamingPq.attachedIndex(spark, sfDir)
      }.toOption.flatten
      val idx = attached.getOrElse(
        graft.streaming.StreamingPq.buildIndex(emb))
      (idx, attached.nonEmpty, (System.nanoTime() - t0) / 1e9)
    }
    val pqStats = twinStats(fileStream(s"$work/emb_in", embSchema), "pq",
      nVecs)(graft.streaming.StreamingPq.encodeBatch(_, pqIdx))

    val (phIdx, phPrep) = timed {
      graft.streaming.StreamingPhash.buildIndex(
        Tables.documents(spark, sfDir).select($"doc_id", $"text"))
    }
    val phashStats = twinStats(fileStream(s"$work/docs_in", docSchema),
      "phash", nDocs)(graft.streaming.StreamingPhash.triageBatch(_, phIdx))

    // ---- attached twins at full-corpus batch size (VERDICT r13 #5):
    // dedup's single-batch row proved throughput is per-batch-overhead
    // bound; these rows measure the same axis for the three
    // artifact-backed families, so their per-row cost at production
    // batch sizes is a record, not an inference. Indexes are REUSED
    // from the 20-slice runs above — prep is a one-time cost already
    // recorded; these measure steady-state only. ----
    def fullStream(dir: String, schema: StructType): DataFrame =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", slices.toString).parquet(dir)

    val annBigStats = twinStats(fullStream(s"$work/emb_in", embSchema),
      "ann_big", nVecs)(
      graft.streaming.StreamingAnn.triageBatch(_, annIdx, 0.9))
    val pqBigStats = twinStats(fullStream(s"$work/emb_in", embSchema),
      "pq_big", nVecs)(graft.streaming.StreamingPq.encodeBatch(_, pqIdx))
    val phashBigStats = twinStats(fullStream(s"$work/docs_in", docSchema),
      "phash_big", nDocs)(
      graft.streaming.StreamingPhash.triageBatch(_, phIdx))

    // ---- stateful machines + kill/restart midway, on BOTH state
    // store providers (VERDICT r14 #6: the HDFS-backed map is the
    // spec default, RocksDB is what a 100 TB deployment actually
    // runs — record the CDC event-time machine and SCD-2 on each,
    // including the recovery probe) ----
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    def withProvider[A](rocks: Boolean)(body: => A): A =
      if (!rocks) body
      else {
        val prev = util.Try(spark.conf.get(providerKey)).toOption
        spark.conf.set(providerKey, "org.apache.spark.sql.execution." +
          "streaming.state.RocksDBStateStoreProvider")
        try body finally prev match {
          case Some(v) => spark.conf.set(providerKey, v)
          case None    => spark.conf.unset(providerKey)
        }
      }

    def sightings(in: DataFrame) = in
      .select($"ts", $"user_id", $"value").as[(java.sql.Timestamp, Long, Double)]
      .map { case (ts, uid, v) =>
        Cdc.Sighting(ts, Listing.minimal(uid.toString,
          (v * 100).toLong, foundDate = 1704067200L))
      }

    /** Kill/restart protocol shared by the stateful machines: run
      * ~half the slices, stop, restart from the checkpoint (recovery
      * lag = start() to first committed batch), drain the tail.
      * Returns (tail stats, phase-1 batches, phase-1 rows, recovery). */
    def killRestart(tag: String, rocks: Boolean)(
        mk: DataFrame => DataFrame): (StreamStats, Int, Long, Double) =
      withProvider(rocks) {
        def start() = mk(fileStream(s"$work/events_in", evSchema))
          .writeStream.format("parquet")
          .option("path", s"$work/${tag}_out")
          .option("checkpointLocation", s"$work/ckpt_$tag").start()
        val q1 = start()
        val deadline = System.currentTimeMillis() + 600000L
        while (q1.recentProgress.count(_.numInputRows > 0) < slices / 2 &&
            System.currentTimeMillis() < deadline)
          Thread.sleep(200)
        val phase1Batches = q1.recentProgress.count(_.numInputRows > 0)
        val phase1Rows = q1.recentProgress.map(_.numInputRows).sum
        q1.stop()
        val tRestart = System.nanoTime()
        val q2 = start()
        while (q2.recentProgress.isEmpty &&
            System.currentTimeMillis() < deadline + 600000L)
          Thread.sleep(50)
        val recoverySec = (System.nanoTime() - tRestart) / 1e9
        val (_, tailWall) = timed { q2.processAllAvailable() }
        val st = statsOf(q2, nEvents - phase1Rows, tailWall,
          spark.read.parquet(s"$work/${tag}_out").count())
        q2.stop()
        (st, phase1Batches, phase1Rows, recoverySec)
      }

    def cdcPlan(in: DataFrame): DataFrame =
      Cdc.streamingEventsEventTime(sightings(in), stalenessSec = 3L * 86400).toDF()
    def scd2Plan(in: DataFrame): DataFrame =
      graft.streaming.StreamingScd2.versions(
        in.select($"user_id", $"event_id",
          unix_timestamp($"ts").as("sec"), $"value")).toDF()

    val (cdcStats, phase1Batches, phase1Rows, recoverySec) =
      killRestart("cdc", rocks = false)(cdcPlan)
    val (cdcRocksStats, cdcRocksP1B, cdcRocksP1R, cdcRocksRecovery) =
      killRestart("cdc_rocks", rocks = true)(cdcPlan)
    val (scd2Stats, _, _, scd2Recovery) =
      killRestart("scd2", rocks = false)(scd2Plan)
    val (scd2RocksStats, _, _, scd2RocksRecovery) =
      killRestart("scd2_rocks", rocks = true)(scd2Plan)

    def fmt(n: String, s: StreamStats): String = {
      val rps = if (s.wallSec > 0) (s.rows / s.wallSec).round else 0L
      s""""$n":{"rows":${s.rows},"wall_sec":${f"${s.wallSec}%.2f"},""" +
        s""""rows_per_sec":$rps,"batches":${s.batches},""" +
        s""""state_rows":${s.stateRows},"state_bytes":${s.stateBytes},""" +
        s""""out_rows":${s.outRows}}"""
    }
    println(
      s"""{"metric":"stream_bench","sf_dir":"$sfDir","slices":$slices,""" +
        s""""events":$nEvents,"docs":$nDocs,"vecs":$nVecs,""" +
        fmt("cusum", cusumStats) + "," + fmt("dedup", dedupStats) + "," +
        fmt("dedup_fullbatch", dedupBigStats) + "," +
        fmt("dedup_rocksdb", dedupRocksStats) + "," +
        fmt("ann_attached", annStats) + "," +
        fmt("pq_attached", pqStats) + "," +
        fmt("phash_attached", phashStats) + "," +
        fmt("ann_fullbatch", annBigStats) + "," +
        fmt("pq_fullbatch", pqBigStats) + "," +
        fmt("phash_fullbatch", phashBigStats) + "," +
        s""""ann_prep_sec":${f"$annPrep%.2f"},""" +
        s""""pq_prep_sec":${f"$pqPrep%.2f"},"pq_from_artifact":$pqAttached,""" +
        s""""phash_prep_sec":${f"$phPrep%.2f"},""" +
        fmt("cdc_tail", cdcStats) + "," +
        s""""cdc_phase1":{"batches":$phase1Batches,"rows":$phase1Rows},""" +
        s""""cdc_recovery_sec":${f"$recoverySec%.2f"},""" +
        fmt("cdc_rocksdb_tail", cdcRocksStats) + "," +
        s""""cdc_rocksdb_phase1":{"batches":$cdcRocksP1B,"rows":$cdcRocksP1R},""" +
        s""""cdc_rocksdb_recovery_sec":${f"$cdcRocksRecovery%.2f"},""" +
        fmt("scd2_tail", scd2Stats) + "," +
        s""""scd2_recovery_sec":${f"$scd2Recovery%.2f"},""" +
        fmt("scd2_rocksdb_tail", scd2RocksStats) + "," +
        s""""scd2_rocksdb_recovery_sec":${f"$scd2RocksRecovery%.2f"}}""")
    spark.stop()
  }
}
