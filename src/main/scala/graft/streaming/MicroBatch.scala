package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Production wiring for the stream-static twins: run a twin's batch
  * function (`StreamingAnn.triageBatch`, `StreamingPq.encodeBatch`, …)
  * on each micro-batch of `stream` via foreachBatch, and hand each
  * result frame, with its batch id, to `sink`. The batch functions
  * are pure batch semantics, so a micro-batch boundary cannot change
  * a verdict. Returns the started query; the caller stops it. */
object MicroBatch {
  def start(stream: DataFrame, checkpointDir: String)(
      batch: DataFrame => DataFrame)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) => sink(batch(b), id) }
      .start()
}
