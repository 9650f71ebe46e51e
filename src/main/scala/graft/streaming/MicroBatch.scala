package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Pin

/** The one micro-batch driver — the reference's primary mode (fetch a
  * batch, write it idempotently, resume) in Structured-Streaming form.
  * Every streaming sink in the engine starts here: `foreachBatch` with the
  * source offsets checkpointed under `checkpointDir`, so a restart resumes
  * at the first uncommitted batch and replays it under the same batch id.
  * Each batch body runs inside a [[Pin.scope]]: whatever a batch pins is
  * freed once its writes are done, so a long-running stream holds no pins
  * between batches. StreamingSpec's source lock keeps every other file in
  * `src/main` from starting a stream sink of its own. */
private[graft] object MicroBatch {

  /** Start `stream` with `body(batch, batchId)` per micro-batch. The
    * default trigger is Spark's own (the next batch as soon as the last
    * one finished). */
  def start(stream: DataFrame, checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime(0L))(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        Pin.scope(body(batch.toDF(), batchId))
      }
      .start()
}
