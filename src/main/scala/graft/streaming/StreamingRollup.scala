package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import graft.operators.Rollup
import graft.tables.RollupJob

/** Streaming ingestion of the rollup cascade (SURVEY.md §2.4: thunder
  * 1.x is batch-only; our Spark-first engine adds the Structured
  * Streaming path as the natural continuous form of the same
  * continuous aggregate).
  *
  * Two shapes:
  *  - `windowedCounts`: classic watermark + tumbling `window()` agg —
  *    append-mode output of finalized 1m rollup rows once the
  *    watermark passes (late data within the watermark merges
  *    exactly, because the stats are the same mergeable set).
  *  - `foreachBatchCascade`: micro-batch MERGE into the TierTables —
  *    the streaming twin of RollupJob: each micro-batch computes 1m
  *    partials of its new rows and MERGEs them into 1m/1h/1d. Exactly
  *    the engine's batch semantics (mergeable stats), so a stream
  *    arriving in any chunking converges to the same tier contents as
  *    one batch run — the property the test asserts.
  */
object StreamingRollup {

  /** Watermarked tumbling-window rollup over a streaming points
    * source `(key, ts, v)`; emits finalized windows (append mode). */
  def windowedRollup(points: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    Rollup.partial(points
      .withWatermark("ts", watermark)
      .groupBy(col("key"), window(col("ts"), "1 minute")))
      .withColumn("window", col("window.start")) // in place: keeps column order
      .withColumnRenamed("window", "bucket")
  }

  /** foreachBatch writer MERGEing each micro-batch into the tier
    * tables rooted at `root` through [[RollupJob.mergeBatch]], the same
    * per-batch cascade the batch job runs. Lineage = runId/batchId →
    * restartable streams don't double-merge a replayed batch. */
  def cascadeWriter(points: DataFrame, root: String, runId: String,
      nBuckets: Int = 8): DataStreamWriter[org.apache.spark.sql.Row] = {
    points.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        new RollupJob(batch.sparkSession, root, nBuckets)
          .mergeBatch(batch, s"$runId/$batchId")
      }
      .trigger(Trigger.AvailableNow())
  }
}
