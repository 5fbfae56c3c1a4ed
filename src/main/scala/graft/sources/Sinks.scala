package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** The streaming write side: one exactly-once sink that every streaming leg
  * lands through, and the two batch-id keyed parquet writers its `land`
  * callbacks use. A replayed micro-batch REPLACES its own partition through
  * a dynamic partition overwrite, so a restart from the checkpoint never
  * appends duplicates (SinksSpec runs the replay/restart matrix).
  */
object Sinks {

  /** THE streaming sink: every streaming leg lands through here. The
    * stream runs as append-mode micro-batches with checkpointed offsets,
    * and `land` receives each batch with its id. foreachBatch is
    * at-least-once (the sink write can succeed and the checkpoint commit
    * still fail, or a restart re-runs the last uncommitted batch), so
    * exactly-once-observable output is `land`'s half of the contract:
    * re-running a batch id must reproduce and REPLACE that batch's output,
    * which the batch-id-keyed dynamic overwrites below
    * ([[writeBatchIdempotent]], [[writeShardedBatchIdempotent]]) give. */
  def exactlyOnce(stream: DataFrame, checkpointDir: String)(
      land: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch((batch: Dataset[Row], batchId: Long) => land(batch, batchId))
      .start()

  /** One micro-batch landing in its own `batch_id=<id>` partition via
    * DYNAMIC partition overwrite, so a replayed batch REPLACES its own
    * partition instead of appending duplicates; the batch_id column
    * doubles as an audit trail of which micro-batch delivered which rows. */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, path: String): Unit =
    batch.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** One micro-batch as `shard=<k>/batch_id=<id>/part-*.parquet` training
    * shards — the streaming leg of the q73 shard discipline: hash-shard
    * assignment (the SAME expression as the q73 manifest and the batch
    * writer — graft.operators.AnalyticsQueries.shardCol) plus batch-id
    * keyed dynamic overwrite, so the layout is both balanced for
    * downstream readers and replay-idempotent: a re-delivered batch
    * replaces exactly its own (shard, batch_id) partitions. Requires a
    * `doc_id` column for the assignment. */
  def writeShardedBatchIdempotent(batch: DataFrame, batchId: Long, path: String): Unit =
    batch
      .withColumn("shard", graft.operators.AnalyticsQueries.shardCol)
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard", "batch_id")
      .parquet(path)
}
