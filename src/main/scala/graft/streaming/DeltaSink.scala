package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.sources.DeltaRead

/** Exactly-once streaming ingest into a graft delta table.
  *
  * Structured Streaming's foreachBatch gives at-least-once delivery: after a
  * crash the last micro-batch is REPLAYED with the same batchId. The delta
  * protocol's answer is the `txn` action — a (appId, version) marker
  * committed atomically with the data — so a replayed batch is detected and
  * skipped ([[DeltaRead.appendIdempotent]]). batchId is the txn version;
  * Spark guarantees it is monotonically increasing per checkpoint location.
  *
  * Scale shape: the data write is a normal distributed parquet append; only
  * the commit-marker bookkeeping is driver-side (one tiny JSON per batch) —
  * exactly how delta-spark's own streaming sink coordinates. The log is
  * folded into a parquet checkpoint every 10 commits (carrying the txn
  * markers), so a long-lived streamed table's replay stays O(interval)
  * instead of O(batches ingested).
  */
object DeltaSink {

  /** Writer that appends each micro-batch, passed through `transform`, to
    * the delta table at `dir` exactly once under `appId`; the first batch
    * bootstraps the table. Each batch looks the table up once and checks
    * its txn marker on that snapshot; only a batch that passes calls
    * `transform`, with the batch and the table read from the same snapshot
    * (None before the first commit), and commits against it. A replayed
    * batch therefore calls no `transform` and commits nothing. Caller sets
    * checkpointLocation and start()s. */
  def exactlyOnce(
      stream: DataFrame,
      dir: String,
      appId: String,
      transform: (DataFrame, Option[DataFrame]) => DataFrame = (batch, _) => batch
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        DeltaRead.appendIdempotent(spark, dir, appId, batchId) { snap =>
          transform(batch, snap.map(DeltaRead.read(spark, dir, _)))
        }
        ()
      }
}
