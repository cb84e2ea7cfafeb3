package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable global sequence ids (B63) — `row_number() OVER (ORDER BY …)`
  * without the scale-killer. Spark plans a global-ORDER window as ONE
  * window partition: every row of the table flows through a single task,
  * which is an hour-long straggler (or an OOM) at 100 TB no matter how
  * many executors are idle. The classic cure is the zipWithIndex two-pass,
  * expressed here in DataFrame terms so Catalyst keeps optimizing around
  * it:
  *
  *   1. range-repartition by the order key (Spark samples split points, so
  *      partitions are balanced even under key skew) and note each row's
  *      partition number — partition p holds a contiguous, sorted run of
  *      the total order;
  *   2. count rows per partition (aggregate-scale: one row per partition)
  *      and turn the counts into per-partition starting offsets with a
  *      cumulative window over partition NUMBERS (≤ shuffle-partition
  *      count rows — driver-free, bounded);
  *   3. broadcast-join the offsets back and add the within-partition
  *      row_number — a window PARTITIONED by partition number, so its
  *      sort is per-partition, never global.
  *
  * The result is bit-identical to the naive global row_number whenever
  * `orderCols` is a total order (append a unique id as the last column).
  * Uniqueness is ENTIRELY the caller's responsibility — nothing here
  * detects a non-total order, and ties would take arbitrary but
  * deterministic-per-materialization ids (a full distinct-count guard
  * would cost a second aggregation pass over the data, the wrong trade at
  * 100 TB). The DuckDB oracle and the equivalence spec check the
  * total-order case. Cost: one range shuffle + one hash shuffle of
  * the same data vs. the naive plan's one shuffle into one task — at
  * cluster scale the two distributed passes win by the width of the
  * cluster.
  */
object GlobalIds {

  /** Append `idName` = 1-based global sequence id in `orderCols` order.
    * `orderCols` must be a total order (make the last column unique). */
  def sequentialIds(
      df: DataFrame,
      orderCols: Seq[String],
      idName: String = "seq_id",
      numPartitions: Int = 0
  ): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    // Default width = cluster parallelism, NOT conf.numShufflePartitions:
    // under AQE that getter resolves to coalescePartitions.initialPartitionNum
    // (256 in the bench session), and because the count below is EXPLICIT the
    // coalescer never shrinks it — worse, the localCheckpoint freezes the RDD
    // at that width, so every downstream stage (offset agg, rank window)
    // scheduled 256 near-empty tasks (measured round 13: three 256-task jobs
    // = 2.0 s of q_global_ids' 3.6 s at sf0.1). defaultParallelism is the
    // scale-adaptive intent: one range partition per available slot.
    val parts =
      if (numPartitions > 0) numPartitions
      else df.sparkSession.sparkContext.defaultParallelism
    val cols = orderCols.map(col)
    // localCheckpoint is CORRECTNESS here, not (only) the usual
    // multi-consumer economy: the stamped partition number must mean the
    // same thing to the count pass and the rank pass, but each evaluation
    // of repartitionByRange re-SAMPLES its range boundaries (the sampler
    // is seeded per RDD instance), so two evaluations can disagree on
    // where partitions split and the offsets would then be added to the
    // wrong rows. Pinning one materialization is the same price
    // RDD.zipWithIndex pays (its count job caches or recomputes the same
    // hazard); at corpus scale this is one executor-storage pass of the
    // projected columns.
    val ranged = df
      .repartitionByRange(parts, cols: _*)
      .withColumn("__gid_part", spark_partition_id())
      // pin, correctness: one range sampling for the count and rank passes
      .localCheckpoint()

    // offsets: rows before each range partition (aggregate-scale window)
    val wOff = Window
      .orderBy("__gid_part")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged
      .groupBy("__gid_part")
      .agg(count(lit(1)).as("__gid_n"))
      .withColumn("__gid_off", coalesce(sum("__gid_n").over(wOff), lit(0L)))
      .select("__gid_part", "__gid_off")

    // within-partition rank: window PARTITIONED by the range partition —
    // per-partition sort, no global funnel
    val wIn = Window
      .partitionBy("__gid_part")
      .orderBy(cols: _*)
    ranged
      .join(broadcast(offsets), "__gid_part")
      .withColumn(idName, col("__gid_off") + row_number().over(wIn))
      .drop("__gid_part", "__gid_off")
  }
}
