package graft

import org.apache.spark.sql.SparkSession

/** The ONE definition of the measurement-session configuration, shared by
  * every entry point that times, verifies or plans gate queries (Bench,
  * Verify, Probe, PlanDump). Round 11 taught the cost of drift: a plan
  * probe missed one conf (`initialPartitionNum`) that Bench had gained,
  * and the shuffled-hash-join bound (broadcast threshold × shuffle partition
  * count) is 8× larger at 256 than at 32 — so the probe could show a
  * SortMergeJoin where Bench executed a shuffled hash join, exactly the plan
  * divergence a probe exists to rule out. A probe that does not share the
  * bench session byte-for-byte is measuring a different engine.
  *
  * The confs themselves (rationale lives with the evidence in BASELINE.md):
  *   - `shuffle.partitions` = core count, not Spark's default 200 — local
  *     mode has exactly `cpus` slots; 200 tiny tasks is pure scheduling.
  *   - `preferSortMergeJoin=false` (round 11): when a join side outgrows the
  *     broadcast threshold but a partition of it still fits a local hash map
  *     (the planner's own canBuildLocalHashMap bound), build a shuffled hash
  *     join instead of sorting both sides — the sf10 q8 probe measured the
  *     alternative as an 11.2×/decade superlinear sort term. Genuinely huge
  *     sides still fall back to SMJ (the bound fails), so the 100 TB posture
  *     is unchanged.
  *   - `initialPartitionNum=256` (round 11, from the sf100 probe): shuffle
  *     WRITES at fine granularity and let AQE coalesce reads back to its
  *     64 MB advisory target. At gate scale AQE coalesces to a handful of
  *     tasks as before; at sf100 the width keeps each task's working set
  *     under memory (flat-32 pushed q8's build side past the local-hash-map
  *     bound: 57 s → 25 s with this conf alone). One fixed setting at every
  *     scale factor — the same move a real cluster makes by having more
  *     reduce slots than one box — not per-SF tuning.
  */
object BenchSession {

  /** A builder carrying the exact bench session confs. Callers may append
    * further `.config(...)` overrides before `getOrCreate()`. */
  def builder(
      cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
  ): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        "256"
      )
      .config("spark.ui.enabled", "false")

  /** Apply `key=value` override args (probe tools) on the BUILDER — static
    * SQL confs cannot be set after `getOrCreate`, and a malformed arg should
    * name itself instead of dying as a MatchError. */
  def applyOverrides(
      b: SparkSession.Builder,
      kvs: Iterable[String]
  ): SparkSession.Builder = {
    kvs.foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => b.config(k, v)
        case _ =>
          sys.error(s"expected key=value session-conf override, got: '$kv'")
      }
    }
    b
  }
}
