package graft

import org.apache.spark.sql.SparkSession

/** The ONE definition of the measurement-session configuration, shared by
  * every entry point that times, verifies or plans gate queries (Bench,
  * Verify, Probe, PlanDump) and by the Demo and ScaleUp mains, which add
  * only their own confs on top. Round 11 taught the cost of drift: a plan
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
  *   - [[CodegenReuse]], which every graft session applies, not only the
  *     measurement ones; see there.
  */
object BenchSession {

  /** Keep compiled code for the life of the JVM. Spark compiles each
    * distinct generated class (whole-stage stages, projections, orderings)
    * with Janino and caches the class in ONE JVM-wide LRU map, keyed by
    * `(context class loader, source)`. Two things made graft's long-lived
    * session recompile on every op (counted with
    * `CodegenMetrics.METRIC_COMPILATION_TIME`, 4-core VM, sf0.01):
    *   - `spark.sql.codegen.cache.maxEntries`: Spark's default is 100. An
    *     LRU cache smaller than a cyclic working set misses on nearly every
    *     access, and loopbench's five llm_ops rows alone need 124 classes:
    *     every timed pass recompiled 103 of them. One pass over the whole
    *     119-row registry compiles 1,415 distinct classes, so the cache
    *     holds 2048. A cached class costs about 29 KB of settled heap plus
    *     8 KB of metaspace: +39 MB of heap with the whole registry cached.
    *   - `spark.sql.artifact.isolation.enabled`: with isolation on, each
    *     Spark session carries its own artifact state, and tasks of a
    *     session run under that session's executor class loader. Every
    *     streaming query runs on a CLONE of its session, so each
    *     `foreachBatch` stream run got a fresh loader and missed the cache
    *     for its task-side classes: 14-45 per corpus_ingest micro-batch,
    *     about 100 of the 120 that each timed pass recompiled. With a cache
    *     large enough to hold them, every dead loader's classes stayed
    *     alive (+7 MB of settled heap over two passes). graft adds no
    *     session artifacts (no `addArtifact`/`addJar`), so it loses
    *     nothing.
    *
    * Both are read when the session is built (the cache size once per JVM,
    * by whichever session first generates code), so they go on the builder,
    * through [[reuseCodegen]], wherever graft builds a session. */
  val CodegenReuse: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "2048",
    "spark.sql.artifact.isolation.enabled" -> "false"
  )

  /** `b` with [[CodegenReuse]] set. */
  def reuseCodegen(b: SparkSession.Builder): SparkSession.Builder =
    b.config(CodegenReuse)

  /** A builder carrying the exact bench session confs. Callers may append
    * further `.config(...)` overrides before `getOrCreate()`. */
  def builder(
      cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
  ): SparkSession.Builder =
    reuseCodegen(SparkSession.builder())
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
