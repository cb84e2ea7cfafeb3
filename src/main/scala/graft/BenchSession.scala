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
  *   - [[LongLived]] (codegen reuse, bounded status retention, bounded
  *     exchange pools), which every graft session applies, not only the
  *     measurement ones; see there.
  */
object BenchSession {

  /** What a long-lived session keeps, bounded. Streaming ingest and any
    * service built on graft run in one session for hours, so every per-op
    * record Spark keeps must reach a steady state. Three groups. All but
    * `useIdInClassName` are read once, when the context or a JVM-wide pool
    * is first built, so `spark.conf.set` after `getOrCreate` is too late:
    * they go on the builder, through [[longLived]], wherever graft builds a
    * session, and `useIdInClassName` with them, so that every session of
    * the context starts with it.
    *
    *   - **Codegen reuse.** Spark compiles each distinct generated class
    *     (whole-stage stages, projections, orderings) with Janino and caches
    *     it in ONE JVM-wide LRU map keyed by `(context class loader,
    *     source)`; counted with `CodegenMetrics.METRIC_COMPILATION_TIME`,
    *     4-core VM, sf0.01:
    *     - `spark.sql.codegen.cache.maxEntries=2048`: Spark's default 100 is
    *       smaller than the cyclic working set, and an LRU cache that small
    *       misses on nearly every access. loopbench's five llm_ops rows alone
    *       need 124 classes, and every timed pass recompiled 103 of them.
    *       One pass over the whole 119-row registry compiles 1,415 distinct
    *       classes. A cached class costs about 29 KB of settled heap plus
    *       8 KB of metaspace: +39 MB of heap with the whole registry cached.
    *     - `spark.sql.artifact.isolation.enabled=false`: with isolation on,
    *       tasks of each session run under that session's own executor class
    *       loader, and every streaming query runs on a CLONE of its session.
    *       Each `foreachBatch` stream run got a fresh loader and missed the
    *       cache for its task-side classes (14-45 per corpus_ingest
    *       micro-batch), and every dead loader's classes stayed alive. graft
    *       adds no session artifacts (no `addArtifact`/`addJar`), so it loses
    *       nothing.
    *     - `spark.sql.codegen.useIdInClassName=false`: a whole-stage class is
    *       named after its codegen stage id, and AQE numbers stages in the
    *       order it creates them, which follows the order in which concurrent
    *       query stages finish. Rows with independent branches (the four
    *       per-column aggregates of q_table_stats, q7_nation_volume,
    *       dedup_recall_sample, docs_ingest_batch, text_tfidf_terms) got the
    *       same source under another class name on some passes, and
    *       compiled it again (4-10 classes a pass). Plans still print the id.
    *   - **Bounded status retention.** With the UI off, Spark's status store
    *     still keeps the last 1000 jobs and stages, 100,000 tasks per stage
    *     and 1000 SQL executions, each with its plan graph and metrics.
    *     Nothing in graft reads the store (its tracing uses its own
    *     listeners), so it keeps `spark.ui.retainedJobs=10`,
    *     `spark.ui.retainedStages=10`, `spark.ui.retainedTasks=100` and
    *     `spark.sql.ui.retainedExecutions=5`.
    *   - **Bounded exchange pools.** The `shuffle-exchange`,
    *     `ResultQueryStageExecution` and `broadcast-exchange` pools are
    *     JVM-wide and sized by `spark.sql.{shuffleExchange,resultQueryStage,
    *     broadcastExchange}.maxThreadThreshold` (1024, 1024 and 128). Each
    *     pool's core size equals that cap, so it starts a new thread on
    *     every submit until the cap is reached, and each thread carries a
    *     clone of the submitting job's `Properties`. A cap of 16, the
    *     default Spark gives its subquery pool, holds them at 16 threads.
    *
    * The two bounds were sized on loopbench llm_ops (`--seconds 6`, 4-core
    * VM, alternating pairs with the unbounded build, medians): each half
    * alone (5 pairs each) took `retained_heap_mb` from 82.7 to 77.8 MB
    * (retention) and from 82.4 to 77.9 MB (pools); both together (10 pairs)
    * from 81.7 to 73.2 MB, winning 10/10. Neither cost throughput: `ops_per_s`
    * read 2.06 → 2.05, 1.84 → 1.98 and 1.69 → 1.90, inside this box's spread,
    * so no value was raised from these starting points. Over 8 passes of the
    * same rows at sf0.01 the unbounded session's live heap grew 10.5 MB, with
    * 300 more job, 522 more stage and 72 more SQL execution records and 244
    * more threads; bounded, it stays flat. */
  val LongLived: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "2048",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.ui.retainedJobs" -> "10",
    "spark.ui.retainedStages" -> "10",
    "spark.ui.retainedTasks" -> "100",
    "spark.sql.ui.retainedExecutions" -> "5",
    "spark.sql.shuffleExchange.maxThreadThreshold" -> "16",
    "spark.sql.resultQueryStage.maxThreadThreshold" -> "16",
    "spark.sql.broadcastExchange.maxThreadThreshold" -> "16"
  )

  /** `b` with [[LongLived]] set. */
  def longLived(b: SparkSession.Builder): SparkSession.Builder =
    b.config(LongLived)

  /** A builder carrying the exact bench session confs. Callers may append
    * further `.config(...)` overrides before `getOrCreate()`. */
  def builder(
      cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
  ): SparkSession.Builder =
    longLived(SparkSession.builder())
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
