package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col

/** Input-width guard for kernel-heavy subtrees (guide §2.5 input skew:
  * "one huge unsplittable file … repartition immediately after the read").
  *
  * Every bench-scale table is ONE parquet row group, so a scan can never
  * parallelize past one task regardless of `maxPartitionBytes` — and every
  * per-row kernel below the first exchange (MinHash signatures, shingle
  * hashing, simhash, langid, repetition stats) runs single-threaded while
  * 31 slots idle (JobProbe at sf0.1: 250–370 ms single-task kernel stages
  * on the heaviest text rows).
  */
object Spread {

  /** Hash-repartition `df` to the cluster's parallelism ONLY when its scan
    * arrives in fewer splits than the cluster has slots. Hash-partitioning
    * on `byCol` keeps the exchange deterministic under retries (guide §2.5 /
    * SPARK-38388: never round-robin data that feeds keyed work) and skips
    * the sort-before-repartition a keyless exchange pays. At scale the
    * guard is false — the scan already carries >= slots splits — and the
    * plan is untouched: NO exchange is added, so this can never become a
    * full-corpus text shuffle at 100 TB.
    *
    * The rule decides from the physical plan and starts no job:
    *   - a plan that is AQE-wrapped or holds an `Exchange` is returned
    *     unchanged. Its width is set by the exchange (and AQE's coalescing),
    *     not by a scan, and asking an AQE plan for its split count runs
    *     every query stage under it — once here, and again in the query
    *     that consumes the frame. AQE wraps a plan exactly when the plan
    *     needs an exchange or holds a subquery;
    *   - any other plan is asked for its split count through
    *     `executedPlan.execute()`, which builds the RDD and runs nothing.
    */
  def widenIfNarrow(df: DataFrame, byCol: String): DataFrame = {
    val plan = df.queryExecution.executedPlan
    val exchangeFed = plan match {
      case _: AdaptiveSparkPlanExec => true
      case p                        => p.exists(_.isInstanceOf[Exchange])
    }
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (exchangeFed || plan.execute().getNumPartitions >= cores) df
    else df.repartition(cores, col(byCol))
  }

  /** Plan-stats size bands, in order. See [[scale]]. */
  object Scale extends Enumeration { val Small, Mid, Large, Huge = Value }
  type Scale = Scale.Value

  /** The one scale gate: the band of `df`'s optimizer size estimate. Reads
    * `optimizedPlan.stats.sizeInBytes` once — file sizes for scans, no data
    * touched — and, like [[widenIfNarrow]], starts no job. The sites that
    * branch on it:
    *   - [[Dedup.dedupAgainstCorpus]] pins candidate ids and semi-filters
    *     text at `>= Large`;
    *   - [[Dedup.duplicateSpans]] pins its gram table at `Mid` only;
    *   - [[Mixture]] takes the one-window cutoff below `Huge`.
    *
    * Every pin or cutoff it guards pays a flat price (an eager barrier job,
    * a few driver round-trips, ~0.1 s locally) to save work that grows with
    * the input, so each edge sits where that work first outgrows the price:
    *   - `Mid` (2 MB): a pin of the duplicate-span gram table LOSES
    *     ~0.13 s/query at 0.58 MB of compressed docs (sf0.1) and WINS
    *     ~1.0 s/query (−45..−49%) at 6.7 MB (sf1); 2 MB is the order of
    *     magnitude where one saved kernel pass first covers the barrier.
    *   - `Large` (16 MB): ≥16 MB of snappy parquet text is ~100+ MB
    *     decompressed, so one avoided per-row text kernel pass or text
    *     shuffle costs more than the pin on any plausible kernel
    *     throughput. It is also where the duplicate-span gram table,
    *     O(corpus tokens), stops being worth writing to executor storage:
    *     the second kernel pass is embarrassingly parallel and touches no
    *     exchange (sf10 plan verified unchanged).
    *   - `Huge` (>256 MB): below it even a 100%-hot stratum is a few
    *     seconds of one-task window work, while the mixture machinery's
    *     fixed cost (two aggregate passes, a checkpoint, three input reads)
    *     dominates (docs_quality_budget 0.93 → 0.21 s at sf0.1, and still a
    *     win at sf10's 59 MB).
    * Both sides of each comparison move together on a bigger cluster.
    *
    * An unknown estimate (`spark.sql.defaultSizeInBytes`, `Long.MaxValue`
    * by default, e.g. an RDD-backed frame) reads `Huge` on purpose: that is
    * every site's scale-safe branch. Streaming micro-batches and
    * `localCheckpoint`ed frames are not unknown: on Spark 4.1 they keep the
    * estimate of the plan they came from (pinned by `CorpusIngestSpec`).
    * Boundaries: `>=` at 2 MB and 16 MB, `<=` at 256 MB.
    */
  def scale(df: DataFrame): Scale = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < MidBytes) Scale.Small
    else if (bytes < LargeBytes) Scale.Mid
    else if (bytes <= HugeBytes) Scale.Large
    else Scale.Huge
  }

  private val MidBytes: Long = 2L << 20
  private val LargeBytes: Long = 16L << 20
  private val HugeBytes: Long = 256L << 20
}
