package graft

import scala.collection.mutable

import org.apache.spark.GraftListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: run gate rows under the exact bench session and explain them —
  * the loop behind every per-query audit in SURVEY §5 (lost broadcasts,
  * double-evaluated subtrees, serialized stages, missing runtime filters).
  *
  * Usage: runMain graft.Probe <query>... [--sf dir] [--runs n] [--plan]
  *          [--stages] [--conf k=v]...
  *   - `--sf`: the sf dir (default: `SPARK_GRAFT_SF_DIR`);
  *   - `--runs`: timed runs per query (default 3), after one warm-up;
  *   - `--plan`: `explain("formatted")` and the AQE-final `executedPlan` of
  *     one more run's write (see [[planReport]]; redirect stdout to produce
  *     `plans/rNN` evidence);
  *   - `--stages`: one more run, traced per stage (see [[traceStages]]);
  *   - `--conf k=v`: a session conf on top of [[BenchSession]]'s.
  *
  * Timing is Bench's protocol: each timed run builds a FRESH DataFrame and
  * forces it through the `noop` writer, after a GC and an 80 ms settle.
  * Re-running an action on one Dataset lets Spark skip map stages whose
  * shuffle outputs already exist (q11 at sf10 read 0.48 s reused vs 4.35 s
  * true), and `collect()` times a different action from the bench's.
  * The TIME line lists each timed run's seconds and generated classes
  * compiled (`compiles=[…]`), in run order: after the warm-up a run should
  * compile 0, and a run that compiles is paying for a codegen cache miss
  * (see [[BenchSession.LongLived]]).
  */
object Probe {

  final case class Args(queries: Seq[String], sfDir: Option[String] = sys.env.get("SPARK_GRAFT_SF_DIR"),
      runs: Int = 3, plan: Boolean = false, stages: Boolean = false, confs: Seq[String] = Nil)

  private val Usage = "usage: Probe <query>... [--sf dir] [--runs n] [--plan] [--stages] [--conf k=v]..."

  def parse(args: Seq[String], acc: Args = Args(Nil)): Args = args match {
    case Seq() => require(acc.queries.nonEmpty, Usage); acc
    case "--sf" +: dir +: rest  => parse(rest, acc.copy(sfDir = Some(dir)))
    case "--runs" +: n +: rest  => parse(rest, acc.copy(runs = n.toInt))
    case "--plan" +: rest       => parse(rest, acc.copy(plan = true))
    case "--stages" +: rest     => parse(rest, acc.copy(stages = true))
    case "--conf" +: kv +: rest => parse(rest, acc.copy(confs = acc.confs :+ kv))
    case flag +: _ if flag.startsWith("--") =>
      throw new IllegalArgumentException(s"bad option or missing value: '$flag'; $Usage")
    case q +: rest => parse(rest, acc.copy(queries = acc.queries :+ q))
  }

  /** Force every output row and column without sink IO, as Bench does. */
  def force(df: DataFrame): DataFrame = {
    df.write.mode("overwrite").format("noop").save()
    df
  }

  /** [[force]] `df` and return the executed plan of the write that ran.
    * The noop write plans `df` under a new QueryExecution, so
    * `df.queryExecution` never executes and its plan stays AQE's initial
    * one; the write's own QueryExecution is caught by a listener, whose
    * events arrive through the listener bus, hence the drain. */
  private def forcedPlan(df: DataFrame): SparkPlan = {
    @volatile var ran: Option[QueryExecution] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = ran = Some(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    df.sparkSession.listenerManager.register(listener)
    try {
      force(df)
      GraftListenerBus.drain(df.sparkSession.sparkContext)
      ran.getOrElse(sys.error("no QueryExecution reported for the forced write")).executedPlan
    } finally df.sparkSession.listenerManager.unregister(listener)
  }

  /** The `--plan` report: `df`'s formatted explain, then the AQE-final
    * executed plan of one forced write of it. */
  def planReport(df: DataFrame, title: String): String = {
    val formatted = df.queryExecution.explainString(FormattedMode)
    s"== $title: explain(formatted) ==\n$formatted\n== AQE-final executedPlan ==\n${forcedPlan(df)}"
  }

  /** `body`'s result and the number of generated classes compiled while it
    * ran: the delta of Spark's JVM-wide codegen compile histogram, which
    * counts driver-side compiles and, in local mode, task-side ones. */
  def countCompiles[A](body: => A): (A, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val a = body
    (a, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  final case class TimedRun(s: Double, compiles: Long)

  /** `runs` timed runs of a fresh `build`, each after a GC and an 80 ms
    * settle (Bench's timed loop too). The full GC, outside the timer, stops
    * run i's garbage from being billed to run i+1. The sleep after it lets
    * the ContextCleaner, which this GC triggers through weak references,
    * finish unpersisting run i's broadcasts and shuffles before the timer
    * starts, so its unpersist RPCs stay out of run i+1's window. */
  def timeRuns(build: => DataFrame, runs: Int): Seq[TimedRun] = Seq.fill(runs) {
    System.gc(); Thread.sleep(80)
    val t0 = System.nanoTime()
    val (_, n) = countCompiles(force(build))
    TimedRun((System.nanoTime() - t0) / 1e9, n)
  }

  final case class JobSpan(id: Int, start: Long, end: Long)
  final case class StageRow(job: Int, id: Int, ms: Long, tasks: Int, name: String)
  final case class StageTrace(wallS: Double, jobs: Seq[JobSpan], stages: Seq[StageRow])

  /** Run `body` once, keying each completed stage to its owning job through
    * the job-start event's `stageIds`. Attributing a stage to "the last
    * started job" is wrong whenever AQE materializes independent query
    * stages concurrently. Listener delivery is asynchronous: the bus is
    * drained before the trace starts, so no earlier event reaches it, and
    * after `body`, whose jobs have all posted their events by the time it
    * returns. */
  def traceStages(spark: SparkSession)(body: => Unit): StageTrace = {
    val stageToJob = mutable.Map.empty[Int, Int]
    val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs(e.jobId) = JobSpan(e.jobId, e.time, -1L)
        e.stageIds.foreach(stageToJob(_) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized(jobs.get(e.jobId).foreach(j => jobs(j.id) = j.copy(end = e.time)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val si = e.stageInfo
        val ms = si.completionTime.zip(si.submissionTime).map { case (a, b) => a - b }
        stages += StageRow(stageToJob.getOrElse(si.stageId, -1), si.stageId,
          ms.getOrElse(-1L), si.numTasks, si.name.take(90))
      }
    }
    GraftListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      System.gc()
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      GraftListenerBus.drain(spark.sparkContext)
      jobs.synchronized(StageTrace(wall, jobs.values.toSeq, stages.toSeq))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val dir = a.sfDir.getOrElse(sys.error(s"no sf dir: pass --sf or set SPARK_GRAFT_SF_DIR; $Usage"))
    // overrides go on the BUILDER: static SQL confs reject a post-hoc set
    val spark = BenchSession.applyOverrides(BenchSession.builder(), a.confs).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.provider(spark, dir)
    for (q <- a.queries) {
      val fn = SparkEntry.queries.getOrElse(q, sys.error(s"unknown gate query '$q'"))
      force(fn(spark, dir)) // warm-up: codegen, JIT, fixture builds
      val runs = timeRuns(fn(spark, dir), a.runs)
      if (runs.nonEmpty) {
        val times = runs.map(_.s).sorted
        println(f"TIME $q @ $dir: median=${times(times.size / 2)}%.3f min=${times.head}%.3f " +
          runs.map(r => f"${r.s}%.3f").mkString("runs=[", " ", "] s ") +
          runs.map(_.compiles).mkString("compiles=[", " ", "]"))
      }
      if (a.plan) println(planReport(fn(spark, dir), s"$q @ $dir"))
      if (a.stages) {
        val t = traceStages(spark)(force(fn(spark, dir)))
        println(f"== $q: one traced run ${t.wallS}%.3f s, ${t.jobs.size} jobs, ${t.stages.size} stages ==")
        val origin = t.jobs.map(_.start).minOption.getOrElse(0L)
        for (j <- t.jobs.sortBy(_.start))
          println(f"job ${j.id}%4d  t+${j.start - origin}%6d ms  dur ${if (j.end >= 0) j.end - j.start else -1L}%6d ms")
        println("-- stages by wall (desc) --")
        for (s <- t.stages.sortBy(-_.ms).take(25))
          println(f"job ${s.job}%4d stage ${s.id}%4d  ${s.ms}%6d ms tasks=${s.tasks}%5d  ${s.name}")
      }
    }
    spark.stop()
  }
}
