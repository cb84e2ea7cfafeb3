package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: run gate rows under the exact bench session and explain them —
  * the loop behind every per-query audit in SURVEY §5 (lost broadcasts,
  * double-evaluated subtrees, serialized stages, missing runtime filters).
  *
  * Usage: runMain graft.Probe <query>... [--sf dir] [--runs n] [--plan]
  *          [--stages] [--conf k=v]...
  *   - `--sf`: the sf dir (default: `SPARK_GRAFT_SF_DIR`);
  *   - `--runs`: timed runs per query (default 3), after one warm-up;
  *   - `--plan`: `explain("formatted")` and the AQE-final `executedPlan` of
  *     one more run (redirect stdout to produce `plans/rNN` evidence);
  *   - `--stages`: one more run, traced per stage (see [[traceStages]]);
  *   - `--conf k=v`: a session conf on top of [[BenchSession]]'s.
  *
  * Timing is Bench's protocol: each timed run builds a FRESH DataFrame and
  * forces it through the `noop` writer, after a GC and an 80 ms settle.
  * Re-running an action on one Dataset lets Spark skip map stages whose
  * shuffle outputs already exist (q11 at sf10 read 0.48 s reused vs 4.35 s
  * true), and `collect()` times a different action from the bench's.
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

  final case class JobSpan(id: Int, start: Long, end: Long)
  final case class StageRow(job: Int, id: Int, ms: Long, tasks: Int, name: String)
  final case class StageTrace(wallS: Double, jobs: Seq[JobSpan], stages: Seq[StageRow])

  /** Run `body` once, keying each completed stage to its owning job through
    * the job-start event's `stageIds`. Attributing a stage to "the last
    * started job" is wrong whenever AQE materializes independent query
    * stages concurrently. Listener delivery is asynchronous, so the trace
    * returns once every job it saw has ended and the bus has been quiet for
    * 200 ms. */
  def traceStages(spark: SparkSession)(body: => Unit): StageTrace = {
    val stageToJob = mutable.Map.empty[Int, Int]
    val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
    val stages = mutable.ArrayBuffer.empty[StageRow]
    var lastEvent = System.nanoTime()
    def record(f: => Unit): Unit = jobs.synchronized { f; lastEvent = System.nanoTime() }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = record {
        jobs(e.jobId) = JobSpan(e.jobId, e.time, -1L)
        e.stageIds.foreach(stageToJob(_) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        record(jobs.get(e.jobId).foreach(j => jobs(j.id) = j.copy(end = e.time)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = record {
        val si = e.stageInfo
        val ms = si.completionTime.zip(si.submissionTime).map { case (a, b) => a - b }
        stages += StageRow(stageToJob.getOrElse(si.stageId, -1), si.stageId,
          ms.getOrElse(-1L), si.numTasks, si.name.take(90))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      System.gc(); Thread.sleep(100)
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      val deadline = System.nanoTime() + 30000000000L
      def settled = jobs.synchronized {
        jobs.values.forall(_.end >= 0) && System.nanoTime() - lastEvent > 200000000L
      }
      while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
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
      val times = Seq.fill(a.runs) {
        System.gc(); Thread.sleep(80)
        val t0 = System.nanoTime()
        force(fn(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }.sorted
      if (times.nonEmpty)
        println(f"TIME $q @ $dir: median=${times(times.size / 2)}%.3f min=${times.head}%.3f " +
          times.map(t => f"$t%.3f").mkString("runs=[", " ", "] s"))
      if (a.plan) {
        val df = fn(spark, dir)
        val formatted = df.queryExecution.explainString(FormattedMode)
        force(df) // so the executed plan is the AQE-final one
        println(s"== $q @ $dir: explain(formatted) ==\n$formatted")
        println(s"== AQE-final executedPlan ==\n${df.queryExecution.executedPlan}")
      }
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
