package loopbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span on the epoch-millisecond clock that Spark's listener events use.
  * Spans of one op share `op`; `parent` is the id of the causing span. */
final case class Span(
    id: Long,
    parent: Long,
    name: String,
    op: String,
    start: Double,
    end: Double
) {
  def dur: Double = end - start
}

object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Per-op task totals, written by the listener thread only. */
final class TaskTotals {
  var stages = 0L
  var tasks = 0L
  var failures = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakMem = 0L
}

/** The traced run's recorder: harness spans (op, build, exec) added by the
  * loop, plus job and stage spans from a `SparkListener` and query-phase
  * spans from a `QueryExecutionListener`. Jobs and stages find their op
  * through the `loopbench.op` / `loopbench.phase` local properties the loop
  * sets; query phases, which carry no properties, by time. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val OpProp = "loopbench.op"
  val PhaseProp = "loopbench.phase"

  private var nextId = 0L
  private def newId(): Long = synchronized { nextId += 1; nextId }

  val harness = ArrayBuffer.empty[Span]
  /** Op id to op name, for the trace file. */
  val labels = mutable.Map.empty[String, String]
  private val jobStart = new ConcurrentHashMap[Int, (String, String, Double)]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val jobSpans = new ConcurrentHashMap[Int, (Span, String)]
  private val stageOp = new ConcurrentHashMap[Int, String]
  private val stageSpans = ArrayBuffer.empty[(Span, Int)]
  private val totals = new ConcurrentHashMap[String, TaskTotals]
  private val phases = ArrayBuffer.empty[(String, Double, Double)]
  private val trackers = mutable.Set.empty[Int]

  def span(parent: Long, name: String, op: String, start: Double, end: Double): Long = {
    val id = newId()
    harness += Span(id, parent, name, op, start, end)
    id
  }

  private def totalsOf(op: String) = totals.computeIfAbsent(op, _ => new TaskTotals)

  private def jobOfStage(stageId: Int): Option[Int] =
    if (stageJob.containsKey(stageId)) Some(stageJob.get(stageId)) else None

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(OpProp))).foreach { op =>
      jobStart.put(e.jobId, (op, e.properties.getProperty(PhaseProp, ""), e.time.toDouble))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (op, phase, start) =>
      jobSpans.put(e.jobId, (Span(newId(), 0, s"job ${e.jobId}", op, start, e.time.toDouble), phase))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(OpProp))).foreach { op =>
      stageOp.put(e.stageInfo.stageId, op)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageOp.get(info.stageId)).foreach { op =>
      totalsOf(op).stages += 1
      for (s <- info.submissionTime; c <- info.completionTime)
        synchronized {
          stageSpans += ((Span(newId(), 0, s"stage ${info.stageId}", op, s.toDouble, c.toDouble), info.stageId))
        }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val t = totalsOf(op)
      t.tasks += 1
      if (e.reason != Success) t.failures += 1
      Option(e.taskMetrics).foreach { m =>
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.diskBytesSpilled
        t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)

  /** A tracker is shared by a DataFrame and the commands run over it, so
    * each tracker's phases are counted once. */
  private def recordPhases(qe: QueryExecution): Unit = synchronized {
    if (trackers.add(System.identityHashCode(qe.tracker)))
      qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
  }

  /** Total length of the union of `spans` clipped to [lo, hi]. */
  private def covered(spans: Seq[Span], lo: Double, hi: Double): Double = {
    val iv = spans.map(s => (math.max(s.start, lo), math.min(s.end, hi)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** Per-layer metrics over the traced ops. */
  def layers(cores: Int): Map[String, Double] = {
    val ops = harness.filter(_.name == "op")
    val n = ops.size.max(1).toDouble
    val opIds = ops.map(_.op).toSet
    val child = harness.filter(_.parent != 0).groupBy(s => (s.op, s.name))
    val jobEntries = jobSpans.asScala.toSeq.filter { case (_, (s, _)) => opIds(s.op) }
    val jobs = jobEntries.map(_._2)
    val stagesByJob = synchronized(stageSpans.toSeq)
      .flatMap { case (s, st) => jobOfStage(st).map(_ -> s) }
      .groupMap(_._1)(_._2)
    // a job's self time: its wall with no stage running (scheduling, the
    // driver-side work between stages)
    val jobSelfMs = jobEntries.map { case (id, (s, _)) =>
      s.dur - covered(stagesByJob.getOrElse(id, Nil), s.start, s.end)
    }.sum
    val jobsByOp = jobs.groupBy(_._1.op)
    def phaseJobs(op: String, phase: String) =
      jobsByOp.getOrElse(op, Nil).filter(_._2 == phase).map(_._1)
    def sumChild(name: String) =
      ops.map(o => child.get((o.op, name)).map(_.map(_.dur).sum).getOrElse(0.0)).sum
    def selfOf(name: String) = ops.map { o =>
      child.getOrElse((o.op, name), Nil).map(s =>
        s.dur - covered(phaseJobs(o.op, name), s.start, s.end)).sum
    }.sum
    val opWallMs = ops.map(_.dur).sum
    val noJobMs = ops.map(o =>
      o.dur - covered(jobsByOp.getOrElse(o.op, Nil).map(_._1), o.start, o.end)).sum
    val tt = totals.asScala.filter { case (op, _) => opIds(op) }.values.toSeq
    def tsum(f: TaskTotals => Long) = tt.map(f).sum.toDouble
    val mb = 1024.0 * 1024.0
    // query phases belong to the op whose span holds the phase's end
    val phaseByName = synchronized(phases.toSeq).flatMap { case (name, s, e) =>
      ops.find(o => e >= o.start && e <= o.end).map(_ => (name, e - s))
    }.groupMapReduce(_._1)(_._2)(_ + _)
    Map(
      "build.s_per_op" -> sumChild("build") / 1e3 / n,
      "build.self_s_per_op" -> selfOf("build") / 1e3 / n,
      "build.jobs_per_op" -> jobs.count(_._2 == "build") / n,
      "plan.analysis_ms_per_op" -> phaseByName.getOrElse("analysis", 0.0) / n,
      "plan.optimization_ms_per_op" -> phaseByName.getOrElse("optimization", 0.0) / n,
      "plan.planning_ms_per_op" -> phaseByName.getOrElse("planning", 0.0) / n,
      "exec.s_per_op" -> sumChild("exec") / 1e3 / n,
      "exec.self_s_per_op" -> selfOf("exec") / 1e3 / n,
      "exec.job_self_s_per_op" -> jobSelfMs / 1e3 / n,
      "exec.jobs_per_op" -> jobs.count(_._2 == "exec") / n,
      "exec.stages_per_op" -> tsum(_.stages) / n,
      "exec.tasks_per_op" -> tsum(_.tasks) / n,
      "exec.task_run_s_per_op" -> tsum(_.runMs) / 1e3 / n,
      "exec.task_cpu_s_per_op" -> tsum(_.cpuNs) / 1e9 / n,
      "exec.slot_busy_frac" -> tsum(_.runMs) / (opWallMs * cores).max(1.0),
      "exec.no_job_s_per_op" -> noJobMs / 1e3 / n,
      "exec.task_failures" -> tsum(_.failures),
      "exec.scan_input_mb_per_op" -> tsum(_.inputBytes) / mb / n,
      "exec.shuffle_write_mb_per_op" -> tsum(_.shuffleWrite) / mb / n,
      "exec.shuffle_read_mb_per_op" -> tsum(_.shuffleRead) / mb / n,
      "exec.spill_mb_per_op" -> tsum(_.spill) / mb / n,
      "exec.peak_exec_mem_mb" -> (if (tt.isEmpty) 0.0 else tt.map(_.peakMem).max / mb)
    )
  }

  /** Every span as one JSON line. Job spans hang under their op's build or
    * exec span, stage spans under their job, phase spans under the op. */
  def write(path: java.nio.file.Path): Unit = {
    val byOpPhase = harness.filter(_.parent != 0).map(s => (s.op, s.name) -> s.id).toMap
    val opSpan = harness.filter(_.name == "op").map(s => s.op -> s).toMap
    val jobs = jobSpans.asScala.toSeq.map { case (jobId, (s, phase)) =>
      (jobId, s.copy(parent = byOpPhase.getOrElse((s.op, phase), opSpan.get(s.op).map(_.id).getOrElse(0L))))
    }
    val jobIdToSpan = jobs.map { case (j, s) => j -> s.id }.toMap
    val phaseSpans = synchronized(phases.toSeq).flatMap { case (name, s, e) =>
      opSpan.values.find(o => e >= o.start && e <= o.end).map(o => Span(newId(), o.id, name, o.op, s, e))
    }
    val out = new PrintWriter(path.toFile, "UTF-8")
    try {
      def line(s: Span, kind: String): Unit =
        out.println(
          s"""{"id":${s.id},"parent":${s.parent},"kind":"$kind","name":${Json.str(s.name)},""" +
            s""""op":${Json.str(s.op)},"label":${Json.str(labels.getOrElse(s.op, ""))},""" +
            s""""start_ms":${s.start},"end_ms":${s.end}}"""
        )
      harness.foreach(s => line(s, "harness"))
      jobs.foreach { case (_, s) => line(s, "job") }
      synchronized(stageSpans.toSeq).foreach { case (s, stageId) =>
        line(s.copy(parent = jobOfStage(stageId).flatMap(jobIdToSpan.get).getOrElse(0L)), "stage")
      }
      phaseSpans.foreach(line(_, "phase"))
    } finally out.close()
  }
}
