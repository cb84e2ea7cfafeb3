package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = SparkFixture.sfDir

  test("stage trace: every completed stage has an owning job, jobs == job starts") {
    // registered BEFORE the probe's listener: both sit on the shared bus
    // queue, so this one has seen every event the trace has seen
    val starts = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    val t =
      try Probe.traceStages(spark)(Probe.force(SparkEntry.queries("q5_local_volume")(spark, dir)))
      finally spark.sparkContext.removeSparkListener(counter)
    assert(t.jobs.size > 1, s"q5 should run several jobs, traced ${t.jobs}")
    assert(t.jobs.size == starts.get, s"trace ${t.jobs.size} jobs vs ${starts.get} job starts")
    assert(t.jobs.forall(_.end >= 0), s"unfinished jobs: ${t.jobs}")
    assert(t.stages.nonEmpty)
    assert(t.stages.forall(_.job >= 0), s"stages without an owning job: ${t.stages}")
    assert(t.stages.map(_.job).toSet.subsetOf(t.jobs.map(_.id).toSet))
  }

  test("args: queries plus the five flags, nothing else") {
    val a = Probe.parse(
      Seq("q1_pricing_summary", "--sf", "d", "--runs", "5", "q6_forecast_revenue",
        "--plan", "--stages", "--conf", "a=1", "--conf", "b=2")
    )
    assert(a == Probe.Args(Seq("q1_pricing_summary", "q6_forecast_revenue"),
      Some("d"), 5, plan = true, stages = true, Seq("a=1", "b=2")))
    assert(!Probe.parse(Seq("q1_pricing_summary")).plan)
    intercept[IllegalArgumentException](Probe.parse(Seq("q1_pricing_summary", "--verbose")))
    intercept[IllegalArgumentException](Probe.parse(Seq("q1_pricing_summary", "--sf")))
    intercept[IllegalArgumentException](Probe.parse(Nil))
  }
}
