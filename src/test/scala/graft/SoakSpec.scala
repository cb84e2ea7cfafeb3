package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBus
import org.scalatest.funsuite.AnyFunSuite

/** A long-lived session reaches a steady state ([[BenchSession.LongLived]]):
  * pass after pass over the same rows, Spark's status store stays at its
  * retention caps, the JVM-wide exchange pools stay at their thread caps,
  * and no generated class is compiled again. Settled heap is reported, not
  * asserted: its bytes depend on the JVM, the counts behind it do not. */
class SoakSpec extends AnyFunSuite {
  import SoakSpec.Pass

  private val dir = SparkFixture.sfDir

  /** loopbench's llm_ops rows, plus two rows whose independent branches
    * finish in a varying order: AQE numbered their whole-stage classes
    * differently from pass to pass, and they compiled again. */
  private val rows =
    Seq("dedup_exact", "dedup_bloom", "dedup_keep_canonical", "dedup_clusters", "ann_ivf",
      "q_table_stats", "q7_nation_volume")

  private val pools = Seq(
    "shuffle-exchange-" -> "spark.sql.shuffleExchange.maxThreadThreshold",
    "ResultQueryStageExecution-" -> "spark.sql.resultQueryStage.maxThreadThreshold",
    "broadcast-exchange-" -> "spark.sql.broadcastExchange.maxThreadThreshold"
  )

  private def cap(key: String): Int = BenchSession.LongLived(key).toInt

  test("four passes over the llm_ops rows keep status entries, exchange threads and compiles bounded") {
    val spark = SparkFixture.spark.newSession()
    val sc = spark.sparkContext
    // Spark trims the status store asynchronously, by at least a tenth of
    // the cap at a time, once a write takes a count past it
    def bound(key: String): Int = cap(key) + math.max(1, cap(key) / 10)
    def settledCount(key: String)(count: => Long): Long = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (count > bound(key) && System.nanoTime() < deadline) Thread.sleep(50)
      count
    }
    val passes = (1 to 4).map { _ =>
      val (_, compiles) =
        Probe.countCompiles(rows.foreach(q => Probe.force(SparkEntry.queries(q)(spark, dir))))
      GraftListenerBus.drain(sc)
      val names = Thread.getAllStackTraces.keySet.asScala.toSeq.filter(_.isAlive).map(_.getName)
      val threads = pools.map { case (prefix, _) => prefix -> names.count(_.startsWith(prefix)) }.toMap
      val jobs = settledCount("spark.ui.retainedJobs")(sc.statusTracker.getJobIdsForGroup(null).length.toLong)
      val executions =
        settledCount("spark.sql.ui.retainedExecutions")(spark.sharedState.statusStore.executionsCount())
      System.gc(); System.gc()
      val rt = Runtime.getRuntime
      Pass(compiles, threads, jobs.toInt, executions, (rt.totalMemory - rt.freeMemory) / 1048576.0)
    }
    passes.zipWithIndex.foreach { case (p, i) =>
      info(f"pass ${i + 1}: compiles=${p.compiles} threads=${p.threads} jobs=${p.jobs} " +
        f"executions=${p.executions} settled heap=${p.heapMb}%.1f MB")
    }
    val report = passes.mkString("\n")
    for ((prefix, key) <- pools) {
      assert(passes.forall(_.threads(prefix) <= cap(key)), s"$prefix threads over the cap ${cap(key)}:\n$report")
      assert(passes.drop(2).forall(_.threads(prefix) <= passes(1).threads(prefix)),
        s"$prefix threads grow after pass 2:\n$report")
    }
    assert(passes.forall(_.jobs <= bound("spark.ui.retainedJobs")), s"jobs over the cap:\n$report")
    assert(passes.forall(_.executions <= bound("spark.sql.ui.retainedExecutions")),
      s"SQL executions over the cap:\n$report")
    assert(passes.drop(1).forall(_.compiles == 0), s"a pass after the first compiled classes:\n$report")
  }
}

object SoakSpec {
  final case class Pass(compiles: Long, threads: Map[String, Int], jobs: Int, executions: Long, heapMb: Double)
}
