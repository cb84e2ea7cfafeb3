package graft.operators




import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Property test for the round-12 one-pass Sessionize operator — the one
  * piece of imperative per-partition state in the batch surface, so it gets
  * generative coverage, not just fixtures: on random event streams it must
  * equal the declarative LAG+cumsum rollup EXACTLY (row sets, counts, and
  * the fixed-point-rounded doubles bit-for-bit), across the shapes that
  * stress its state machine — single-event users, exact-gap boundaries,
  * duplicate timestamps, many users per partition, users spanning a whole
  * partition, negative and tiny values. Raw ScalaCheck generators with
  * fixed seeds, same convention as KernelPropertySpec. */
class SessionizePropertySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private val GapUs = 1800000000L // 30 min, the gate's gap

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // deltas engineered to hit the boundary region: exactly the gap, one
  // microsecond either side, zero (duplicate ts), tiny, and huge
  private val deltaGen: Gen[Long] = Gen.frequency(
    3 -> Gen.choose(0L, 2 * GapUs),
    1 -> Gen.const(GapUs),
    1 -> Gen.const(GapUs + 1),
    1 -> Gen.const(GapUs - 1),
    1 -> Gen.const(0L),
    1 -> Gen.choose(0L, 1000L)
  )
  private val valueGen: Gen[Double] = Gen.frequency(
    5 -> Gen.choose(-1e3, 1e3),
    1 -> Gen.const(0.0),
    1 -> Gen.choose(-1e-6, 1e-6)
  )
  private val userEventsGen: Gen[Seq[(Long, Double)]] = for {
    n <- Gen.frequency(3 -> Gen.choose(1, 40), 1 -> Gen.const(1))
    deltas <- Gen.listOfN(n, deltaGen)
    values <- Gen.listOfN(n, valueGen)
  } yield deltas.scanLeft(0L)(_ + _).tail.zip(values)

  private val streamGen: Gen[Seq[(Long, Long, Long, Double)]] = for {
    nUsers <- Gen.choose(1, 25)
    perUser <- Gen.listOfN(nUsers, userEventsGen)
  } yield {
    val t0 = 1700000000000000L // a fixed epoch-micros base
    perUser.zipWithIndex.flatMap { case (evs, u) =>
      evs.zipWithIndex.map { case ((tsUs, v), i) =>
        (u.toLong, t0 + tsUs, (u * 10000 + i).toLong, v)
      }
    }
  }

  test("one-pass Sessionize == declarative LAG rollup on random streams") {
    // build ts via timestamp_micros so sub-millisecond deltas survive
    sample(streamGen, 12).zipWithIndex.foreach { case (rows, i) =>
      val df = rows
        .toDF("user_id", "us", "event_id", "value")
        .withColumn("ts", timestamp_micros(col("us")))
        .select("user_id", "ts", "event_id", "value")
        // scatter input order and input partitioning: the operator must
        // impose its own shuffle+sort, never inherit luck from the fixture
        .repartition(5, col("event_id"))
      // Sessionize's output order is unspecified (no gate-only sort), so
      // both sides canonicalize by user_id before comparing.
      val expected = graft.gate
        .sessionRollup(df)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
        .sortBy(_._1)
      val got = Sessionize
        .userSessionStats(df, GapUs)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
        .sortBy(_._1)
      assert(got == expected, s"sample $i: ${rows.take(8)}…")
    }
  }

  test("executed plan has no global Sort: ordering is the sink's concern " +
    "(round-11 rule), so the rollup must pay exactly one exchange and one " +
    "partition-local sort, never a gate-only orderBy") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = Seq((1L, 1700000000000000L, 1L, 2.5), (2L, 1700000100000000L, 2L, 1.0))
      .toDF("user_id", "us", "event_id", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .select("user_id", "ts", "event_id", "value")
    val out = Sessionize.userSessionStats(df, GapUs)
    out.collect() // materialize so AQE finalizes the plan
    // collect() doesn't cross AQE stage boundaries — flatten them by hand
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val plan = out.queryExecution.executedPlan
    val nodes = flatten(plan)
    val globalSorts = nodes.collect { case s: SortExec if s.global => s }
    assert(globalSorts.isEmpty, s"gate-only global sort crept back in:\n$plan")
    val exchanges = nodes.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.size == 1, s"expected exactly one exchange:\n$plan")
  }

  test("degenerate shapes: empty input, one event, all-duplicate timestamps") {
    val empty = Seq.empty[(Long, Long, Long, Double)]
      .toDF("user_id", "us", "event_id", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .select("user_id", "ts", "event_id", "value")
    assert(Sessionize.userSessionStats(empty, GapUs).count() == 0)

    val one = Seq((7L, 1700000000000000L, 1L, 2.5))
      .toDF("user_id", "us", "event_id", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .select("user_id", "ts", "event_id", "value")
    val r = Sessionize.userSessionStats(one, GapUs).collect()
    assert(r.length == 1)
    assert(r(0).getLong(1) == 1L && r(0).getLong(2) == 1L)
    assert(r(0).getDouble(3) == 2.5)

    // 50 events, same user, SAME microsecond: one session of 50
    val dup = Seq.tabulate(50)(i => (1L, 1700000000000000L, i.toLong, 0.01))
      .toDF("user_id", "us", "event_id", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .select("user_id", "ts", "event_id", "value")
    val d = Sessionize.userSessionStats(dup, GapUs).collect()
    assert(d.length == 1)
    assert(d(0).getLong(1) == 1L && d(0).getLong(2) == 50L)
    assert(d(0).getDouble(3) == 0.5)
  }
}
