package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-12 q_session_window reformulation: the one-shuffle LAG
  * rollup must be EXACTLY Spark's native `session_window` semantics —
  * including at the only point a batch reformulation could diverge, an
  * event landing exactly gap after its predecessor. Empirical ground truth
  * (asserted below, not assumed): the native operator merges INCLUSIVELY —
  * the exact-gap event CONTINUES the session — so the rollup's split
  * condition must be strictly `delta > gap`, and a `delta >= gap` variant
  * would be wrong in a way the gate data (which has no exact-gap pairs)
  * could never catch. */
class SessionEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = SparkFixture.sfDir

  /** The pre-round-12 native formulation (kept for the D2 streaming path),
    * as a batch reference — same exact-sum discipline as the gate query so
    * the comparison can be exact, not tolerance-based. */
  private def nativeRollup(events: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    def rsum(c: org.apache.spark.sql.Column) =
      round(call_function("graft_fixed_sum10", c), 2).cast("double")
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        rsum(col("value")).as("session_value")
      )
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        rsum(col("session_value")).as("total_value")
      )
      .orderBy(col("user_id"))
  }

  // Sessionize's output order is unspecified (the gate canonicalizes rows;
  // the round-13 change dropped its gate-only trailing sort), so every
  // comparison canonicalizes by user_id here.
  private def rows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)

  test("LAG rollup and one-pass Sessionize == native session_window on the " +
    "events table, bit-for-bit (fixed-point rounding included)") {
    val events = Tables.t(spark, dir, "events")
    val native = rows(nativeRollup(events))
    val lagForm = rows(gate.sessionRollup(events))
    val onePass =
      rows(operators.Sessionize.userSessionStats(events, 1800000000L))
    assert(native.nonEmpty && lagForm == native)
    assert(onePass == native)
  }

  test("exact-gap boundary: native session_window merges inclusively and " +
    "the rollup's strict > split matches it") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2025-06-01 12:00:00")
    // user 1: second event exactly 30 min after the first (the boundary);
    // user 2: 29m59s gap (inside); user 3: 30m01s gap (outside)
    val events = Seq(
      (1L, 10L, t0, 1.0),
      (1L, 11L, new Timestamp(t0.getTime + 30 * 60000L), 1.0),
      (2L, 20L, t0, 1.0),
      (2L, 21L, new Timestamp(t0.getTime + 30 * 60000L - 1000), 1.0),
      (3L, 30L, t0, 1.0),
      (3L, 31L, new Timestamp(t0.getTime + 30 * 60000L + 1000), 1.0)
    ).toDF("user_id", "event_id", "ts", "value")

    def sessions(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val native = sessions(nativeRollup(events))
    val rollup = sessions(gate.sessionRollup(events))
    val onePass =
      sessions(operators.Sessionize.userSessionStats(events, 1800000000L))

    // the native contract, measured: exact-gap CONTINUES (inclusive merge)
    assert(native == Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
    assert(rollup == native, "LAG rollup must BE session_window semantics")
    assert(onePass == native, "Sessionize must BE session_window semantics")
  }

  test("null ts/value parity: one-pass Sessionize == LAG rollup on the " +
    "full null truth table") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2025-06-01 12:00:00")
    def plusMin(m: Int) = new Timestamp(t0.getTime + m * 60000L)
    // u1: two null-ts rows (each its own session — lag(ts) over a null IS
    // null, so the follower splits), then a real row (prev null → new
    // session), then a >gap row; null values count toward n_events but not
    // sums. u2: all values null → total_value NULL. u3: plain control.
    // u4 (user_id NULL): the LAG rollup's GROUP BY collapses all null
    // user_ids into ONE row; Sessionize must mirror that, not throw on the
    // primitive deserialization (the round-12 shape did).
    val rows: Seq[(java.lang.Long, Timestamp, Long, java.lang.Double)] = Seq(
      (java.lang.Long.valueOf(1L), null, 10L, java.lang.Double.valueOf(1.0)),
      (java.lang.Long.valueOf(1L), null, 11L, null),
      (java.lang.Long.valueOf(1L), t0, 12L, java.lang.Double.valueOf(2.0)),
      (java.lang.Long.valueOf(1L), plusMin(31), 13L, null),
      (java.lang.Long.valueOf(2L), t0, 20L, null),
      (java.lang.Long.valueOf(2L), plusMin(1), 21L, null),
      (java.lang.Long.valueOf(3L), t0, 30L, java.lang.Double.valueOf(1.5)),
      (java.lang.Long.valueOf(3L), plusMin(10), 31L, java.lang.Double.valueOf(2.5)),
      (null, t0, 40L, java.lang.Double.valueOf(0.5)),
      (null, plusMin(40), 41L, java.lang.Double.valueOf(0.25))
    )
    val events = rows.toDF("user_id", "ts", "event_id", "value")

    def canon(df: DataFrame): Seq[(Option[Long], Long, Long, Option[Double])] =
      df.collect().toSeq.map { r =>
        (
          if (r.isNullAt(0)) None else Some(r.getLong(0)),
          r.getLong(1),
          r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))
        )
      }.sortBy(_._1)

    val lagForm = canon(gate.sessionRollup(events))
    val onePass =
      canon(operators.Sessionize.userSessionStats(events, 1800000000L))
    assert(
      lagForm == Seq(
        (None, 2L, 1L, Some(0.75)),
        (Some(1L), 4L, 1L, Some(3.0)),
        (Some(2L), 1L, 2L, None),
        (Some(3L), 1L, 2L, Some(4.0))
      ),
      s"LAG rollup null semantics moved: $lagForm"
    )
    assert(onePass == lagForm)
  }
}
