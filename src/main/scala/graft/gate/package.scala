package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The gate-query registry: one [[GateQuery]] per row, one file per SURVEY
  * §2 family, concatenated by [[graft.SparkEntry]].
  *
  * Conventions shared by every (builder, [[Oracle]]) pair:
  *   - column aliases identical on both sides (driver hash-compares by
  *     sorted column name);
  *   - aggregates over doubles are `round(_, 2..4)` on BOTH sides so float
  *     summation order cannot flip the hash;
  *   - sums/window fns over integers cast so Spark and DuckDB agree on the
  *     result type (DuckDB sum(int)→int128, row_number→int64);
  *   - deterministic ORDER BY with tie-breakers wherever LIMIT appears.
  */
package object gate {

  private[gate] def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  private[gate] val revenue: Column =
    col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** Exact decimal summation with a rounded double result: per-row scaled
    * fixed-point conversion (deterministic), 128-bit integer sum
    * (order-independent, unlike float sums), round, back to double. DuckDB
    * mirror: `CAST(round(sum(CAST(x AS DECIMAL(30,10))),2) AS DOUBLE)`.
    * This removes the half-cent boundary flips that order-dependent double
    * summation can produce between engines. Round 11: the engine side is
    * [[graft.functions.FixedPointSum]] (graft_fixed_sum10) rather than
    * sum(cast(x as decimal(30,10))) — same exactness contract and the same
    * rounded values (gate-verified), at 4.4x less aggregation cost (the
    * decimal path's per-row BigDecimal.valueOf + non-compact sum buffers
    * were ~80% of q1 at sf10). */
  private[gate] def fsum(c: Column): Column = {
    graft.functions.GraftFunctions.register(SparkSession.active)
    call_function("graft_fixed_sum10", c)
  }

  private[gate] def rsum(c: Column, scale: Int = 2): Column =
    round(fsum(c), scale).cast("double")

  /** avg with the same exact-sum discipline: fixed-point sum → double ÷
    * count. */
  private[gate] def ravg(c: Column, scale: Int = 4): Column =
    round(fsum(c).cast("double") / count(c), scale)

  /** Exact fixed-point sum cast to double (for engine-portable ratios). */
  private[gate] def dsum(c: Column): Column =
    fsum(c).cast("double")

  /** Run `sql` against the DSv2 `glue` catalog rooted at `dir`, configuring
    * the catalog on first use (catalog instances are cached per session, so
    * an already-configured `glue` catalog — e.g. the test fixture's — is
    * left alone; every caller passes the same dir within one session). */
  private[gate] def infoSchemaSql(s: SparkSession, dir: String, sql: String): DataFrame = {
    if (s.conf.getOption("spark.sql.catalog.glue").isEmpty) {
      s.conf.set("spark.sql.catalog.glue", "graft.catalog.GlueTableCatalog")
      s.conf.set("spark.sql.catalog.glue.root", dir)
    }
    s.sql(sql)
  }

  /** Shared batch sessionization rollup (B27 and B58): LAG + cumulative-sum
    * session numbering in ONE shuffle on user_id (the lag window, the
    * cumsum window, and both rollup aggregates all reuse that partitioning;
    * the two windows share one sort), 30-minute gap in microsecond integer
    * arithmetic. This formulation IS Spark's native `session_window`
    * semantics, including at the only candidate divergence point: the
    * native operator merges sessions INCLUSIVELY (an event landing exactly
    * gap after its predecessor CONTINUES the session — pinned empirically
    * by SessionEquivalenceSpec's planted exact-gap fixture), which is
    * exactly this rollup's `delta > gap` split condition. Round 12 routes
    * the batch q_session_window through it: the native aggregate (kept for
    * the D2 streaming path, where incremental state is the point) produces
    * identical results but paid 2-3x in UpdatingSessions machinery (3.47x
    * DuckDB at sf100 vs ~1.6x for this shape). */
  private[graft] def sessionRollup(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapMicros = 1800000000L // 30 minutes, in microsecond integer math
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val delta = unix_micros(col("ts")) - unix_micros(col("prev_ts"))
    val isNew = col("prev_ts").isNull || delta > gapMicros
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session", when(isNew, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_no"))
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
}
