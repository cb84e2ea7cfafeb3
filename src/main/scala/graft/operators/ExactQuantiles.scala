package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact interpolated per-group quantiles with bounded per-task memory.
  *
  * Spark's built-in exact `percentile()` buffers EVERY value of a group in
  * one aggregation buffer — with a handful of groups over a 100 TB fact
  * table that is an executor OOM no amount of AQE can split (an aggregate
  * with 3 keys has nothing to re-partition). This operator computes the
  * same interpolated quantile (`quantile_cont` semantics, bit-matching
  * Spark's `(ceil(h)-h)*lo + (h-floor(h))*hi` formula) from keyed shuffles
  * and bounded windows only:
  *
  *   1. histogram pass: every row gets an ORDER-PRESERVING FIXED bucket —
  *      the top 20 bits of the sign-corrected IEEE-754 bit pattern
  *      ([[graft.functions.DecimalOps.orderedBucket]]) — then a partial-agg
  *      groupBy (group, bucket). No data-dependent boundaries, so no
  *      min/max pre-pass: round 11 removed what was a whole extra input
  *      scan (+ its broadcast + checkpoint) from the r10 shape. A
  *      cumulative window over bucket ids (partition = one group's
  *      occupied buckets, ≤ 2^20 rows hard cap, thousands in practice)
  *      locates which bucket holds each target rank `floor(h)`/`ceil(h)`,
  *      `h = p·(n−1)`; per-group `n` rides the histogram as an unbounded
  *      window on the same partitioning (round 12 — replaced a separate
  *      stats aggregate + rank-build + join, three aggregate-scale stages);
  *   2. selection pass: only rows in located buckets (one broadcast
  *      semi-structure join against the scan) are re-read; ties collapse
  *      via a (group, bucket, value) partial agg BEFORE the in-bucket
  *      cumulative window, so the window partition is the bucket's
  *      DISTINCT values — a million-row run of one repeated value costs
  *      one row.
  *
  * Per-task memory is O(occupied buckets + distinct values in one bucket).
  * Two input scans (histogram + selection), keyed exchanges, two bounded
  * windows, no per-group value buffering anywhere — the plan survives a
  * 100× scale-up where `percentile()` dies.
  *
  * Returns the long form (group, label, q) — one row per group × quantile;
  * callers pivot the labels into columns.
  */
object ExactQuantiles {

  def groupQuantiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      ps: Seq[(String, Double)],
      bucketBits: Int = 20
  ): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (_, p) => p >= 0.0 && p <= 1.0 })
    val rows = df
      .select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull) // percentile/quantile_cont ignore nulls
      .withColumn("b", graft.functions.GraftFunctions.doubleBucket(col("v"), bucketBits))

    // Histogram pass: fixed order-preserving buckets, partial-agg counts,
    // cumulative window per group. It sits under two consumers (cand's
    // broadcast and picked's join); both plan the same exchange and AQE
    // reuses it, so the histogram scan runs once per query.
    val wB = Window
      .partitionBy("g")
      .orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bCum = rows
      .groupBy("g", "b")
      .agg(count(lit(1)).as("bc"))
      .withColumn("before", coalesce(sum("bc").over(wB), lit(0L)))

    // Per-group n rides the histogram as an unbounded window over the SAME
    // g-partitioning the cumulative window already forced — round 12: this
    // replaces a separate stats aggregate, the (g, quantile) "wanted" build,
    // and their join back onto the histogram (three aggregate-scale stages
    // of pure scheduling overhead) with one extra window pass + an inline
    // explode over the histogram rows (|buckets| × |ps| × 2 short-lived
    // rows, filtered immediately by the rank-location predicate).
    val pArr = array(ps.map { case (lbl, p) =>
      struct(lit(lbl).as("lbl"), lit(p).as("p"))
    }: _*)
    val wN = Window.partitionBy("g")
    // Locate the bucket holding each target rank k ∈ {floor(h), ceil(h)},
    // h = p*(n-1): before <= k < before+bc.
    val located = bCum
      .withColumn("n", sum("bc").over(wN))
      .select(
        col("g"), col("b"), col("bc"), col("before"), col("n"),
        explode(pArr).as("t")
      )
      .withColumn("lbl", col("t.lbl"))
      .withColumn("pos", col("t.p") * (col("n") - 1).cast("double"))
      .select(
        col("g"),
        col("b"),
        col("bc"),
        col("before"),
        col("lbl"),
        col("pos"),
        explode(
          array(
            struct(lit("lo").as("which"), floor(col("pos")).cast("long").as("k")),
            struct(lit("hi").as("which"), ceil(col("pos")).cast("long").as("k"))
          )
        ).as("w")
      )
      .where(col("w.k") >= col("before") && col("w.k") < col("before") + col("bc"))
      .select(
        col("g"),
        col("lbl"),
        col("pos"),
        col("w.which").as("which"),
        col("w.k").as("k"),
        col("b"),
        col("before")
      )

    // Selection pass: only rows in located buckets; collapse ties first so
    // the in-bucket window ranks DISTINCT values.
    val cand = located.select("g", "b").distinct()
    val inBucket = rows
      .join(broadcast(cand), Seq("g", "b"))
      .groupBy("g", "b", "v")
      .agg(count(lit(1)).as("vc"))
    val wV = Window
      .partitionBy("g", "b")
      .orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val vCum = inBucket.withColumn("cum", sum("vc").over(wV)) // rows <= v in bucket

    // Value at rank k = smallest v whose in-group cumulative count exceeds
    // k — ONE conditional aggregation pulls the lo- and hi-rank values out
    // together (min over the rows tagged with each `which`), where a
    // groupBy-per-which + pivot would cost an extra exchange and two more
    // aggregate stages for the same 2-rows-per-(g,quantile) result.
    val picked = located
      .join(vCum, Seq("g", "b"))
      .where(col("before") + col("cum") > col("k"))
      // one explicit g-repartition of the ~|groups × quantiles × 2| tail
      // rows: hashpartitioning(g) satisfies the clustering of BOTH this
      // aggregate (g, lbl, pos) and the caller's label pivot (g), so the
      // tail runs on a single exchange instead of two (round 12)
      .repartition(col("g"))
      .groupBy("g", "lbl", "pos")
      .agg(
        min(when(col("which") === "lo", col("v"))).as("lo"),
        min(when(col("which") === "hi", col("v"))).as("hi")
      )

    // Interpolate exactly as Spark's Percentile: integral position returns
    // the value itself; otherwise (ceil(h)-h)*lo + (h-floor(h))*hi.
    picked
      .withColumn(
        "q",
        when(ceil(col("pos")) === floor(col("pos")), col("lo"))
          .otherwise(
            (ceil(col("pos")).cast("double") - col("pos")) * col("lo") +
              (col("pos") - floor(col("pos")).cast("double")) * col("hi")
          )
      )
      .select(col("g"), col("lbl"), col("q"))
  }
}
