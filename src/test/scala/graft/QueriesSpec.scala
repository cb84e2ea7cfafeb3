package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gate.{Contract, GateQuery, Oracle}

/** Smoke + plan-shape checks for the oracle-backed query suite. Value-level
  * correctness is enforced by the driver's DuckDB gate (and its local replica
  * tools/check_oracle.py); here we assert each query runs, returns rows, and
  * the hot plans have the shape we want at scale (broadcast dims, pushdown).
  */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = SparkFixture.sfDir

  test("registry: unique names, contracts chain to oracle rows, specs resolve") {
    val names = SparkEntry.rows.map(_.name)
    assert(names.distinct == names, s"duplicate gate query names: ${names.diff(names.distinct)}")
    assert(SparkEntry.queries.keySet == names.toSet)
    val oracled = SparkEntry.rows.collect { case GateQuery(n, _, Oracle(_)) => n }.toSet
    for (GateQuery(n, _, Contract(row, why)) <- SparkEntry.rows) {
      // every exemption names its compensating evidence…
      assert(
        why.contains("HASH-MATCHED") || why.contains("spec"),
        s"$n exemption cites neither a contract row nor a spec"
      )
      // …which is either an existing suite or an ORACLED gate row (so the
      // exemption chains to a hash-matched row, never to another exemption)
      if (row.startsWith("spec:")) {
        val suite = row.stripPrefix("spec:")
        val pkgs = Seq("", "catalog.", "functions.", "operators.", "plans.", "sources.", "streaming.")
        assert(pkgs.exists(p => scala.util.Try(Class.forName(s"graft.$p$suite")).toOption
          .exists(classOf[org.scalatest.Suite].isAssignableFrom)), s"$n names a missing suite '$row'")
      } else
        assert(oracled(row), s"$n's contract row '$row' is not an oracled gate query")
    }
  }

  test("all queries execute and return rows at sf0.001") {
    for ((name, fn) <- SparkEntry.queries) {
      val n = fn(spark, dir).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q5 plan broadcasts every dimension side") {
    val plan = SparkEntry
      .queries("q5_local_volume")(spark, dir)
      .queryExecution
      .executedPlan
      .toString
    assert(plan.contains("BroadcastHashJoin"))
    // the only shuffle-heavy join key is the fact-fact orders<->lineitem join
    assert(!plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"))
  }

  test("q2 plan scans the fact table exactly once (window-min, no join-back)") {
    // The agg + join-back formulation derived the fact-joined frame twice
    // (two full lineitem scans); the window-min reformulation must keep it
    // to ONE — a second FileScan over lineitem is the regression this pins.
    val plan = SparkEntry
      .queries("q2_min_cost")(spark, dir)
      .queryExecution
      .executedPlan
      .toString
    val factScans = plan.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem.parquet")
    )
    assert(factScans == 1, s"expected 1 lineitem scan, found $factScans:\n${plan.take(3000)}")
    assert(plan.contains("Window"), "expected the per-part window min")
  }

  test("q6 pushes filters into the parquet scan and prunes columns") {
    val qe = SparkEntry
      .queries("q6_forecast_revenue")(spark, dir)
      .queryExecution
    val scanText = qe.executedPlan.toString
    assert(scanText.contains("PushedFilters"))
    assert(scanText.contains("l_shipdate"))
    // projection pruning: the scan must not read l_orderkey etc.
    val readSchema = scanText.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"))
    assert(readSchema.contains("l_extendedprice"))
  }

  test("approx_count_distinct lands within 5% of exact") {
    import org.apache.spark.sql.functions._
    val ord = Tables.t(spark, SparkFixture.sfDirMid, "orders")
    val r = ord
      .agg(
        countDistinct(col("o_custkey")).as("exact"),
        approx_count_distinct(col("o_custkey"), rsd = 0.02).as("approx")
      )
      .head
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"$approx vs $exact")
  }

  test("q_approx_stats sketches land within tolerance of exact") {
    import org.apache.spark.sql.functions._
    val ev = Tables.t(spark, SparkFixture.sfDirMid, "events")
    val approx = SparkEntry
      .queries("q_approx_stats")(spark, SparkFixture.sfDirMid)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val exact = ev
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("users"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95")
      )
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    for ((t, (u, p50, p95)) <- exact) {
      val (au, ap50, ap95) = approx(t)
      assert(math.abs(au - u).toDouble / u < 0.05, s"$t users $au vs $u")
      assert(math.abs(ap50 - p50) / math.max(p50.abs, 1e-9) < 0.05, s"$t p50")
      assert(math.abs(ap95 - p95) / math.max(p95.abs, 1e-9) < 0.05, s"$t p95")
    }
  }

  test("docs_prepare_corpus plans two keyed shuffles (fp window, pack window)") {
    val plan = SparkEntry
      .queries("docs_prepare_corpus")(spark, dir)
      .queryExecution
      .executedPlan
      .toString
    val keyed = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(keyed == 2, s"expected 2 keyed shuffles, got $keyed:\n${plan.take(3000)}")
  }

  test("q_topk uses TakeOrderedAndProject (no global sort)") {
    val plan = SparkEntry
      .queries("q_topk_orders")(spark, dir)
      .queryExecution
      .executedPlan
      .toString
    assert(plan.contains("TakeOrderedAndProject"))
  }
}
