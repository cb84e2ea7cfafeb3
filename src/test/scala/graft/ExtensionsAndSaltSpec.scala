package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.row_number
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.operators.Salt

class ExtensionsAndSaltSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** A fresh session built by GraftSparkExtensions, on the fixture's context
    * (made first, so this spec never picks the shared context's master).
    * Spark reads `spark.sql.extensions` from the context's conf when it
    * builds a session, so on a running context that conf on the builder is
    * ignored; `withExtensions` applies the same class to this one session.
    * The suites that run after this one in the same JVM reach the fixture
    * through `SparkSession.active`, so it must stay the active and default
    * session. Spark 4.1's `create()` keeps an existing one of each (3.x's
    * replaced both); setting them back states the invariant whatever the
    * version, and the first test asserts it. */
  private lazy val ext: SparkSession = {
    spark
    val s = BenchSession
      .builder("4")
      .appName("graft-ext-test")
      .withExtensions(new GraftSparkExtensions)
      .create()
    SparkSession.setActiveSession(spark)
    SparkSession.setDefaultSession(spark)
    s
  }

  test("the extension and register install every function of the table") {
    val names = GraftFunctions.Table.map(_.name)
    assert(names.distinct == names && names.forall(_.startsWith("graft_")), names)
    GraftFunctions.register(spark)
    assert(ext ne spark)
    assert(SparkSession.active eq spark, "building the extension session left it active")
    assert(SparkSession.getDefaultSession.exists(_ eq spark), "building the extension session left it the default")
    for ((path, s) <- Seq("GraftSparkExtensions" -> ext, "GraftFunctions.register" -> spark)) {
      val reg = s.sessionState.functionRegistry
      val missing = names.filterNot(n => reg.functionExists(FunctionIdentifier(n)))
      assert(missing.isEmpty, s"$path did not install ${missing.size}: ${missing.mkString(", ")}")
    }
    val described = ext.sql("DESCRIBE FUNCTION graft_cosine").collect().map(_.getString(0))
    assert(described.contains("Usage: graft_cosine(a, b) - cosine similarity of two float vectors"),
      described.mkString("\n"))
  }

  test("the extension's optimizer rule plans row_number() <= k as graft_row_topk") {
    import ext.implicits._
    // the rule comes from injectOptimizerRule, not Tables' extraOptimizations
    assert(ext.experimental.extraOptimizations.isEmpty)
    val w = Window.partitionBy($"g").orderBy($"id".desc)
    val q = ext
      .range(0, 200)
      .select(($"id" % 7).as("g"), $"id")
      .select($"g", $"id", row_number().over(w).as("rnk"))
      .filter($"rnk" <= 3)
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_row_topk"), optimized)
    assert(!optimized.contains("Window ["), optimized)
    val expected = (0L until 200L).groupBy(_ % 7).flatMap { case (g, ids) =>
      ids.sorted.reverse.take(3).zipWithIndex.map { case (id, i) => (g, id, i + 1) }
    }.toSet
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet == expected)
  }

  test("GraftSparkExtensions installs functions on a fresh session") {
    val c = ext
      .sql("SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
      .head
      .getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    val sh = ext
      .sql("SELECT size(graft_shingle_hashes('a b c d', 2)) AS n")
      .head
      .getInt(0)
    assert(sh == 3)
    // the four fused round-6 kernels are SQL-reachable too
    val rep = ext
      .sql("SELECT graft_repetition_stats('a a b') AS c")
      .head
      .getSeq[Long](0)
    assert(rep == Seq(3L, 2L, 1L, 2L, 0L, 1L))
    val div = ext
      .sql("SELECT graft_diversity_stats('a a b') AS c")
      .head
      .getSeq[Long](0)
    assert(div == Seq(3L, 2L, 2L))
    val dd = ext
      .sql("SELECT graft_dotd(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head
      .getDouble(0)
    assert(dd == 11.0)
    val sq = ext
      .sql("SELECT graft_sqdistd(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head
      .getDouble(0)
    assert(sq == 8.0)
  }

  test("salted aggregation equals direct aggregation") {
    import spark.implicits._
    val skewed = (1 to 10000)
      .map(i => (if (i % 100 == 0) "rare" + i else "HOT", i.toDouble))
      .toDF("k", "v")
    val direct = skewed.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Salt.saltedCount(skewed, Seq("k"), salts = 8).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(direct == salted)

    val directSum = skewed.groupBy("k").sum("v").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val saltedSum = Salt.saltedSum(skewed, Seq("k"), "v", salts = 8).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(directSum.keySet == saltedSum.keySet)
    for ((k, v) <- directSum)
      assert(math.abs(v - saltedSum(k)) < 1e-6)
  }
}
