package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Salt

class ExtensionsAndSaltSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("GraftSparkExtensions installs functions on a fresh session") {
    val s2 = BenchSession
      .reuseCodegen(SparkSession.builder())
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      // newSession shares the extensions-configured session state factory
      val c = s2
        .sql("SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
        .head
        .getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12)
      val sh = s2
        .sql("SELECT size(graft_shingle_hashes('a b c d', 2)) AS n")
        .head
        .getInt(0)
      assert(sh == 3)
      // the four fused round-6 kernels are SQL-reachable too
      val rep = s2
        .sql("SELECT graft_repetition_stats('a a b') AS c")
        .head
        .getSeq[Long](0)
      assert(rep == Seq(3L, 2L, 1L, 2L, 0L, 1L))
      val div = s2
        .sql("SELECT graft_diversity_stats('a a b') AS c")
        .head
        .getSeq[Long](0)
      assert(div == Seq(3L, 2L, 2L))
      val dd = s2
        .sql("SELECT graft_dotd(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .head
        .getDouble(0)
      assert(dd == 11.0)
      val sq = s2
        .sql("SELECT graft_sqdistd(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .head
        .getDouble(0)
      assert(sq == 8.0)
    } finally {
      // do not stop: the underlying SparkContext is shared with the fixture
    }
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
