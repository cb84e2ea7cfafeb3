package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** B63 scalable global ids: bit-equal to the naive global row_number, and
  * structurally free of any corpus-sized single-partition window. */
class GlobalIdsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  /** The naive formulation — a global-ORDER window, one partition, one
    * task: the ground truth [[GlobalIds.sequentialIds]] must equal. */
  private def sequentialIdsNaive(df: DataFrame, orderCols: Seq[String]): DataFrame =
    df.withColumn("seq_id", row_number().over(Window.orderBy(orderCols.map(col): _*)).cast("long"))

  // heavy duplicate prefixes so the order is only total with the id column
  private def data(n: Int) =
    (1 to n).map(i => (i.toLong, s"k${i % 7}", i % 3)).toDF("id", "k", "g")

  test("two-pass ids equal the naive global row_number") {
    val df = data(5000).repartition(11, col("g"))
    val prod = GlobalIds
      .sequentialIds(df, Seq("k", "g", "id"))
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("seq_id")))
      .toMap
    val naive = sequentialIdsNaive(df, Seq("k", "g", "id"))
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("seq_id")))
      .toMap
    assert(prod == naive)
    assert(prod.values.toSeq.sorted == (1L to 5000L))
  }

  test("result is invariant to input partitioning and explicit partition count") {
    val a = GlobalIds
      .sequentialIds(data(2000).coalesce(1), Seq("k", "id"))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("seq_id"))).toSet
    val b = GlobalIds
      .sequentialIds(data(2000).repartition(17), Seq("k", "id"), numPartitions = 5)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("seq_id"))).toSet
    assert(a == b)
  }

  test("no corpus-sized global window: the only unpartitioned window sits on the partition-count aggregate") {
    val plan = GlobalIds
      .sequentialIds(data(100), Seq("k", "id"))
      .queryExecution
      .optimizedPlan
    val windows = plan.collect { case w: logical.Window => w }
    val global = windows.filter(_.partitionSpec.isEmpty)
    assert(windows.nonEmpty)
    assert(global.size == 1, s"expected exactly one aggregate-scale global window, got $windows")
    // the global window's subtree must aggregate to per-partition counts —
    // bounded by the shuffle partition count, never the corpus
    assert(
      global.head.collectFirst { case a: logical.Aggregate => a }.isDefined,
      "the unpartitioned window must consume the per-partition count aggregate"
    )
    // and the per-row window must be partitioned
    assert(windows.filterNot(_.partitionSpec.isEmpty).nonEmpty)
  }
}
