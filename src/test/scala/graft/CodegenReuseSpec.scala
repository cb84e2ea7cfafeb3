package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.length
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** A long-lived session compiles each generated class once (the codegen
  * half of [[BenchSession.LongLived]]): repeated work compiles nothing. */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = SparkFixture.sfDir

  test("a second pass over the llm_ops rows compiles no generated class") {
    // loopbench's llm_ops rows: more generated classes than Spark's default
    // 100-entry cache holds, so under it every pass recompiles
    val rows = Seq("dedup_exact", "dedup_bloom", "dedup_keep_canonical", "dedup_clusters", "ann_ivf")
    def pass(): Long =
      Probe.countCompiles(rows.foreach(q => Probe.force(SparkEntry.queries(q)(spark, dir))))._2
    val first = pass()
    val second = pass()
    assert(second == 0, s"first pass compiled $first classes, second $second")
  }

  test("a second AvailableNow stream run over the same input compiles no generated class") {
    // each streaming run executes on a clone of the session; with artifact
    // isolation its tasks got a fresh class loader, and so a cache miss
    import spark.implicits._
    val landing = Files.createTempDirectory("graft_codegen_landing").toString
    val docs = (1L to 40L).map(i => (i, s"doc $i " + "w " * (i % 7).toInt)).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(landing)
    def run(): (Seq[(Int, Long)], Long) = Probe.countCompiles {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      spark.readStream
        .schema(docs.schema)
        .parquet(landing)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", Files.createTempDirectory("graft_codegen_ck").toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          seen ++= batch.groupBy(length($"text")).count().collect().map(r => (r.getInt(0), r.getLong(1)))
          ()
        }
        .start()
        .awaitTermination()
      seen.sorted.toSeq
    }
    val (a, first) = run()
    val (b, second) = run()
    assert(a == b && a.map(_._2).sum == 40L, s"runs disagree: $a vs $b")
    assert(second == 0, s"first run compiled $first classes, second $second")
  }
}
