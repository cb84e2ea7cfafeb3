package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

class GlueTableWriterSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("write parquet partitioned -> glue metadata -> read back round trip") {
    val root = Files.createTempDirectory("graft_write").toFile
    val loc = root.getAbsolutePath + "/sales"
    val df = Seq(
      (1L, 10.0, "2024-01-01"),
      (2L, 20.0, "2024-01-01"),
      (3L, 30.0, "2024-01-02")
    ).toDF("id", "amount", "ds")

    val glueTable = GlueTableWriter.write(
      df, "dbw", "sales", loc, partitionBy = Seq("ds")
    )
    assert(glueTable.partitionKeys.map(_.name) == Seq("ds"))
    assert(glueTable.storageDescriptor.columns.map(_.name) == Seq("id", "amount"))

    // read back through the normal catalog path — pruning applies
    val p = new GlueCatalogProvider(new InMemoryGlueClient(Seq(glueTable)), spark)
    val back = p.registerTable("dbw", "sales")
    assert(back.count() == 3)
    assert(back.filter(col("ds") === "2024-01-02").count() == 1)
    val plan = back
      .filter(col("ds") === "2024-01-02")
      .queryExecution
      .executedPlan
      .toString
    assert(plan.contains("PartitionFilters"), plan)
  }

  test("write csv with header -> serde triple carries delimiter + header") {
    val root = Files.createTempDirectory("graft_write_csv").toFile
    val loc = root.getAbsolutePath + "/people"
    val df = Seq((1L, "alice"), (2L, "bob")).toDF("id", "name")
    val glueTable = GlueTableWriter.write(
      df, "dbw", "people", loc, format = "csv",
      options = Map("sep" -> "|", "header" -> "true")
    )
    assert(glueTable.storageDescriptor.serdeInfo.parameters("field.delim") == "|")
    assert(
      glueTable.storageDescriptor.parameters("skip.header.line.count") == "1"
    )
    val p = new GlueCatalogProvider(new InMemoryGlueClient(Seq(glueTable)), spark)
    val back = p.registerTable("dbw", "people")
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("alice", "bob"))
  }

  test("write delta -> table_type marker -> log-replay read round trip") {
    val root = Files.createTempDirectory("graft_write_delta").toFile
    // a plain path and a schemeful URI: Append must find the log (and
    // totalSize must count the data) through the Hadoop FileSystem on both
    for (loc <- Seq(root.getAbsolutePath + "/events_d", "file://" + root.getAbsolutePath + "/events_u")) {
      val glueTable = GlueTableWriter.write(
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
        "dbw", "events_d", loc, format = "delta"
      )
      assert(glueTable.parameters("table_type") == "delta")
      assert(glueTable.storageDescriptor.columns.map(_.name) == Seq("id", "v"))

      // append mode adds a commit to the same log
      val appended = GlueTableWriter.write(
        Seq((3L, "c")).toDF("id", "v"),
        "dbw", "events_d", loc, format = "delta",
        mode = org.apache.spark.sql.SaveMode.Append,
        statsColumns = Seq("id")
      )
      assert(appended.parameters(TableStatistics.TotalSizeParam).toLong > 0L, loc)

      val p = new GlueCatalogProvider(new InMemoryGlueClient(Seq(glueTable)), spark)
      val back = p.registerTable("dbw", "events_d")
      assert(back.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), loc)
      // and time travel still sees the pre-append snapshot
      assert(graft.sources.DeltaRead.read(spark, loc, Some(0L)).count() == 2)
    }
  }
}
