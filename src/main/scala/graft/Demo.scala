package graft

import graft.catalog.{GlueCatalogProvider, LocalDirectoryGlueClient}

/** End-to-end demo, mirroring the reference's examples/demo.rs flow:
  * register a catalog of tables, show information_schema.tables and
  * information_schema.columns, then sample every registered table — plus a
  * DSv2 three-part-name query through [[graft.catalog.GlueTableCatalog]].
  *
  * Usage: runMain graft.Demo [tableDir]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = BenchSession
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .appName("graft-demo")
      .config("spark.sql.catalog.glue", "graft.catalog.GlueTableCatalog")
      .config("spark.sql.catalog.glue.root", dir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val provider =
      new GlueCatalogProvider(new LocalDirectoryGlueClient(spark, dir), spark)
    provider.registerAll().foreach {
      case Left(e)  => println(s"not registered: ${e.getMessage}")
      case Right(_) => ()
    }

    // the reference demo's literal information_schema SQL, through the
    // glue catalog
    spark.sql("SELECT * FROM glue.information_schema.tables").show(truncate = false)
    spark.sql("SELECT * FROM glue.information_schema.columns").show(60, truncate = false)

    for (t <- provider.registeredTables.map(_.name).sorted) {
      println(s"sampling graft.$t")
      spark.table(t).show(3, truncate = true)
    }

    println("DSv2 three-part-name query: glue.graft.lineitem")
    spark
      .sql(
        "SELECT l_returnflag, count(*) AS n FROM glue.graft.lineitem GROUP BY 1 ORDER BY 1"
      )
      .show()
    println("SHOW TABLES IN glue.graft")
    spark.sql("SHOW TABLES IN glue.graft").show(20, truncate = false)
    spark.stop()
  }
}
