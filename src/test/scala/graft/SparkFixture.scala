package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (Spark sessions are expensive;
  * suites must not stop it). */
object SparkFixture {
  lazy val spark: SparkSession = {
    // the shipped long-lived-session confs: the codegen cache and the
    // exchange pools are JVM-wide and sized by whichever session uses them
    // first, and the status store once per context, so the fixture applies
    // them as every graft session does
    val s = BenchSession
      .longLived(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // match the Bench/Verify sessions so plan-asserting specs see the
      // same join selection (hash-first under the local-hash-map bound)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.glue", "graft.catalog.GlueTableCatalog")
      .config("spark.sql.catalog.glue.root", "/root/testdata/sf0.001")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfDir = "/root/testdata/sf0.001"
  val sfDirMid = "/root/testdata/sf0.01"
}
