package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gate._

/** Driver contract — see SURVEY.md §2 for the inventory. A facade over the
  * [[graft.gate]] registry, which holds the rows one file per family. */
object SparkEntry {

  /** Flagship query (q5-shaped 6-way join) on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q5_local_volume")(spark, "/root/testdata/sf0.001")

  /** Every gate row, family by family. Names are unique: the registry
    * refuses to build otherwise. */
  val rows: Seq[GateQuery] = {
    val all = CatalogRows.rows ++ RelationalRows.rows ++ DedupRows.rows ++
      TextRows.rows ++ AnnRows.rows ++ CorpusRows.rows ++ StreamingRows.rows
    val dups = all.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate query names: ${dups.mkString(", ")}")
    all
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.map(r => r.name -> r.build).toMap

  val oracleSql: Map[String, String] =
    rows.collect { case GateQuery(n, _, Oracle(sql)) => n -> sql }.toMap
}
