package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** ANALYZE-style table/column statistics for catalog tables — the metadata
  * AWS Glue stores as column statistics and engines feed to cost-based
  * optimizers (row counts drive join ordering; ndv drives broadcast and
  * aggregation estimates). Reference analog: Glue column statistics feeding
  * the engine's listing-table metadata (reference:
  * src/catalog_provider/glue.rs:243-284).
  *
  * One aggregation pass per column keeps every statistic EXACT (a single
  * multi-column pass with several count-distincts would plan an Expand —
  * k× the input rows through one aggregate; k independent passes over a
  * columnar scan each read one column only, so the total I/O is the same
  * and each pass is a two-phase partial aggregation). Production runs at
  * 100 TB would typically swap ndv for approx_count_distinct and share one
  * pass; exactness here keeps the stats oracle-checkable.
  *
  * How the stats reach the planner: [[GlueTableWriter.write]] persists them
  * as table parameters under Spark's own `spark.sql.statistics.*` key
  * convention, and [[GlueCatalogProvider.load]] applies them as a
  * threshold-gated broadcast hint at registration. A DSv2
  * `SupportsReportStatistics` wrapper around the file scan was considered
  * and rejected: pushdown on the DSv2 path is negotiated through
  * `org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters`
  * (engine-internal, not implementable outside `org.apache.spark.sql`), so
  * any delegating ScanBuilder would silently disable parquet filter pushdown
  * — a far worse trade at scale than hint-based broadcast selection.
  */
object TableStatistics {

  /** Table parameter key for the exact row count (Spark's ANALYZE TABLE
    * convention, so external tools recognize it). */
  val NumRowsParam = "spark.sql.statistics.numRows"

  /** Table parameter key for total data bytes at the table location. */
  val TotalSizeParam = "spark.sql.statistics.totalSize"

  private val ColStatsPrefix = "spark.sql.statistics.colStats"

  /** Per-column stats: (column_name, n_rows, n_nulls, ndv, min_num,
    * max_num, min_str, max_str) — numeric bounds for numeric columns,
    * string bounds otherwise. */
  def collect(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(
      columns.nonEmpty,
      "TableStatistics.collect needs at least one column (got an empty list)"
    )
    val perCol = columns.map { c =>
      val isNum =
        df.schema(c).dataType.isInstanceOf[NumericType]
      val minNum =
        if (isNum) min(col(c)).cast("double") else lit(null).cast("double")
      val maxNum =
        if (isNum) max(col(c)).cast("double") else lit(null).cast("double")
      val minStr =
        if (isNum) lit(null).cast("string") else min(col(c)).cast("string")
      val maxStr =
        if (isNum) lit(null).cast("string") else max(col(c)).cast("string")
      df.agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col(c))).as("n_nulls"),
        countDistinct(col(c)).as("ndv"),
        minNum.as("min_num"),
        maxNum.as("max_num"),
        minStr.as("min_str"),
        maxStr.as("max_str")
      ).select(
        lit(c).as("column_name"),
        col("n_rows"),
        col("n_nulls"),
        col("ndv"),
        col("min_num"),
        col("max_num"),
        col("min_str"),
        col("max_str")
      )
    }
    perCol.reduce(_ unionByName _)
  }

  /** The stats rendered as Glue table parameters, using Spark's ANALYZE
    * parameter convention: `spark.sql.statistics.numRows` at table level and
    * `spark.sql.statistics.colStats.<col>.{distinctCount,nullCount,min,max}`
    * per column. */
  def asParameters(stats: DataFrame): Map[String, String] = {
    val rows = stats.collect()
    val colStats = rows.flatMap { r =>
      val c = r.getAs[String]("column_name")
      // numeric columns carry min_num/max_num, string columns min_str/max_str;
      // either way the parameter is the single min/max rendered as text
      def bound(num: String, str: String): Option[String] =
        Option(r.getAs[Any](num))
          .orElse(Option(r.getAs[Any](str)))
          .map(_.toString)
      Seq(
        Some(s"$ColStatsPrefix.$c.distinctCount" -> r.getAs[Long]("ndv").toString),
        Some(s"$ColStatsPrefix.$c.nullCount" -> r.getAs[Long]("n_nulls").toString),
        bound("min_num", "min_str").map(v => s"$ColStatsPrefix.$c.min" -> v),
        bound("max_num", "max_str").map(v => s"$ColStatsPrefix.$c.max" -> v)
      ).flatten
    }.toMap
    val numRows = rows.headOption
      .map(r => Map(NumRowsParam -> r.getAs[Long]("n_rows").toString))
      .getOrElse(Map.empty)
    numRows ++ colStats
  }

  /** The catalog's best size estimate for a table, from its parameters:
    * `totalSize` when persisted, else `numRows` × a conservative per-row
    * width from the declared schema. None when the catalog has no stats.
    * Real Glue/Hive tables often carry stats parameters written by other
    * engines in foreign formats — unparsable values degrade to None (no
    * broadcast hint) instead of failing table registration. */
  def estimatedSizeInBytes(table: GlueTable): Option[Long] =
    table.parameters
      .get(TotalSizeParam)
      .flatMap(_.toLongOption)
      .orElse {
        table.parameters
          .get(NumRowsParam)
          .flatMap(_.toLongOption)
          .map { n =>
            val width = table.storageDescriptor.columns.map { c =>
              GlueTypeParser.parse(c.dataType).defaultSize
            }.sum
            n * math.max(1, width)
          }
      }
}
