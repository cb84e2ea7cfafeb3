package graft.catalog

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Sink side of the catalog: write a DataFrame out as a Glue-described table
  * (format chosen by the same Hive serde triple dispatch the read path uses)
  * and return the [[GlueTable]] metadata describing what was written — the
  * piece a Glue `create_table`/`update_table` call would persist.
  *
  * Writes are partitioned-parquet-first: pass `partitionBy` to lay the data
  * out Hive-style so the read path's partition pruning applies. The writer is
  * deliberately thin — it delegates the heavy lifting to Spark's native
  * writers (distributed, task-committed, spec-compliant output commit).
  */
object GlueTableWriter {

  /** Write `df` to `location` in the format the serde triple implies and
    * build the Glue metadata for it.
    *
    * `statsColumns` non-empty additionally runs an ANALYZE pass over those
    * columns ([[TableStatistics.collect]]) and persists the results — plus
    * the post-write byte size — as `spark.sql.statistics.*` table parameters,
    * which [[GlueCatalogProvider.load]] turns into broadcast decisions at
    * registration time. */
  def write(
      df: DataFrame,
      database: String,
      table: String,
      location: String,
      format: String = "parquet",
      partitionBy: Seq[String] = Seq.empty,
      mode: SaveMode = SaveMode.Overwrite,
      options: Map[String, String] = Map.empty,
      statsColumns: Seq[String] = Seq.empty
  ): GlueTable = {
    // delta is log-committed, not serde-dispatched: Overwrite creates a
    // fresh table (graft.sources.DeltaRead.create), Append adds a commit and
    // bootstraps the table when the location holds none yet. The Glue entry
    // carries table_type=delta — exactly the marker the read path's format
    // dispatch routes back to the log-replay reader.
    if (format == "delta") {
      mode match {
        case SaveMode.Overwrite =>
          graft.sources.DeltaRead.create(df, location, partitionBy = partitionBy)
        case SaveMode.Append =>
          graft.sources.DeltaRead.append(df, location, partitionBy = partitionBy)
        case other =>
          throw new GlueNotImplementedException(
            s"$database.$table: delta write mode $other is not supported"
          )
      }
      val statsParams =
        if (statsColumns.isEmpty) Map.empty[String, String]
        else {
          // after an Append the batch is not the table — ANALYZE the full
          // snapshot so numRows/colStats describe what readers will see
          val statsDf =
            if (mode == SaveMode.Append)
              graft.sources.DeltaRead.read(df.sparkSession, location)
            else df
          TableStatistics.asParameters(
            TableStatistics.collect(statsDf, statsColumns)
          ) + (TableStatistics.TotalSizeParam -> bytesUnder(df.sparkSession, location).toString)
        }
      val partSetD = partitionBy.toSet
      return GlueTable(
        databaseName = database,
        name = table,
        storageDescriptor = GlueStorageDescriptor(
          location = location,
          inputFormat = "",
          outputFormat = "",
          serdeInfo = GlueSerDeInfo(""),
          columns = df.schema.fields.toSeq
            .filterNot(f => partSetD.contains(f.name))
            .map(f => GlueColumn(f.name, GlueTypeParser.toGlueType(f.dataType)))
        ),
        partitionKeys = partitionBy.map(name =>
          GlueColumn(name, GlueTypeParser.toGlueType(df.schema(name).dataType))
        ),
        parameters = statsParams + ("table_type" -> "delta")
      )
    }

    val writer = df.write.format(format).mode(mode).options(options)
    val partitioned =
      if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer
    partitioned.save(location)

    val (in, out, serde) = format match {
      case "parquet" =>
        (
          "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
          "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat",
          GlueSerDeInfo(
            "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe"
          )
        )
      case "csv" =>
        (
          "org.apache.hadoop.mapred.TextInputFormat",
          "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat",
          GlueSerDeInfo(
            "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe",
            Map("field.delim" -> options.getOrElse("sep", ","))
          )
        )
      case "json" =>
        (
          "org.apache.hadoop.mapred.TextInputFormat",
          "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat",
          GlueSerDeInfo("org.apache.hive.hcatalog.data.JsonSerDe")
        )
      case other =>
        throw new GlueNotImplementedException(
          s"$database.$table: no serde triple for write format $other"
        )
    }

    val partSet = partitionBy.toSet
    val dataCols = df.schema.fields.toSeq
      .filterNot(f => partSet.contains(f.name))
      .map(f => GlueColumn(f.name, GlueTypeParser.toGlueType(f.dataType)))
    val partCols = partitionBy.map { name =>
      GlueColumn(
        name,
        GlueTypeParser.toGlueType(df.schema(name).dataType)
      )
    }
    val headerOpt =
      if (format == "csv" && options.get("header").contains("true"))
        Map("skip.header.line.count" -> "1")
      else Map.empty[String, String]

    val statsParams =
      if (statsColumns.isEmpty) Map.empty[String, String]
      else {
        // Append: ANALYZE the whole table on disk, not just this batch
        val statsDf =
          if (mode == SaveMode.Append)
            df.sparkSession.read
              .format(format)
              .options(options)
              .schema(df.schema)
              .load(location)
          else df
        TableStatistics.asParameters(TableStatistics.collect(statsDf, statsColumns)) +
          (TableStatistics.TotalSizeParam -> bytesUnder(df.sparkSession, location).toString)
      }

    GlueTable(
      databaseName = database,
      name = table,
      storageDescriptor = GlueStorageDescriptor(
        location = location,
        inputFormat = in,
        outputFormat = out,
        serdeInfo = serde,
        columns = dataCols,
        parameters = headerOpt
      ),
      partitionKeys = partCols,
      parameters = statsParams
    )
  }

  /** Total data bytes under `location` (recursive; commit markers, hidden
    * files AND metadata directories like `_delta_log` excluded — the
    * number feeds broadcast-size estimates, so log/checkpoint bytes must
    * not inflate it). Walks the Hadoop FileSystem of the location's scheme. */
  private def bytesUnder(spark: SparkSession, location: String): Long = {
    val root = new Path(location)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(s: FileStatus): Long =
      if (s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith(".")) 0L
      else if (s.isDirectory) fs.listStatus(s.getPath).map(walk).sum
      else s.getLen
    // the root itself may legitimately be named with a leading underscore
    if (!fs.exists(root)) 0L else fs.listStatus(root).map(walk).sum
  }
}
