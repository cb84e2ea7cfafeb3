package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** How to obtain a table's schema at registration time, mirroring the
  * reference's TableRegistrationOptions (reference:
  * src/catalog_provider/glue.rs:28-33).
  */
sealed trait TableRegistrationOptions
object TableRegistrationOptions {
  /** Trust the Glue column metadata (type strings parsed by [[GlueTypeParser]]). */
  case object DeriveSchemaFromGlueTable extends TableRegistrationOptions
  /** Let the Spark data source infer the schema from the files. */
  case object InferSchemaFromData extends TableRegistrationOptions
}

/** Registers Glue-cataloged tables onto a SparkSession so they are queryable
  * by name with `spark.table`/`spark.sql`, the Spark equivalent of the
  * reference's CatalogProvider registration flow (reference:
  * src/catalog_provider/glue.rs:54-274).
  *
  * Each registered table becomes a temp view `<table>` plus a qualified alias
  * `<database>_<table>` (temp views are a flat namespace; the true
  * `glue.<db>.<table>` namespace is served by [[GlueTableCatalog]], the DSv2
  * `TableCatalog` plugin). The view is a lazy scan — Catalyst still performs
  * filter pushdown / column pruning / partition pruning through it, so
  * registration cost does not depend on data size (metadata-only, exactly the
  * property the reference's ListingTable registration has).
  */
final class GlueCatalogProvider(client: GlueClient, spark: SparkSession) {

  import TableRegistrationOptions._

  /** db → tables registered under that db, in registration order. */
  @volatile private var registered: Map[(String, String), GlueTable] = Map.empty

  def registeredTables: Seq[GlueTable] = registered.values.toSeq

  def registerTable(
      database: String,
      table: String,
      options: TableRegistrationOptions = DeriveSchemaFromGlueTable
  ): DataFrame =
    registerGlueTable(client.getTable(database, table), options)

  /** Register every table in `database`; per-table failures are returned, not
    * thrown (the reference collects a Vec<Result<()>> the same way). */
  def registerTables(
      database: String,
      options: TableRegistrationOptions = DeriveSchemaFromGlueTable
  ): Seq[Either[Throwable, DataFrame]] =
    client.getTables(database).map { t =>
      try Right(registerGlueTable(t, options))
      catch { case e: Throwable => Left(e) }
    }

  def registerAll(
      options: TableRegistrationOptions = DeriveSchemaFromGlueTable
  ): Seq[Either[Throwable, DataFrame]] =
    client.getDatabases().flatMap(db => registerTables(db.name, options))

  /** Build the lazy DataFrame for a Glue table without registering views:
    * read what [[GlueFormats.resolve]] decides, then convert nanos columns. */
  def load(
      table: GlueTable,
      options: TableRegistrationOptions = DeriveSchemaFromGlueTable
  ): DataFrame = {
    val read = GlueFormats.resolve(table, spark.sessionState.newHadoopConf(), options)
    val location = table.storageDescriptor.location
    val df = read.source match {
      // Avro rides its own reader (avro-core container files, one task per
      // file; flat directory layout — Hive-partitioned Avro dirs are not
      // supported); Delta's own metaData schema governs its files. Both
      // are cast to the declared shape under DeriveSchema.
      case GlueFormats.GraftAvro | GlueFormats.GraftDelta =>
        val raw =
          if (read.source == GlueFormats.GraftAvro) graft.sources.AvroRead.read(spark, location)
          else graft.sources.DeltaRead.read(spark, location)
        read.schema.fold(raw)(s => raw.select(s.map(f => col(f.name).cast(f.dataType)): _*))
      case source =>
        val reader = spark.read.format(source).options(read.options)
        read.schema match {
          case Some(s) => reader.schema(s).load(location)
          case None =>
            // InferSchema discovers partition columns from directory names;
            // cast them to the Glue-declared partition-key types
            table.partitionKeys.foldLeft(reader.load(location)) { (acc, pk) =>
              if (acc.columns.contains(pk.name))
                acc.withColumn(pk.name, col(pk.name).cast(GlueTypeParser.parse(pk.dataType)))
              else acc
            }
        }
    }
    // Parquet TIMESTAMP(NANOS) columns cannot be read as Spark timestamps;
    // they are read as raw nanos longs and truncated to microseconds here —
    // the same ns→µs truncation other engines (DuckDB, Arrow) apply.
    val converted = read.nanosColumns.foldLeft(df) { (acc, c) =>
      if (acc.columns.contains(c))
        acc.withColumn(c, expr(s"timestamp_micros(`$c` div 1000)"))
      else acc
    }
    applyCatalogStatistics(table, converted)
  }

  /** Catalog statistics → plan decisions: when the Glue parameters carry
    * `spark.sql.statistics.*` stats (see [[TableStatistics]]) estimating the
    * table at or under `spark.sql.autoBroadcastJoinThreshold`, register it
    * with a broadcast hint, so every join against it becomes a map-side hash
    * join regardless of how Spark estimates the files themselves (remote or
    * heavily-compressed files routinely misestimate). This is the same
    * decision ANALYZE-backed catalog stats drive in Spark's own CBO, applied
    * at the point this catalog controls: registration. Threshold <= 0
    * (broadcast disabled) suppresses the hint. */
  private def applyCatalogStatistics(table: GlueTable, df: DataFrame): DataFrame =
    TableStatistics.estimatedSizeInBytes(table) match {
      case Some(size) =>
        // "-1" (broadcast disabled) is a plain integer byteStringAsBytes
        // rejects — treat any unparsable/negative value as "suppress"
        val raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        val threshold =
          try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
          catch { case _: NumberFormatException => raw.trim.toLongOption.getOrElse(-1L) }
        if (threshold > 0 && size <= threshold) df.hint("broadcast") else df
      case None => df
    }

  private def registerGlueTable(
      table: GlueTable,
      options: TableRegistrationOptions
  ): DataFrame = {
    val ctx = s"${table.databaseName}.${table.name}"
    val df =
      try load(table, options)
      catch {
        // Structured per-table degrade (reference glue.rs:335-346): name the
        // db.table exactly once, preserve the exception type so callers can
        // match on NotImplemented vs parse vs catalog failure.
        case e: GlueNotImplementedException =>
          if (e.getMessage.startsWith(ctx)) throw e
          else throw new GlueNotImplementedException(s"$ctx: ${e.getMessage}")
        case e: GlueTypeParseException =>
          throw new GlueTypeParseException(s"$ctx: ${e.getMessage}")
        case e: GlueException => throw e
        case e: Throwable =>
          throw new GlueCatalogException(s"$ctx: ${e.getMessage}")
      }
    df.createOrReplaceTempView(table.name)
    df.createOrReplaceTempView(s"${table.databaseName}_${table.name}")
    registered += ((table.databaseName, table.name) -> table)
    df
  }
}

object GlueCatalogProvider {
  /** Table-parameter key listing parquet TIMESTAMP(NANOS) columns (comma
    * separated); see [[GlueCatalogProvider.load]]. */
  val NanosColumnsParam = "graft.nanos_columns"
}
