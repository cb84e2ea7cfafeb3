package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.v2.csv.CSVTable
import org.apache.spark.sql.execution.datasources.v2.json.JsonTable
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-V2 `TableCatalog` serving Glue tables under a true three-part
  * namespace: `SELECT * FROM glue.<database>.<table>` — the Spark-native
  * equivalent of the reference registering its CatalogProvider under the
  * "glue" catalog name (reference: examples/demo.rs `ctx.register_catalog`).
  *
  * Wire up with:
  * {{{
  *   spark.sql.catalog.glue      = graft.catalog.GlueTableCatalog
  *   spark.sql.catalog.glue.root = /path/to/tables   (LocalDirectoryGlueClient)
  * }}}
  * or inject any [[GlueClient]] programmatically via
  * [[GlueTableCatalog.injectClient]] before first use (tests, alternate
  * backends).
  *
  * `loadTable` delegates to Spark's own V2 file tables (ParquetTable /
  * CSVTable / JsonTable), so scans through this catalog get the native
  * vectorized readers, filter pushdown, column pruning and partition pruning —
  * the same property the reference gets from DataFusion's ListingTable. The
  * catalog is read-only, like the reference (its `register_schema` is
  * `unimplemented!()`, glue.rs:564-570). What it reads — source, options
  * with `basePath`, read schema — is [[GlueFormats.resolve]]'s decision, the
  * same one [[GlueCatalogProvider.load]] reads, so both surfaces return the
  * same schema and rows.
  *
  * A file table can only serve files as they are, so this route refuses,
  * with a [[GlueNotImplementedException]] naming the table, what needs the
  * provider's readers:
  *   - Avro tables: a DSv2 file table needs the spark-avro module, which is
  *     not on the classpath;
  *   - Delta tables with deletion vectors (the raw files would resurrect
  *     deleted rows) or column mapping (they carry physical column names);
  *   - under the declared schema, tables with parquet TIMESTAMP(NANOS)
  *     columns: the file table would serve the `bigint` they are read as
  *     against the catalog's `timestamp`; the provider converts them.
  *
  * NOTE: when backed by [[LocalDirectoryGlueClient]], first use sets two
  * session-wide parquet timestamp confs (nanosAsLong, inferTimestampNTZ off) —
  * see [[LocalDirectoryGlueClient.enableParquetTimestampCompat]].
  */
final class GlueTableCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = "glue"
  private var options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()

  override def initialize(
      name: String,
      opts: CaseInsensitiveStringMap
  ): Unit = {
    catalogName = name
    options = opts
  }

  override def name(): String = catalogName

  // Client creation is deferred to first use: at initialize() time the
  // SparkSession may not be fully constructed yet.
  private lazy val client: GlueClient =
    GlueTableCatalog.injected.getOrElse {
      val root = Option(options.get("root")).getOrElse(
        throw new GlueCatalogException(
          s"catalog '$catalogName' needs spark.sql.catalog.$catalogName.root " +
            "(directory of tables) or an injected GlueClient"
        )
      )
      new LocalDirectoryGlueClient(
        SparkSession.active,
        root,
        Option(options.get("database")).getOrElse("graft")
      )
    }

  override def listNamespaces(): Array[Array[String]] =
    client.getDatabases().map(db => Array(db.name)).toArray :+
      Array(InfoSchemaTables.Namespace)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 &&
      (namespace(0) == InfoSchemaTables.Namespace ||
        client.getDatabases().exists(_.name == namespace(0)))

  override def loadNamespaceMetadata(
      namespace: Array[String]
  ): util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new GlueCatalogException(s"No database ${namespace.mkString(".")}")

  override def listTables(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array(InfoSchemaTables.Namespace)))
      Array(
        Identifier.of(namespace, "tables"),
        Identifier.of(namespace, "columns")
      )
    else
      client
        .getTables(namespace.mkString("."))
        .map(t => Identifier.of(namespace, t.name))
        .toArray

  override def tableExists(ident: Identifier): Boolean =
    try { loadTable(ident); true }
    catch { case _: Exception => false }

  override def loadTable(ident: Identifier): Table = {
    // `SELECT * FROM <catalog>.information_schema.{tables,columns}` — the
    // reference demo's literal information_schema SQL through the catalog.
    if (ident.namespace().sameElements(Array(InfoSchemaTables.Namespace))) {
      val c = client
      return ident.name() match {
        case "tables" =>
          new InfoSchemaTables.InfoTable(
            s"$catalogName.${InfoSchemaTables.Namespace}.tables",
            InfoSchemaTables.TablesSchema,
            () => InfoSchemaTables.tablesRows(catalogName, c)
          )
        case "columns" =>
          new InfoSchemaTables.InfoTable(
            s"$catalogName.${InfoSchemaTables.Namespace}.columns",
            InfoSchemaTables.ColumnsSchema,
            () => InfoSchemaTables.columnsRows(catalogName, c)
          )
        case other =>
          throw new GlueCatalogException(
            s"No information_schema table '$other' (have: tables, columns)"
          )
      }
    }
    val spark = SparkSession.active
    val glueTable = client.getTable(ident.namespace().mkString("."), ident.name())
    // inferSchema=true — the DSv2 twin of InferSchemaFromData: pass no
    // user schema and let the file table infer from the data files.
    val registration =
      if (java.lang.Boolean.parseBoolean(options.getOrDefault("inferSchema", "false")))
        TableRegistrationOptions.InferSchemaFromData
      else TableRegistrationOptions.DeriveSchemaFromGlueTable
    val read = GlueFormats.resolve(glueTable, spark.sessionState.newHadoopConf(), registration)
    val location = glueTable.storageDescriptor.location
    val paths = Seq(location)
    val opts = new CaseInsensitiveStringMap(read.options.asJava)
    val fullName = s"$catalogName.${ident.namespace().mkString(".")}.${ident.name()}"
    if (read.schema.isDefined && read.nanosColumns.nonEmpty)
      throw new GlueNotImplementedException(
        s"$fullName: parquet TIMESTAMP(NANOS) columns " +
          s"(${read.nanosColumns.toSeq.sorted.mkString(", ")}); read it via " +
          "GlueCatalogProvider.load (converts them to microsecond timestamps)"
      )
    read.source match {
      case "parquet" =>
        ParquetTable(fullName, spark, opts, paths, read.schema, classOf[ParquetFileFormat])
      case "csv" =>
        CSVTable(fullName, spark, opts, paths, read.schema, classOf[CSVFileFormat])
      case "json" =>
        JsonTable(fullName, spark, opts, paths, read.schema, classOf[JsonFileFormat])
      case GlueFormats.GraftDelta =>
        // delta data files ARE parquet: replay the log (driver-side
        // metadata, same as delta-spark's Snapshot) and serve the ACTIVE
        // files through the native ParquetTable, so pushdown/pruning/
        // vectorization apply unchanged.
        val snap = graft.sources.DeltaRead.snapshot(spark, location)
        // feature tables need the full reader (row-index delete filters /
        // physical->logical rename) — serving their raw files through
        // ParquetTable would silently resurrect deleted rows or expose
        // physical column names. Refuse here; GlueCatalogProvider.load
        // (which delegates to DeltaRead.read) handles them correctly.
        if (snap.adds.exists(_.deletionVector.isDefined))
          throw new GlueNotImplementedException(
            s"$fullName: delta table carries deletion vectors; read it via " +
              "GlueCatalogProvider.load / DeltaRead.read (the DSv2 file " +
              "route cannot apply row-level deletes)"
          )
        if (snap.columnMapped)
          throw new GlueNotImplementedException(
            s"$fullName: delta table uses column mapping; read it via " +
              "GlueCatalogProvider.load / DeltaRead.read (the DSv2 file " +
              "route serves physical column names)"
          )
        val active =
          snap.files.map(p => new org.apache.hadoop.fs.Path(location, p).toString)
        ParquetTable(
          fullName,
          spark,
          opts,
          active,
          read.schema.orElse(snap.schema),
          classOf[ParquetFileFormat]
        )
      case GlueFormats.GraftAvro =>
        throw new GlueNotImplementedException(
          s"$fullName: avro tables are readable via " +
            "GlueCatalogProvider.registerTable (container-file reader); " +
            "a DSv2 file table needs the spark-avro module"
        )
      case other =>
        throw new GlueNotImplementedException(s"$fullName: no v2 table for $other")
    }
  }

  // ---- read-only: mutation is unsupported, as in the reference ----

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]
  ): Table =
    throw new GlueNotImplementedException("GlueTableCatalog is read-only")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new GlueNotImplementedException("GlueTableCatalog is read-only")

  override def dropTable(ident: Identifier): Boolean =
    throw new GlueNotImplementedException("GlueTableCatalog is read-only")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new GlueNotImplementedException("GlueTableCatalog is read-only")

  override def createNamespace(
      namespace: Array[String],
      metadata: util.Map[String, String]
  ): Unit =
    throw new GlueNotImplementedException("GlueTableCatalog is read-only")

  override def alterNamespace(
      namespace: Array[String],
      changes: NamespaceChange*
  ): Unit =
    throw new GlueNotImplementedException("GlueTableCatalog is read-only")

  override def dropNamespace(
      namespace: Array[String],
      cascade: Boolean
  ): Boolean =
    throw new GlueNotImplementedException("GlueTableCatalog is read-only")
}

object GlueTableCatalog {
  @volatile private[catalog] var injected: Option[GlueClient] = None

  /** Inject a [[GlueClient]] for catalogs created after this call (tests /
    * programmatic backends). */
  def injectClient(client: GlueClient): Unit = injected = Some(client)
  def clearInjectedClient(): Unit = injected = None
}
