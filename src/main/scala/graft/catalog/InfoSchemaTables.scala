package graft.catalog

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `information_schema.{tables,columns}` served as DSv2 tables, so the
  * reference demo's literal SQL — `SELECT * FROM information_schema.tables`
  * through the registered catalog (reference: examples/demo.rs) — runs as
  * `SELECT * FROM <catalog>.information_schema.tables` here.
  *
  * The row sets are tiny catalog metadata, so the scan is a
  * [[org.apache.spark.sql.connector.read.LocalScan]]: rows are produced on
  * the driver from the already-fetched Glue listing, no job, no shuffle —
  * the DSv2 analog of how the reference's information_schema is computed
  * from the in-memory catalog snapshot.
  */
object InfoSchemaTables {

  val Namespace = "information_schema"

  val TablesSchema: StructType = StructType(Seq(
    StructField("table_catalog", StringType),
    StructField("table_schema", StringType),
    StructField("table_name", StringType),
    StructField("table_type", StringType)
  ))

  val ColumnsSchema: StructType = StructType(Seq(
    StructField("table_catalog", StringType),
    StructField("table_schema", StringType),
    StructField("table_name", StringType),
    StructField("column_name", StringType),
    StructField("ordinal_position", IntegerType),
    StructField("is_nullable", StringType),
    StructField("data_type", StringType)
  ))

  private def u(s: String): UTF8String = UTF8String.fromString(s)

  def tablesRows(catalogName: String, client: GlueClient): Array[InternalRow] =
    client
      .getDatabases()
      .flatMap(db => client.getTables(db.name).map(t => (db.name, t.name)))
      .sortBy(identity)
      .map { case (db, t) =>
        InternalRow(u(catalogName), u(db), u(t), u("BASE TABLE"))
      }
      .toArray

  def columnsRows(catalogName: String, client: GlueClient): Array[InternalRow] =
    client
      .getDatabases()
      .flatMap(db => client.getTables(db.name))
      .sortBy(t => (t.databaseName, t.name))
      .flatMap { t =>
        val cols = t.storageDescriptor.columns ++ t.partitionKeys
        cols.zipWithIndex.map { case (c, i) =>
          InternalRow(
            u(catalogName),
            u(t.databaseName),
            u(t.name),
            u(c.name),
            i,
            u("YES"),
            u(GlueTypeParser.parse(c.dataType).simpleString)
          )
        }
      }
      .toArray

  /** The DSv2 table: BATCH_READ over a driver-local row array. */
  final class InfoTable(
      tableName: String,
      tableSchema: StructType,
      rowsFn: () => Array[InternalRow]
  ) extends Table
      with SupportsRead {
    override def name(): String = tableName
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new LocalScan {
          override def rows(): Array[InternalRow] = rowsFn()
          override def readSchema(): StructType = tableSchema
          override def description(): String = s"graft info schema: $tableName"
        }
      }
  }
}
