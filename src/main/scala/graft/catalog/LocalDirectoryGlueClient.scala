package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** A [[GlueClient]] that synthesizes a Glue catalog from a directory of data
  * files — the stand-in for the AWS Glue API in this environment (the
  * reference talks to the real service via aws_sdk_glue; the service and SDK
  * are unavailable here, and everything downstream of the client is identical).
  *
  * All filesystem access goes through the Hadoop [[FileSystem]] API, so the
  * root may live behind any registered scheme (`file://`, `hdfs://`,
  * `s3a://`) — the same property the reference gets from its
  * ObjectStoreRegistry (reference: src/catalog_provider/glue.rs:44-53), where
  * `s3://` table locations resolve transparently.
  *
  * Layout convention: `<root>/<table>.parquet` (file or directory) becomes
  * table `<table>` in database `database`. Column metadata is synthesized by
  * reading the parquet footer schema and rendering each Spark type back to a
  * Glue type string with [[GlueTypeParser.toGlueType]] — so registration still
  * exercises the full Glue-string → parser → Spark-schema path, exactly like a
  * real Glue-backed table would.
  *
  * NOTE: constructing this client calls
  * [[LocalDirectoryGlueClient.enableParquetTimestampCompat]], which sets two
  * SESSION-WIDE parquet timestamp confs (see its doc) — required both for the
  * client's own schema reads and for later query-time reads of the registered
  * tables. Documented here and at the public entry points ([[graft.Tables]],
  * [[GlueTableCatalog]]) so callers opt in knowingly.
  */
final class LocalDirectoryGlueClient(
    spark: SparkSession,
    root: String,
    database: String = "graft"
) extends GlueClient {

  private val ParquetSerde = GlueSerDeInfo(
    "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe"
  )

  LocalDirectoryGlueClient.enableParquetTimestampCompat(spark)

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  override def getDatabases(): Seq[GlueDatabase] = Seq(GlueDatabase(database))

  // Memoized catalog snapshot. Building a GlueTable entry costs a directory
  // listing and one footer read on the driver per table, and the
  // GlueClient.getTable default resolves ONE table by listing ALL of them,
  // so uncached every table lookup would re-read every footer. Real Glue
  // deployments cache GetTables responses for the same reason (API rate
  // limits at cluster scale); call [[refresh]] after adding/altering tables
  // under `root` to invalidate.
  @volatile private var snapshot: Option[Seq[GlueTable]] = None

  /** Drop the memoized table list so the next call re-scans the directory. */
  def refresh(): Unit = snapshot = None

  override def getTables(db: String): Seq[GlueTable] = {
    if (db != database) return Seq.empty
    snapshot match {
      case Some(ts) => ts
      case None =>
        val ts = scanTables()
        snapshot = Some(ts)
        ts
    }
  }

  private def listStatus(f: FileSystem, p: Path): Seq[FileStatus] =
    if (f.exists(p)) f.listStatus(p).toSeq else Seq.empty

  private def scanTables(): Seq[GlueTable] = {
    val f = fs
    val entries = listStatus(f, new Path(root))
    entries
      .filter(s =>
        s.getPath.getName.endsWith(".parquet") ||
          (s.isDirectory && hasHivePartitionLayout(f, s.getPath))
      )
      .sortBy(_.getPath.getName)
      .map { s =>
        val tableName = s.getPath.getName.stripSuffix(".parquet")
        val location = s.getPath.toString
        val partitionKeys = hivePartitionKeys(f, s)
        val (schema, nanos) = footerSchema(f, s)
        val partNames = partitionKeys.map(_.name).toSet
        val columns = schema.fields.toSeq
          .filterNot(fld => partNames.contains(fld.name))
          .map { fld =>
            // A nanos column reads as LongType; in the Glue model it is still
            // a timestamp — the provider converts on load.
            if (nanos.contains(fld.name)) GlueColumn(fld.name, "timestamp")
            else GlueColumn(fld.name, GlueTypeParser.toGlueType(fld.dataType))
          }
        GlueTable(
          databaseName = database,
          name = tableName,
          storageDescriptor = GlueStorageDescriptor(
            location = location,
            inputFormat =
              "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
            outputFormat =
              "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat",
            serdeInfo = ParquetSerde,
            columns = columns
          ),
          partitionKeys = partitionKeys,
          parameters =
            if (nanos.isEmpty) Map.empty
            else Map(GlueCatalogProvider.NanosColumnsParam -> nanos.mkString(","))
        )
      }
  }

  /** A directory is a Hive-partitioned table root when its subdirectories
    * follow the `key=value` convention. */
  private def hasHivePartitionLayout(f: FileSystem, dir: Path): Boolean =
    listStatus(f, dir).exists(d => d.isDirectory && d.getPath.getName.contains("="))

  /** Synthesize Glue partition keys from the key=value directory layout —
    * the metadata a real Glue table would declare (reference:
    * glue_table.partition_keys, glue.rs:433-442). Partition value types are
    * discovered by Spark's partition inference; rendered back to Glue
    * strings. */
  private def hivePartitionKeys(f: FileSystem, s: FileStatus): Seq[GlueColumn] = {
    if (!s.isDirectory || !hasHivePartitionLayout(f, s.getPath)) return Seq.empty
    val inferred = spark.read.parquet(s.getPath.toString).schema
    // partition columns come from dir names, in nesting order
    def keyChain(d: Path): Seq[String] =
      listStatus(f, d)
        .find(x => x.isDirectory && x.getPath.getName.contains("=")) match {
        case Some(sub) =>
          sub.getPath.getName.takeWhile(_ != '=') +: keyChain(sub.getPath)
        case None => Seq.empty
      }
    keyChain(s.getPath).map { name =>
      val dt = inferred.fields
        .find(_.name == name)
        .map(fld => GlueTypeParser.toGlueType(fld.dataType))
        .getOrElse("string")
      GlueColumn(name, dt)
    }
  }

  /** The Spark schema of one data file's footer (descending through
    * partition directories to find one), with the top-level column names
    * whose parquet logical type is TIMESTAMP(NANOS). The schema is converted
    * as `spark.read.parquet` infers it, under the session's parquet confs
    * (nanos-as-long, timestamp-NTZ inference), but without the footer job
    * that inference starts: one footer read per table, on the driver. */
  private def footerSchema(f: FileSystem, s: FileStatus): (StructType, Set[String]) = {
    // The rule Spark lists table files by (HadoopFSUtils.
    // shouldFilterOutPathName): `_`/`.` names are metadata or leftovers
    // (_SUCCESS, _temporary, .crc) unless they are a `_key=value` partition
    // directory; every other file is data, whatever its suffix (Hive and
    // Athena write `000000_0`).
    def isData(p: Path): Boolean = {
      val n = p.getName
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_"))
    }
    def firstDataFile(p: FileStatus): Option[Path] =
      if (p.isFile) Some(p.getPath)
      else
        listStatus(f, p.getPath)
          .filter(c => isData(c.getPath))
          .sortBy(_.getPath.getName)
          .iterator
          .flatMap(firstDataFile)
          .nextOption()
    val dataFile = firstDataFile(s).getOrElse(
      throw new IllegalStateException(s"${s.getPath}: no data file to read a schema from")
    )
    val in = HadoopInputFile.fromPath(dataFile, spark.sessionState.newHadoopConf())
    val reader = ParquetFileReader.open(in)
    try {
      val footer = reader.getFooter
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new Footer(dataFile, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      )
      val nanos = footer.getFileMetaData.getSchema.getFields.asScala.collect {
        case field
            if field.isPrimitive &&
              (field.getLogicalTypeAnnotation match {
                case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                  t.getUnit == TimeUnit.NANOS
                case _ => false
              }) =>
          field.getName
      }.toSet
      (schema, nanos)
    } finally reader.close()
  }
}

object LocalDirectoryGlueClient {

  /** Session-wide parquet timestamp compatibility confs the Glue-model layer
    * relies on. These intentionally affect ALL parquet reads in the session —
    * not just catalog tables — because query-time scans of registered tables
    * go through the ordinary parquet source:
    *
    *  - `spark.sql.legacy.parquet.nanosAsLong=true`: parquet TIMESTAMP(NANOS)
    *    columns have no direct Spark representation (SPARK-40819); under this
    *    conf they surface as LongType and the provider converts them back to
    *    microsecond timestamps at load, instead of the read failing.
    *  - `spark.sql.parquet.inferTimestampNTZ.enabled=false`: Glue's
    *    `timestamp` carries no timezone flag; normalize to TimestampType under
    *    the UTC session instead of surfacing TimestampNTZ.
    */
  def enableParquetTimestampCompat(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
  }
}
