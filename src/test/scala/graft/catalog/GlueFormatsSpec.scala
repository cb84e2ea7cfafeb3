package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

class GlueFormatsSpec extends AnyFunSuite {

  private def table(
      in: String,
      out: String,
      serde: String,
      serdeParams: Map[String, String] = Map.empty,
      sdParams: Map[String, String] = Map.empty,
      tableParams: Map[String, String] = Map.empty
  ): GlueTable =
    GlueTable(
      "db",
      "t",
      GlueStorageDescriptor(
        location = "/graft-formats-spec/absent",
        inputFormat = in,
        outputFormat = out,
        serdeInfo = GlueSerDeInfo(serde, serdeParams),
        columns = Seq(GlueColumn("a", "int")),
        parameters = sdParams
      ),
      parameters = tableParams
    )

  private val conf = new Configuration()
  private def resolve(t: GlueTable): ResolvedFormat =
    GlueFormats.resolve(t, conf, TableRegistrationOptions.DeriveSchemaFromGlueTable)
  private val declared = Some(StructType(Seq(StructField("a", IntegerType))))

  private val TextIn = "org.apache.hadoop.mapred.TextInputFormat"
  private val TextOut = "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat"

  test("parquet triple") {
    val f = resolve(
      table(
        "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
        "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat",
        "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe"
      )
    )
    assert(f == ResolvedFormat("parquet", Map.empty, declared, Set.empty))
  }

  test("csv triple honours delimiter and header") {
    val f = resolve(
      table(
        TextIn,
        TextOut,
        "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe",
        serdeParams = Map("field.delim" -> "|"),
        sdParams = Map("skip.header.line.count" -> "1")
      )
    )
    assert(f == ResolvedFormat("csv", Map("sep" -> "|", "header" -> "true"), declared, Set.empty))
  }

  test("csv without field.delim fails like the reference") {
    assertThrows[GlueCatalogException](
      resolve(
        table(TextIn, TextOut, "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe")
      )
    )
  }

  test("json serdes (hcatalog, openx, ion)") {
    for (serde <- Seq(
        "org.apache.hive.hcatalog.data.JsonSerDe",
        "org.openx.data.jsonserde.JsonSerDe",
        "com.amazon.ionhiveserde.IonHiveSerDe"
      )) {
      assert(resolve(table(TextIn, TextOut, serde)).source == "json")
    }
  }

  test("avro serde triple resolves to the graft-avro reader") {
    val fmt = resolve(
      table(
        "org.apache.hadoop.hive.ql.io.avro.AvroContainerInputFormat",
        "org.apache.hadoop.hive.ql.io.avro.AvroContainerOutputFormat",
        "org.apache.hadoop.hive.serde2.avro.AvroSerDe"
      )
    )
    assert(fmt == ResolvedFormat(GlueFormats.GraftAvro, Map.empty, declared, Set.empty))
  }

  test("delta table_type resolves to the graft-delta log-replay reader") {
    val fmt = resolve(
      table(
        "", "", "",
        tableParams = Map("table_type" -> "DELTA")
      )
    )
    assert(fmt == ResolvedFormat(GlueFormats.GraftDelta, Map.empty, declared, Set.empty))
  }

  test("unknown triple fails with db.table context, like the reference") {
    val e = intercept[GlueNotImplementedException](
      resolve(table("in.x", "out.y", "serde.z"))
    )
    assert(e.getMessage.startsWith("db.t: No support for: in.x, out.y"))
  }

  test("read schema: nanos as bigint, typed partition keys, basePath on dirs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_formats").toString
    val parquet = table(
      "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
      "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat",
      "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe"
    )
    val t = parquet.copy(
      storageDescriptor = parquet.storageDescriptor.copy(
        location = "file://" + dir,
        columns = Seq(GlueColumn("a", "int"), GlueColumn("ts", "timestamp"))
      ),
      partitionKeys = Seq(GlueColumn("ds", "string")),
      parameters = Map(GlueCatalogProvider.NanosColumnsParam -> "ts")
    )
    assert(resolve(t) == ResolvedFormat(
      "parquet",
      Map("basePath" -> ("file://" + dir)),
      Some(StructType(Seq(
        StructField("a", IntegerType),
        StructField("ts", LongType),
        StructField("ds", StringType)
      ))),
      Set("ts")
    ))
    val inferred =
      GlueFormats.resolve(t, conf, TableRegistrationOptions.InferSchemaFromData)
    assert(inferred.schema.isEmpty && inferred.options.contains("basePath"))
  }
}
