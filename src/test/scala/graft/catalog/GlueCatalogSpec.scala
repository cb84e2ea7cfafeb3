package graft.catalog

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.{Probe, SparkEntry, SparkFixture}

class GlueCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def newProvider(dir: String = SparkFixture.sfDir) =
    new GlueCatalogProvider(new LocalDirectoryGlueClient(spark, dir), spark)

  test("registerAll registers every table in the directory") {
    val p = newProvider()
    val results = p.registerAll()
    assert(results.size == 10)
    assert(results.forall(_.isRight))
    assert(spark.table("lineitem").count() == 6000)
    assert(spark.table("graft_lineitem").count() == 6000)
  }

  test("derived schema matches glue metadata and reads correctly") {
    val p = newProvider()
    val df = p.registerTable("graft", "orders")
    assert(df.schema.fieldNames.toSeq == Seq(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"
    ))
    assert(df.schema("o_orderdate").dataType.typeName == "timestamp")
    assert(df.count() == 1500)
  }

  test("InferSchemaFromData also works") {
    val p = newProvider()
    val df = p.registerTable(
      "graft",
      "region",
      TableRegistrationOptions.InferSchemaFromData
    )
    assert(df.count() == 5)
  }

  test("events.ts (a microsecond timestamp) loads as timestamp") {
    val p = newProvider()
    val df = p.registerTable("graft", "events")
    assert(df.schema("ts").dataType.typeName == "timestamp")
    val minTs = df.agg(org.apache.spark.sql.functions.min("ts")).head.getTimestamp(0)
    assert(minTs.toString.startsWith("2024-01-01"))
  }

  test("directory client: Glue columns from the footer equal spark.read.parquet's") {
    for (dir <- Seq(SparkFixture.sfDir, SparkFixture.sfDirMid)) {
      val tables = new LocalDirectoryGlueClient(spark, dir).getTables("graft")
      assert(tables.size == 10, dir)
      for (t <- tables) {
        // the reference: Spark's own schema inference, rendered to Glue
        // strings (a TIMESTAMP(NANOS) column infers as bigint under
        // nanosAsLong and is a Glue timestamp)
        val nanos = t.parameters.get(GlueCatalogProvider.NanosColumnsParam).toSeq.flatMap(_.split(",")).toSet
        val expected = spark.read.parquet(t.storageDescriptor.location).schema.fields.toSeq.map { f =>
          GlueColumn(f.name, if (nanos(f.name)) "timestamp" else GlueTypeParser.toGlueType(f.dataType))
        }
        assert(t.storageDescriptor.columns == expected, s"$dir ${t.name}")
      }
      // events.ts is a timezone-less parquet timestamp: the session's
      // inferTimestampNTZ=false makes it a Glue timestamp, not timestamp_ntz
      val events = tables.find(_.name == "events").get.storageDescriptor.columns
      assert(events.contains(GlueColumn("ts", "timestamp")), events)
    }
  }

  test("registering a non-partitioned directory starts no Spark job") {
    def jobsStartedBy(body: => Unit): Int = Probe.traceStages(spark)(body).jobs.size
    val registered = jobsStartedBy(assert(newProvider().registerAll().forall(_.isRight)))
    // q_dsv2_catalog in a session whose glue_v catalog is not built yet: its
    // first use scans the directory while the DataFrame is built
    val built = jobsStartedBy(SparkEntry.queries("q_dsv2_catalog")(spark.newSession(), SparkFixture.sfDir))
    assert((registered, built) == ((0, 0)),
      s"registerAll started $registered jobs, building q_dsv2_catalog $built")
  }

  test("unknown table error carries db.table context") {
    val e = intercept[GlueCatalogException](newProvider().registerTable("graft", "nope"))
    assert(e.getMessage.contains("graft.nope"))
  }

  test("csv table registers and reads through the text serde triple") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "people.csv")
    Files.writeString(
      f.toPath,
      "id|name|score\n1|alice|3.5\n2|bob|4.25\n"
    )
    val t = GlueTable(
      "db1",
      "people",
      GlueStorageDescriptor(
        location = f.getAbsolutePath,
        inputFormat = "org.apache.hadoop.mapred.TextInputFormat",
        outputFormat =
          "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat",
        serdeInfo = GlueSerDeInfo(
          "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe",
          Map("field.delim" -> "|")
        ),
        columns = Seq(
          GlueColumn("id", "bigint"),
          GlueColumn("name", "string"),
          GlueColumn("score", "double")
        ),
        parameters = Map("skip.header.line.count" -> "1")
      )
    )
    val p = new GlueCatalogProvider(new InMemoryGlueClient(Seq(t)), spark)
    val df = p.registerTable("db1", "people")
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "alice")
    assert(rows(1).getDouble(2) == 4.25)
  }

  test("json table registers and reads") {
    val dir = Files.createTempDirectory("graft_json").toFile
    val f = new java.io.File(dir, "items.json")
    Files.writeString(
      f.toPath,
      """{"id":1,"tags":["a","b"]}
        |{"id":2,"tags":["c"]}
        |""".stripMargin
    )
    val t = GlueTable(
      "db1",
      "items",
      GlueStorageDescriptor(
        location = f.getAbsolutePath,
        inputFormat = "org.apache.hadoop.mapred.TextInputFormat",
        outputFormat =
          "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat",
        serdeInfo =
          GlueSerDeInfo("org.apache.hive.hcatalog.data.JsonSerDe"),
        columns =
          Seq(GlueColumn("id", "bigint"), GlueColumn("tags", "array<string>"))
      )
    )
    val p = new GlueCatalogProvider(new InMemoryGlueClient(Seq(t)), spark)
    val df = p.registerTable("db1", "items")
    assert(df.count() == 2)
    assert(df.schema("tags").dataType.typeName == "array")
  }

  test("hive-style partitioned table exposes typed partition columns") {
    val root = Files.createTempDirectory("graft_part").toFile
    import spark.implicits._
    Seq((1L, "x"), (2L, "y"))
      .toDF("id", "v")
      .withColumn("ds", org.apache.spark.sql.functions.lit("2024-01-01"))
      .write
      .partitionBy("ds")
      .parquet(root.getAbsolutePath + "/t")
    val t = GlueTable(
      "db1",
      "parted",
      GlueStorageDescriptor(
        location = root.getAbsolutePath + "/t",
        inputFormat =
          "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
        outputFormat =
          "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat",
        serdeInfo = GlueSerDeInfo(
          "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe"
        ),
        columns = Seq(GlueColumn("id", "bigint"), GlueColumn("v", "string"))
      ),
      partitionKeys = Seq(GlueColumn("ds", "date"))
    )
    val p = new GlueCatalogProvider(new InMemoryGlueClient(Seq(t)), spark)
    val df = p.registerTable("db1", "parted")
    assert(df.schema("ds").dataType.typeName == "date")
    assert(df.filter(df("ds") === "2024-01-01").count() == 2)
  }

  test("partial registration: failures collected per-table, rest succeed") {
    val good = GlueTable(
      "mixed", "ok",
      GlueStorageDescriptor(
        location = SparkFixture.sfDir + "/region.parquet",
        inputFormat =
          "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
        outputFormat =
          "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat",
        serdeInfo = GlueSerDeInfo(
          "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe"
        ),
        columns = Seq(GlueColumn("r_regionkey", "int"), GlueColumn("r_name", "string"))
      )
    )
    // table_type=delta now routes to DeltaRead; a parquet-only location has
    // no _delta_log, so registration fails for this table alone, with context
    val delta = good.copy(
      name = "bad_delta",
      parameters = Map("table_type" -> "delta")
    )
    val p = new GlueCatalogProvider(new InMemoryGlueClient(Seq(good, delta)), spark)
    val results = p.registerTables("mixed")
    assert(results.count(_.isRight) == 1)
    val failure = results.collectFirst { case Left(e) => e }.get
    assert(failure.isInstanceOf[GlueCatalogException])
    assert(failure.getMessage.startsWith("mixed.bad_delta"))
    assert(failure.getMessage.contains("_delta_log"))
    assert(spark.table("ok").count() == 5)
  }

  test("decimal(p>38) degrades per-table: structured NotImplemented, siblings query") {
    // Spark has no Decimal256 (the reference maps any decimal(p,s) to Arrow
    // Decimal256, glue.rs:471-473). A Glue table carrying one decimal(40,2)
    // column must become the reference's structured db.table NotImplemented
    // contract (glue.rs:335-346) at registration — NOT a raw parse error —
    // and must not poison sibling registrations.
    val good = GlueTable(
      "deg", "ok",
      GlueStorageDescriptor(
        location = SparkFixture.sfDir + "/region.parquet",
        inputFormat =
          "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
        outputFormat =
          "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat",
        serdeInfo = GlueSerDeInfo(
          "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe"
        ),
        columns = Seq(GlueColumn("r_regionkey", "int"), GlueColumn("r_name", "string"))
      )
    )
    val wide = good.copy(
      name = "too_wide",
      storageDescriptor = good.storageDescriptor.copy(
        columns = Seq(
          GlueColumn("r_regionkey", "int"),
          GlueColumn("amount", "decimal(40,2)")
        )
      )
    )
    val p = new GlueCatalogProvider(new InMemoryGlueClient(Seq(good, wide)), spark)
    val results = p.registerTables("deg")
    assert(results.count(_.isRight) == 1)
    val failure = results.collectFirst { case Left(e) => e }.get
    assert(failure.isInstanceOf[GlueNotImplementedException],
      s"expected NotImplemented, got ${failure.getClass}: ${failure.getMessage}")
    assert(failure.getMessage.startsWith("deg.too_wide"))
    assert(failure.getMessage.contains("decimal(40,2)"))
    assert(spark.table("ok").count() == 5, "sibling table must still query")
    // direct registration throws the same structured error
    val direct = intercept[GlueNotImplementedException](p.registerTable("deg", "too_wide"))
    assert(direct.getMessage.startsWith("deg.too_wide"))
    // precision <= 38 still parses; malformed decimals are still parse errors
    assert(GlueTypeParser.parse("decimal(38,2)") ==
      org.apache.spark.sql.types.DecimalType(38, 2))
    assertThrows[GlueNotImplementedException](GlueTypeParser.parse("array<decimal(40,2)>"))
    assertThrows[GlueTypeParseException](GlueTypeParser.parse("decimal(5,9)"))
    assertThrows[GlueTypeParseException](GlueTypeParser.parse("decimal(0,0)"))
  }

  test("LocalDirectoryGlueClient discovers hive-partitioned table dirs") {
    val root = Files.createTempDirectory("graft_local_part").toFile
    import spark.implicits._
    Seq((1L, "x", 7), (2L, "y", 8))
      .toDF("id", "v", "bucket_no")
      .write
      .partitionBy("bucket_no")
      .parquet(root.getAbsolutePath + "/measurements")
    val client = new LocalDirectoryGlueClient(spark, root.getAbsolutePath, "db2")
    val tables = client.getTables("db2")
    assert(tables.map(_.name) == Seq("measurements"))
    assert(tables.head.partitionKeys.map(_.name) == Seq("bucket_no"))
    assert(tables.head.partitionKeys.head.dataType == "int")
    assert(tables.head.storageDescriptor.columns.map(_.name) == Seq("id", "v"))

    val p = new GlueCatalogProvider(client, spark)
    val df = p.registerTable("db2", "measurements")
    assert(df.filter(df("bucket_no") === 7).count() == 1)
  }

  test("directory client reads the schema from suffix-less files, not leftovers") {
    // Hive/Athena-style data files carry no .parquet suffix, and a failed
    // write can leave _temporary/ behind (it sorts before `ds=...`); Spark
    // lists the first as data and skips the second
    val root = Files.createTempDirectory("graft_hive_names").toFile
    import spark.implicits._
    val t = root.getAbsolutePath + "/sales"
    Seq((1L, "x", "a"), (2L, "y", "b"), (3L, "z", "b"))
      .toDF("id", "v", "ds")
      .write
      .partitionBy("ds")
      .parquet(t)
    Seq(9.5).toDF("junk").write.parquet(t + "/_temporary/0")
    for (part <- Seq("ds=a", "ds=b")) {
      val dir = new java.io.File(t, part).toPath
      val files = Files.list(dir).iterator.asScala.toSeq
        .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      for ((f, i) <- files.zipWithIndex) Files.move(f, dir.resolve(f"$i%06d_0"))
    }
    val client = new LocalDirectoryGlueClient(spark, root.getAbsolutePath, "db4")
    val tables = client.getTables("db4")
    assert(tables.map(_.name) == Seq("sales"))
    assert(tables.head.storageDescriptor.columns == Seq(GlueColumn("id", "bigint"), GlueColumn("v", "string")))
    assert(tables.head.partitionKeys == Seq(GlueColumn("ds", "string")))
    val df = new GlueCatalogProvider(client, spark).registerTable("db4", "sales")
    assert(df.filter(df("ds") === "b").count() == 2)
  }

  test("directory client behind a file:/// root discovers and serves tables") {
    val root = Files.createTempDirectory("graft_local_uri").toFile
    import spark.implicits._
    Seq((1L, "x"), (2L, "y"), (3L, "z"))
      .toDF("id", "v")
      .write
      .parquet(root.getAbsolutePath + "/things.parquet")
    // same directory, addressed through the Hadoop FS URI scheme — the
    // sandbox twin of an s3a:// catalog root
    val client =
      new LocalDirectoryGlueClient(spark, "file://" + root.getAbsolutePath, "dbu")
    val tables = client.getTables("dbu")
    assert(tables.map(_.name) == Seq("things"))
    assert(tables.head.storageDescriptor.location.startsWith("file:"))
    val df = new GlueCatalogProvider(client, spark).registerTable("dbu", "things")
    assert(df.count() == 3)
  }

  test("nested struct/map/array columns round-trip through Glue type strings") {
    val root = Files.createTempDirectory("graft_nested").toFile
    import spark.implicits._
    val df = Seq(
      (1L, ("alice", 30), Map("a" -> 1.5), Seq(Seq(1, 2), Seq(3))),
      (2L, ("bob", 40), Map("b" -> 2.5), Seq(Seq(4)))
    ).toDF("id", "person", "scores", "matrix")
    df.write.parquet(root.getAbsolutePath + "/nested.parquet")

    val client = new LocalDirectoryGlueClient(spark, root.getAbsolutePath, "db3")
    val cols = client.getTables("db3").head.storageDescriptor.columns
    val byName = cols.map(c => c.name -> c.dataType).toMap
    // synthesized Glue type STRINGS — the exact wire format the reference
    // parses (struct<>, map<>, nested array<array<>>)
    assert(byName("person") == "struct<_1:string,_2:int>")
    assert(byName("scores") == "map<string,double>")
    assert(byName("matrix") == "array<array<int>>")

    // ...and the full parse → StructType → read path reproduces the data
    val p = new GlueCatalogProvider(client, spark)
    val back = p.registerTable("db3", "nested")
    assert(back.schema("person").dataType.typeName == "struct")
    assert(back.schema("scores").dataType.typeName == "map")
    val r = back.filter(back("id") === 1L).head()
    assert(r.getStruct(r.fieldIndex("person")).getString(0) == "alice")
    assert(r.getMap[String, Double](r.fieldIndex("scores"))("a") == 1.5)
  }

  test("DSv2 three-part name serves a CSV table through the serde triple") {
    val dir = Files.createTempDirectory("graft_dsv2csv").toFile
    val f = new java.io.File(dir, "pets.csv")
    Files.writeString(f.toPath, "id;name\n1;rex\n2;milo\n")
    val t = GlueTable(
      "db9",
      "pets",
      GlueStorageDescriptor(
        location = f.getAbsolutePath,
        inputFormat = "org.apache.hadoop.mapred.TextInputFormat",
        outputFormat =
          "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat",
        serdeInfo = GlueSerDeInfo(
          "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe",
          Map("field.delim" -> ";")
        ),
        columns = Seq(GlueColumn("id", "bigint"), GlueColumn("name", "string")),
        parameters = Map("skip.header.line.count" -> "1")
      )
    )
    GlueTableCatalog.injectClient(new InMemoryGlueClient(Seq(t)))
    try {
      // a SECOND catalog name, instantiated after injection (the session's
      // main `glue` catalog instance keeps its LocalDirectory client)
      spark.conf.set(
        "spark.sql.catalog.glue_csv",
        classOf[GlueTableCatalog].getName
      )
      val rows = spark
        .sql("SELECT id, name FROM glue_csv.db9.pets ORDER BY id")
        .collect()
      assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "rex"), (2L, "milo")))
    } finally {
      GlueTableCatalog.clearInjectedClient()
      spark.conf.unset("spark.sql.catalog.glue_csv")
    }
  }

  test("information_schema.tables matches demo shape") {
    val rows = spark.sql("SELECT * FROM glue.information_schema.tables").collect()
    assert(rows.length == 10)
    assert(
      rows.forall(r =>
        r.getString(0) == "glue" && r.getString(1) == "graft" &&
          r.getString(3) == "BASE TABLE"
      )
    )
  }

  test("information_schema.columns carries ordinal positions and types") {
    val cols = spark.sql("SELECT * FROM glue.information_schema.columns")
    val li = cols
      .filter(cols("table_name") === "lineitem")
      .orderBy("ordinal_position")
      .collect()
    assert(li.length == 11)
    assert(li.head.getString(3) == "l_orderkey")
    assert(li.head.getString(6) == "bigint")
  }

  test("DSv2 catalog: three-part name SQL with pushdown") {
    val n = spark
      .sql("SELECT count(*) AS n FROM glue.graft.orders WHERE o_orderstatus = 'F'")
      .head
      .getLong(0)
    assert(n > 0)
    val plan = spark
      .sql("SELECT o_orderkey FROM glue.graft.orders WHERE o_orderkey = 42")
      .queryExecution
      .executedPlan
      .toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderkey"))
  }

  test("DSv2 catalog: SHOW TABLES and read-only enforcement") {
    val tables =
      spark.sql("SHOW TABLES IN glue.graft").collect().map(_.getString(1)).toSet
    assert(tables.contains("lineitem") && tables.contains("documents"))
    assertThrows[Exception](
      spark.sql("DROP TABLE glue.graft.lineitem")
    )
  }

  test("DSv2 catalog: literal information_schema SQL (demo parity)") {
    // the reference demo's `SELECT * FROM information_schema.tables` through
    // the registered catalog
    val t = spark
      .sql("SELECT * FROM glue.information_schema.tables ORDER BY table_name")
      .collect()
    assert(t.length == 10)
    assert(t.forall(r => r.getString(0) == "glue" && r.getString(1) == "graft"))
    assert(t.map(_.getString(2)).contains("lineitem"))
    assert(t.forall(_.getString(3) == "BASE TABLE"))

    val c = spark
      .sql(
        """SELECT column_name, ordinal_position, data_type
          |FROM glue.information_schema.columns
          |WHERE table_name = 'orders' ORDER BY ordinal_position""".stripMargin
      )
      .collect()
    assert(c.head.getString(0) == "o_orderkey" && c.head.getInt(1) == 0)
    assert(c.map(_.getString(0)).contains("o_totalprice"))
  }

  private val ParquetIn = "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat"
  private val ParquetOut = "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat"
  private val ParquetSerde = "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe"
  private val TextIn = "org.apache.hadoop.mapred.TextInputFormat"
  private val TextOut = "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat"

  /** `body` with `client` served as DSv2 catalog `catalog`, a name no other
    * test uses (catalog instances are cached by name). */
  private def withCatalog[A](catalog: String, client: GlueClient)(body: => A): A = {
    GlueTableCatalog.injectClient(client)
    try {
      spark.conf.set(s"spark.sql.catalog.$catalog", classOf[GlueTableCatalog].getName)
      body
    } finally {
      GlueTableCatalog.clearInjectedClient()
      spark.conf.unset(s"spark.sql.catalog.$catalog")
    }
  }

  test("provider and DSv2 catalog read the same schema and rows") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_parity").toFile.getAbsolutePath
    // a Glue string key over numeric directory values: ds=01, ds=2
    Seq((1L, "x", "01"), (2L, "y", "01"), (3L, "z", "2"))
      .toDF("id", "v", "ds")
      .write
      .partitionBy("ds")
      .parquet(root + "/parted")
    Files.createDirectories(java.nio.file.Paths.get(root, "csv"))
    Files.writeString(java.nio.file.Paths.get(root, "csv", "pets.csv"), "id;name\n1;rex\n2;milo\n")
    Files.writeString(java.nio.file.Paths.get(root, "items.json"),
      "{\"id\":1,\"tags\":[\"a\",\"b\"]}\n{\"id\":2,\"tags\":[\"c\"]}\n")
    def sd(location: String, in: String, out: String, serde: GlueSerDeInfo, cols: (String, String)*) =
      GlueStorageDescriptor(location, in, out, serde, cols.map { case (n, t) => GlueColumn(n, t) })
    val parted = GlueTable(
      "dbp", "parted",
      sd(root + "/parted", ParquetIn, ParquetOut, GlueSerDeInfo(ParquetSerde), "id" -> "bigint", "v" -> "string"),
      partitionKeys = Seq(GlueColumn("ds", "string"))
    )
    val region = new LocalDirectoryGlueClient(spark, SparkFixture.sfDir)
      .getTable("graft", "region").copy(databaseName = "dbp")
    val matrix = Seq(
      parted,
      parted.copy(
        name = "parted_uri",
        storageDescriptor = parted.storageDescriptor.copy(location = "file://" + root + "/parted")
      ),
      GlueTable(
        "dbp", "pets",
        sd(root + "/csv", TextIn, TextOut,
          GlueSerDeInfo("org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe", Map("field.delim" -> ";")),
          "id" -> "bigint", "name" -> "string"
        ).copy(parameters = Map("skip.header.line.count" -> "1"))
      ),
      GlueTable(
        "dbp", "items",
        sd(root + "/items.json", TextIn, TextOut, GlueSerDeInfo("org.apache.hive.hcatalog.data.JsonSerDe"),
          "id" -> "bigint", "tags" -> "array<string>")
      ),
      region
    )
    val client = new InMemoryGlueClient(matrix)
    val provider = new GlueCatalogProvider(client, spark)
    for ((t, i) <- matrix.zipWithIndex) withCatalog(s"glue_parity_$i", client) {
      val viaProvider = provider.load(t)
      val viaCatalog = spark.table(s"glue_parity_$i.dbp.${t.name}")
      assert(viaCatalog.schema == viaProvider.schema, t.name)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(viaCatalog) == rows(viaProvider), t.name)
    }
    val ds = provider.load(parted).select("ds").distinct().as[String].collect().sorted.toSeq
    assert(ds == Seq("01", "2"))
  }

  test("parquet TIMESTAMP(NANOS): provider converts, DSv2 catalog refuses") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val root = Files.createTempDirectory("graft_nanos").toFile.getAbsolutePath
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,false)); }"
    )
    val writer = ExampleParquetWriter.builder(new Path(root + "/ev.parquet")).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L).append("ts", 1700000000123456789L))
    finally writer.close()

    val client = new LocalDirectoryGlueClient(spark, root, "dbn")
    val t = client.getTable("dbn", "ev")
    assert(t.storageDescriptor.columns == Seq(GlueColumn("id", "bigint"), GlueColumn("ts", "timestamp")))
    assert(t.parameters.get(GlueCatalogProvider.NanosColumnsParam).contains("ts"))

    val df = new GlueCatalogProvider(client, spark).load(t)
    assert(df.schema("ts").dataType.typeName == "timestamp")
    assert(df.selectExpr("cast(ts AS string)").head.getString(0) == "2023-11-14 22:13:20.123456")

    withCatalog("glue_nanos", client) {
      val e = intercept[Throwable](spark.table("glue_nanos.dbn.ev").collect())
      val refusal = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case g: GlueNotImplementedException => g }
      assert(refusal.exists(_.getMessage.contains("dbn.ev")), e)
    }
  }
}
