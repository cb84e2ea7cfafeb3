package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.functions.{concat, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.catalog._

class DeltaReadSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  /** Write commit `version`, in place of any commit already there. A
    * commit the table wrote came through Hadoop's checksummed local file
    * system, so its `.<name>.crc` sidecar goes too: a stale sidecar fails
    * the read with a `ChecksumException` before the decoder sees a line. */
  private def writeCommit(dir: String, version: Long, lines: Seq[String]): Unit = {
    val log = new File(dir, "_delta_log")
    val name = f"$version%020d.json"
    Files.write(new File(log, name).toPath, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.deleteIfExists(new File(log, s".$name.crc").toPath)
  }

  /** Poison commits `versions` with a protocol line the decoder refuses, so
    * a replay that reads one of them throws. The poison is checked on a copy
    * of the commits alone (sidecars included, no checkpoint): replayed from
    * version 0 it must reach the decoder and raise the decoder's own error. */
  private def poison(dir: String, versions: Long*): Unit = {
    versions.foreach(v => writeCommit(dir, v, Seq("""{"protocol":{"minReaderVersion":9}}""")))
    val copy = Files.createTempDirectory("graft_delta_poisoned")
    val log = Files.createDirectory(copy.resolve("_delta_log"))
    new File(dir, "_delta_log").listFiles()
      .filter(f => f.getName.matches("""\.?\d{20}\.json(\.crc)?"""))
      .foreach(f => Files.copy(f.toPath, log.resolve(f.getName)))
    val e = intercept[IllegalArgumentException](DeltaRead.snapshot(spark, copy.toString))
    assert(e.getMessage.contains("minReaderVersion 9 exceeds"), e.getMessage)
  }

  /** Write `rows` (columns named after checkpoint actions) as the
    * single-file checkpoint of `version` and point `_last_checkpoint` at it. */
  private def writeCheckpoint(dir: String, version: Long, rows: org.apache.spark.sql.DataFrame): Unit = {
    val cpTmp = Files.createTempDirectory("graft_delta_cptmp").toString
    rows.coalesce(1).write.mode("overwrite").parquet(cpTmp)
    val part = new File(cpTmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val logDir = new File(dir, "_delta_log")
    Files.copy(part.toPath,
      new File(logDir, f"$version%020d.checkpoint.parquet").toPath)
    Files.write(new File(logDir, "_last_checkpoint").toPath,
      s"""{"version":$version}""".getBytes(StandardCharsets.UTF_8))
  }

  private def dataFiles(dir: String): Seq[String] =
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.getName).sorted.toSeq

  test("create + read round-trip: schema, rows, multi-file layout") {
    val dir = Files.createTempDirectory("graft_delta_rt").toString
    val df = spark.range(0, 100).select(
      $"id", ($"id" % 7).cast("int").as("bucket"), ($"id" * 1.5).as("score")
    ).repartition(3)
    DeltaRead.create(df, dir)

    assert(new File(dir, "_delta_log").isDirectory)
    assert(dataFiles(dir).size == 3)

    val back = DeltaRead.read(spark, dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq == Seq(
      ("id", LongType), ("bucket", IntegerType), ("score", DoubleType)))
    assert(back.count() == 100)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      == 99L * 100L / 2L)
  }

  test("adversarial commit logs: structured errors naming file+line, never " +
    "bare parser stacks or silent skips") {
    // the one reader a user points at FOREIGN data first: every malformed
    // shape must surface as IllegalArgumentException carrying the commit
    // file name and line number — not a Jackson/NPE stack (undebuggable)
    // and not a skipped line (silently wrong snapshot)
    def freshTable(): String = {
      val dir = Files.createTempDirectory("graft_delta_fuzz").toString
      DeltaRead.create(spark.range(0, 10).coalesce(1).toDF("id"), dir)
      dir
    }
    val cases: Seq[(String, String)] = Seq(
      // (malformed line, error fragment expected besides file+line)
      ("""{"add":{"path":"x.parquet","size":1""", "unparseable JSON"), // truncated
      ("""not json at all""", "unparseable JSON"),
      ("""42""", "not a JSON action object"), // valid JSON, wrong shape
      ("""{"add":{"size":10}}""", "add action without a textual path"),
      ("""{"remove":{"dataChange":true}}""", "remove action without a textual path"),
      // non-textual paths: asText() on an object returns "", which would
      // corrupt (add) or silently no-op (remove) the snapshot
      ("""{"add":{"path":{"nested":true},"size":1}}""", "add action without a textual path"),
      ("""{"remove":{"path":123,"dataChange":true}}""", "remove action without a textual path"),
      ("""{"metaData":{"id":"m","schemaString":"{broken"}}""",
        "invalid metaData.schemaString")
    )
    cases.foreach { case (line, fragment) =>
      val dir = freshTable()
      writeCommit(dir, 1L, Seq(line))
      val e = intercept[IllegalArgumentException](DeltaRead.snapshot(spark, dir))
      assert(
        e.getMessage.contains("00000000000000000001.json") &&
          e.getMessage.contains("line 1") && e.getMessage.contains(fragment),
        s"for line <$line> got: ${e.getMessage}"
      )
    }
    // the line NUMBER is the offending line's, not always 1
    val dir2 = freshTable()
    writeCommit(dir2, 1L, Seq("""{"commitInfo":{"op":"x"}}""", """{"add":{}}"""))
    val e2 = intercept[IllegalArgumentException](DeltaRead.snapshot(spark, dir2))
    assert(e2.getMessage.contains("line 2"), e2.getMessage)

    // …and the VALID oddballs stay valid (Delta contract, not strictness
    // for its own sake): unknown actions are ignorable, duplicate add of
    // one path dedups last-wins, remove of a never-added path is a no-op
    val dir3 = freshTable()
    val keep = dataFiles(dir3).head
    writeCommit(dir3, 1L, Seq(
      """{"someFutureAction":{"x":1}}""",
      s"""{"add":{"path":"$keep","size":1,"dataChange":true}}""",
      s"""{"add":{"path":"$keep","size":2,"dataChange":true}}""",
      """{"remove":{"path":"never_added.parquet","dataChange":true}}"""
    ))
    val snap = DeltaRead.snapshot(spark, dir3)
    assert(snap.files == Seq(keep))
    assert(snap.adds.head.size == 2, "duplicate add must dedup last-wins")
  }

  test("log replay honors remove actions and versionAsOf time travel") {
    val dir = Files.createTempDirectory("graft_delta_tt").toString
    DeltaRead.create(spark.range(0, 50).toDF("id").repartition(2), dir)
    val files = dataFiles(dir)

    // v1 removes one of the two v0 files
    writeCommit(dir, 1L, Seq(
      s"""{"remove":{"path":"${files.head}","dataChange":true}}"""
    ))

    val v0 = DeltaRead.read(spark, dir, versionAsOf = Some(0L))
    val v1 = DeltaRead.read(spark, dir)
    assert(v0.count() == 50)
    assert(v1.count() < 50 && v1.count() > 0)
    assert(DeltaRead.snapshot(spark, dir).version == 1L)
    assert(DeltaRead.snapshot(spark, dir).files == files.tail)

    val oob = intercept[IllegalArgumentException](
      DeltaRead.read(spark, dir, versionAsOf = Some(7L)))
    assert(oob.getMessage.contains("out of range"))
  }

  test("replay starts from a parquet checkpoint when one covers the version") {
    val dir = Files.createTempDirectory("graft_delta_cp").toString
    DeltaRead.create(spark.range(0, 30).toDF("id").repartition(2), dir)
    val files = dataFiles(dir)
    // v1 drops files(0); checkpoint at v1 holds the folded state
    writeCommit(dir, 1L, Seq(
      s"""{"remove":{"path":"${files(0)}","dataChange":true}}"""
    ))
    val schemaJson = StructType(Seq(StructField("id", LongType))).json

    // build the single-file checkpoint parquet: one row per surviving
    // action, the actions a row does not carry left null (as Delta's own
    // checkpoints write them)
    writeCheckpoint(dir, 1L, Seq(
      (Some(files(1)), None: Option[String]),
      (None, Some(schemaJson))
    ).toDF("p", "s")
      .selectExpr(
        "if(p IS NULL, NULL, named_struct('path', p)) AS add",
        "if(s IS NULL, NULL, named_struct('schemaString', s)) AS metaData"))

    // poison the pre-checkpoint commits: if replay read them it would throw
    poison(dir, 0L)

    val snap = DeltaRead.snapshot(spark, dir)
    assert(snap.version == 1L && snap.files == Seq(files(1)))
    assert(snap.schema.contains(StructType(Seq(StructField("id", LongType)))))
    assert(DeltaRead.read(spark, dir).count() > 0)

    // a commit past the checkpoint is still applied
    writeCommit(dir, 2L, Seq(
      s"""{"remove":{"path":"${files(1)}","dataChange":true}}"""
    ))
    assert(DeltaRead.snapshot(spark, dir).files.isEmpty)
    // no files left: the metaData schema still yields an empty typed frame
    val empty = DeltaRead.read(spark, dir)
    assert(empty.schema == StructType(Seq(StructField("id", LongType))))
    assert(empty.count() == 0)
  }

  test("a checkpoint add without a path is refused, naming the checkpoint") {
    // the same refusal a JSON commit line gets: checkpoint rows go through
    // the commit-line decoder
    val dir = Files.createTempDirectory("graft_delta_cp_nopath").toString
    DeltaRead.create(spark.range(0, 5).toDF("id"), dir)
    writeCheckpoint(dir, 0L,
      Seq(1).toDF("x").selectExpr("named_struct('path', CAST(NULL AS STRING), 'size', 1L) AS add"))
    val e = intercept[IllegalArgumentException](DeltaRead.snapshot(spark, dir))
    assert(e.getMessage.contains("checkpoint v0 row 1") &&
      e.getMessage.contains("add action without a textual path"), e.getMessage)
  }

  test("checkpoint replay does not depend on spark.sql.jsonGenerator.ignoreNullFields") {
    // without ignoreNullFields a checkpoint row's JSON spells out every
    // action it does not carry as null; the snapshot must not change
    val dir = Files.createTempDirectory("graft_delta_cp_nulls").toString
    val df = Seq((1L, "a", Some("d1")), (2L, "b", None), (3L, "c", Some("d2")))
      .toDF("id", "v", "ds")
    DeltaRead.create(df, dir, partitionBy = Seq("ds"))
    DeltaRead.appendIdempotent(Seq((4L, "d", Some("d1"))).toDF("id", "v", "ds"), dir, "app", 7L)
    DeltaRead.deleteWhere(spark, dir, $"id" === 1L)
    assert(DeltaRead.checkpoint(spark, dir) == 2L)
    // poison the folded commits: the snapshot must come from the checkpoint
    poison(dir, 0L, 1L, 2L)
    val default = DeltaRead.snapshot(spark, dir)
    assert(default.txns == Map("app" -> 7L))
    assert(default.adds.exists(_.deletionVector.isDefined))
    assert(default.adds.exists(a => a.partitionValues.contains("ds") && a.partitionValues("ds") == null))
    val key = "spark.sql.jsonGenerator.ignoreNullFields"
    spark.conf.set(key, "false")
    try assert(DeltaRead.snapshot(spark, dir) == default)
    finally spark.conf.unset(key)
    assert(DeltaRead.read(spark, dir).count() == 3)
  }

  test("unsupported protocol features fail fast with clear errors") {
    val dir = Files.createTempDirectory("graft_delta_bad").toString
    DeltaRead.create(spark.range(0, 5).toDF("id"), dir)

    writeCommit(dir, 1L, Seq("""{"protocol":{"minReaderVersion":4}}"""))
    val e1 = intercept[IllegalArgumentException](DeltaRead.read(spark, dir))
    assert(e1.getMessage.contains("minReaderVersion"))

    // reader version 3 is fine only when every listed feature is supported
    writeCommit(dir, 1L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors","v2Checkpoint"]}}"""))
    val e2 = intercept[IllegalArgumentException](DeltaRead.read(spark, dir))
    assert(e2.getMessage.contains("v2Checkpoint"))

    writeCommit(dir, 1L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors","columnMapping"]}}"""))
    assert(DeltaRead.read(spark, dir).count() == 5)

    val notDelta = Files.createTempDirectory("graft_not_delta").toString
    val e4 = intercept[IllegalArgumentException](DeltaRead.read(spark, notDelta))
    assert(e4.getMessage.contains("_delta_log"))
  }

  test("deleteWhere writes deletion vectors; deletes compose, survive " +
    "checkpoints, and respect time travel") {
    val dir = Files.createTempDirectory("graft_delta_dv").toString
    DeltaRead.create(spark.range(0, 100).toDF("id").repartition(3), dir)

    val v1 = DeltaRead.deleteWhere(spark, dir, $"id" % 10 === 0)
    assert(v1 == 1L)
    val after1 = DeltaRead.read(spark, dir)
    assert(after1.count() == 90)
    assert(after1.filter($"id" % 10 === 0).count() == 0)
    // data files untouched — merge-on-read, not rewrite
    assert(dataFiles(dir).size == 3)
    // time travel still sees the pre-delete table
    assert(DeltaRead.read(spark, dir, versionAsOf = Some(0L)).count() == 100)

    // second delete composes with the first (vectors are merged supersets)
    val v2 = DeltaRead.deleteWhere(spark, dir, $"id" < 5)
    assert(v2 == 2L)
    assert(DeltaRead.read(spark, dir).count() == 86)

    // vectors survive a checkpoint (descriptors folded into the parquet)
    assert(DeltaRead.checkpoint(spark, dir) == 2L)
    poison(dir, 0L, 1L)
    assert(DeltaRead.read(spark, dir).count() == 86)
    assert(DeltaRead.read(spark, dir).filter($"id" < 5 || $"id" % 10 === 0).count() == 0)

    // appends after deletes: new rows land in clean files
    DeltaRead.append(spark.range(100, 110).toDF("id"), dir)
    assert(DeltaRead.read(spark, dir).count() == 96)

    // deleting nothing is a no-op, not a commit
    assert(DeltaRead.deleteWhere(spark, dir, $"id" === -1) == -1L)
  }

  test("deleteWhere refuses past the driver DV-payload cap with a clear error") {
    val dir = Files.createTempDirectory("graft_delta_dvcap").toString
    DeltaRead.create(spark.range(0, 100).toDF("id").repartition(3), dir)
    spark.conf.set(DeltaRead.MaxDvPayloadBytesKey, "8") // absurdly small
    try {
      val e = intercept[IllegalStateException](
        DeltaRead.deleteWhere(spark, dir, $"id" < 50)
      )
      assert(e.getMessage.contains(DeltaRead.MaxDvPayloadBytesKey))
      assert(e.getMessage.contains("cap 8"))
      // guard refused BEFORE committing: table unchanged, still deletable
      assert(DeltaRead.read(spark, dir).count() == 100)
    } finally spark.conf.unset(DeltaRead.MaxDvPayloadBytesKey)
    // with the default cap the same delete goes through
    assert(DeltaRead.deleteWhere(spark, dir, $"id" < 50) == 1L)
    assert(DeltaRead.read(spark, dir).count() == 50)
  }

  test("inline (storageType i) deletion vectors are applied") {
    val dir = Files.createTempDirectory("graft_delta_dvi").toString
    DeltaRead.create(spark.range(0, 20).toDF("id").coalesce(1), dir)
    val file = dataFiles(dir).head
    // delete row indexes 0..4 via an inline vector: z85 payload padded with
    // zero bytes to the multiple-of-4 the encoding needs (trailing zeros are
    // ignored by the bitmap deserializer, which is length-prefixed)
    val bm = DeletionVectors.BitmapArray.fromRowIndexes(Iterator(0L, 1L, 2L, 3L, 4L))
    val data = bm.serialize()
    val padded = java.util.Arrays.copyOf(data, (data.length + 3) / 4 * 4)
    val inline = DeletionVectors.z85Encode(padded)
    writeCommit(dir, 1L, Seq(
      s"""{"remove":{"path":"$file","dataChange":true}}""",
      s"""{"add":{"path":"$file","partitionValues":{},"size":1,"modificationTime":1,""" +
        s""""dataChange":true,"deletionVector":{"storageType":"i",""" +
        s""""pathOrInlineDv":"$inline","sizeInBytes":${data.length},""" +
        s""""cardinality":${bm.cardinality}}}}"""
    ))
    val back = DeltaRead.read(spark, dir)
    assert(back.count() == 15)
    assert(back.agg(org.apache.spark.sql.functions.min("id")).head.getLong(0) == 5L)
  }

  test("column mapping: physical names on disk, logical schema on read, " +
    "partitioned + append + deleteWhere compose") {
    val dir = Files.createTempDirectory("graft_delta_cm").toString
    val df = spark.range(0, 40).select(
      $"id", ($"id" % 4).cast("int").as("bucket"), concat(lit("n"), $"id").as("name"))
    DeltaRead.create(df, dir, partitionBy = Seq("bucket"), columnMapping = true)

    // on disk: no logical names anywhere (dirs + parquet columns are col-<uuid>)
    val physDirs = new File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_"))
    assert(physDirs.nonEmpty && physDirs.forall(_.startsWith("col-")))

    val back = DeltaRead.read(spark, dir)
    assert(back.schema.fieldNames.toSeq.sorted == Seq("bucket", "id", "name"))
    assert(back.count() == 40)
    assert(back.filter($"bucket" === 2).count() == 10)
    assert(back.filter($"id" === 7).select("name").head.getString(0) == "n7")

    // append with logical columns lands under physical names
    DeltaRead.append(
      spark.range(40, 48).select(
        $"id", ($"id" % 4).cast("int").as("bucket"), concat(lit("n"), $"id").as("name")),
      dir)
    assert(DeltaRead.read(spark, dir).count() == 48)

    // row-level deletes on a column-mapped table
    DeltaRead.deleteWhere(spark, dir, $"bucket" === 1)
    val afterDel = DeltaRead.read(spark, dir)
    assert(afterDel.count() == 36)
    assert(afterDel.filter($"bucket" === 1).count() == 0)

    // checkpoint keeps both features readable
    DeltaRead.checkpoint(spark, dir)
    poison(dir, 0L)
    val afterCp = DeltaRead.read(spark, dir)
    assert(afterCp.count() == 36 && afterCp.schema.fieldNames.contains("name"))
  }

  test("append commits new files; checkpoint folds the log for later reads") {
    val dir = Files.createTempDirectory("graft_delta_app").toString
    DeltaRead.create(spark.range(0, 10).toDF("id"), dir)
    val v1 = DeltaRead.append(spark.range(10, 25).toDF("id"), dir)
    assert(v1 == 1L)
    val v2 = DeltaRead.append(spark.range(25, 30).toDF("id"), dir)
    assert(v2 == 2L)
    assert(DeltaRead.read(spark, dir).count() == 30)
    // time travel still sees each append boundary
    assert(DeltaRead.read(spark, dir, versionAsOf = Some(0L)).count() == 10)
    assert(DeltaRead.read(spark, dir, versionAsOf = Some(1L)).count() == 25)

    // checkpoint at v2, then append v3: replay = checkpoint + v3 only
    assert(DeltaRead.checkpoint(spark, dir) == 2L)
    val v3 = DeltaRead.append(spark.range(30, 32).toDF("id"), dir)
    assert(v3 == 3L)
    // poison pre-checkpoint commits: a reader that replays them would throw
    poison(dir, 0L, 1L)
    val snap = DeltaRead.snapshot(spark, dir)
    assert(snap.version == 3L)
    assert(
      spark.read
        .parquet(snap.files.map(p => new java.io.File(dir, p).getPath): _*)
        .count() == 32
    )
    assert(DeltaRead.read(spark, dir).count() == 32)
    // schema survives via the checkpoint's metaData row
    assert(DeltaRead.read(spark, dir).schema.fieldNames.toSeq == Seq("id"))
  }

  test("partitioned delta: hive-layout files, partitionValues in the log, pruning") {
    val dir = Files.createTempDirectory("graft_delta_part").toString
    val df = Seq(
      (1L, "a", "2024-01-01"),
      (2L, "b", "2024-01-01"),
      (3L, "c", "2024-01-02")
    ).toDF("id", "v", "ds")
    DeltaRead.create(df, dir, partitionBy = Seq("ds"))

    val snap = DeltaRead.snapshot(spark, dir)
    assert(snap.files.forall(_.startsWith("ds=")), snap.files.toString)

    val back = DeltaRead.read(spark, dir)
    assert(back.columns.toSet == Set("id", "v", "ds"))
    assert(back.filter($"ds" === "2024-01-02").count() == 1)
    // the partition predicate prunes at the file level, not post-scan
    val plan = back
      .filter($"ds" === "2024-01-02")
      .queryExecution
      .executedPlan
      .toString
    assert(plan.contains("PartitionFilters"), plan)

    // append with NO partitionBy argument follows the table's declared
    // partitioning (snapshot.partitionColumns); time travel still sees the
    // create snapshot
    assert(DeltaRead.snapshot(spark, dir).partitionColumns == Seq("ds"))
    DeltaRead.append(
      Seq((4L, "d", "2024-01-02")).toDF("id", "v", "ds"),
      dir
    )
    assert(DeltaRead.read(spark, dir).count() == 4)
    assert(DeltaRead.read(spark, dir, versionAsOf = Some(0L)).count() == 3)
    assert(
      DeltaRead.snapshot(spark, dir).files.forall(_.startsWith("ds=")),
      "append must land in hive-layout partition dirs"
    )
    // a CONFLICTING partitionBy is rejected before it can corrupt layout
    val bad = intercept[IllegalArgumentException](
      DeltaRead.append(
        Seq((5L, "e", "2024-01-03")).toDF("id", "v", "ds"),
        dir,
        partitionBy = Seq("v")
      )
    )
    assert(bad.getMessage.contains("partitionColumns"))

    // the writer round-trips the same shape through the catalog
    val root2 = Files.createTempDirectory("graft_delta_part_w").toString
    val glueTable = graft.catalog.GlueTableWriter.write(
      df, "dbp", "pdelta", s"$root2/pdelta",
      format = "delta", partitionBy = Seq("ds")
    )
    assert(glueTable.partitionKeys.map(_.name) == Seq("ds"))
    val p = new GlueCatalogProvider(new InMemoryGlueClient(Seq(glueTable)), spark)
    val reg = p.registerTable("dbp", "pdelta")
    assert(reg.columns.toSet == Set("id", "v", "ds"))
    assert(reg.filter($"ds" === "2024-01-01").count() == 2)
  }

  test("partitioned create -> checkpoint -> append keeps the hive layout") {
    // the corruption scenario: a checkpoint that drops partitionColumns
    // makes the next plain append() write FLAT files into a hive-layout
    // table; the checkpoint must carry the full metaData action
    val dir = Files.createTempDirectory("graft_delta_cp_part").toString
    val df = Seq(
      (1L, "a", "2024-01-01"),
      (2L, "b", "2024-01-01"),
      (3L, "c", "2024-01-02")
    ).toDF("id", "v", "ds")
    DeltaRead.create(df, dir, partitionBy = Seq("ds"))
    assert(DeltaRead.checkpoint(spark, dir) == 0L)

    // the snapshot replayed FROM the checkpoint still declares partitioning
    val snap = DeltaRead.snapshot(spark, dir)
    assert(snap.partitionColumns == Seq("ds"))
    assert(snap.adds.forall(_.partitionValues.contains("ds")))

    // a plain append (no partitionBy argument) lands in hive layout, and an
    // explicit matching partitionBy is accepted
    DeltaRead.append(Seq((4L, "d", "2024-01-02")).toDF("id", "v", "ds"), dir)
    DeltaRead.append(
      Seq((5L, "e", "2024-01-03")).toDF("id", "v", "ds"),
      dir,
      partitionBy = Seq("ds")
    )
    val after = DeltaRead.snapshot(spark, dir)
    assert(after.files.forall(_.startsWith("ds=")), after.files.toString)
    val back = DeltaRead.read(spark, dir)
    assert(back.count() == 5)
    assert(back.filter($"ds" === "2024-01-03").count() == 1)
  }

  test("written checkpoint carries protocol-compliant actions") {
    val dir = Files.createTempDirectory("graft_delta_cp_proto").toString
    val df = Seq((1L, "x", "d1"), (2L, "y", "d2")).toDF("id", "v", "ds")
    DeltaRead.create(df, dir, partitionBy = Seq("ds"))
    DeltaRead.checkpoint(spark, dir)

    val cp = spark.read.parquet(
      new File(new File(dir, "_delta_log"), f"${0L}%020d.checkpoint.parquet").getPath
    )
    // protocol action present with supported versions
    val proto = cp.filter("protocol IS NOT NULL").select("protocol.*").head
    assert(proto.getInt(0) == 1 && proto.getInt(1) == 2)
    // complete metaData action: id, format.provider, schemaString,
    // partitionColumns, configuration
    val meta = cp.filter("metaData IS NOT NULL").select("metaData.*").head
    assert(meta.getString(0).nonEmpty)
    assert(meta.getStruct(1).getString(0) == "parquet")
    assert(meta.getString(2).contains("\"ds\""))
    assert(meta.getSeq[String](3) == Seq("ds"))
    // add entries carry partitionValues, real sizes, dataChange=false
    import org.apache.spark.sql.functions.{col => c}
    val adds = cp
      .filter("add IS NOT NULL")
      .select(
        c("add.path"),
        c("add.partitionValues"),
        c("add.size"),
        c("add.dataChange")
      )
      .collect()
    assert(adds.length == 2)
    adds.foreach { r =>
      assert(r.getAs[scala.collection.Map[String, String]](1).keySet == Set("ds"))
      assert(r.getLong(2) > 0L)
      assert(!r.getBoolean(3))
    }
    assert(cp.filter("txn IS NOT NULL").count() == 0)

    // txn markers: one row per appId, carrying its highest version
    DeltaRead.appendIdempotent(Seq((3L, "z", "d1")).toDF("id", "v", "ds"), dir, "appA", 0L)
    DeltaRead.appendIdempotent(Seq((4L, "w", "d2")).toDF("id", "v", "ds"), dir, "appA", 4L)
    DeltaRead.appendIdempotent(Seq((5L, "u", "d1")).toDF("id", "v", "ds"), dir, "appB", 2L)
    assert(DeltaRead.checkpoint(spark, dir) == 3L)
    val txns = spark.read
      .parquet(new File(new File(dir, "_delta_log"), f"${3L}%020d.checkpoint.parquet").getPath)
      .filter("txn IS NOT NULL")
      .select("txn.appId", "txn.version")
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toSeq
      .sorted
    assert(txns == Seq("appA" -> 4L, "appB" -> 2L))
  }

  test("multi-part checkpoint: write, _last_checkpoint parts, replay") {
    val dir = Files.createTempDirectory("graft_delta_cp_multi").toString
    DeltaRead.create(spark.range(0, 40).toDF("id").repartition(5), dir)
    assert(dataFiles(dir).size == 5)
    DeltaRead.checkpoint(spark, dir, parts = 3)

    val logDir = new File(dir, "_delta_log")
    val lc = new String(
      Files.readAllBytes(new File(logDir, "_last_checkpoint").toPath),
      StandardCharsets.UTF_8
    )
    assert(lc.contains("\"parts\":3"), lc)
    (1 to 3).foreach { i =>
      assert(
        new File(logDir, f"${0L}%020d.checkpoint.$i%010d.${3}%010d.parquet").isFile
      )
    }
    // poison the only pre-checkpoint commit: replay MUST start from the
    // multi-part checkpoint or it would throw
    poison(dir, 0L)
    val snap = DeltaRead.snapshot(spark, dir)
    assert(snap.files.size == 5)
    assert(snap.schema.isDefined)
    assert(DeltaRead.read(spark, dir).count() == 40)
    // and commits past the checkpoint still apply
    DeltaRead.append(spark.range(40, 45).toDF("id"), dir)
    assert(DeltaRead.read(spark, dir).count() == 45)
  }

  test("corrupt _last_checkpoint: replay starts from the listed checkpoint") {
    val dir = Files.createTempDirectory("graft_delta_cp_corrupt").toString
    DeltaRead.create(spark.range(0, 20).toDF("id"), dir)
    DeltaRead.append(spark.range(20, 30).toDF("id"), dir)
    DeltaRead.checkpoint(spark, dir)
    // simulate a crash mid-write: truncated JSON
    Files.write(
      new File(new File(dir, "_delta_log"), "_last_checkpoint").toPath,
      """{"version":1,"si""".getBytes(StandardCharsets.UTF_8)
    )
    // poison the commits the checkpoint folds: a replay from version 0
    // would throw, so the start point must come from the listing
    poison(dir, 0L, 1L)
    assert(DeltaRead.read(spark, dir).count() == 30)
    assert(DeltaRead.snapshot(spark, dir).version == 1L)
  }

  test("checkpoints are found by listing: time travel after the old commits are cleaned") {
    val dir = Files.createTempDirectory("graft_delta_cp_list").toString
    // v0..v20, one row each; the 10th and 20th commits fold checkpoints
    (0L to 20L).foreach(v => DeltaRead.appendIdempotent(Seq(v).toDF("id"), dir, "app", v))
    val logDir = new File(dir, "_delta_log")
    Seq(10L, 20L).foreach(v => assert(new File(logDir, f"$v%020d.checkpoint.parquet").isFile))
    // a log cleaner drops the commits the v10 checkpoint folds, except v10
    (0 to 9).foreach(v => Files.delete(new File(logDir, f"$v%020d.json").toPath))
    def ids(v: Long) = DeltaRead.read(spark, dir, versionAsOf = Some(v)).as[Long].collect().sorted.toSeq
    // v15 starts from the v10 checkpoint, not from the listed commits alone
    assert(ids(15L) == (0L to 15L))
    assert(ids(10L) == (0L to 10L))
    assert(DeltaRead.read(spark, dir).count() == 21)
    // below the oldest checkpoint nothing can replay: the error names the gap
    val gone = intercept[IllegalStateException](DeltaRead.read(spark, dir, versionAsOf = Some(5L)))
    assert(gone.getMessage.contains("commits 0..5 are missing"), gone.getMessage)
    // a gap after a checkpoint fails too; the v20 checkpoint still serves
    Files.delete(new File(logDir, f"${12}%020d.json").toPath)
    val gap = intercept[IllegalStateException](DeltaRead.read(spark, dir, versionAsOf = Some(15L)))
    assert(gap.getMessage.contains("from the checkpoint at v10: commits 12 are missing"), gap.getMessage)
    assert(ids(20L) == (0L to 20L))
  }

  test("an incomplete multi-part checkpoint is skipped for the previous complete one") {
    val dir = Files.createTempDirectory("graft_delta_cp_torn").toString
    DeltaRead.create(spark.range(0, 40).toDF("id").repartition(5), dir)
    DeltaRead.checkpoint(spark, dir)
    DeltaRead.append(spark.range(40, 45).toDF("id"), dir)
    assert(DeltaRead.checkpoint(spark, dir, parts = 3) == 1L)
    val expected = DeltaRead.snapshot(spark, dir)
    // a crash between the parts of the v1 checkpoint leaves part 2 missing
    Files.delete(new File(new File(dir, "_delta_log"),
      f"${1L}%020d.checkpoint.${2}%010d.${3}%010d.parquet").toPath)
    // poison v0: replay must start from the complete v0 checkpoint
    poison(dir, 0L)
    val snap = DeltaRead.snapshot(spark, dir)
    assert(snap.version == 1L)
    assert(snap.files.sorted == expected.files.sorted)
    assert(DeltaRead.read(spark, dir).as[Long].collect().sorted.toSeq == (0L until 45L))
  }

  test("a _delta_log with no commit is no table yet: append and appendIdempotent bootstrap it") {
    // a crash during the first commit leaves the log directory and the
    // temp file of the commit that never moved into place
    def crashedFirstCommit(prefix: String): String = {
      val dir = Files.createTempDirectory(prefix).toString
      val logDir = new File(dir, "_delta_log")
      assert(logDir.mkdir())
      Files.write(new File(logDir, f".${0L}%020d.json.crashed.tmp").toPath, Array.emptyByteArray)
      dir
    }
    val a = crashedFirstCommit("graft_delta_boot_append")
    assert(DeltaRead.append(Seq(1L, 2L).toDF("id"), a) == 0L)
    assert(DeltaRead.lookup(spark, a).map(_.version).contains(0L))
    assert(DeltaRead.read(spark, a).as[Long].collect().sorted.toSeq == Seq(1L, 2L))

    val b = crashedFirstCommit("graft_delta_boot_txn")
    assert(DeltaRead.appendIdempotent(Seq(3L).toDF("id"), b, "app", 0L))
    assert(!DeltaRead.appendIdempotent(Seq(3L).toDF("id"), b, "app", 0L))
    assert(DeltaRead.snapshot(spark, b).txns == Map("app" -> 0L))
    assert(DeltaRead.read(spark, b).as[Long].collect().toSeq == Seq(3L))

    // until then it is no table, and reading it says so
    val c = crashedFirstCommit("graft_delta_boot_none")
    assert(DeltaRead.lookup(spark, c).isEmpty)
    val e = intercept[IllegalArgumentException](DeltaRead.snapshot(spark, c))
    assert(e.getMessage.contains("no delta table"), e.getMessage)
  }

  test("delta table behind a file:/// URI reads and appends (Hadoop FS path)") {
    val dir = "file://" + Files.createTempDirectory("graft_delta_uri").toString
    DeltaRead.create(spark.range(0, 10).toDF("id"), dir)
    assert(DeltaRead.read(spark, dir).count() == 10)
    DeltaRead.append(spark.range(10, 15).toDF("id"), dir)
    DeltaRead.checkpoint(spark, dir)
    DeltaRead.append(spark.range(15, 18).toDF("id"), dir)
    assert(DeltaRead.read(spark, dir).count() == 18)
    assert(DeltaRead.snapshot(spark, dir).txns.get("nope").isEmpty)
    assert(DeltaRead.lookup(spark, dir).isDefined)
  }

  test("DSv2 three-part-name SQL over a delta table serves the live snapshot") {
    val dir = Files.createTempDirectory("graft_delta_dsv2").toString
    DeltaRead.create(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "amount").repartition(1),
      dir)
    val table = GlueTable(
      "ddb", "ledger",
      GlueStorageDescriptor(
        location = dir,
        inputFormat = "", outputFormat = "",
        serdeInfo = GlueSerDeInfo(""),
        columns = Seq(GlueColumn("id", "bigint"), GlueColumn("amount", "double"))
      ),
      parameters = Map("table_type" -> "delta")
    )
    GlueTableCatalog.injectClient(new InMemoryGlueClient(Seq(table)))
    try {
      spark.conf.set("spark.sql.catalog.gdelta", classOf[GlueTableCatalog].getName)
      val q = spark.sql("SELECT id FROM gdelta.ddb.ledger WHERE amount > 15.0")
      assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
      // pushdown reaches the parquet scan of the snapshot's active files
      assert(q.queryExecution.executedPlan.toString.contains("PushedFilters"))
      // a remove commit is visible on the next (fresh) load of the table
      val files = dataFiles(dir)
      writeCommit(dir, 1L, Seq(
        s"""{"remove":{"path":"${files.head}","dataChange":true}}"""
      ))
      spark.sql("REFRESH TABLE gdelta.ddb.ledger")
      assert(spark.sql("SELECT count(*) AS n FROM gdelta.ddb.ledger").head.getLong(0) == 0L)

      // a table with deletion vectors must REFUSE on the raw-file DSv2
      // route (it cannot apply row-level deletes), not resurrect rows;
      // the provider route stays correct
      DeltaRead.create(
        Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amount").repartition(1), dir)
      DeltaRead.deleteWhere(spark, dir, $"id" === 1L)
      // REFRESH itself resolves the table, so the refusal can fire there
      // or on the query — either way it must fire
      val dvErr = intercept[Throwable] {
        spark.sql("REFRESH TABLE gdelta.ddb.ledger")
        spark.sql("SELECT count(*) AS n FROM gdelta.ddb.ledger").head
      }
      val chain = Iterator
        .iterate(dvErr: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage))
        .mkString(" | ")
      assert(chain.contains("deletion vectors"), chain)
      assert(DeltaRead.read(spark, dir).count() == 1L)
    } finally {
      GlueTableCatalog.clearInjectedClient()
      spark.conf.unset("spark.sql.catalog.gdelta")
    }
  }

  test("glue table_type=delta registers and reads through the provider") {
    val dir = Files.createTempDirectory("graft_delta_glue").toString
    DeltaRead.create(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), dir)
    val table = GlueTable(
      "deltadb", "t_delta",
      GlueStorageDescriptor(
        location = dir,
        inputFormat = "", outputFormat = "",
        serdeInfo = GlueSerDeInfo(""),
        // declared narrower than the file's long: DeriveSchema casts
        columns = Seq(GlueColumn("k", "int"), GlueColumn("v", "string"))
      ),
      parameters = Map("table_type" -> "delta")
    )
    val p = new GlueCatalogProvider(new InMemoryGlueClient(Seq(table)), spark)
    val df = p.registerTable("deltadb", "t_delta")
    assert(df.schema("k").dataType == IntegerType)
    assert(spark.sql("SELECT v FROM deltadb_t_delta WHERE k = 2").head.getString(0)
      == "b")
  }
}
