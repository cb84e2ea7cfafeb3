package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{DEFAULT_PARTITION_NAME, unescapePathName}
import org.apache.spark.sql.functions.{coalesce, col, length, lit, sum}
import org.apache.spark.sql.types._

/** Minimal Delta Lake table reader/writer by transaction-log replay, built
  * from the PUBLIC Delta protocol (delta.io PROTOCOL.md): a table is a
  * directory of parquet data files plus `_delta_log/` holding ordered JSON
  * commits (`<v>.json`, one action per line — add / remove / metaData /
  * protocol / txn) and periodic parquet checkpoints (single-file
  * `<v>.checkpoint.parquet` or multi-part
  * `<v>.checkpoint.<i>.<n>.parquet`). The active snapshot at version V =
  * replay of all actions `<= V`: last metaData wins, `add` paths minus
  * `remove` paths.
  *
  * One listing of `_delta_log` decides the table's state ([[lookup]]):
  * whether it exists (at least one commit or one complete checkpoint), its
  * latest version, the newest complete checkpoint at or below the target
  * version to start from, and the commits to replay after it. Those must
  * run without a gap; a gap fails naming the missing versions, so a log
  * whose old commits were cleaned never yields a silently partial
  * snapshot. [[checkpoint]] still writes the last-checkpoint pointer file
  * for other readers (delta-spark and delta-rs use it as a hint); nothing
  * here reads it.
  *
  * The reference registers Glue `table_type=delta` tables through the
  * deltalake crate (reference: src/catalog_provider/glue.rs:195-237); this
  * is the Spark-side equivalent without the delta-spark connector jar
  * (unavailable in this environment). Scale shape: the log is metadata
  * (KBs–MBs, driver-side replay is exactly what delta-spark's Snapshot
  * does); the DATA read is a normal distributed parquet scan over the
  * active files, so pushdown/pruning/vectorization all apply.
  *
  * All filesystem access goes through the Hadoop [[FileSystem]] API, so the
  * table directory may live on any registered scheme (`file://`, `hdfs://`,
  * `s3a://`, …) — the same object-store posture the reference gets from its
  * `ObjectStoreRegistry` (reference: src/catalog_provider/glue.rs:44-53).
  *
  * Supported: JSON commits, single-file AND multi-part parquet checkpoints,
  * schema from `metaData.schemaString` (it is Spark DataType JSON),
  * `versionAsOf` time travel, hive-layout partition directories (via
  * basePath), deletion vectors (see [[DeletionVectors]]; [[deleteWhere]]
  * writes them, reads apply them as a row-index filter on only the
  * DV-carrying files), and column mapping (`delta.columnMapping.mode` name
  * or id — physical parquet names are mapped back to the logical schema via
  * each field's `delta.columnMapping.physicalName` metadata, which
  * delta-spark populates in both modes). Checkpoints written here carry the
  * full protocol + metaData actions (id / format / schemaString /
  * partitionColumns / configuration), per-file partitionValues / size /
  * modificationTime, deletionVector descriptors and one `txn` per appId, so
  * external protocol-compliant readers can consume them, and deletes and
  * exactly-once markers survive log compaction. A checkpoint row replays
  * through the same action decoder as a commit line (its `toJSON` form is
  * the commit-line shape). Reader-version-3 tables are accepted when every
  * readerFeature is one we honor (deletionVectors, columnMapping); unknown
  * features still refuse with a clear error.
  *
  * Writes share one write-and-commit path: [[create]] replaces the
  * directory with a version-0 table, and [[append]] (also behind
  * [[appendIdempotent]]) adds a commit, bootstrapping version 0 when the
  * table does not exist yet — including a `_delta_log` that a crash during
  * the first commit left without a commit file.
  */
object DeltaRead {

  /** Conf key capping the total serialized deletion-vector payload
    * [[deleteWhere]] will collect to the driver; see the guard there. */
  val MaxDvPayloadBytesKey = "graft.delta.maxDeleteVectorPayloadBytes"
  /** 256 MiB default: far above any plausible merge-on-read delete (a
    * roaring bitmap of 100M scattered row deletes is ~tens of MB), far
    * below driver-heap trouble. */
  val DefaultMaxDvPayloadBytes: Long = 256L * 1024 * 1024

  private val mapper = new ObjectMapper()

  /** One active data file as replayed from the log: path relative to the
    * table root plus the add-action metadata a protocol-compliant
    * checkpoint must re-emit, including its deletion vector if rows have
    * been soft-deleted. */
  final case class AddFile(
      path: String,
      size: Long,
      modificationTime: Long,
      partitionValues: Map[String, String],
      deletionVector: Option[DeletionVectors.Descriptor] = None
  )

  /** The table state at a version: active files (with their add metadata,
    * in replay order), declared schema if any metaData action carried one,
    * the table's declared partition columns, the metaData identity fields a
    * checkpoint re-emits, and the highest `txn` version committed per
    * appId. */
  final case class Snapshot(
      version: Long,
      adds: Seq[AddFile],
      schema: Option[StructType],
      partitionColumns: Seq[String] = Seq.empty,
      tableId: Option[String] = None,
      configuration: Map[String, String] = Map.empty,
      txns: Map[String, Long] = Map.empty
  ) {

    /** Active data file paths relative to the table root, in replay order. */
    def files: Seq[String] = adds.map(_.path)

    /** True when `delta.columnMapping.mode` is set to a mode other than
      * `none`: parquet files then carry physical column names. */
    def columnMapped: Boolean =
      configuration.get("delta.columnMapping.mode").exists(m => m.nonEmpty && m != "none")
  }

  // ---------- Hadoop FS plumbing ----------

  private def fsOf(dir: Path, spark: SparkSession): FileSystem =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readUtf8(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Write `content` to `target` via temp-file + rename. With
    * `overwrite=false` an existing target makes the rename fail — the
    * single-writer commit guard. With `overwrite=true` the target is
    * deleted first; a crash between delete and rename leaves NO file. The
    * only file written that way is the last-checkpoint pointer, a hint
    * that this reader never reads and that delta-spark and delta-rs replace
    * by listing the log when it is missing. */
  private def writeAtomic(
      fs: FileSystem,
      target: Path,
      content: String,
      overwrite: Boolean
  ): Unit = {
    val tmp = new Path(
      target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID()}.tmp"
    )
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (overwrite && fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"atomic rename to $target failed (already exists?)"
      )
    }
  }

  /** One commit = one atomic file: content lands in a temp file first, then
    * moves into place. A crash mid-commit leaves either no commit (replay
    * redoes the batch; any parquet parts it wrote are unreferenced and
    * invisible to readers) or the complete commit — never a truncated one. */
  private def writeCommitAtomic(
      fs: FileSystem,
      logDir: Path,
      version: Long,
      lines: Seq[String]
  ): Unit =
    writeAtomic(
      fs,
      new Path(logDir, f"$version%020d.json"),
      lines.mkString("\n"),
      overwrite = false
    )

  // ---------- protocol feature guards ----------

  /** Reader features this replay honors end-to-end. Reader version 3 makes
    * features explicit (delta protocol "Table Features"): a table is
    * readable iff every listed readerFeature is supported — anything else
    * must refuse, not silently return wrong rows. */
  private val SupportedReaderFeatures = Set("deletionVectors", "columnMapping")

  private def checkReaderVersion(minReader: Int, features: Seq[String]): Unit = {
    if (minReader > 3)
      throw new IllegalArgumentException(
        s"delta minReaderVersion $minReader exceeds supported reader version 3"
      )
    if (minReader == 3) {
      val unknown = features.toSet -- SupportedReaderFeatures
      if (unknown.nonEmpty)
        throw new IllegalArgumentException(
          s"unsupported delta readerFeatures: ${unknown.toSeq.sorted.mkString(", ")}"
        )
    }
  }

  private def parseDvNode(node: JsonNode): Option[DeletionVectors.Descriptor] =
    Option(node)
      .filter(_.isObject)
      .map(dv =>
        DeletionVectors.Descriptor(
          dv.path("storageType").asText(),
          dv.path("pathOrInlineDv").asText(),
          if (dv.hasNonNull("offset")) Some(dv.get("offset").asInt()) else None,
          dv.path("sizeInBytes").asInt(),
          dv.path("cardinality").asLong()
        )
      )

  // ---------- snapshot (log replay) ----------

  private def checkpointPaths(
      logDir: Path,
      version: Long,
      parts: Option[Int]
  ): Seq[Path] = parts match {
    case Some(n) =>
      (1 to n).map(i =>
        new Path(logDir, f"$version%020d.checkpoint.$i%010d.$n%010d.parquet")
      )
    case None => Seq(new Path(logDir, f"$version%020d.checkpoint.parquet"))
  }

  /** What one listing of `_delta_log` holds: the commit files by version,
    * and the complete checkpoints by version (a single
    * `<v>.checkpoint.parquet`, or all `n` parts of
    * `<v>.checkpoint.<i>.<n>.parquet`). */
  private final case class LogListing(commits: Map[Long, Path], checkpoints: Map[Long, Seq[Path]]) {
    def latest: Long = (commits.keys ++ checkpoints.keys).max
  }

  private val CommitFile = """(\d{20})\.json""".r
  private val CheckpointFile = """(\d{20})\.checkpoint(?:\.(\d{10})\.(\d{10}))?\.parquet""".r

  /** List `_delta_log` once. None means the table does not exist yet: no
    * log directory, or one holding no commit and no complete checkpoint (a
    * crash during the first commit leaves such a log). A multi-part
    * checkpoint missing a part (a crash between its parts) is skipped. */
  private def listLog(fs: FileSystem, root: Path): Option[LogListing] = {
    val files =
      try fs.listStatus(new Path(root, "_delta_log")).toSeq.filter(_.isFile).map(_.getPath)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val commits = files.flatMap { p =>
      p.getName match {
        case CommitFile(v) => Some(v.toLong -> p)
        case _             => None
      }
    }.toMap
    // (version, part count) -> (part index, file); a single file is part 1
    // of 1. File names are unique, so n in-range indexes are a complete set.
    val parts = files.flatMap { p =>
      p.getName match {
        case CheckpointFile(v, i, n) =>
          Some((v.toLong, Option(n).fold(1L)(_.toLong)) -> (Option(i).fold(1L)(_.toLong) -> p))
        case _ => None
      }
    }
    val checkpoints = parts
      .groupMap(_._1)(_._2)
      .collect {
        case ((v, n), set) if set.count { case (i, _) => 1 <= i && i <= n } == n =>
          v -> set.sortBy(_._1).map(_._2)
      }
    if (commits.isEmpty && checkpoints.isEmpty) None
    else Some(LogListing(commits, checkpoints))
  }

  /** `0, 1, 2, 5` as `0..2, 5`. */
  private def spans(versions: Seq[Long]): String =
    versions
      .foldLeft(List.empty[(Long, Long)]) {
        case ((lo, hi) :: rest, v) if v == hi + 1 => (lo, v) :: rest
        case (acc, v)                             => (v, v) :: acc
      }
      .reverse
      .map { case (lo, hi) => if (lo == hi) s"$lo" else s"$lo..$hi" }
      .mkString(", ")

  /** The table at `tableDir` as of `versionAsOf` (default: latest), or None
    * when it does not exist yet. The one decision on a table's existence
    * and state: one listing of `_delta_log` ([[listLog]]) gives the latest
    * version (the largest commit or checkpoint version), the replay start
    * (the newest complete checkpoint at or below the target) and the
    * commits to replay after it, which must all be listed — a gap fails
    * naming the missing versions.
    *
    * Driver-memory bound (documented, not guarded): the active add-file
    * list lives on the driver at ~200 B per action (path + partition values
    * + optional DV descriptor) — ~2 GB of driver heap at a 10M-file table.
    * That is the standard shape for delta implementations (delta-rs and
    * delta's own Scala client hold the same list; Spark's file index holds
    * an equivalent one for plain parquet directories), and file counts that
    * large mean misconfigured file sizing long before they mean a snapshot
    * problem. A DataFrame-resident snapshot is the documented growth path
    * if a 10M-file table ever becomes real (SURVEY §5). */
  def lookup(
      spark: SparkSession,
      tableDir: String,
      versionAsOf: Option[Long] = None
  ): Option[Snapshot] = {
    val root = new Path(tableDir)
    val fs = fsOf(root, spark)
    listLog(fs, root).map(replay(spark, fs, root, _, versionAsOf))
  }

  /** The snapshot of an existing table ([[lookup]]); a location holding no
    * table fails. */
  def snapshot(
      spark: SparkSession,
      tableDir: String,
      versionAsOf: Option[Long] = None
  ): Snapshot =
    lookup(spark, tableDir, versionAsOf).getOrElse(
      throw new IllegalArgumentException(
        s"no delta table under $tableDir: _delta_log holds no commit and no complete checkpoint"
      )
    )

  private def replay(
      spark: SparkSession,
      fs: FileSystem,
      root: Path,
      log: LogListing,
      versionAsOf: Option[Long]
  ): Snapshot = {
    val latest = log.latest
    val version = versionAsOf.getOrElse(latest)
    require(
      version >= 0 && version <= latest,
      s"versionAsOf $version out of range [0, $latest]"
    )
    // the newest complete checkpoint at or below the target starts the
    // replay; every commit after it (or from version 0) must be listed
    val start = log.checkpoints.keys.filter(_ <= version).maxOption
    val replayed = start.fold(0L)(_ + 1) to version
    val missing = replayed.filterNot(log.commits.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"delta log under $root cannot replay v$version from " +
          start.fold("version 0")(cv => s"the checkpoint at v$cv") +
          s": commits ${spans(missing)} are missing"
      )

    val active = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    var schema: Option[StructType] = None
    var partitionColumns: Seq[String] = Seq.empty
    var tableId: Option[String] = None
    var configuration: Map[String, String] = Map.empty
    val txns = scala.collection.mutable.Map.empty[String, Long]

    // structured errors: a foreign/corrupt log must name the commit file and
    // line (or the checkpoint row), never die as a bare Jackson/NPE stack or
    // — worse — skip the action and return a silently-wrong snapshot
    def bad(where: String, why: String, cause: Throwable = null) =
      throw new IllegalArgumentException(s"malformed delta $where: $why", cause)
    def textual(action: JsonNode, field: String): Boolean =
      action.hasNonNull(field) && action.get(field).isTextual

    /** The one action decoder: commit lines and checkpoint rows both land
      * here. A JSON-null action is absent (a checkpoint row serialized
      * without ignoreNullFields spells out every action it does not carry). */
    def applyAction(line: String, where: String): Unit = {
      val node =
        try mapper.readTree(line)
        catch {
          case e: com.fasterxml.jackson.core.JacksonException =>
            bad(where, s"unparseable JSON (${e.getOriginalMessage})", e)
        }
      if (node == null || !node.isObject) bad(where, "line is not a JSON action object")
      def action(name: String): Option[JsonNode] = Option(node.get(name)).filterNot(_.isNull)
      action("protocol").foreach { protocol =>
        val features = Option(protocol.get("readerFeatures"))
          .filter(_.isArray)
          .map(_.elements().asScala.map(_.asText()).toSeq)
          .getOrElse(Seq.empty)
        checkReaderVersion(protocol.path("minReaderVersion").asInt(1), features)
      }
      action("add").foreach { add =>
        if (!textual(add, "path")) bad(where, "add action without a textual path")
        val p = add.get("path").asText()
        val pv = Option(add.get("partitionValues"))
          .filter(_.isObject)
          .map(
            _.properties().asScala.map { e =>
              e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())
            }.toMap
          )
          .getOrElse(Map.empty[String, String])
        active(p) = AddFile(
          p,
          add.path("size").asLong(0L),
          add.path("modificationTime").asLong(0L),
          pv,
          parseDvNode(add.get("deletionVector"))
        )
      }
      // textuality matters for remove in particular: asText() on an object
      // node returns "", which would silently no-op the removal and leave a
      // deleted file live in the snapshot
      action("remove").foreach { remove =>
        if (!textual(remove, "path")) bad(where, "remove action without a textual path")
        active -= remove.get("path").asText()
      }
      action("metaData").foreach { meta =>
        if (meta.hasNonNull("schemaString"))
          schema = Some(
            try DataType.fromJson(meta.get("schemaString").asText()).asInstanceOf[StructType]
            catch {
              case e: Exception =>
                bad(where, s"invalid metaData.schemaString: ${e.getMessage}", e)
            }
          )
        if (meta.hasNonNull("partitionColumns"))
          partitionColumns = meta.get("partitionColumns").elements().asScala.map(_.asText()).toSeq
        if (meta.hasNonNull("id")) tableId = Some(meta.get("id").asText())
        if (meta.hasNonNull("configuration"))
          configuration = meta
            .get("configuration")
            .properties()
            .asScala
            .map(e => e.getKey -> e.getValue.asText())
            .toMap
      }
      action("txn").foreach { txn =>
        if (!textual(txn, "appId")) bad(where, "txn action without a textual appId")
        val appId = txn.get("appId").asText()
        val v = txn.path("version").asLong()
        txns(appId) = txns.get(appId).fold(v)(math.max(_, v))
      }
    }

    start.foreach { cv =>
      // a checkpoint is a parquet table of the same actions, one per row,
      // and a row's JSON form is the commit-line shape; collect it in ONE
      // job (snapshot() runs on every read/append, so each extra Spark job
      // here is hot-path driver latency)
      spark.read
        .parquet(log.checkpoints(cv).map(_.toString): _*)
        .toJSON
        .collect()
        .iterator
        .zipWithIndex
        .foreach { case (line, i) => applyAction(line, s"checkpoint v$cv row ${i + 1}") }
    }

    replayed.foreach { v =>
      val p = log.commits(v)
      readUtf8(fs, p)
        .split("\n")
        .iterator
        .zipWithIndex
        .filter(_._1.nonEmpty)
        .foreach { case (line, idx) =>
          applyAction(line, s"commit ${p.getName} line ${idx + 1}")
        }
    }

    Snapshot(
      version,
      active.values.toSeq,
      schema,
      partitionColumns,
      tableId,
      configuration,
      txns.toMap
    )
  }

  // ---------- column mapping ----------

  private val PhysicalNameKey = "delta.columnMapping.physicalName"

  private def physicalType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(physicalField))
    case a: ArrayType  => a.copy(elementType = physicalType(a.elementType))
    case m: MapType =>
      m.copy(keyType = physicalType(m.keyType), valueType = physicalType(m.valueType))
    case other => other
  }

  /** The on-disk twin of a logical field: renamed to its
    * `delta.columnMapping.physicalName` metadata (recursively — nested
    * struct fields carry their own physical names per the protocol).
    * delta-spark populates physicalName in BOTH mapping modes (`name` and
    * `id`), so matching by physical name covers both. */
  private def physicalField(f: StructField): StructField = {
    val name =
      if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
      else f.name
    StructField(name, physicalType(f.dataType), f.nullable)
  }

  /** A column-mapped schema's (logical, physical) pair: the parquet files
    * carry the physical names. */
  private def mapping(logical: StructType): (StructType, StructType) =
    logical -> StructType(logical.fields.map(physicalField))

  private def mapping(snap: Snapshot, dir: String): Option[(StructType, StructType)] =
    if (!snap.columnMapped) None
    else
      Some(mapping(snap.schema.getOrElse(
        throw new IllegalArgumentException(s"column-mapped delta table $dir has no metaData schema")
      )))

  /** Select `from`'s columns renamed (and, for nested renames, cast) to the
    * positionally matching fields of `to`: physical -> logical on read,
    * logical -> physical on write. */
  private def renameColumns(df: DataFrame, from: StructType, to: StructType, extra: Seq[Column] = Seq.empty): DataFrame =
    df.select(from.fields.zip(to.fields).map { case (f, t) =>
      val c = col(s"`${f.name}`")
      // a cast between same-typed structs renames nested fields
      (if (f.dataType == t.dataType) c else c.cast(t.dataType)).as(t.name)
    }.toSeq ++ extra: _*)

  /** Read the table at `versionAsOf` (default latest) as a DataFrame: the
    * log replay is driver-side metadata; the data read is a distributed
    * parquet scan over exactly the snapshot's active files. Files carrying
    * deletion vectors are filtered by file-local row index (only those
    * files pay the filter; clean files stay on the fully vectorized path),
    * and column-mapped tables are renamed from physical parquet names back
    * to the logical schema. */
  def read(
      spark: SparkSession,
      tableDir: String,
      versionAsOf: Option[Long] = None
  ): DataFrame =
    read(spark, tableDir, snapshot(spark, tableDir, versionAsOf))

  /** Read the table at `tableDir` as of a snapshot already taken, e.g. by
    * [[lookup]]. */
  def read(spark: SparkSession, tableDir: String, snap: Snapshot): DataFrame =
    readSnapshot(spark, tableDir, snap, withMeta = false)

  /** `withMeta=true` appends `__graft_file` / `__graft_row` (absolute file
    * path + file-local row index from parquet `_metadata`) for callers like
    * [[deleteWhere]] that need physical row identity. */
  private def readSnapshot(
      spark: SparkSession,
      tableDir: String,
      snap: Snapshot,
      withMeta: Boolean
  ): DataFrame = {
    if (snap.adds.isEmpty) {
      val schema = snap.schema.getOrElse(
        throw new IllegalArgumentException(
          s"$tableDir has no active files and no metaData schema at v${snap.version}"
        )
      )
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema
      )
      return if (!withMeta) empty
      else
        empty
          .withColumn("__graft_file", lit(null).cast("string"))
          .withColumn("__graft_row", lit(null).cast("bigint"))
    }

    val root = new Path(tableDir)
    // with column mapping the parquet files carry PHYSICAL names; read with
    // the physical schema and rename back to the logical one afterwards
    val mapped = mapping(snap, tableDir)
    val readSchema: Option[StructType] = mapped.map(_._2).orElse(snap.schema)

    // basePath keeps hive-layout partition dirs (key=value) readable as
    // partition columns, the same convention the provider uses for parquet
    def reader = {
      val r = spark.read.option("basePath", tableDir)
      readSchema.foreach(r.schema)
      r
    }
    def withMetaCols(df: DataFrame): DataFrame = df
      .withColumn("__graft_file", col("_metadata.file_path"))
      .withColumn("__graft_row", col("_metadata.row_index"))
    def absolute(p: String): String = new Path(tableDir, p).toString

    val (dvAdds, plainAdds) = snap.adds.partition(_.deletionVector.isDefined)

    val plainDf = Option(plainAdds)
      .filter(_.nonEmpty)
      .map { adds =>
        val df = reader.parquet(adds.map(a => absolute(a.path)): _*)
        if (withMeta) withMetaCols(df) else df
      }

    val dvDf = Option(dvAdds).filter(_.nonEmpty).map { adds =>
      // the vectors are metadata-sized by design — load them on the driver,
      // broadcast the serialized bytes, deserialize once per executor
      // (DeletionVectors.cachedDeserialize), and filter ONLY these files by
      // (file, row_index). Keyed by the file's qualified path normalized
      // through Hadoop Path (basenames are NOT unique on partitioned tables
      // — one write job reuses the same part-file name in every partition
      // directory — and `_metadata.file_path` may spell the scheme
      // differently than the log, e.g. `file:///` vs `file:/`).
      val fs = fsOf(root, spark)
      val dvMap: Map[String, (String, Array[Byte])] = adds.map { a =>
        val d = a.deletionVector.get
        fs.makeQualified(new Path(root, a.path)).toString ->
          (d.uniqueId, DeletionVectors.read(fs, root, d).serialize())
      }.toMap
      // codegen'd filter (DeletionVectors.keepFunction): the probe rides
      // whole-stage codegen with a per-file memo, so DV-carrying files pay
      // one bitmap lookup per row instead of a boxed Scala-UDF call
      val keep = DeletionVectors.keepFunction(spark, dvMap)
      val df = withMetaCols(reader.parquet(adds.map(a => absolute(a.path)): _*))
        .filter(keep(col("__graft_file"), col("__graft_row")))
      if (withMeta) df else df.drop("__graft_file", "__graft_row")
    }

    val unioned = (plainDf.toSeq ++ dvDf.toSeq).reduce(_.unionByName(_))

    mapped match {
      case None => unioned
      case Some((log, phys)) =>
        val metaExtra =
          if (withMeta) Seq(col("__graft_file"), col("__graft_row")) else Seq.empty
        renameColumns(unioned, phys, log, metaExtra)
    }
  }

  /** Soft-delete all rows matching `condition` by writing deletion vectors
    * (delta protocol "Deletion Vectors"): matching row indexes are gathered
    * PER FILE as roaring bitmaps — built distributed in one keyed shuffle,
    * one small (path, bitmap bytes) row per affected file returning to the
    * driver — merged with the file's existing vector (replacement vectors
    * must be supersets), stored in one UUID-named DV file, and committed as
    * remove + re-add actions carrying the descriptors plus the
    * reader-version-3 protocol upgrade. Data files are untouched: the
    * merge-on-read shape that makes deletes O(deleted rows), not O(table).
    * Existing deletes are respected (the scan applies current vectors), so
    * repeated deletes compose. Returns the new version, or -1 if nothing
    * matched. */
  def deleteWhere(spark: SparkSession, dir: String, condition: Column): Long = {
    val snap = snapshot(spark, dir)
    if (snap.adds.isEmpty) return -1L
    val df = readSnapshot(spark, dir, snap, withMeta = true)
    import spark.implicits._
    val grouped = df
      .filter(condition)
      .select(col("__graft_file").as[String], col("__graft_row").as[Long])
      .groupByKey(_._1)
      .mapGroups { (path, rows) =>
        val bm = DeletionVectors.BitmapArray.fromRowIndexes(rows.map(_._2))
        (path, bm.serialize(), bm.cardinality)
      }
    // Driver-memory guard: the per-file bitmaps come back to the driver to
    // be merged and written into one DV file (that part of the protocol is
    // inherently driver-side). Bounded at gate scale, but a delete matching
    // most rows of a huge table would collect gigabytes — measure the
    // payload with an aggregate-scale job over the persisted bitmaps first
    // and refuse clearly instead of dying in collect(). The cap is
    // conf-tunable; raising it is an explicit operator decision.
    grouped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cap = spark.conf
        .getOption(DeltaRead.MaxDvPayloadBytesKey)
        .map { raw =>
          try raw.trim.toLong
          catch {
            case e: NumberFormatException =>
              throw new IllegalArgumentException(
                s"${DeltaRead.MaxDvPayloadBytesKey} must be a byte count " +
                  s"(long), got '$raw'",
                e
              )
          }
        }
        .getOrElse(DeltaRead.DefaultMaxDvPayloadBytes)
      val payload = grouped
        .toDF("path", "bytes", "card")
        .agg(coalesce(sum(length(col("bytes"))), lit(0L)))
        .head()
        .getLong(0)
      if (payload > cap)
        throw new IllegalStateException(
          s"deleteWhere on $dir would collect $payload bytes of deletion-vector " +
            s"bitmaps to the driver (cap $cap). The delete matches too many rows " +
            s"for a merge-on-read DV delete — rewrite the table instead (filter + " +
            s"overwrite), or raise ${DeltaRead.MaxDvPayloadBytesKey} explicitly."
        )
      val matched = grouped.collect()
      if (matched.isEmpty) return -1L
      deleteCommit(spark, dir, snap, matched)
    } finally grouped.unpersist()
  }

  private def deleteCommit(
      spark: SparkSession,
      dir: String,
      snap: Snapshot,
      matched: Array[(String, Array[Byte], Long)]
  ): Long = {
    val root = new Path(dir)
    val fs = fsOf(root, spark)

    // map scanned absolute paths back to the snapshot's relative add paths
    // by qualified-path equality (same normalization as the read side)
    val byQualified = snap.adds
      .map(a => fs.makeQualified(new Path(root, a.path)).toString -> a)
      .toMap
    val affected: Seq[(AddFile, DeletionVectors.BitmapArray)] = matched.toSeq
      .map { case (path, bytes, _) =>
        val add = byQualified.getOrElse(
          new Path(path).toString,
          throw new IllegalStateException(s"no add entry for scanned file $path")
        )
        val fresh = DeletionVectors.BitmapArray.deserialize(bytes)
        val merged = add.deletionVector match {
          case Some(old) =>
            DeletionVectors.BitmapArray.union(DeletionVectors.read(fs, root, old), fresh)
          case None => fresh
        }
        add -> merged
      }
      .sortBy(_._1.path)

    val version = snap.version + 1
    // deterministic per-version DV-file identity (no RNG: bench fixtures and
    // replays must be reproducible)
    val uuid = java.util.UUID.nameUUIDFromBytes(
      s"$dir#dv#$version".getBytes(StandardCharsets.UTF_8)
    )
    val descriptors = DeletionVectors.writeFile(fs, root, affected.map(_._2), uuid)

    val readerFeatures = Seq("deletionVectors") ++
      (if (snap.columnMapped) Seq("columnMapping") else Seq.empty)
    val featJson = readerFeatures.map(f => s""""$f"""").mkString(",")
    val protocolLine =
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        s""""readerFeatures":[$featJson],"writerFeatures":[$featJson]}}"""
    val removes = affected.map { case (a, _) =>
      s"""{"remove":{"path":${mapper.writeValueAsString(a.path)},"dataChange":true}}"""
    }
    val adds = affected.zip(descriptors).map { case ((a, _), d) =>
      val pv = mapper.writeValueAsString(a.partitionValues.asJava)
      val dv =
        s"""{"storageType":${mapper.writeValueAsString(d.storageType)},""" +
          s""""pathOrInlineDv":${mapper.writeValueAsString(d.pathOrInlineDv)},""" +
          s""""offset":${d.offset.getOrElse(0)},"sizeInBytes":${d.sizeInBytes},""" +
          s""""cardinality":${d.cardinality}}"""
      s"""{"add":{"path":${mapper.writeValueAsString(a.path)},"partitionValues":$pv,""" +
        s""""size":${a.size},"modificationTime":${a.modificationTime},""" +
        s""""dataChange":true,"deletionVector":$dv}}"""
    }
    // removes precede adds: this replay applies lines in order, so the
    // re-add (with its new vector) survives the remove of the old entry
    writeCommitAtomic(fs, new Path(root, "_delta_log"), version, removes ++ adds ++ Seq(protocolLine))
    version
  }

  /** Append `df` to the delta table at `dir` as one new commit: the new
    * rows are written as parquet parts into the table directory, then a
    * single `<latest+1>.json` commit adds exactly those files. A location
    * holding no table yet ([[lookup]] is None: no `_delta_log`, or one with
    * no commit and no checkpoint) is bootstrapped: the append writes
    * version 0 (protocol + metaData, partitioned by `partitionBy`) and
    * never deletes what the directory already holds. Single-writer only — real
    * concurrent commits need a coordinator (the reference gets one from the
    * deltalake crate's LogStore); this covers the ingest-append shape so log
    * replay, time travel and checkpointing can be exercised end-to-end.
    * Returns the new version. */
  def append(df: DataFrame, dir: String, partitionBy: Seq[String] = Seq.empty): Long =
    commit(df, dir, lookup(df.sparkSession, dir), partitionBy, Seq.empty)

  /** The one write-and-commit path behind [[create]], [[append]] and
    * [[appendIdempotent]]: write `df` as parquet parts into `dir`, then
    * commit `actions` plus one add per new data file as the version after
    * `snap` in one atomic commit file. With `snap` None the commit is
    * version 0 and leads with the protocol and metaData actions for `df`'s
    * schema, partitioned by `partitionBy`, in column-mapping mode `name`
    * when `columnMapping` is set. */
  private def commit(
      df: DataFrame,
      dir: String,
      snap: Option[Snapshot],
      partitionBy: Seq[String],
      actions: Seq[String],
      columnMapping: Boolean = false
  ): Long = {
    val root = new Path(dir)
    val fs = fsOf(root, df.sparkSession)
    val (version, header, mapped, partitionColumns) = snap match {
      case Some(s) =>
        // an append MUST match the table's declared partitioning — a flat
        // append into a hive-layout table (or vice versa) corrupts the
        // directory structure for every later read. Defaults to the table's
        // own partition columns so plain append(df, dir) does the right thing.
        require(
          partitionBy.isEmpty || partitionBy == s.partitionColumns,
          s"append partitionBy $partitionBy != table partitionColumns ${s.partitionColumns}"
        )
        (s.version + 1, Seq.empty[String], mapping(s, dir), s.partitionColumns)
      case None =>
        val logical = if (columnMapping) withPhysicalNames(df.schema, dir) else df.schema
        (0L, versionZero(logical, dir, partitionBy, columnMapping),
          Some(mapping(logical)).filter(_ => columnMapping), partitionBy)
    }
    // column-mapped tables store PHYSICAL names on disk: rename the logical
    // input (and the partition directories) before writing
    val (outDf, outPartitionBy) = mapped match {
      case Some((log, phys)) =>
        val physByLogical = log.fieldNames.zip(phys.fieldNames).toMap
        (renameColumns(df, log, phys), partitionColumns.map(physByLogical))
      case None => (df, partitionColumns)
    }
    val before = dataFileStatuses(fs, root).keySet
    val writer = outDf.write.mode("append")
    (if (outPartitionBy.nonEmpty) writer.partitionBy(outPartitionBy: _*) else writer)
      .parquet(dir)
    dropWriteMarkers(fs, root)
    val after = dataFileStatuses(fs, root)
    val added = (after.keySet -- before).toSeq.sorted
    val lines = header ++ actions ++ added.map(name => addActionJson(name, after(name)))
    writeCommitAtomic(fs, new Path(root, "_delta_log"), version, lines)
    version
  }

  /** Spark leaves `_SUCCESS` markers at the write root; delta lists its
    * files in the log instead, so the markers are noise. */
  private def dropWriteMarkers(fs: FileSystem, root: Path): Unit =
    fs.listStatus(root)
      .filter(s => s.isFile && s.getPath.getName.startsWith("_"))
      .foreach(s => fs.delete(s.getPath, false))

  /** Commits between checkpoints [[appendIdempotent]] folds: the
    * log-compaction cadence that keeps a long-lived streamed table's replay
    * O(interval), not O(table age). */
  private val CheckpointInterval = 10

  /** Exactly-once append: commit `df` together with a `txn` marker
    * (appId, txnVersion) in the SAME atomic commit file; if the snapshot
    * already holds `txnVersion` (or later) for `appId`, do nothing. A crash
    * before the commit move leaves no commit at all — the replayed batch
    * then re-appends cleanly (its orphaned parquet parts are never
    * referenced by any commit and stay invisible to readers). Returns true
    * when the append actually committed. */
  def appendIdempotent(
      df: DataFrame,
      dir: String,
      appId: String,
      txnVersion: Long
  ): Boolean =
    appendIdempotent(df.sparkSession, dir, appId, txnVersion)(_ => df)

  /** [[appendIdempotent]] of the frame `build` makes from the table's
    * snapshot (None before the first commit). One [[lookup]] serves the
    * marker check, `build` and the commit, so a call lists the log once and
    * reads each commit file once; `build` runs only when the marker check
    * passes, so a replayed batch builds nothing. The first call bootstraps
    * the table.
    *
    * Every [[CheckpointInterval]] (10) versions a checkpoint is folded; it
    * carries the txn markers, so replays stay detectable after commits
    * older than it are cleaned. */
  def appendIdempotent(spark: SparkSession, dir: String, appId: String, txnVersion: Long)(
      build: Option[Snapshot] => DataFrame
  ): Boolean = {
    val snap = lookup(spark, dir)
    if (snap.exists(_.txns.get(appId).exists(_ >= txnVersion))) return false
    val txnLine =
      s"""{"txn":{"appId":${mapper.writeValueAsString(appId)},"version":$txnVersion}}"""
    val version = commit(build(snap), dir, snap, Seq.empty, Seq(txnLine))
    if (version > 0 && version % CheckpointInterval == 0)
      checkpoint(spark, dir)
    true
  }

  // ---------- checkpoint ----------

  /** A checkpoint row: one nullable struct per action kind. */
  private lazy val checkpointSchema: StructType = StructType.fromDDL(
    "protocol STRUCT<minReaderVersion: INT, minWriterVersion: INT, " +
      "readerFeatures: ARRAY<STRING>, writerFeatures: ARRAY<STRING>>, " +
      "metaData STRUCT<id: STRING, format: STRUCT<provider: STRING, " +
      "options: MAP<STRING, STRING>>, schemaString: STRING, " +
      "partitionColumns: ARRAY<STRING>, configuration: MAP<STRING, STRING>>, " +
      "add STRUCT<path: STRING, partitionValues: MAP<STRING, STRING>, size: BIGINT, " +
      "modificationTime: BIGINT, dataChange: BOOLEAN, deletionVector: STRUCT<" +
      "storageType: STRING, pathOrInlineDv: STRING, offset: INT, sizeInBytes: INT, " +
      "cardinality: BIGINT>>, " +
      "txn STRUCT<appId: STRING, version: BIGINT>"
  )

  /** Fold the snapshot at the latest version into a parquet checkpoint
    * (single-file, or `parts`-way multi-part per the delta protocol's
    * `<v>.checkpoint.<i>.<n>.parquet` naming), so later reads replay only
    * commits past it — the log-compaction step that keeps replay
    * O(checkpoint interval), not O(table age). `_last_checkpoint` is
    * written last, as the hint other readers use; [[lookup]] finds the
    * checkpoint by listing.
    *
    * The checkpoint rows are protocol-compliant: a `protocol` action, a
    * complete `metaData` action (id / format / schemaString /
    * partitionColumns / configuration — the reader consumes partitionColumns,
    * so a partitioned table stays partitioned across a checkpoint), and one
    * `add` per active file carrying partitionValues / size /
    * modificationTime (`dataChange=false`, as the protocol requires of
    * checkpoint adds), and one `txn` per appId with its highest version.
    * Returns the checkpointed version. */
  def checkpoint(spark: SparkSession, dir: String, parts: Int = 1): Long = {
    require(parts >= 1, s"checkpoint parts must be >= 1, got $parts")
    val snap = snapshot(spark, dir)
    val root = new Path(dir)
    val fs = fsOf(root, spark)
    val logDir = new Path(root, "_delta_log")

    // a snapshot using table features (vectors, mapping) must re-declare
    // them: the checkpoint replaces the JSON commits that carried the
    // protocol upgrade
    val features = Seq(
      "deletionVectors" -> snap.adds.exists(_.deletionVector.isDefined),
      "columnMapping" -> snap.columnMapped
    ).collect { case (f, true) => f }
    val protocolRow =
      if (features.isEmpty) Row(Row(1, 2, null, null), null, null, null)
      else Row(Row(3, 7, features, features), null, null, null)
    // id must be stable for a given location when the log never declared one
    val tableId = snap.tableId.getOrElse(locationId(dir))
    val metaRow = Row(
      null,
      Row(
        tableId,
        Row("parquet", Map.empty[String, String]),
        snap.schema.map(_.json).orNull,
        snap.partitionColumns,
        snap.configuration
      ),
      null,
      null
    )
    val addRows = snap.adds.map { a =>
      val dvRow = a.deletionVector
        .map(d =>
          Row(d.storageType, d.pathOrInlineDv, d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)
        )
        .orNull
      Row(
        null,
        null,
        Row(a.path, a.partitionValues, a.size, a.modificationTime, false, dvRow),
        null
      )
    }
    val txnRows = snap.txns.toSeq.sorted.map { case (appId, v) =>
      Row(null, null, null, Row(appId, v))
    }
    val headRows = Seq(protocolRow, metaRow) ++ txnRows

    val groups: Seq[Seq[Row]] =
      if (parts == 1) Seq(headRows ++ addRows)
      else
        (0 until parts).map { i =>
          val slice = addRows.zipWithIndex.collect {
            case (r, j) if j % parts == i => r
          }
          if (i == 0) headRows ++ slice else slice
        }

    val targets = checkpointPaths(
      logDir,
      snap.version,
      if (parts == 1) None else Some(parts)
    )
    groups.zip(targets).foreach { case (rows, target) =>
      writeSingleParquet(spark, fs, logDir, rows, target)
    }

    val partsField = if (parts == 1) "" else s""","parts":$parts"""
    writeAtomic(
      fs,
      new Path(logDir, "_last_checkpoint"),
      s"""{"version":${snap.version},"size":${headRows.size + addRows.size}$partsField}""",
      overwrite = true
    )
    snap.version
  }

  /** Write `rows` as exactly one parquet file at `target`, staging through a
    * temp dir under the log dir (same filesystem, so the final rename is a
    * metadata move on schemeful stores too). */
  private def writeSingleParquet(
      spark: SparkSession,
      fs: FileSystem,
      logDir: Path,
      rows: Seq[Row],
      target: Path
  ): Unit = {
    val tmp = new Path(logDir, s".cp-tmp-${java.util.UUID.randomUUID()}")
    spark
      .createDataFrame(spark.sparkContext.parallelize(rows, 1), checkpointSchema)
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(tmp.toString)
    val part = fs
      .listStatus(tmp)
      .find(_.getPath.getName.endsWith(".parquet"))
      .getOrElse(
        throw new IllegalStateException("checkpoint write produced no file")
      )
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(part.getPath, target))
      throw new IllegalStateException(s"checkpoint rename to $target failed")
    fs.delete(tmp, true)
  }

  // ---------- writing ----------

  /** Relative paths of all parquet data files under `root` with their
    * statuses (size/modTime feed add actions), recursing into hive-layout
    * `key=value` partition directories, `_delta_log` excluded. */
  private def dataFileStatuses(
      fs: FileSystem,
      root: Path
  ): Map[String, FileStatus] = {
    def walk(status: FileStatus, prefix: String): Seq[(String, FileStatus)] = {
      val name = status.getPath.getName
      if (name.startsWith("_") || name.startsWith(".")) Seq.empty
      else if (status.isDirectory)
        fs.listStatus(status.getPath).toSeq.flatMap(walk(_, prefix + name + "/"))
      else if (name.endsWith(".parquet")) Seq(prefix + name -> status)
      else Seq.empty
    }
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).toSeq.flatMap(walk(_, "")).toMap
  }

  private def addActionJson(name: String, status: FileStatus): String =
    s"""{"add":{"path":${mapper.writeValueAsString(name)},"partitionValues":${partitionValuesJson(name)},""" +
      s""""size":${status.getLen},"modificationTime":${status.getModificationTime},""" +
      s""""dataChange":true}}"""

  /** The `partitionValues` JSON for a relative data-file path: one entry per
    * `key=value` directory segment. Directory names carry Hive escaping —
    * %-encoded special characters and the `__HIVE_DEFAULT_PARTITION__`
    * null sentinel — but the delta protocol records the ACTUAL values
    * (null as JSON null), so unescape before serializing. */
  private def partitionValuesJson(relPath: String): String = {
    val kvs = relPath
      .split("/")
      .dropRight(1)
      .toSeq
      .filter(_.contains("="))
      .map { seg =>
        val Array(k, v) = seg.split("=", 2)
        val key = mapper.writeValueAsString(unescapePathName(k))
        val value =
          if (v == DEFAULT_PARTITION_NAME) "null"
          else mapper.writeValueAsString(unescapePathName(v))
        s"$key:$value"
      }
    s"{${kvs.mkString(",")}}"
  }

  /** Replace whatever is at `dir` with a delta table holding `df`:
    * distributed parquet write (hive-layout when `partitionBy` is set), then
    * a version-0 commit (protocol + metaData + one add per data file with
    * its partitionValues, all in one atomic commit file). Single-writer
    * create; [[append]] adds commits, [[checkpoint]] folds them.
    *
    * With `columnMapping=true` the table is created in
    * `delta.columnMapping.mode=name`: each top-level column gets a stable
    * `col-<uuid>` physical name on disk (uuid derived from dir+name — no
    * RNG, so recreates are byte-identical), the logical schema carries the
    * protocol's columnMapping.id / physicalName field metadata, partition
    * directories use physical names while `metaData.partitionColumns` keeps
    * the logical ones, and the protocol declares reader version 3 with the
    * columnMapping feature. */
  def create(
      df: DataFrame,
      dir: String,
      partitionBy: Seq[String] = Seq.empty,
      columnMapping: Boolean = false
  ): Unit = {
    val root = new Path(dir)
    val fs = fsOf(root, df.sparkSession)
    if (fs.exists(root)) fs.delete(root, true)
    commit(df, dir, None, partitionBy, Seq.empty, columnMapping)
  }

  /** `schema` with the column-mapping field metadata on each top-level
    * field: its 1-based id and a `col-<uuid>` physical name. */
  private def withPhysicalNames(schema: StructType, dir: String): StructType =
    StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      val phys = "col-" + java.util.UUID.nameUUIDFromBytes(
        s"$dir#${f.name}".getBytes(StandardCharsets.UTF_8)
      )
      f.copy(metadata =
        new MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", (i + 1).toLong)
          .putString(PhysicalNameKey, phys)
          .build()
      )
    })

  /** Table id for a location: stable (no wall-clock / RNG), so rewrites of
    * the same table are byte-identical. */
  private def locationId(dir: String): String =
    java.util.UUID.nameUUIDFromBytes(dir.getBytes(StandardCharsets.UTF_8)).toString

  /** The protocol and metaData lines that open version 0. */
  private def versionZero(
      logical: StructType,
      dir: String,
      partitionBy: Seq[String],
      columnMapping: Boolean
  ): Seq[String] = {
    def str(s: String): String = mapper.writeValueAsString(s)
    // metaData.partitionColumns stay LOGICAL; the directories (and each
    // add's partitionValues keys) carry the physical names
    val partCols = partitionBy.map(str).mkString(",")
    val protocolLine =
      if (!columnMapping) """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
      else
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}"""
    val config =
      if (!columnMapping) "{}"
      else
        s"""{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"${logical.length}"}"""
    Seq(
      protocolLine,
      s"""{"metaData":{"id":${str(locationId(dir))},"format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${str(logical.json)},"partitionColumns":[$partCols],"configuration":$config}}"""
    )
  }
}
