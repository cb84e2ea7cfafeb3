package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.util.UUID
import java.util.zip.CRC32

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.roaringbitmap.RoaringBitmap

/** Delta Lake deletion-vector support, built from the PUBLIC Delta protocol
  * (delta.io PROTOCOL.md, "Deletion Vectors" + "Deletion Vector Format"): a
  * deletion vector marks rows of one parquet data file as deleted by their
  * file-local row index, stored as a 64-bit roaring bitmap. The reference
  * reads DV-carrying tables through the deltalake crate
  * (reference: src/catalog_provider/glue.rs:214-237); this is the Spark-side
  * equivalent.
  *
  * On-disk layout per the protocol:
  *  - descriptor (in the `add` action): `storageType` `u` (UUID-named file,
  *    relative to the table root), `p` (absolute path) or `i` (inline);
  *    `pathOrInlineDv`; byte `offset` into the file (absent for `i`);
  *    `sizeInBytes` of the serialized bitmap; `cardinality`.
  *  - DV file: a 1-byte format version (1), then per stored vector at its
  *    offset: a 4-byte big-endian data size, the serialized bitmap, and a
  *    4-byte big-endian CRC-32 checksum of the bitmap bytes.
  *  - serialized bitmap ("portable" RoaringBitmapArray): 4-byte little-endian
  *    magic `1681511377`, an 8-byte little-endian count of 32-bit bitmaps,
  *    then per bitmap a 4-byte little-endian key (the high 32 bits of the row
  *    index) followed by a standard portable 32-bit RoaringBitmap
  *    (org.roaringbitmap, already on Spark's classpath).
  *  - `u` paths: `pathOrInlineDv` is `[<prefix>/]<z85-encoded UUID>`; the
  *    file on disk is `<root>/[<prefix>/]deletion_vector_<uuid>.bin`.
  */
object DeletionVectors {

  val FormatVersion: Byte = 1
  val PortableMagic: Int = 1681511377

  /** The `deletionVector` struct of an `add` action. */
  final case class Descriptor(
      storageType: String,
      pathOrInlineDv: String,
      offset: Option[Int],
      sizeInBytes: Int,
      cardinality: Long
  ) {

    /** Stable identity of this vector (used as the per-JVM cache key). */
    def uniqueId: String =
      s"$storageType$pathOrInlineDv${offset.map(o => s"@$o").getOrElse("")}"

    /** Absolute path of the DV file for on-disk storage types. For `u`,
      * the encoded UUID is always the LAST 20 characters (the z85 alphabet
      * itself contains `/`, so no separator split is possible); anything
      * before it is an optional directory prefix. */
    def absolutePath(tableRoot: Path): Path = storageType match {
      case "p" => new Path(pathOrInlineDv)
      case "u" =>
        val encoded = pathOrInlineDv.takeRight(20)
        val prefix = pathOrInlineDv.dropRight(20).stripSuffix("/")
        val base = if (prefix.isEmpty) tableRoot else new Path(tableRoot, prefix)
        new Path(base, s"deletion_vector_${z85DecodeUuid(encoded)}.bin")
      case other =>
        throw new IllegalArgumentException(s"deletion vector storageType '$other' has no path")
    }
  }

  // ---------- Z85 (ZeroMQ base85) — the protocol's UUID/inline encoding ----------

  private val Z85Chars =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Index: Array[Byte] = {
    val idx = Array.fill[Byte](128)(-1)
    Z85Chars.zipWithIndex.foreach { case (c, i) => idx(c.toInt) = i.toByte }
    idx
  }

  /** Z85-encode `bytes` (length must be a multiple of 4). */
  def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, s"z85 input length ${bytes.length} not a multiple of 4")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (bytes(i + j) & 0xffL); j += 1 }
      var div = 85L * 85 * 85 * 85
      while (div >= 1) {
        sb.append(Z85Chars(((v / div) % 85).toInt))
        div /= 85
      }
      i += 4
    }
    sb.toString
  }

  /** Z85-decode `s` (length must be a multiple of 5). */
  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"z85 input length ${s.length} not a multiple of 5")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    var o = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Index(c.toInt) else -1
        require(d >= 0, s"invalid z85 character '$c'")
        v = v * 85 + d
        j += 1
      }
      var shift = 24
      while (shift >= 0) { out(o) = ((v >> shift) & 0xff).toByte; o += 1; shift -= 8 }
      i += 5
    }
    out
  }

  /** Encode a UUID as the protocol's 20-character z85 string. */
  def z85EncodeUuid(uuid: UUID): String = {
    val buf = ByteBuffer.allocate(16)
    buf.putLong(uuid.getMostSignificantBits)
    buf.putLong(uuid.getLeastSignificantBits)
    z85Encode(buf.array())
  }

  def z85DecodeUuid(s: String): UUID = {
    val bytes = z85Decode(s)
    require(bytes.length == 16, s"decoded UUID has ${bytes.length} bytes")
    val buf = ByteBuffer.wrap(bytes)
    new UUID(buf.getLong, buf.getLong)
  }

  // ---------- portable RoaringBitmapArray serialization ----------

  /** A 64-bit row-index set as the protocol stores it: high 32 bits key a
    * 32-bit roaring bitmap of the low 32 bits. Keys kept sorted. */
  final case class BitmapArray(keys: Array[Int], bitmaps: Array[RoaringBitmap]) {

    def contains(rowIndex: Long): Boolean = {
      val key = (rowIndex >>> 32).toInt
      val i = java.util.Arrays.binarySearch(keys, key)
      i >= 0 && bitmaps(i).contains(rowIndex.toInt)
    }

    def cardinality: Long = bitmaps.map(_.getLongCardinality).sum

    def serialize(): Array[Byte] = {
      val size = 4 + 8 + bitmaps.map(4 + _.serializedSizeInBytes()).sum
      val buf = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(PortableMagic)
      buf.putLong(keys.length.toLong)
      var i = 0
      while (i < keys.length) {
        buf.putInt(keys(i))
        bitmaps(i).serialize(buf)
        i += 1
      }
      buf.array()
    }
  }

  object BitmapArray {

    /** Build from 64-bit row indexes (any order). */
    def fromRowIndexes(rows: Iterator[Long]): BitmapArray = {
      val byKey = scala.collection.mutable.TreeMap.empty[Int, RoaringBitmap]
      rows.foreach { r =>
        require(r >= 0, s"negative row index $r")
        byKey.getOrElseUpdate((r >>> 32).toInt, new RoaringBitmap).add(r.toInt)
      }
      BitmapArray(byKey.keys.toArray, byKey.values.toArray)
    }

    /** Set union — the protocol requires a replacement vector to be a
      * superset of the one it replaces, so new deletes always merge with
      * the file's existing vector. */
    def union(a: BitmapArray, b: BitmapArray): BitmapArray = {
      val byKey = scala.collection.mutable.TreeMap.empty[Int, RoaringBitmap]
      a.keys.indices.foreach(i => byKey(a.keys(i)) = a.bitmaps(i).clone())
      b.keys.indices.foreach { i =>
        byKey.get(b.keys(i)) match {
          case Some(existing) => existing.or(b.bitmaps(i))
          case None           => byKey(b.keys(i)) = b.bitmaps(i).clone()
        }
      }
      BitmapArray(byKey.keys.toArray, byKey.values.toArray)
    }

    def deserialize(bytes: Array[Byte]): BitmapArray = {
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val magic = buf.getInt
      require(magic == PortableMagic, s"bad deletion-vector magic $magic")
      val n = buf.getLong
      require(n >= 0 && n <= Int.MaxValue, s"bad bitmap count $n")
      val keys = new Array[Int](n.toInt)
      val bitmaps = new Array[RoaringBitmap](n.toInt)
      var i = 0
      while (i < n) {
        keys(i) = buf.getInt
        val bm = new RoaringBitmap
        bm.deserialize(buf)
        // advance past the bitmap we just read (deserialize(ByteBuffer)
        // does not move the buffer position)
        buf.position(buf.position() + bm.serializedSizeInBytes())
        bitmaps(i) = bm
        i += 1
      }
      BitmapArray(keys, bitmaps)
    }
  }

  // ---------- DV file IO (Hadoop FileSystem — any registered scheme) ----------

  /** Write `vectors` (insertion-ordered) into one DV file under `root`,
    * returning a descriptor per input vector. The file carries the 1-byte
    * format version then each vector as `<size><data><crc32>`; descriptors
    * use storageType `u` with the file's UUID. */
  def writeFile(
      fs: FileSystem,
      root: Path,
      vectors: Seq[BitmapArray],
      uuid: UUID
  ): Seq[Descriptor] = {
    val encoded = z85EncodeUuid(uuid)
    val target = new Path(root, s"deletion_vector_$uuid.bin")
    val out = fs.create(target, true)
    val descriptors = Seq.newBuilder[Descriptor]
    try {
      out.writeByte(FormatVersion.toInt)
      var offset = 1
      vectors.foreach { v =>
        val data = v.serialize()
        val crc = new CRC32
        crc.update(data)
        out.writeInt(data.length)
        out.write(data)
        out.writeInt(crc.getValue.toInt)
        descriptors += Descriptor("u", encoded, Some(offset), data.length, v.cardinality)
        offset += 4 + data.length + 4
      }
    } finally out.close()
    descriptors.result()
  }

  /** Read one vector per its descriptor (any storage type). */
  def read(fs: FileSystem, tableRoot: Path, d: Descriptor): BitmapArray =
    d.storageType match {
      case "i" => BitmapArray.deserialize(z85Decode(d.pathOrInlineDv))
      case "u" | "p" =>
        val in = fs.open(d.absolutePath(tableRoot))
        try {
          in.seek(d.offset.getOrElse(0).toLong)
          val size = in.readInt()
          require(
            size == d.sizeInBytes,
            s"deletion vector size $size != descriptor sizeInBytes ${d.sizeInBytes}"
          )
          val data = new Array[Byte](size)
          in.readFully(data)
          val storedCrc = in.readInt()
          val crc = new CRC32
          crc.update(data)
          require(storedCrc == crc.getValue.toInt, "deletion vector checksum mismatch")
          BitmapArray.deserialize(data)
        } finally in.close()
      case other =>
        throw new IllegalArgumentException(s"unknown deletion vector storageType '$other'")
    }

  // ---------- executor-side cache ----------

  /** Per-JVM deserialized-bitmap cache for the read path: the filter runs
    * per row, so the broadcast serialized bytes are deserialized once per
    * executor per vector, keyed by the vector's uniqueId. */
  private val cache = TrieMap.empty[String, BitmapArray]

  def cachedDeserialize(uniqueId: String, bytes: Array[Byte]): BitmapArray =
    cache.getOrElseUpdate(uniqueId, BitmapArray.deserialize(bytes))

  // ---------- codegen row filter ----------

  /** Per-task probe against the broadcast (qualified path → deletion
    * vector) map, with a last-file memo: a parquet split reads one file, so
    * the Hadoop-Path normalization and map lookup run once per file
    * transition and the steady-state per-row cost is a single cached
    * roaring-bitmap `contains` — no per-row string allocation, unlike the
    * Scala-UDF formulation this replaces. */
  final class DvProbe(
      bc: org.apache.spark.broadcast.Broadcast[Map[String, (String, Array[Byte])]],
      vectors: Int
  ) extends Serializable {
    // plan text names the probe by content, not by identity hash, so two
    // plans of one snapshot print the same
    override def toString: String = s"DvProbe($vectors vectors)"

    @transient private var lastPath: org.apache.spark.unsafe.types.UTF8String = _
    @transient private var lastBitmap: BitmapArray = _

    def deleted(
        path: org.apache.spark.unsafe.types.UTF8String,
        row: Long
    ): Boolean = {
      if (lastPath == null || !lastPath.equals(path)) {
        // clone: codegen hands UTF8Strings backed by reused row buffers
        lastPath = path.clone()
        lastBitmap = bc.value.get(new Path(path.toString).toString) match {
          case Some((id, bytes)) => cachedDeserialize(id, bytes)
          case None              => null // file carries no vector: nothing deleted
        }
      }
      lastBitmap != null && lastBitmap.contains(row)
    }
  }

  /** `graft_dv_deleted`: true iff this file-local row index is marked
    * deleted by the snapshot's vectors. Whole-stage-codegen'd (the same
    * escalation-ladder treatment as every other hot predicate — a Scala UDF
    * here boxed both arguments and broke the codegen span of the scan it
    * filters). */
  case class DvRowDeleted(
      left: org.apache.spark.sql.catalyst.expressions.Expression,
      right: org.apache.spark.sql.catalyst.expressions.Expression,
      probe: DvProbe
  ) extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    import org.apache.spark.sql.types._

    override def inputTypes: Seq[DataType] = Seq(StringType, LongType)
    override def dataType: DataType = BooleanType
    override def prettyName: String = "graft_dv_deleted"

    override protected def nullSafeEval(p: Any, r: Any): Any =
      probe.deleted(
        p.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        r.asInstanceOf[Long]
      )

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftDvProbe", probe, classOf[DvProbe].getName)
      nullSafeCodeGen(ctx, ev, (p, r) => s"${ev.value} = $ref.deleted($p, $r);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression,
        newRight: Expression
    ): Expression = copy(left = newLeft, right = newRight)
  }

  /** `keep(file, row)` for this snapshot's DV set: the negated
    * [[DvRowDeleted]] filter over a fresh broadcast of the vectors. Nothing
    * is registered anywhere, so the broadcast lives exactly as long as the
    * plans that reference it. */
  def keepFunction(
      spark: org.apache.spark.sql.SparkSession,
      dvMap: Map[String, (String, Array[Byte])]
  ): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumns.{column, expression}
    val probe = new DvProbe(spark.sparkContext.broadcast(dvMap), dvMap.size)
    (file, row) => !column(DvRowDeleted(expression(file), expression(row), probe))
  }
}
