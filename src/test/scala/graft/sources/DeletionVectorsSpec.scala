package graft.sources

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DeletionVectors._

class DeletionVectorsSpec extends AnyFunSuite {

  test("z85 matches the ZeroMQ reference vector and round-trips") {
    // RFC 32/Z85's published test case: 0x86 0x4F 0xD2 0x6F 0xB5 0x59 0xF7
    // 0x5B encodes to "HelloWorld"
    val bytes =
      Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte)
    assert(z85Encode(bytes) == "HelloWorld")
    assert(z85Decode("HelloWorld").toSeq == bytes.toSeq)

    val uuid = UUID.fromString("00112233-4455-6677-8899-aabbccddeeff")
    assert(z85EncodeUuid(uuid).length == 20)
    assert(z85DecodeUuid(z85EncodeUuid(uuid)) == uuid)

    intercept[IllegalArgumentException](z85Decode("ab"))
    intercept[IllegalArgumentException](z85Decode("abc~d"))
  }

  test("bitmap arrays round-trip through the portable format, " +
    "including >32-bit row indexes") {
    val rows = Seq(0L, 1L, 77L, 4095L, (1L << 32) | 5L, (7L << 32) | 123L)
    val bm = BitmapArray.fromRowIndexes(rows.iterator)
    assert(bm.cardinality == rows.size.toLong)
    rows.foreach(r => assert(bm.contains(r), s"missing $r"))
    assert(!bm.contains(2L) && !bm.contains((2L << 32) | 5L))

    val back = BitmapArray.deserialize(bm.serialize())
    rows.foreach(r => assert(back.contains(r)))
    assert(back.cardinality == rows.size.toLong)

    val merged = BitmapArray.union(
      BitmapArray.fromRowIndexes(Iterator(1L, (1L << 32) | 5L)),
      BitmapArray.fromRowIndexes(Iterator(2L, (3L << 32) | 9L))
    )
    Seq(1L, 2L, (1L << 32) | 5L, (3L << 32) | 9L).foreach(r => assert(merged.contains(r)))
    assert(merged.cardinality == 4L)
  }

  test("DV file write/read: version byte, offsets, checksums, multiple vectors") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_file").toString
    val root = new Path(dir)
    val fs = FileSystem.get(root.toUri, new Configuration())

    val a = BitmapArray.fromRowIndexes(Iterator(1L, 2L, 3L))
    val b = BitmapArray.fromRowIndexes((0L until 10000L by 3L).iterator)
    val uuid = UUID.nameUUIDFromBytes("graft-dv-spec".getBytes)
    val ds = writeFile(fs, root, Seq(a, b), uuid)

    assert(ds.size == 2)
    assert(ds.head.offset.contains(1)) // first vector right after the version byte
    assert(ds.forall(_.storageType == "u"))
    assert(ds(0).cardinality == 3L && ds(1).cardinality == b.cardinality)

    val backA = DeletionVectors.read(fs, root, ds(0))
    val backB = DeletionVectors.read(fs, root, ds(1))
    assert(Seq(1L, 2L, 3L).forall(backA.contains))
    assert(!backA.contains(0L))
    assert((0L until 10000L by 3L).forall(backB.contains))
    assert(!backB.contains(1L))

    // corruption is detected, not silently read
    val target = ds.head.absolutePath(root)
    val bytes = {
      val in = fs.open(target)
      try {
        val buf = new Array[Byte](fs.getFileStatus(target).getLen.toInt)
        in.readFully(buf); buf
      } finally in.close()
    }
    bytes(6) = (bytes(6) ^ 0x7f).toByte // flip a payload byte
    val out = fs.create(target, true)
    try out.write(bytes)
    finally out.close()
    intercept[IllegalArgumentException](DeletionVectors.read(fs, root, ds(0)))
  }

  test("reading a DV table registers no function: three deleteWhere + read " +
    "cycles give the right rows and leave no graft_dv_deleted* behind") {
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_noreg").toString
    DeltaRead.create(spark.range(0, 60).toDF("id").repartition(3), dir)
    def dvFunctions = spark.sessionState.functionRegistry
      .listFunction()
      .filter(_.funcName.startsWith("graft_dv_deleted"))
    for ((cond, left) <- Seq(($"id" % 10 === 0, 54L), ($"id" < 5, 50L), ($"id" >= 55, 45L))) {
      DeltaRead.deleteWhere(spark, dir, cond)
      assert(DeltaRead.read(spark, dir).count() == left)
      assert(dvFunctions.isEmpty)
    }
  }
}
