package graft.streaming

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.sources.DeltaRead

/** RawLocalFileSystem under the "graftcount" scheme that counts `open`
  * calls per file name. Top-level class: Hadoop instantiates it
  * reflectively from the `fs.graftcount.impl` config key. */
class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftcount:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.opens.computeIfAbsent(f.getName, _ => new AtomicInteger).incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  val opens = new ConcurrentHashMap[String, AtomicInteger]()

  /** A fresh temp directory under the counting scheme, registered on
    * `spark`'s Hadoop conf. */
  def tempDir(spark: SparkSession, prefix: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftcount.impl", classOf[CountingFileSystem].getName)
    conf.set("fs.graftcount.impl.disable.cache", "true")
    "graftcount://" + Files.createTempDirectory(prefix).toString
  }

  /** Opens per delta-log file name (commits and `_last_checkpoint`) while
    * `body` runs. */
  def logOpens(body: => Unit): Map[String, Int] = {
    opens.clear()
    body
    opens.asScala.collect {
      case (name, n) if name.matches("\\d{20}\\.json") || name == "_last_checkpoint" => name -> n.get
    }.toMap
  }

  /** Each commit of `versions` opened once. */
  def once(versions: Range): Map[String, Int] = versions.map(v => f"$v%020d.json" -> 1).toMap
}

class DeltaSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("appendIdempotent: a replayed txn version is a no-op") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_delta_txn").toString
    // batch 0 bootstraps the table
    assert(DeltaRead.appendIdempotent(
      Seq(1L, 2L).toDF("id"), dir, "appA", txnVersion = 0L))
    assert(DeltaRead.appendIdempotent(
      Seq(3L).toDF("id"), dir, "appA", txnVersion = 1L))
    assert(DeltaRead.read(spark, dir).count() == 3)
    // replay of batch 1 (crash between data commit and offset commit)
    assert(!DeltaRead.appendIdempotent(
      Seq(3L).toDF("id"), dir, "appA", txnVersion = 1L))
    assert(DeltaRead.read(spark, dir).count() == 3)
    assert(DeltaRead.snapshot(spark, dir).txns.get("appA").contains(1L))
    // a DIFFERENT app's versions are tracked independently
    assert(DeltaRead.appendIdempotent(
      Seq(9L).toDF("id"), dir, "appB", txnVersion = 0L))
    assert(DeltaRead.read(spark, dir).count() == 4)
  }

  test("appendIdempotent: an appId with a quote commits valid JSON and replays as a no-op") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_delta_txn_quote").toString
    val appId = "a\"b"
    assert(DeltaRead.appendIdempotent(Seq(1L).toDF("id"), dir, appId, txnVersion = 0L))
    assert(DeltaRead.appendIdempotent(Seq(2L).toDF("id"), dir, appId, txnVersion = 1L))
    assert(!DeltaRead.appendIdempotent(Seq(2L).toDF("id"), dir, appId, txnVersion = 1L))
    assert(DeltaRead.snapshot(spark, dir).txns == Map(appId -> 1L))
    assert(DeltaRead.read(spark, dir).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("appendIdempotent: txn markers survive a checkpoint and the cleanup of the commits it folds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_delta_txn_cp").toString
    // app a commits v0..v10 (the tenth commit folds a checkpoint), app b v11
    (0L to 10L).foreach(v => assert(DeltaRead.appendIdempotent(Seq(v).toDF("id"), dir, "a", v)))
    assert(DeltaRead.appendIdempotent(Seq(100L).toDF("id"), dir, "b", 0L))
    val logDir = new File(dir, "_delta_log")
    assert(new File(logDir, f"${10L}%020d.checkpoint.parquet").isFile)
    // a log cleaner drops every commit the checkpoint covers: only the
    // checkpoint still knows app a's markers
    (0 to 10).foreach(v => Files.delete(new File(logDir, f"$v%020d.json").toPath))
    // the _last_checkpoint hint torn by a crash, then gone: the listing
    // still starts the replay at the checkpoint
    val hint = new File(logDir, "_last_checkpoint").toPath
    Files.write(hint, Files.readAllBytes(hint).take(5))
    assert(DeltaRead.read(spark, dir).count() == 12)
    Files.delete(hint)
    assert(DeltaRead.read(spark, dir).count() == 12)
    assert(!DeltaRead.appendIdempotent(Seq(5L).toDF("id"), dir, "a", 5L))
    assert(!DeltaRead.appendIdempotent(Seq(100L).toDF("id"), dir, "b", 0L))
    assert(DeltaRead.appendIdempotent(Seq(12L).toDF("id"), dir, "a", 12L))
    assert(DeltaRead.snapshot(spark, dir).txns == Map("a" -> 12L, "b" -> 0L))
    assert(DeltaRead.read(spark, dir).as[Long].collect().sorted.toSeq ==
      (0L to 10L) ++ Seq(12L, 100L))
  }

  test("appendIdempotent reads each commit file once per call") {
    import spark.implicits._
    import CountingFileSystem.{logOpens, once}
    val dir = CountingFileSystem.tempDir(spark, "graft_delta_opens")
    (0L to 2L).foreach(v => DeltaRead.appendIdempotent(Seq(v).toDF("id"), dir, "app", v))
    // the marker check and the commit share one snapshot
    assert(logOpens(assert(
      DeltaRead.appendIdempotent(Seq(3L).toDF("id"), dir, "app", 3L))) == once(0 to 2))
    // a replayed call reads the log once too, and commits nothing
    assert(logOpens(assert(
      !DeltaRead.appendIdempotent(Seq(3L).toDF("id"), dir, "app", 3L))) == once(0 to 3))
    assert(DeltaRead.read(spark, dir).count() == 4)
  }

  test("the replay start comes from the listing: no read opens _last_checkpoint") {
    import spark.implicits._
    import CountingFileSystem.{logOpens, once}
    val dir = CountingFileSystem.tempDir(spark, "graft_delta_hint")
    // v0..v11; the tenth commit folds a checkpoint and writes the hint
    (0L to 11L).foreach(v => DeltaRead.appendIdempotent(Seq(v).toDF("id"), dir, "app", v))
    assert(logOpens(assert(DeltaRead.read(spark, dir).count() == 12)) == once(11 to 11))
    assert(logOpens(assert(
      DeltaRead.appendIdempotent(Seq(12L).toDF("id"), dir, "app", 12L))) == once(11 to 11))
  }

  test("a replayed micro-batch never calls its transform") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = Files.createTempDirectory("graft_delta_replay").toString
    val ckpt = Files.createTempDirectory("graft_delta_replay_ck").toString
    val input = MemoryStream[Long]
    val calls = new AtomicInteger
    val tables = new ConcurrentHashMap[Long, Long]()
    def runOnce(): Seq[Long] = {
      val q = DeltaSink
        .exactlyOnce(input.toDF(), dir, "replay", (batch: DataFrame, table: Option[DataFrame]) => {
          tables.put(calls.getAndIncrement().toLong, table.fold(-1L)(_.count()))
          batch
        })
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      // the batchIds this run executed
      q.recentProgress.toSeq.map(_.batchId)
    }
    input.addData(1L, 2L)
    runOnce()
    input.addData(3L)
    runOnce()
    // batch 1 saw the table batch 0 committed; batch 0 saw none
    assert(calls.get == 2 && tables.asScala == Map(0L -> -1L, 1L -> 2L))
    // a crash after the delta commit, before the offset commit: the restart
    // replays batch 1 with the same batchId (MemoryStream has already
    // dropped its rows; the batchId is what the marker check reads)
    Seq("1", ".1.crc").foreach(f => Files.deleteIfExists(new File(ckpt, s"commits/$f").toPath))
    assert(runOnce() == Seq(1L))
    assert(calls.get == 2)
    assert(DeltaRead.read(spark, dir).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(DeltaRead.snapshot(spark, dir).txns == Map("replay" -> 1L))
  }

  test("streaming ingest lands every micro-batch exactly once") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = Files.createTempDirectory("graft_delta_stream").toString
    val ckpt = Files.createTempDirectory("graft_delta_stream_ck").toString
    val input = MemoryStream[Long]
    input.addData(1L, 2L, 3L)

    def runOnce(): Unit = {
      val q = DeltaSink
        .exactlyOnce(input.toDF(), dir, "ingest")
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    runOnce()
    assert(DeltaRead.read(spark, dir).count() == 3)

    input.addData(4L, 5L)
    runOnce()
    val ids = DeltaRead
      .read(spark, dir)
      .as[Long]
      .collect()
      .sorted
      .toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L))

    // restart with NO new data: nothing is re-appended
    runOnce()
    assert(DeltaRead.read(spark, dir).count() == 5)
  }
}
