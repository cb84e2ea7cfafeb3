package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.operators.Spread
import graft.sources.DeltaRead

class CorpusIngestSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("streaming corpus ingestion: gate, dedup vs live corpus, exactly-once") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = Files.createTempDirectory("graft_corpus").toString
    val ckpt = Files.createTempDirectory("graft_corpus_ck").toString
    val input = MemoryStream[(Long, String)]

    def runOnce(): Unit = {
      val q = CorpusIngest
        .ingest(input.toDF().toDF("doc_id", "text"), dir, "corpus-ingest")
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }

    // batch 0: two clean docs + one spam doc (long same-token run -> gated)
    input.addData(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "spam spam spam spam spam spam spam spam spam spam")
    )
    runOnce()
    val afterB0 = DeltaRead.read(spark, dir).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(afterB0 == Seq(1L, 2L), s"batch 0 kept $afterB0")

    // batch 1: near-dup of doc 1 (dropped vs corpus), exact in-batch dup
    // pair (one kept), and one genuinely new doc
    input.addData(
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (12L, "totally new content about completely different things here"),
      (13L, "totally new content about completely different things here"),
      (14L, "carrots peas onions leeks beans corn kale chard basil mint")
    )
    runOnce()
    val afterB1 = DeltaRead.read(spark, dir).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(afterB1 == Seq(1L, 2L, 12L, 14L), s"batch 1 kept $afterB1")

    // restart with no new data: replay guard keeps the corpus unchanged
    runOnce()
    assert(DeltaRead.read(spark, dir).count() == 4)
    assert(DeltaRead.snapshot(spark, dir).txns.get("corpus-ingest").contains(1L))
  }

  test("one ingest micro-batch takes one snapshot: each commit file opened once") {
    import spark.implicits._
    import CountingFileSystem.{logOpens, once}
    implicit val sc = spark.sqlContext
    val dir = CountingFileSystem.tempDir(spark, "graft_corpus_opens")
    val ckpt = Files.createTempDirectory("graft_corpus_opens_ck").toString
    val input = MemoryStream[(Long, String)]
    def runOnce(): Unit =
      CorpusIngest
        .ingest(input.toDF().toDF("doc_id", "text"), dir, "corpus-opens")
        .option("checkpointLocation", ckpt)
        .start()
        .awaitTermination()
    val docs = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "one two three four five six seven eight nine ten",
      "carrots peas onions leeks beans corn kale chard basil mint"
    )
    docs.zipWithIndex.foreach { case (text, i) =>
      input.addData((i.toLong, text))
      runOnce()
    }
    // the replay guard, the corpus read for dedup and the commit share one
    // lookup of the three-commit log
    input.addData((3L, "totally new content about completely different things here"))
    assert(logOpens(runOnce()) == once(0 to 2))
    assert(DeltaRead.read(spark, dir).select("doc_id").as[Long].collect().sorted.toSeq ==
      (0L to 3L))
  }

  test("an empty _delta_log bootstraps through one ingest micro-batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // a crash during the first commit leaves an empty log directory
    val dir = Files.createTempDirectory("graft_corpus_boot").toString
    Files.createDirectory(java.nio.file.Paths.get(dir, "_delta_log"))
    val ckpt = Files.createTempDirectory("graft_corpus_boot_ck").toString
    val input = MemoryStream[(Long, String)]
    input.addData((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    CorpusIngest
      .ingest(input.toDF().toDF("doc_id", "text"), dir, "corpus-boot")
      .option("checkpointLocation", ckpt)
      .start()
      .awaitTermination()
    assert(DeltaRead.read(spark, dir).select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(DeltaRead.snapshot(spark, dir).txns == Map("corpus-boot" -> 0L))
  }

  test("prepareBatch: a Huge batch and corpus give the Small-band rows") {
    // RDD-backed inputs (no estimate of their own: Huge) take
    // dedupAgainstCorpus's pinned, semi-filtered branch, and must give
    // exactly the Small-band rows — schema and values — across gate drops,
    // in-batch exact dups, and corpus near-dups.
    import spark.implicits._
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "spam spam spam spam spam spam spam spam spam spam"), // gated out
      (4L, "one two three four five six seven eight nine ten"), // in-batch dup
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota lambda") // near-dup of ref
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    def run(b: DataFrame, c: DataFrame, band: Spread.Scale) = {
      assert(Spread.scale(b) == band && Spread.scale(c) == band)
      CorpusIngest.prepareBatch(b, Some(c), "text", "doc_id", 0.5, CorpusIngest.Gate())
    }
    def rddBacked(df: DataFrame) = spark.createDataFrame(df.rdd, df.schema)
    val unpinned = run(batch, corpus, Spread.Scale.Small)
    val pinned = run(rddBacked(batch), rddBacked(corpus), Spread.Scale.Huge)
    assert(unpinned.schema == pinned.schema,
      s"schemas diverged: ${unpinned.schema} vs ${pinned.schema}")
    val a = unpinned.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val b = pinned.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(a == b, s"rows diverged:\nunpinned=$a\npinned=$b")
    assert(a.map(_._1) == Seq(2L))
  }

  test("prepareBatch: the gate and the exact dedup act per row when ids repeat") {
    // A gated-out doc sharing its id with a passing doc must stay out, and
    // an exact-duplicate pair sharing an id must come out once: a join
    // back on ids lets the spam row through and doubles the pair.
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val spam = "spam spam spam spam spam spam spam spam spam spam"
    val b = "one two three four five six seven eight nine ten"
    val c = "carrots peas onions leeks beans corn kale chard basil mint"
    val batch = Seq((1L, a), (1L, spam), (2L, b), (2L, b), (3L, c)).toDF("doc_id", "text")
    // the same batch RDD-backed reads Huge, the band the pinned shapes
    // key on: it must act per row too
    val rddBatch = spark.createDataFrame(batch.rdd, batch.schema)
    assert(Spread.scale(rddBatch) == Spread.Scale.Huge)
    val corpus = Seq(
      (100L, "totally new content about completely different things here")
    ).toDF("doc_id", "text")
    for (in <- Seq(batch, rddBatch); ref <- Seq(None, Some(corpus))) {
      val out = CorpusIngest.prepareBatch(in, ref, "text", "doc_id", 0.5, CorpusIngest.Gate())
      val what = s"band=${Spread.scale(in)} corpus=${ref.isDefined}"
      assert(out.schema == batch.schema, s"$what: ${out.schema}")
      val rows = out.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(rows == Seq((1L, a), (2L, b), (3L, c)), what)
    }
  }

  test("streaming gate input: a parquet micro-batch keeps its plan estimate") {
    // On Spark 4.1 a foreachBatch micro-batch over a file source is a
    // LogicalRDD carrying the batch read's own size estimate, not
    // spark.sql.defaultSizeInBytes, and a localCheckpoint of it keeps
    // that estimate. Spread.scale depends on this: were it lost, every
    // tiny streaming batch would read as Huge and take the pinned shapes.
    import spark.implicits._
    val landing = Files.createTempDirectory("graft_landing").toString
    val ckpt = Files.createTempDirectory("graft_landing_ck").toString
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(landing)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Spread.Scale, Spread.Scale)]
    spark.readStream
      .schema(docs.schema)
      .parquet(landing)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        seen += ((Spread.scale(batch), Spread.scale(batch.localCheckpoint())))
        ()
      }
      .start()
      .awaitTermination()
    assert(seen.toSeq == Seq((Spread.Scale.Small, Spread.Scale.Small)), s"bands: $seen")
  }
}
