package loopbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

import graft.SparkEntry
import graft.sources.DeltaRead
import graft.streaming.CorpusIngest

/** One op of a pass. `build` is the builder-function call (DataFrame build,
  * including any job a builder fires eagerly); the returned `Built.run`
  * forces the work and returns the op's result hash, or None when the op's
  * output is checked at the end of its pass. */
trait Op {
  def name: String
  def build(): Built
}

trait Built {
  def run(): Option[String]
}

/** One workload: the ops of one pass, and the untimed work around them. */
trait Workload {
  def ops: Seq[Op]
  /** Untimed passes before timing starts: the JIT keeps improving for
    * several passes. */
  def warmup: Int
  /** Untimed, before each pass. */
  def beforePass(pass: Int): Unit = ()
  /** Untimed, before op `i` of a pass. */
  def beforeOp(i: Int): Unit = ()
  /** Untimed, after each pass: failure messages of the pass-level checks. */
  def afterPass(pass: Int): Seq[String] = Nil
  /** Counts the workload itself keeps (the ingest and delta layers). */
  def layerCounts: Map[String, Double] = Map.empty
}

object ResultHash {

  /** Order-independent hash of a result: row count plus the exact sum of a
    * 64-bit hash of each row's columns, taken in column-name order. Maps are
    * hashed by their sorted entries, so entry order cannot move it. */
  def columns(df: DataFrame) = {
    val cols = df.schema.fields.sortBy(_.name.toLowerCase).map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    Seq(
      count(lit(1)).as("n"),
      sum(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0))).as("h")
    )
  }

  private val seq = new java.util.concurrent.atomic.AtomicLong

  /** Observe the result hash on the same execution that forces `df`. */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation(s"loopbench_hash_${seq.incrementAndGet()}")
    val cs = columns(df)
    (df.observe(obs, cs.head, cs.tail: _*), obs)
  }

  def read(obs: Observation): String = {
    val m = obs.get
    val h = Option(m("h")).map(_.toString).getOrElse("0")
    s"${m("n")}:$h"
  }
}

/** A `SparkEntry.queries` row, forced through the `noop` writer as
  * `graft.Bench` forces it, with its result hash observed on the same run. */
final class QueryOp(spark: SparkSession, sfDir: String, val name: String)
    extends Op {
  private val fn = SparkEntry.queries(name)
  def build(): Built = {
    val df = fn(spark, sfDir)
    () => {
      val (obsDf, obs) = ResultHash.observed(df)
      obsDf.write.mode("overwrite").format("noop").save()
      Some(ResultHash.read(obs))
    }
  }
}

object Workloads {

  /** llm_ops' rows, chosen from a traced pass over a 28-row mix
    * (survey.py; README "Choosing llm_ops' rows"). */
  val llmOpsRows = Seq(
    "dedup_exact", "dedup_bloom", "dedup_keep_canonical", "dedup_clusters",
    "ann_ivf"
  )

  def apply(
      name: String,
      spark: SparkSession,
      sfDir: String,
      workDir: Path,
      seed: Long,
      expected: Map[String, String],
      rows: Seq[String] = llmOpsRows
  ): Workload = name match {
    case "llm_ops" =>
      new Workload {
        val ops = rows.map(new QueryOp(spark, sfDir, _))
        val warmup = 2
      }
    case "corpus_ingest" =>
      new CorpusIngestWorkload(spark, sfDir, workDir.resolve("ingest"), seed,
        expected.getOrElse("corpus", sys.error("no stored corpus hash")))
    case other => sys.error(s"unknown workload: $other")
  }
}

/** Streaming ingest of the sf `documents` table into a Delta corpus, one
  * micro-batch per op, `batches` per pass. Documents go to batches by a
  * fixed hash of `doc_id`, so the final corpus is the same for every seed
  * and its `doc_id` set hash is stored (`expected_hashes.json`); the seed
  * orders the rows inside each batch file, which must not change the
  * result. Each batch is pre-written once as one parquet file. A pass
  * starts from fresh landing, checkpoint and corpus dirs; before op `i`
  * (untimed) batch `i` is copied into the landing dir, and the op runs
  * `CorpusIngest.ingest` with the `AvailableNow` trigger, so it processes
  * exactly that batch through `foreachBatch`. */
final class CorpusIngestWorkload(
    spark: SparkSession,
    sfDir: String,
    dir: Path,
    seed: Long,
    expected: String
) extends Workload {
  private val batches = CorpusIngestWorkload.Batches
  /** One untimed pass, which holds most of the JIT's warm-up; a second
    * would not fit the run budget (README). */
  val warmup = 1
  private val appId = "loopbench"
  private val docs = graft.Tables.t(spark, sfDir, "documents")
  private val schema = docs.schema
  private val landedDocs: Long = docs.count()

  /** Batch `i`'s single parquet file. */
  private val batchFiles: IndexedSeq[Path] = {
    val staged = dir.resolve("staged")
    CorpusIngestWorkload.assigned(docs)
      .repartition(col("loopbench_batch"))
      .sortWithinPartitions(xxhash64(col("doc_id"), lit(seed)))
      .write
      .partitionBy("loopbench_batch")
      .parquet(staged.toString)
    (0 until batches).map { b =>
      val part = staged.resolve(s"loopbench_batch=$b")
      val files = Files.list(part).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      require(files.size == 1, s"batch $b: expected one parquet file, got ${files.size}")
      files.head
    }
  }

  private var passDir: Path = dir
  private def landing = passDir.resolve("landing")
  private def corpus = passDir.resolve("corpus")
  private def checkpoint = passDir.resolve("checkpoint")
  private var counts = Map.empty[String, Double]

  override def beforePass(pass: Int): Unit = {
    passDir = dir.resolve(s"pass$pass")
    Files.createDirectories(landing)
  }

  override def beforeOp(i: Int): Unit = {
    val tmp = passDir.resolve(s".batch-$i.parquet")
    Files.copy(batchFiles(i), tmp)
    Files.move(tmp, landing.resolve(s"batch-$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** One `AvailableNow` run of the stream over the landing dir. */
  private def streamOnce(): Unit = {
    val q = CorpusIngest
      .ingest(spark.readStream.schema(schema).parquet(landing.toString), corpus.toString, appId)
      .option("checkpointLocation", checkpoint.toString)
      .start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  val ops: Seq[Op] = (0 until batches).map { i =>
    new Op {
      val name = s"ingest_batch_$i"
      def build(): Built = () => { streamOnce(); None }
    }
  }

  private def commits: Seq[Path] = {
    val log = corpus.resolve("_delta_log")
    if (!Files.isDirectory(log)) Nil
    else Files.list(log).iterator().asScala
      .filter(_.getFileName.toString.matches("\\d{20}\\.json")).toSeq
  }

  /** Replays the stream's last batch, as after a crash between the Delta
    * commit and the stream's own commit: the checkpoint's last commit entry
    * is removed, so the restarted stream runs that batch again with the same
    * batch id. Returns the Delta commits it added. */
  private def replayLast(): Int = {
    val entries = checkpoint.resolve("commits")
    val last = Files.list(entries).iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("\\d+")).map(_.toLong).max
    Files.delete(entries.resolve(last.toString))
    Files.deleteIfExists(entries.resolve(s".$last.crc"))
    val before = commits.size
    streamOnce()
    require(Files.exists(entries.resolve(last.toString)), s"batch $last was not replayed")
    commits.size - before
  }

  override def afterPass(pass: Int): Seq[String] = {
    val failures = Seq.newBuilder[String]
    val got = CorpusIngestWorkload.corpusHash(spark, corpus.toString)
    if (got != expected)
      failures += s"corpus doc_id set $got, expected $expected"
    val added = replayLast()
    if (added != 0)
      failures += s"replayed batch ${batches - 1} added $added Delta commits"
    val dataFiles = Files.walk(corpus).iterator().asScala.filter { p =>
      Files.isRegularFile(p) && !p.toString.contains("_delta_log") &&
        p.getFileName.toString.endsWith(".parquet")
    }.toSeq
    counts = Map(
      "ingest.survivor_frac" -> got.split(":")(0).toDouble / landedDocs,
      "delta.commits" -> commits.size.toDouble,
      "delta.data_files_per_batch" -> dataFiles.size.toDouble / batches,
      "delta.bytes_written_per_batch" -> dataFiles.map(Files.size).sum.toDouble / batches
    )
    failures.result()
  }

  override def layerCounts: Map[String, Double] = counts
}

object CorpusIngestWorkload {
  val Batches = 3

  /** `docs` with its fixed batch number in `loopbench_batch`. */
  def assigned(docs: DataFrame): DataFrame =
    docs.withColumn("loopbench_batch", pmod(xxhash64(col("doc_id")), lit(Batches.toLong)))

  /** Count, distinct count and hash sum of the corpus's `doc_id`s. */
  def corpusHash(spark: SparkSession, corpusDir: String): String = {
    val r = DeltaRead.read(spark, corpusDir).agg(
      count(lit(1)), countDistinct(col("doc_id")),
      sum(xxhash64(col("doc_id")).cast(DecimalType(38, 0)))
    ).head()
    s"${r.get(0)}:${r.get(1)}:${r.get(2)}"
  }

  /** The corpus the pipeline must produce, built with the batch API: each
    * batch in order through `CorpusIngest.prepareBatch` and
    * `DeltaRead.appendIdempotent`, without the streaming layer. */
  def reference(spark: SparkSession, sfDir: String, dir: Path): String = {
    val docs = assigned(graft.Tables.t(spark, sfDir, "documents"))
    val ref = dir.resolve("reference").toString
    (0 until Batches).foreach { i =>
      val batch = docs.filter(col("loopbench_batch") === i).drop("loopbench_batch")
      val prepared = CorpusIngest.prepareBatch(
        batch, ref, "text", "doc_id", 0.5, CorpusIngest.Gate()
      )
      DeltaRead.appendIdempotent(prepared, ref, "loopbench", i.toLong)
    }
    corpusHash(spark, ref)
  }
}
