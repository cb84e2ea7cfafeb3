package loopbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.LoopbenchBus
import org.apache.spark.sql.SparkSession

import graft.{BenchSession, SparkEntry, Tables}
import graft.catalog.LocalDirectoryGlueClient

/** One client in a closed loop over one workload: set up, run warm-up
  * passes, then whole timed passes until `--seconds` have elapsed, checking
  * every op's output. Prints one JSON line last on stdout.
  *
  * With `--trace 1` it runs the same untimed set-up and an untraced timed
  * phase, then registers a `SparkListener` and a `QueryExecutionListener`
  * and runs as many traced passes, and reports per-layer metrics instead.
  *
  * With `--emit <dir>` it instead writes the hashes the workload checks
  * against to `<dir>/hashes.json`: for llm_ops each row's result hash, with
  * the result as parquet under `<dir>/<row>` and the rows' oracle SQL in
  * `<dir>/oracle_sql.json`; for corpus_ingest the hash of the corpus the
  * batch API builds (see make_hashes.py).
  *
  * `--rows a,b,…` replaces llm_ops' rows and `--warmup n` its number of
  * warm-up passes; survey.py uses them. */
object Main {

  final case class Conf(
      workload: String = "",
      seed: Long = 1,
      seconds: Double = 10,
      trace: Boolean = false,
      sfDir: String = "",
      workDir: String = "",
      hashes: String = "",
      traceOut: String = "",
      emit: String = "",
      rows: Seq[String] = Workloads.llmOpsRows,
      warmup: Option[Int] = None
  )

  def parse(args: List[String], c: Conf = Conf()): Conf = args match {
    case Nil => c
    case "--workload" :: v :: t => parse(t, c.copy(workload = v))
    case "--seed" :: v :: t => parse(t, c.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, c.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, c.copy(trace = v == "1"))
    case "--sf-dir" :: v :: t => parse(t, c.copy(sfDir = v))
    case "--work-dir" :: v :: t => parse(t, c.copy(workDir = v))
    case "--hashes" :: v :: t => parse(t, c.copy(hashes = v))
    case "--trace-out" :: v :: t => parse(t, c.copy(traceOut = v))
    case "--emit" :: v :: t => parse(t, c.copy(emit = v))
    case "--rows" :: v :: t => parse(t, c.copy(rows = v.split(",").toSeq))
    case "--warmup" :: v :: t => parse(t, c.copy(warmup = Some(v.toInt)))
    case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
  }

  /** `local[nproc]`: the cores this process may run on. */
  val cpus: Int = Runtime.getRuntime.availableProcessors

  def main(argv: Array[String]): Unit = {
    val c = parse(argv.toList)
    val work = Paths.get(c.workDir)
    val spark = BenchSession
      .builder(cpus.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (c.emit.nonEmpty) emit(spark, c)
      else println(Json.obj(new Loop(spark, c).run()))
    } finally spark.stop()
  }

  def emit(spark: SparkSession, c: Conf): Unit = {
    val out = Paths.get(c.emit)
    Files.createDirectories(out)
    val rows = if (c.workload == "llm_ops") c.rows else Nil
    val hashes = c.workload match {
      case "corpus_ingest" =>
        Seq("corpus" -> CorpusIngestWorkload.reference(spark, c.sfDir, out))
      case _ =>
        rows.map { name =>
          val (df, obs) = ResultHash.observed(SparkEntry.queries(name)(spark, c.sfDir))
          df.coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
          name -> ResultHash.read(obs)
        }
    }
    Files.writeString(out.resolve("hashes.json"), Json.strMap(hashes))
    val oracle = rows.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    Files.writeString(out.resolve("oracle_sql.json"), Json.strMap(oracle))
  }
}

/** The closed loop of one run. */
final class Loop(spark: SparkSession, c: Main.Conf) {
  private val sc = spark.sparkContext
  private val expected: Map[String, String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(c.hashes).toFile)
      .path(c.workload)
    node.fieldNames().asScala.map(k => k -> node.get(k).asText()).toMap
  }
  private var tracer: Option[Tracer] = None
  private var opSeq = 0
  private var correct = true

  private def log(msg: String): Unit =
    System.err.println(f"[loopbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f $msg")

  /** Run `built`; true when its result hash is the stored one. */
  private def check(op: Op, built: Built): Boolean =
    built.run() match {
      case None => true
      case Some(h) if expected.get(op.name).contains(h) => true
      case Some(h) =>
        log(s"${op.name}: result hash $h, expected ${expected.getOrElse(op.name, "none stored")}")
        false
    }

  /** Outcome of one op: its latency in seconds and whether it passed. */
  private def runOp(wl: Workload, op: Op, i: Int): (Double, Boolean) = {
    wl.beforeOp(i)
    opSeq += 1
    val opId = s"$opSeq"
    sc.setLocalProperty("loopbench.op", opId)
    val t0 = Clock.nowMs()
    var tb = t0
    val ok =
      try {
        sc.setLocalProperty("loopbench.phase", "build")
        val built = op.build()
        tb = Clock.nowMs()
        sc.setLocalProperty("loopbench.phase", "exec")
        check(op, built)
      } catch {
        case NonFatal(e) =>
          log(s"${op.name} failed: $e")
          false
      } finally {
        sc.setLocalProperty("loopbench.op", null)
        sc.setLocalProperty("loopbench.phase", null)
      }
    val t1 = Clock.nowMs()
    tracer.foreach { t =>
      val id = t.span(0, "op", opId, t0, t1)
      t.span(id, "build", opId, t0, tb)
      t.span(id, "exec", opId, tb, t1)
      t.labels(opId) = op.name
    }
    if (!ok) correct = false
    log(f"op ${op.name} ${(t1 - t0) / 1e3}%.3f s build ${(tb - t0) / 1e3}%.3f s")
    ((t1 - t0) / 1e3, ok)
  }

  /** Timed record of whole passes. Each figure is a median, so one pass
    * slowed from outside the process does not move it. */
  final class Record {
    val passRates = scala.collection.mutable.ArrayBuffer.empty[Double]
    val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failed = 0
    /** Median over passes of the pass's ops per second of wall. */
    def opsPerS: Double = quantile(passRates.toSeq, 0.5)
    /** Median latency over every timed op. */
    def opP50S: Double = quantile(latencies.toSeq, 0.5)
  }

  private var passNo = 0

  /** One whole pass; its wall excludes the untimed per-pass set-up and
    * pass-level checks. */
  private def pass(wl: Workload, ops: Seq[Op], rec: Record): Unit = {
    passNo += 1
    wl.beforePass(passNo)
    val t0 = System.nanoTime()
    ops.zipWithIndex.foreach { case (op, i) =>
      val (s, ok) = runOp(wl, op, i)
      rec.latencies += s
      if (!ok) rec.failed += 1
    }
    rec.passRates += ops.size / ((System.nanoTime() - t0) / 1e9)
    val bad = wl.afterPass(passNo)
    bad.foreach(m => log(s"pass $passNo: $m"))
    if (bad.nonEmpty) { correct = false; rec.failed += ops.size }
  }

  /** Whole passes until `seconds` have elapsed, and at least two: a run
    * whose pass count flipped between 2 and 3 with small speed changes read
    * up to 20% apart, because the JIT still speeds up each pass. */
  private def timed(wl: Workload, ops: Seq[Op]): Record = {
    val rec = new Record
    val t0 = System.nanoTime()
    while (rec.passRates.size < 2 || (System.nanoTime() - t0) / 1e9 < c.seconds)
      pass(wl, ops, rec)
    rec
  }

  private def gcTotals(): (Double, Double) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum / 1e3, beans.map(_.getCollectionCount).sum.toDouble)
  }

  /** Heap in use after full GCs repeated until the heap stops shrinking. */
  private def settledHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used() = mem.getHeapMemoryUsage.getUsed.toDouble / (1024 * 1024)
    var prev = Double.MaxValue
    var cur = used()
    var rounds = 0
    while (rounds < 3 || (cur < prev - 1.0 && rounds < 20)) {
      prev = math.min(prev, cur)
      System.gc()
      Thread.sleep(150)
      cur = used()
      rounds += 1
    }
    math.min(prev, cur)
  }

  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def run(): Seq[(String, Any)] = {
    val t0 = System.nanoTime()
    Tables.provider(spark, c.sfDir)
    val registerS = (System.nanoTime() - t0) / 1e9
    log(f"session and catalog ready; registerAll $registerS%.2f s")
    val wl = Workloads(c.workload, spark, c.sfDir, Paths.get(c.workDir), c.seed, expected, c.rows)
    val warmup = c.warmup.getOrElse(wl.warmup)
    log("workload set up")
    // The seed rotates the listed order; batch order is corpus_ingest's
    // data order. A rotation keeps each op's predecessor, which moves an
    // op's latency (an op after dedup_bloom's unreleased persist runs
    // slower), the same for every seed.
    val ops = c.workload match {
      case "corpus_ingest" => wl.ops
      case _ =>
        val k = new Random(c.seed).nextInt(wl.ops.size)
        wl.ops.drop(k) ++ wl.ops.take(k)
    }
    val warm = new Record
    (1 to warmup).foreach(_ => pass(wl, ops, warm))
    val warmFailed = warm.failed
    log("set-up done")
    val timedStartMs = System.currentTimeMillis()
    val steal0 = HostCpu.ticks()
    val plain = timed(wl, ops)
    val stealFrac = HostCpu.stealFrac(steal0, HostCpu.ticks())
    val probe = HostCpu.probeS(Main.cpus)
    log(f"timed phase: host steal ${stealFrac * 100}%.1f%% of CPU time; probe $probe%.3f s")
    val common = Seq(
      "timed_start_ms" -> timedStartMs,
      "attempted" -> plain.latencies.size,
      "warmup_failed" -> warmFailed
    )
    log("timed passes done")
    if (!c.trace) {
      val heap = settledHeapMb()
      log("heap settled")
      val n = plain.latencies.size
      common ++ Seq(
        "failed" -> plain.failed,
        "correct" -> (correct && warmFailed == 0),
        "metrics" -> Map(
          "ops_per_s" -> plain.opsPerS,
          "op_p50_s" -> plain.opP50S,
          "ok_frac" -> (1.0 - plain.failed.toDouble / n),
          "retained_heap_mb" -> heap
        )
      )
    } else {
      val t = new Tracer
      tracer = Some(t)
      sc.addSparkListener(t)
      spark.listenerManager.register(t)
      val (gc0, gcn0) = gcTotals()
      val traced = new Record
      while (traced.latencies.size < plain.latencies.size) pass(wl, ops, traced)
      val (gc1, gcn1) = gcTotals()
      LoopbenchBus.drain(sc)
      val n = traced.latencies.size.toDouble
      val client = new LocalDirectoryGlueClient(spark, c.sfDir)
      val tableCount = client.getDatabases().map(db => client.getTables(db.name).size).sum
      settledHeapMb()
      val storage = sc.getRDDStorageInfo
      val layers = t.layers(Main.cpus) ++ Map(
        "catalog.register_s" -> registerS,
        "catalog.tables" -> tableCount.toDouble,
        "op.p90_s" -> quantile((plain.latencies ++ traced.latencies).toSeq, 0.9),
        "pin.persistent_rdds" -> sc.getPersistentRDDs.size.toDouble,
        "pin.storage_mb" -> storage.map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024),
        "ingest.survivor_frac" -> 0.0,
        "delta.commits" -> 0.0,
        "delta.data_files_per_batch" -> 0.0,
        "delta.bytes_written_per_batch" -> 0.0,
        "jvm.gc_s_per_op" -> (gc1 - gc0) / n,
        "jvm.gc_count_per_op" -> (gcn1 - gcn0) / n,
        "trace.overhead_frac" -> (plain.opsPerS / traced.opsPerS - 1.0),
        "host.steal_frac" -> stealFrac,
        "host.probe_s" -> probe
      ) ++ wl.layerCounts
      if (c.traceOut.nonEmpty) t.write(Paths.get(c.traceOut))
      common ++ Seq(
        "failed" -> (plain.failed + traced.failed),
        "correct" -> (correct && warmFailed == 0),
        "metrics" -> layers
      )
    }
  }
}

/** Host CPU time from `/proc/stat`: on a virtual machine, "steal" is time
  * the host ran something else while this machine wanted a CPU, which
  * slows every op alike. Reported so a slow run can be told apart. */
object HostCpu {
  /** (steal ticks, all ticks), or zeros where `/proc/stat` is absent. */
  def ticks(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** Seconds a fixed integer loop takes on every core at once: the host's
    * speed, which a busy neighbour on a shared core lowers without any
    * steal. Median of three. */
  def probeS(cores: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      val threads = (1 to cores).map { k =>
        val t = new Thread(() => {
          var x = k.toLong
          var i = 0
          while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
          if (x == 42) println(x)
        })
        t.start(); t
      }
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    Seq(once(), once(), once()).sorted.apply(1)
  }
}

/** Just enough JSON for the result line and the emitted files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => (k.toString, x) })
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def strMap(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"  ${str(k)}: ${str(v)}" }.mkString("{\n", ",\n", "\n}\n")
}
