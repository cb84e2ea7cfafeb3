package graft


/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query gets one untimed warmup execution first — that amortizes the
  * one-time costs a long-lived cluster would not pay per query (catalog
  * registration, codegen compilation, JIT) — then a forced GC + short
  * settle, so a query is not billed for garbage its sweep neighbors left
  * behind (round 6 measured q_having at 2.71 s mid-sweep vs 0.54 s
  * isolated: pure JVM-inheritance noise). The reported number is the
  * MEDIAN of five timed executions (override with SPARK_GRAFT_BENCH_RUNS);
  * the per-query MIN is emitted alongside (`queries_min`) as a
  * contamination-robust floor — a min is immune to one-sided noise like a
  * surprise full GC, so regression tracking can cross-check the median
  * against it. The sweep is SELF-HEALING (see [[selfHeal]]): a query whose
  * median exceeds 1.5x its own min is re-measured up to 3 times, and any
  * row still failing the ratio is counted in the summary line's
  * `contaminated` field and listed in BENCH_FULL.json.
  *
  * The sweep is also CROSS-ROUND aware (round 12): sustained environment
  * noise — slow for ALL of a query's runs, so median≈min and the
  * within-sweep healer is structurally blind to it — hit a contiguous
  * four-query block of the round-11 driver sweep (dedup_incremental 14.4 s
  * official vs 1.1-1.6 s reproduced) and silently inflated the official
  * artifact ~25 s while reporting `contaminated: 0`. The second axis: the
  * BENCH_FULL.json already sitting in the working directory at startup IS
  * the previous round's artifact (the driver commits it per round), so
  * [[parsePrior]] reads it (override path via SPARK_GRAFT_BENCH_PRIOR;
  * same-`sf` runs only), any query whose fresh median lands >3x its
  * prior-round median is re-measured once at sweep END (out of whatever
  * transient hit its alphabetical neighborhood), and rows still over the
  * ratio are emitted under `regressed_vs_prior` (query, prior, median) in
  * BENCH_FULL.json + counted on the wire line — the artifact names the
  * suspect rows itself instead of leaving them to cross-round forensics.
  *
  * Results are forced through the `noop` datasource writer, which evaluates
  * every output row/column without sink IO. NOT `count()`: the optimizer
  * prunes all columns under a bare count, so projection-only queries
  * (text_quality, text_repetition, q_pii_scrub, …) would "measure" an empty
  * row count instead of the operator — a round-6 finding that hid a real
  * regression. Numbers before round 6 under-report those queries.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // session confs (hash-first joins, 256-way AQE shuffle width, …) are
    // defined ONCE in BenchSession so probes can never drift from the bench
    val spark = BenchSession.builder().getOrCreate()
    // ERROR, not WARN: the summary line below must be the LAST stdout the
    // driver sees, and WARN-level noise (e.g. WindowExec's single-partition
    // warning from q_window_range's deliberately-global RANGE window over
    // pre-aggregated days) competes with it for the ~2000-char tail window.
    spark.sparkContext.setLogLevel("ERROR")

    // Warm the catalog once (registration is metadata-only but not free).
    Tables.provider(spark, sfDir)

    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    // optional subset for ad-hoc scale runs (comma-separated query names);
    // unset = every query, the driver contract
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // actual session width, echoed on every artifact (round 14): the r13
    // driver had to GUESS whether SPARK_GRAFT_CPUS took effect because no
    // artifact recorded it — and the working-dir BENCH_FULL.json it might
    // have used as a prior was an 8-core run indistinguishable from a
    // 32-core one
    val cpus = spark.sparkContext.defaultParallelism
    // Previous round's per-query medians, for the cross-round axis. Round
    // 14: BENCH_FULL.json is gitignored (a per-run OUTPUT), so a fresh
    // driver checkout has no working-dir prior and the round-11-style
    // contamination detector never arms (VERDICT r13 "what's wrong" #1 —
    // 8.4 s of phantom q16–q19 inflation entered the official artifact
    // with regressed_vs_prior: 0). The TRACKED fallback BENCH_PRIOR.json
    // (committed once per round from the freshest clean full record)
    // guarantees a prior exists in driver context; a candidate is skipped
    // when it measured a different sf dir or — new — records a different
    // core count (the 8-core BENCH_FULL.json the r13 driver left behind
    // must not gate a 32-core sweep).
    val prior: Map[String, Double] = loadPrior(
      sys.env
        .get("SPARK_GRAFT_BENCH_PRIOR")
        .map(Seq(_))
        .getOrElse(Seq("BENCH_FULL.json", "BENCH_PRIOR.json")),
      sfDir,
      cpus
    )
    def measure(name: String): QueryMeasure = {
      val fn = SparkEntry.queries(name)
      def force(): Unit = Probe.force(fn(spark, sfDir))
      /** One measurement block: settle + discarded run + `runs` timed
        * executions, sorted ascending.
        *
        * settle() drains neighbor garbage before the timed window. The
        * DISCARDED post-settle run (round 10): settle()'s GCs enqueue
        * ContextCleaner work (broadcast/shuffle unpersists are weak-ref
        * driven and run on a background thread), and the first run after a
        * GC storm absorbs that drain + any re-warm the GC displaced. The
        * driver's r9 sweep had four queries with median >1.5x their own
        * min from exactly this shape; the discard run eats it.
        */
      def block(): Seq[Double] = {
        settle()
        force()
        Probe.timeRuns(fn(spark, sfDir), runs).map(_.s).sorted
      }
      try {
        force() // warmup: codegen + JIT
        selfHeal(() => block())
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          QueryMeasure(-1.0, -1.0, 0, contaminated = false)
      }
    }
    val firstPass = names.map(name => name -> measure(name))
    // Cross-round pass, at sweep END: a >3x jump vs the prior round on a
    // sub-threshold-unchanged plan is far more often neighborhood noise than
    // regression; re-measuring once outside the original alphabetical slot
    // either washes it out or confirms it as a named `regressed_vs_prior`
    // row. Prior medians under 50 ms are skipped — 3x of scheduling jitter
    // is not a signal.
    val results = firstPass.map { case (name, m) =>
      if (!regressedVsPrior(m.median, prior.get(name))) name -> m
      else {
        System.err.println(
          f"[bench] $name median ${m.median}%.3f > 3x prior ${prior(name)}%.3f — re-measuring at sweep end"
        )
        val again = measure(name)
        name -> merged(m, again)
      }
    }
    // same Locale.ROOT fixed-precision wire format as summaryLine — never
    // Double.toString (scientific notation / long reprs on the artifact)
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val regressedRows = results.collect {
      case (k, m) if regressedVsPrior(m.median, prior.get(k)) =>
        s"""{"query":"$k","prior":${f3(prior(k))},"median":${f3(m.median)}}"""
    }
    // Full detail (all queries, full-precision median + min) goes to a FILE:
    // the driver's stdout capture keeps only the final ~2000 characters, so a
    // ~100-query map can never round-trip through it (rounds 6 and 7 both
    // produced parsed:null artifacts this way). The file is the complete
    // record; stdout carries a guaranteed-parseable summary line.
    def jsonMap(f: QueryMeasure => Double): String = results
      .map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2.median).filter(_ >= 0).sum
    val contaminatedNames = results.collect { case (k, m) if m.contaminated => k }
    val retried = results.collect { case (k, m) if m.retries > 0 => s""""$k":${m.retries}""" }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL.json"),
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"cpus":$cpus,"n_queries":${results.size},"queries":${jsonMap(_.median)},"queries_min":${jsonMap(_.min)},"contaminated":${contaminatedNames
          .map("\"" + _ + "\"")
          .mkString("[", ",", "]")},"retries":${retried.mkString("{", ",", "}")},"regressed_vs_prior":${regressedRows
          .mkString("[", ",", "]")},"sf":"$sfDir"}"""
    )
    // Stop Spark BEFORE printing: executor/context shutdown logs anything
    // it still has to say first, so the summary line is the last thing on
    // stdout — the driver's parser (bare JSON, last line of the captured
    // tail) then always sees it. Verified by tools/check_bench_line.py
    // against a real captured run.
    spark.stop()
    println(
      summaryLine(
        results.map { case (k, m) => k -> m.median },
        total,
        sfDir,
        contaminated = contaminatedNames.size,
        regressedVsPrior = regressedRows.size,
        cpus = cpus,
        nQueries = results.size
      )
    )
    System.out.flush()
  }

  /** One query's sweep outcome: cleanest-block median, the floor across all
    * blocks, how many self-healing retries it took, and whether the median
    * STILL exceeds 1.5x the floor after them (environment contamination the
    * sweep could not wash out — the summary line counts these). */
  private[graft] final case class QueryMeasure(
      median: Double,
      min: Double,
      retries: Int,
      contaminated: Boolean
  )

  /** Self-healing measurement (round 11): a median more than 1.5x the
    * query's own min means timed runs absorbed one-sided environment noise
    * the settle didn't recover from (the driver's r9/r10 sweeps each
    * carried 3-4 such rows — medians 3-9x their own mins on queries whose
    * plans hadn't changed — distorting the official sf0.1 total ~30%).
    * Re-measure with up to 3 bounded retry blocks and report the cleanest
    * block's median against the floor observed across ALL blocks; a row
    * still failing the ratio after retries is flagged `contaminated`, so
    * the artifact itself says "environment, not plan" instead of leaving
    * that to cross-round forensics. `block` must return the sorted timings
    * of one full measurement block. */
  private[graft] def selfHeal(block: () => Seq[Double]): QueryMeasure = {
    var best = block()
    var floor = best.head
    var retries = 0
    while (best(best.size / 2) > 1.5 * floor && retries < 3) {
      val again = block()
      floor = math.min(floor, again.head)
      if (again(again.size / 2) < best(best.size / 2)) best = again
      retries += 1
    }
    val median = best(best.size / 2)
    QueryMeasure(median, floor, retries, median > 1.5 * floor)
  }

  /** Combine a first-pass measurement with its sweep-end re-measure: report
    * the better (smaller) median, but keep the FLOOR observed across BOTH
    * passes and recompute the contamination flag against it — the same
    * all-blocks-floor discipline [[selfHeal]] applies within a pass. Without
    * this, a re-measure that lands at 3.5 s after a pass whose own min was
    * 0.9 s would wholesale replace the measurement and self-report clean,
    * hiding a 3.9x contamination signal on exactly the rows the cross-round
    * axis exists to expose. Retries accumulate across both passes. A failed
    * pass (median < 0) contributes nothing. */
  private[graft] def merged(m: QueryMeasure, again: QueryMeasure): QueryMeasure = {
    if (again.median < 0) m
    else if (m.median < 0) again
    else {
      val floor = math.min(m.min, again.min)
      val median = math.min(m.median, again.median)
      QueryMeasure(
        median,
        floor,
        m.retries + again.retries,
        contaminated = median > 1.5 * floor
      )
    }
  }

  /** The cross-round trigger: a fresh median >3x the prior round's, where
    * the prior is big enough (>=50 ms) that the ratio measures the operator
    * rather than scheduling jitter. Used symmetrically to decide the
    * sweep-end re-measure and, after it, membership in the artifact's
    * `regressed_vs_prior` list. */
  private[graft] def regressedVsPrior(
      median: Double,
      prior: Option[Double]
  ): Boolean =
    median >= 0 && prior.exists(p => p >= 0.05 && median > 3.0 * p)

  /** A parsed prior-medians candidate: where it was measured, at what core
    * count (absent in pre-round-14 files — accepted, can't tell), and the
    * per-query medians. */
  private[graft] final case class Prior(
      sf: String,
      cpus: Option[Int],
      queries: Map[String, Double]
  )

  /** First candidate file that exists, parses, measured the SAME sf dir,
    * and — when it records a core count — the same core count as this
    * sweep. The candidate order is (env override) or (working-dir
    * BENCH_FULL.json, then tracked BENCH_PRIOR.json): the fresh artifact
    * wins when present and comparable; the committed snapshot guarantees a
    * driver-context run is never blind (round 14 / VERDICT r13 item 2). */
  private[graft] def loadPrior(
      paths: Seq[String],
      sfDir: String,
      cpus: Int
  ): Map[String, Double] =
    paths.iterator
      .map { p =>
        try {
          val path = java.nio.file.Paths.get(p)
          if (!java.nio.file.Files.exists(path)) Map.empty[String, Double]
          else {
            val prior = parsePrior(java.nio.file.Files.readString(path))
            if (prior.sf == sfDir && prior.cpus.forall(_ == cpus))
              prior.queries
            else Map.empty[String, Double]
          }
        } catch { case _: Throwable => Map.empty[String, Double] }
      }
      .find(_.nonEmpty)
      .getOrElse(Map.empty)

  /** Extract (sf, cpus, per-query medians) from a previous BENCH_FULL.json
    * via a real JSON parse (Jackson rides Spark's classpath) — a malformed
    * or foreign file degrades to "no prior" instead of failing the sweep,
    * and the extraction doesn't couple to field order or brace placement
    * the way a regex would. */
  private[graft] def parsePrior(json: String): Prior =
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      if (root == null || !root.isObject) Prior("", None, Map.empty)
      else {
        val sf = Option(root.get("sf")).filter(_.isTextual).map(_.asText()).getOrElse("")
        val cpus =
          Option(root.get("cpus")).filter(_.isNumber).map(_.asInt())
        val qs = Option(root.get("queries")).filter(_.isObject) match {
          case None => Map.empty[String, Double]
          case Some(q) =>
            import scala.jdk.CollectionConverters._
            q.properties().asScala.collect {
              case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble()
            }.toMap
        }
        Prior(sf, cpus, qs)
      }
    } catch { case _: Exception => Prior("", None, Map.empty) }

  /** GC until the heap stops shrinking — the settle cost scales with the
    * preceding query's allocation instead of a fixed sleep (round 8's flat
    * 150 ms was not enough after heavy neighbors: two queries ran >1.5x
    * their own min purely from inherited garbage). A 64 MB tolerance stops
    * the loop once only steady-state allocation remains; the 4-pass cap
    * bounds worst-case settle at ~0.5 s. */
  private def settle(): Unit = {
    val rt = Runtime.getRuntime
    var last = Long.MaxValue
    var i = 0
    var shrinking = true
    while (i < 4 && shrinking) {
      System.gc()
      Thread.sleep(120)
      val used = rt.totalMemory() - rt.freeMemory()
      shrinking = used < last - (64L << 20)
      last = used
      i += 1
    }
  }

  /** The stdout contract line: heaviest queries first (they are the perf
    * signal), each at millisecond precision, greedily added under a hard
    * character budget so the line always survives the driver's ~2000-char
    * tail window regardless of how many queries the suite grows to.
    * Locale.ROOT throughout — the f-interpolator formats with the JVM
    * default locale, and a comma-decimal locale would un-fix the very
    * parse bug this line exists to fix. */
  private[graft] def summaryLine(
      medians: Seq[(String, Double)],
      total: Double,
      sfDir: String,
      budget: Int = 1500,
      contaminated: Int = 0,
      regressedVsPrior: Int = 0,
      cpus: Int = 0,
      nQueries: Int = -1
  ): String = {
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val entries = medians
      .sortBy { case (_, med) => -med }
      .map { case (k, med) => "\"" + k + "\":" + ms(med) }
    val kept = entries
      .scanLeft(0)(_ + _.length + 1)
      .tail
      .zip(entries)
      .takeWhile(_._1 <= budget)
      .map(_._2)
    val omitted = entries.size - kept.size
    // `n_queries` + `cpus` (round 14): the budgeted queries map is a
    // SUBSET, and the r13 driver's dropped/new bookkeeping misread exactly
    // that — three faster queries "dropped_from_bench", two noise-block
    // rows "new_in_bench" — while its scaling run had to guess whether
    // SPARK_GRAFT_CPUS took effect. A 60-of-119 listing is now
    // self-describing and every line names its core count.
    val n = if (nQueries >= 0) nQueries else medians.size
    s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":$n,"cpus":$cpus,"queries":${kept
        .mkString("{", ",", "}")},"queries_omitted":$omitted,"contaminated":$contaminated,"regressed_vs_prior":$regressedVsPrior,"queries_full":"BENCH_FULL.json","sf":"$sfDir"}"""
  }
}
