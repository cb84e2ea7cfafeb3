package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget mixture sampling (C33) — compose a training corpus from
  * weighted sources under a global token budget, the way large-scale
  * pretraining mixes are specified ("X% web, Y% books, Z% code, N tokens
  * total"). Given per-stratum weights and a total budget, each stratum
  * keeps a deterministic, uniformly-sampled prefix of its documents whose
  * token counts fit the stratum's share of the budget.
  *
  * Determinism over randomness: the per-stratum order is md5(seed || id) —
  * the same idempotent content-hash trick as the stratified sampler (C13),
  * so stage retries, re-runs and engine changes reproduce the identical
  * corpus, and an external oracle can recompute the exact selection.
  *
  * The selection itself is a per-stratum PREFIX-SUM CUTOFF: order the
  * stratum by the hash, keep documents while the running token total stays
  * within budget. The naive formulation is a window cumsum partitioned by
  * stratum — correct, but a hot stratum ("web" is 80% of a crawl) lands on
  * ONE window task, the same unsplittable-partition failure mode that
  * motivated [[ExactQuantiles]]. The production path here applies the same
  * two-pass histogram cure to prefix selection:
  *
  *   1. bucket every document by the first 3 hex chars of its rank hash
  *      (4096 buckets; lexicographic hash order == bucket-numeric order,
  *      so bucket id is a coarse prefix of the global stratum order);
  *   2. aggregate token sums per (stratum, bucket) — ≤ 4096 rows per
  *      stratum — and run the cumulative window over THAT (bounded
  *      partitions), locating the single boundary bucket where each
  *      stratum's budget lands;
  *   3. buckets wholly inside budget keep every document with no further
  *      work; buckets past it drop; only the boundary bucket — an expected
  *      1/4096 slice of the stratum — runs the exact in-bucket cumsum.
  *
  * Per-task memory is O(cutBuckets) for the histogram window and
  * O(|stratum|/cutBuckets) rows for the boundary window; every other step
  * is a map-side-partial groupBy or a broadcast join of aggregate-scale
  * cutoff tables. The result is bit-identical to the naive window (the
  * bucket id is a prefix of the sort key), which MixtureSpec proves against
  * that window and the DuckDB oracle recomputes independently.
  *
  * Cost note for 100 TB: the production path reads the input three times
  * (histogram, whole-bucket keep, boundary slice) but shuffles almost
  * nothing — whole-bucket keeps flow broadcast-joined with NO exchange,
  * and only the 1/cutBuckets boundary slice is shuffled for its window.
  * That trade is right when `tokensCol` is a materialized column (corpus
  * tables normally carry a token count); if it is an expensive expression
  * (regex tokenization of raw text) each pass recomputes it, and the
  * caller should materialize the count first — still cheaper than the
  * alternative of shuffling the whole corpus into (stratum, bucket) order
  * for a single-scan window.
  *
  * Budget semantics: weights are normalized by their (key-sorted) sum;
  * `budget_s = floor(w_s / Σw * totalBudget)` tokens. A document is kept
  * iff the stratum's running total INCLUDING it stays ≤ budget_s (greedy
  * prefix; the first overflowing document and everything after it drop).
  * Strata absent from `weights` are dropped (weight 0).
  */
object Mixture {

  /** Per-stratum token budgets: floor(normalized weight × total). Weight
    * normalization sums in key-sorted order so the float total — and with
    * it every budget — is independent of Map iteration order. */
  def budgets(weights: Map[String, Double], totalBudget: Long): Map[String, Long] = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(_ >= 0.0), "weights must be non-negative")
    val wSum = weights.toSeq.sortBy(_._1).map(_._2).sum
    require(wSum > 0.0, "weights must sum to a positive value")
    weights.map { case (s, w) => s -> math.floor(w / wSum * totalBudget).toLong }
  }

  // (stratum, id, tokens, rank key, bucket, budget[, order value]) — the
  // shared front of every formulation, the spec's reference windows
  // included. Inner-joining the broadcast budget table drops unweighted
  // strata before any shuffle.
  private[operators] def prepared(
      docs: DataFrame,
      strataCol: String,
      tokensCol: Column,
      idCol: String,
      weights: Map[String, Double],
      totalBudget: Long,
      seed: String,
      cutBuckets: Int,
      orderCol: Option[Column] = None
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bdg = budgets(weights, totalBudget).toSeq.toDF("s", "budget")
    val base = docs.select(
      Seq(
        col(strataCol).as("s"),
        col(idCol).as("id"),
        tokensCol.cast("long").as("tok")
      ) ++ orderCol.map(_.cast("double").as("qv")): _*
    )
    base
      .withColumn("rk", md5(concat(lit(seed), col("id").cast("string"))))
      .withColumn(
        "bkt",
        (conv(substring(col("rk"), 1, 3), 16, 10)
          .cast("int") / lit(bucketDivisor(cutBuckets))).cast("int")
      )
      .join(broadcast(bdg), "s")
  }

  // 3 hex chars give 4096 raw buckets; integer division COARSENS that
  // prefix for smaller cutBuckets (4096/cutBuckets raw buckets per cut
  // bucket), so bucket-ascending order remains a prefix of the full
  // lexicographic hash order — the property the two-pass cutoff needs.
  // (Modulo would fold non-adjacent hash ranges into one bucket and break
  // it.)
  private def bucketDivisor(cutBuckets: Int): Int = {
    require(
      cutBuckets > 0 && 4096 % cutBuckets == 0,
      "cutBuckets must divide 4096 so bucket order stays a prefix of hash order"
    )
    4096 / cutBuckets
  }

  private[operators] def finish(kept: DataFrame, strataCol: String, idCol: String): DataFrame =
    kept.select(
      col("id").as(idCol),
      col("s").as(strataCol),
      col("tok").as("tokens")
    )

  /** Small inputs (below [[Spread.Scale]] `Huge`, measured on the parent
    * `docs` frame, whose width upper-bounds the skinny (s, id, tok, rk)
    * frame the window would actually sort) take the ONE-WINDOW cutoff
    * instead of the two-pass histogram machinery. The two formulations are
    * bit-identical (spec + oracle proven); the choice is pure plan
    * adaptivity, the same class of decision as AQE's join-strategy
    * re-plan. A 100 TB input always gets the machinery. */
  private def oneWindowOk(docs: DataFrame): Boolean =
    Spread.scale(docs) < Spread.Scale.Huge

  /** Production path: two-pass histogram cutoff, bit-identical to the
    * naive window (see object doc for the argument). `tokensCol` is any
    * per-document token-count expression — e.g.
    * `size(TextFunctions.wsTokens(col("text")))`. */
  def sampleToTokenBudget(
      docs: DataFrame,
      strataCol: String,
      tokensCol: Column,
      idCol: String,
      weights: Map[String, Double],
      totalBudget: Long,
      seed: String = "mix",
      cutBuckets: Int = 4096
  ): DataFrame =
    finish(
      selectPrefix(
        prepared(docs, strataCol, tokensCol, idCol, weights, totalBudget, seed, cutBuckets),
        cutBuckets,
        oneWindow = oneWindowOk(docs)
      ),
      strataCol,
      idCol
    )

  /** The two-pass cutoff core, shared by [[sampleToTokenBudget]] and the
    * remainder epoch of [[materializeEpochs]]: given rows carrying
    * (s, id, tok, rk, bkt, budget [, extras]), return the rows of each
    * stratum's hash-order prefix whose running token total fits `budget`,
    * preserving every input column. */
  private def selectPrefix(
      base: DataFrame,
      cutBuckets: Int,
      oneWindow: Boolean
  ): DataFrame = {
    // Small input (caller-decided via [[oneWindowOk]] on the PARENT frame —
    // `base` itself carries a broadcast join whose non-CBO stats estimate
    // is a product, useless as a gate): one exact cumsum window, the naive
    // formulation inline, preserving every input column as contracted.
    if (oneWindow) {
      val w = Window
        .partitionBy("s")
        .orderBy("rk", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
      return base
        .withColumn("cum", sum("tok").over(w))
        .where(col("cum") <= col("budget"))
        .drop("cum")
    }
    // Pass 1: per-(stratum, bucket) token mass; cumulative over bucket ids.
    // Aggregate scale (≤ strata × cutBuckets rows). Its two consumers below
    // plan the same exchange, and AQE reuses it.
    val wB = Window
      .partitionBy("s")
      .orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = base
      .groupBy("s", "bkt")
      .agg(sum("tok").as("btok"), max("budget").as("budget"))
      .withColumn("before", coalesce(sum("btok").over(wB), lit(0L)))

    // Whole buckets inside budget keep every row; the (≤ one per stratum)
    // boundary bucket carries its cumulative offset into pass 2.
    val fullKeep = hist
      .where(col("before") + col("btok") <= col("budget"))
      .select("s", "bkt")
    val boundary = hist
      .where(col("before") <= col("budget") && col("before") + col("btok") > col("budget"))
      .select(col("s"), col("bkt"), col("before"))

    // Pass 2: exact cumsum ONLY inside boundary buckets — expected
    // |stratum|/cutBuckets rows per window partition.
    val wIn = Window
      .partitionBy("s", "bkt")
      .orderBy("rk", "id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val keptWhole = base.join(broadcast(fullKeep), Seq("s", "bkt"))
    val keptBoundary = base
      .join(broadcast(boundary), Seq("s", "bkt"))
      .withColumn("cum", sum("tok").over(wIn))
      .where(col("before") + col("cum") <= col("budget"))
      .drop("before", "cum")

    keptWhole.unionByName(keptBoundary)
  }

  /** Curation variant (C34): keep the HIGHEST-`orderCol` documents of each
    * stratum — quality score, perplexity rank, classifier logit — until the
    * stratum's token budget is spent ("the best N tokens per source", the
    * quality-pruning half of a pretraining mix). Order is
    * (orderCol desc, md5(seed‖id), id): fully deterministic, ties broken by
    * the same unbiased hash as [[sampleToTokenBudget]].
    *
    * Production path = the same two-pass cutoff, with VALUE-RANGE buckets
    * standing in for hash-prefix buckets: per-stratum min/max (one
    * partial-agg pass) define 4096 fixed-width cells over the order value;
    * cell-descending order coarsens value-descending order exactly
    * (disjoint ranges), so the per-(stratum, cell) token histogram + a
    * bounded cumulative window locate the one boundary cell per stratum,
    * whole cells keep/drop via broadcast joins with no window, and only the
    * boundary cell runs the exact (qv desc, rk, id) cumsum. A
    * constant-value stratum (vmax == vmin) degrades its order to the pure
    * hash order, so it transparently switches to the hash-prefix buckets —
    * bounded either way. Worst case for the boundary window is the
    * population of ONE tied order value (discrete scores concentrate mass;
    * callers with coarse scores should prefer a finer one).
    */
  def takeBestToBudget(
      docs: DataFrame,
      strataCol: String,
      orderCol: Column,
      tokensCol: Column,
      idCol: String,
      weights: Map[String, Double],
      totalBudget: Long,
      seed: String = "mix",
      cutBuckets: Int = 4096
  ): DataFrame = {
    val base = prepared(
      docs, strataCol, tokensCol, idCol, weights, totalBudget, seed, cutBuckets,
      orderCol = Some(orderCol)
    )

    // Small input: one exact best-first window — bit-identical to the
    // cell machinery below (spec + oracle proven); see [[oneWindowOk]].
    if (oneWindowOk(docs)) {
      val w = Window
        .partitionBy("s")
        .orderBy(col("qv").desc, col("rk"), col("id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      return finishQ(
        base.withColumn("cum", sum("tok").over(w)).where(col("cum") <= col("budget")),
        strataCol,
        idCol
      )
    }

    // Per-stratum value range (aggregate-scale, broadcast back).
    val stats = base
      .groupBy("s")
      .agg(min("qv").as("vmin"), max("qv").as("vmax"))

    // Consumption bucket: DESCENDING cell index — cell 0 is the TOP of the
    // value range so ascending-`cb` cumulative windows walk best-first.
    // Constant-value strata fall back to the hash-prefix bucket (ascending
    // hash == the residual (rk, id) order when qv ties everywhere).
    val span = col("vmax") - col("vmin")
    val withCell = base
      .join(broadcast(stats), "s")
      .withColumn(
        "cb",
        when(col("vmax") === col("vmin"), col("bkt"))
          .otherwise(
            lit(cutBuckets - 1) -
              least(
                lit(cutBuckets - 1),
                floor((col("qv") - col("vmin")) / (span / cutBuckets)).cast("int")
              )
          )
      )

    // Token-mass histogram per (stratum, cell) + cumulative mass in cells
    // strictly before (better than) each cell. Bounded window (≤ cutBuckets
    // rows per stratum); its two consumers share one reused exchange.
    val wB = Window
      .partitionBy("s")
      .orderBy("cb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = withCell
      .groupBy("s", "cb")
      .agg(sum("tok").as("btok"), max("budget").as("budget"))
      .withColumn("before", coalesce(sum("btok").over(wB), lit(0L)))

    val fullKeep = hist
      .where(col("before") + col("btok") <= col("budget"))
      .select("s", "cb")
    val boundary = hist
      .where(col("before") <= col("budget") && col("before") + col("btok") > col("budget"))
      .select(col("s"), col("cb"), col("before"))

    val wIn = Window
      .partitionBy("s", "cb")
      .orderBy(col("qv").desc, col("rk"), col("id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val keptWhole = withCell.join(broadcast(fullKeep), Seq("s", "cb"))
    val keptBoundary = withCell
      .join(broadcast(boundary), Seq("s", "cb"))
      .withColumn("cum", sum("tok").over(wIn))
      .where(col("before") + col("cum") <= col("budget"))
      .drop("before", "cum")

    finishQ(keptWhole.unionByName(keptBoundary), strataCol, idCol)
  }

  private[operators] def finishQ(kept: DataFrame, strataCol: String, idCol: String): DataFrame =
    kept.select(
      col("id").as(idCol),
      col("s").as(strataCol),
      col("tok").as("tokens"),
      col("qv").as("quality")
    )

  /** Epoch materialization (C35) — the OVER-budget half of a mixture spec.
    * When a stratum's token share exceeds its size, real mixes repeat the
    * source: `n = floor(budget/total)` full epochs plus a fractional final
    * epoch holding the remainder as a [[sampleToTokenBudget]] prefix (same
    * seed, so the fractional subset is the stable "first slice" of the
    * stratum's hash order). Output adds an `epoch` column (0-based); full
    * epochs carry every document, epoch `n` carries the remainder prefix.
    * Under-budget strata degenerate to n = 0 + the C33 selection — this
    * operator is a strict superset of [[sampleToTokenBudget]] semantics.
    *
    * Scale shape: one partial-agg totals pass (aggregate-scale, broadcast
    * back), full epochs are a map-side per-row `sequence` explode — the
    * amplification IS the requested semantics, there is no join or
    * shuffle in it — and the remainder reuses the C33 two-pass cutoff
    * against per-stratum remainder budgets. Per-epoch reshuffling is the
    * training loader's concern, not the corpus definition's: repeating
    * the identical document set per epoch is what "2.4 epochs of
    * Wikipedia" means in a mixture table.
    */
  def materializeEpochs(
      docs: DataFrame,
      strataCol: String,
      tokensCol: Column,
      idCol: String,
      weights: Map[String, Double],
      totalBudget: Long,
      seed: String = "mix",
      cutBuckets: Int = 4096
  ): DataFrame = {
    val base =
      prepared(docs, strataCol, tokensCol, idCol, weights, totalBudget, seed, cutBuckets)

    // Per-stratum token totals -> full-epoch count + remainder budget.
    // Unpinned, a consumer that keeps only n_full or only rem gets its
    // projection folded into the aggregate, whose buffers then come out in
    // another order than the other consumers': below Huge the exchange is
    // still shared, yet docs_mixture_epochs ran 0.283 → 0.290 s at sf0.1;
    // at Huge the totals ran twice (RDD-backed sf1 documents: +13%).
    val plan = base
      .groupBy("s")
      .agg(sum("tok").as("total"), max("budget").as("budget"))
      .select(
        col("s"),
        // Integer-exact floor division: `/` is DOUBLE division in Spark SQL
        // and would round-trip through a 53-bit mantissa (wrong past ~2^53
        // total tokens — reachable at 100 TB). SQL `DIV` stays in LONG
        // arithmetic, matching the oracle's exact `//`.
        expr("budget DIV total").as("n_full"),
        (col("budget") % col("total")).as("rem")
      )
      // pin, measured exchange that cannot be reused: the consumers' aggregates differ
      .localCheckpoint()

    // Full epochs: per-row explode of [0, n_full) — no shuffle, the
    // explode factor is the mixture's own repeat count.
    val fullEpochs = base
      .join(broadcast(plan.select("s", "n_full")), "s")
      .where(col("n_full") > 0)
      .select(
        col("s"),
        col("id"),
        col("tok"),
        explode(sequence(lit(0L), col("n_full") - 1)).as("epoch")
      )

    // Remainder: the C33 prefix with budget = rem, tagged epoch n_full.
    // Swap the broadcast budget column for the remainder and run the same
    // two-pass cutoff (selectPrefix operates on the `budget` column).
    val remBase = base
      .drop("budget")
      .join(
        broadcast(plan.select(col("s"), col("rem").as("budget"), col("n_full"))),
        "s"
      )
    val remKept = selectPrefix(remBase, cutBuckets, oneWindow = oneWindowOk(docs))
      .select(col("s"), col("id"), col("tok"), col("n_full").as("epoch"))

    fullEpochs
      .unionByName(remKept)
      .select(
        col("id").as(idCol),
        col("s").as(strataCol),
        col("tok").as("tokens"),
        col("epoch")
      )
  }
}
