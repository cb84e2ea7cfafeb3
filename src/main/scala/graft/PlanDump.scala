package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: formatted physical plans for the flagship queries,
  * the evidence that the plans have the shape §5 of SURVEY.md claims
  * (broadcast dims, pushdown, codegen fusion, single-shuffle LSH).
  *
  * Usage: runMain graft.PlanDump [sfDir] [outFile]
  */
object PlanDump {

  private val Flagships = Seq(
    "q5_local_volume" ->
      "6-way join: every dim broadcast, single fact shuffle for the agg",
    "q6_forecast_revenue" ->
      "selective scan: filters pushed to parquet, columns pruned",
    "q_topk_orders" ->
      "global top-k via TakeOrderedAndProject (no full sort)",
    "dedup_minhash_lsh" ->
      "sketch -> band explode -> ONE shuffle (groupBy bucket) -> in-bucket pairs",
    "ann_bruteforce" ->
      "broadcast queries, codegen cosine, bounded-heap top-k aggregate",
    "q_sessionize_batch" ->
      "lag + running-sum windows sharing one (user_id) shuffle",
    "q_window_rank" ->
      ("row_number+filter idiom REWRITTEN by TopKRewriteRule into " +
        "graft_row_topk aggregation (no Window sort; WindowGroupLimit " +
        "survives as a free pre-filter)"),
    "dedup_clusters" ->
      "LSH candidates -> jaccard verify -> connected components (final round)",
    "q_asof_join" ->
      "as-of join: union-merge window, ONE keyed shuffle, no range cross-join",
    "q21_waiting_supplier" ->
      "two-phase per-(order,supplier) aggregation: no Expand from countDistinct",
    "docs_prepare_corpus" ->
      "composed corpus prep: dedup+quality+diversity+packing, two keyed shuffles",
    "text_repetition" ->
      ("repetition quality signals: one per-row Generate with let-bound " +
        "arrays (no joins/aggs; the only Exchange is the gate query's " +
        "presentation orderBy)"),
    "dedup_substring_spans" ->
      ("duplicate-substring spans: partial-agg groupBy on the gram hash " +
        "(map-side combine collapses hot grams; AQE-skew-splittable join " +
        "back) + per-doc island window — no gram-hash window anywhere"),
    "dedup_semantic" ->
      ("semantic dedup: broadcast k-means assign, ONE cluster shuffle, " +
        "cosine predicate inside the pair lambda"),
    "ann_lsh" ->
      ("OR-amplified LSH: ONE kernel signature per vector (all 7 tables' " +
        "planes packed in 28 bits), in-task explode to table buckets, " +
        "broadcast probe join — no corpus shuffle"),
    "dedup_embedding_exact" ->
      ("exact pair ground truth: broadcast nested-loop with the threshold " +
        "filter fused into the join — the n² candidate space never " +
        "materializes, only qualifying pairs"),
    "dedup_recall_sample" ->
      ("sampled-recall calibration: quadratic exact truth ONLY on the " +
        "id-keyed sample (broadcast), banding at full corpus scale, one " +
        "summary row — the at-scale shape for keeping approximate dedup " +
        "honest"),
    "docs_ingest_batch" ->
      ("D10 batch twin: repetition gate -> exact dedup -> LSH dedup vs " +
        "corpus, all keyed shuffles, candidate pairs broadcast"),
    "q_percentiles" ->
      ("exact quantiles via two-pass histogram+selection: keyed groupBys " +
        "+ windows bounded by bucket count / in-bucket distinct values — " +
        "NO percentile() buffering a whole group in one agg buffer"),
    "text_perplexity" ->
      ("unigram-LM scoring: checkpointed vocab-bounded counts (one " +
        "counting scan), cap-row TakeOrdered model + 1-row totals both " +
        "broadcast, scoring = broadcast left join with doc-grain partial " +
        "agg — the doc_id Exchange ships ~1 row per document, never per " +
        "token"),
    "docs_mixture_budget" ->
      ("token-budget mixture sampling: per-(stratum,bucket) partial-agg " +
        "histogram + a <=4096-row cumulative window locate each stratum's " +
        "boundary bucket; whole buckets keep via broadcast semi-joins and " +
        "ONLY the 1/4096 boundary slice runs an exact cumsum — no " +
        "per-stratum window over the corpus, a hot stratum cannot " +
        "serialize into one task"),
    "docs_quality_budget" ->
      ("quality-prefix curation: same two-pass cutoff with VALUE-RANGE " +
        "cells (min/max pass -> cell histogram -> one boundary cell per " +
        "stratum); whole cells keep via broadcast joins, only the " +
        "boundary cell runs the exact (quality desc, hash, id) cumsum")
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    // the bench session's confs (hash-first joins, 256-way AQE shuffle
    // width) at a fixed width of 4, so the plans do not depend on the host
    val spark = BenchSession.builder("4").appName("graft-plans").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val sb = new StringBuilder
    sb.append(
      "# PLANS — physical plans of flagship queries\n\n" +
        s"Generated by `runMain graft.PlanDump` on `$sfDir`. These are the\n" +
        "plan shapes SURVEY.md §5 claims; regenerate after plan-affecting\n" +
        "changes.\n"
    )
    for ((name, note) <- Flagships) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n_${note}_\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode
      ))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
