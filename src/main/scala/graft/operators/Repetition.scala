package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** Repetition-based document quality signals, the Gopher/MassiveText filter
  * family (repeated-line fraction, repeated n-gram fraction, longest token
  * run): the standard pre-training corpus gate that catches boilerplate,
  * keyword stuffing and degenerate generations that length/stopword filters
  * (see [[graft.functions.TextFunctions.qualityScore]]) miss.
  *
  * Scale design (100 TB): every signal is a per-row projection over the
  * token array — higher-order functions only (`aggregate`/`transform`/
  * `filter`), zero shuffles, fully whole-stage-codegen, embarrassingly
  * parallel with the scan. The top-bigram count is O(distinct·n) per row,
  * bounded by document length, never by corpus size.
  *
  * Reference analog: the reference exposes the table scan this filter runs
  * over (src/catalog_provider/glue.rs:300-340 registers the listing table);
  * the signal set follows the published Gopher data-quality rules.
  */
object Repetition {

  /** Longest run of consecutive identical tokens, as a single left fold —
    * no explode, no window, no shuffle. */
  def maxRun(tokens: Column): Column =
    aggregate(
      tokens,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (s, t) => {
        val nr = when(t === s.getField("prev"), s.getField("run") + 1)
          .otherwise(lit(1))
        struct(
          t.as("prev"),
          nr.as("run"),
          greatest(s.getField("best"), nr).as("best")
        )
      },
      s => s.getField("best")
    )

  /** Count of the most frequent element of an array column: sort, then the
    * longest adjacent-equal run (the [[maxRun]] fold) IS the max frequency.
    * O(n log n) with `xs` evaluated exactly once.
    *
    * Deliberately NOT the `transform(array_distinct(xs), d => size(filter(
    * xs, ...)))` shape: there `xs` appears inside a lambda body, and when
    * an optimizer rule substitutes an aliased expression for `xs`
    * (PushDownPredicates does this unconditionally for filter predicates),
    * the whole xs-producing expression is re-evaluated once per distinct
    * element — O(n²) heavy work per row. Measured on the corpus-ingest
    * gate at sf0.1: 142 s → 0.5 s after this change plus [[signals]]'
    * let-binding. */
  def topCount(xs: Column): Column = maxRun(array_sort(xs))

  /** Space-joined k-grams of an already-tokenized array column (the
    * token-array twin of [[TF.wordShingles]], which starts from raw text). */
  def tokenShingles(w: Column, k: Int): Column =
    when(size(w) < k, array()).otherwise(
      transform(
        sequence(lit(1), size(w) - lit(k - 1)),
        i => concat_ws(" ", slice(w, i, lit(k)))
      )
    )

  /** Per-document repetition signals over whitespace tokens:
    * (id, n_tokens, max_run, top_bigram_frac, dup_trigram_frac).
    * - max_run: longest consecutive identical-token run
    * - top_bigram_frac: occurrences of the most frequent word bigram over
    *   total bigrams (rounded 6)
    * - dup_trigram_frac: fraction of trigram instances that are repeats of
    *   an earlier trigram in the same document, i.e. (total − distinct) /
    *   total (rounded 6)
    * Ratios are 0.0 when a document is too short to form the n-gram.
    *
    * Shape notes (the scale story of this operator): the exact counts come
    * from ONE codegen kernel call per row
    * ([[graft.functions.TextOps.repetitionStats]] — tokenize + run fold +
    * n-gram maps fused, no intermediate token/n-gram arrays), and the
    * published ratios are assembled from the counts with ordinary Column
    * arithmetic so the values stay bit-identical to the original
    * higher-order-function formulation the DuckDB oracles mirror. The
    * 6-long counts array is bound as a `transform`-lambda VARIABLE over a
    * one-element array — SQL's missing `let`. Plain select-alias layering
    * is not safe for this: Catalyst substitutes aliases into filter
    * predicates (PushDownPredicates) and aggregate expressions without a
    * cost guard, so a downstream `filter(max_run <= 5)` would re-run the
    * kernel once per reference (and the pre-kernel HOF formulation went
    * QUADRATIC under that inlining — 142 s at sf0.1 on the corpus-ingest
    * gate). A lambda variable is a bound VALUE: no rule can re-inline its
    * definition. The struct is emitted through the `inline` generator,
    * which evaluates it exactly once per row and exposes the fields as
    * columns (a Generate is also a pushdown boundary). Still zero
    * shuffles, still embarrassingly parallel. */
  def signals(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    // widenIfNarrow (round 13): the fused repetition kernel is zero-shuffle,
    // so on a one-split scan the WHOLE operator ran as one task while 31
    // slots idled (JobProbe at sf0.1: 224 ms of docs_repetition_gate's
    // wall). At scale the guard is false and no exchange is added.
    Spread.widenIfNarrow(docs, idCol)
      .select(col(idCol), inline(array(signalStruct(col(textCol)))))
  }

  /** The one definition of the [[signals]] struct, (n_tokens, max_run,
    * top_bigram_frac, dup_trigram_frac) of `text`. Emit it only through
    * `inline(array(...))`, as [[signals]] and `CorpusIngest`'s per-row gate
    * do: that Generate evaluates the kernel once per row and stops
    * predicate pushdown from re-inlining it. */
  def signalStruct(text: Column): Column = {
    val counts = graft.functions.GraftFunctions.repetitionStats(TF.normText(text))
    element_at(
      transform(
        array(counts),
        a =>
          struct(
            element_at(a, 1).cast("int").as("n_tokens"),
            element_at(a, 2).cast("int").as("max_run"),
            when(element_at(a, 4) === 0L, 0.0)
              .otherwise(
                round(element_at(a, 3).cast("double") / element_at(a, 4), 6)
              )
              .as("top_bigram_frac"),
            when(element_at(a, 6) === 0L, 0.0)
              .otherwise(
                round(element_at(a, 5).cast("double") / element_at(a, 6), 6)
              )
              .as("dup_trigram_frac")
          )
      ),
      1
    )
  }
}
