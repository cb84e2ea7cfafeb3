package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{Dedup, Repetition, Spread}
import graft.sources.DeltaRead

/** The composed streaming ingestion pipeline a training-data corpus runs
  * continuously: every micro-batch of incoming documents is
  *
  *   1. repetition-quality gated, row by row ([[Repetition.signalStruct]] —
  *      degenerate spam/boilerplate never enters the corpus),
  *   2. exact-deduplicated within the batch,
  *   3. near-dup-deduplicated AGAINST THE CURRENT CORPUS
  *      ([[Dedup.dedupAgainstCorpus]] — MinHash-LSH cross-corpus candidates,
  *      cost ∝ batch, never ∝ corpus),
  *   4. appended to the delta corpus exactly once
  *      ([[DeltaSink.exactlyOnce]]: [[DeltaRead.appendIdempotent]] with
  *      batchId as txn version — a replayed batch after a crash cannot
  *      double-ingest — and a log checkpoint every 10 commits, so the
  *      long-lived corpus replays O(interval), not O(batches ingested)).
  *
  * Scale shape: per batch, the corpus side contributes one sketch pass
  * (in production the corpus band table is maintained incrementally; here it
  * is recomputed, which the gate-scale data affords) and the batch side is
  * small; the append is a distributed parquet write plus one commit file.
  * When exact membership is the dominant duplicate class (re-crawls,
  * replayed feeds), [[Dedup.bloomNewDocs]] with a filter persisted via
  * [[Dedup.saveBloom]]/[[Dedup.loadBloom]] is the production pre-filter:
  * bloom-negative rows — most of a mostly-novel batch — skip the corpus
  * join entirely, and the filter builds once per corpus, not per batch.
  */
object CorpusIngest {

  /** Quality-gate thresholds (see docs_repetition_gate): documents with
    * longer same-token runs or heavier top-bigram dominance are dropped. */
  final case class Gate(maxRun: Int = 5, maxTopBigramFrac: Double = 0.2)

  /** One micro-batch of the pipeline against an already-loaded corpus
    * (None = empty corpus, e.g. first batch). Pure DataFrame logic — the
    * batch gate query `docs_ingest_batch` runs exactly this, so the composed
    * pipeline is DuckDB-oracled end to end, the same twin pattern the other
    * streaming operators use. Returns the rows that survived gating and
    * dedup. */
  def prepareBatch(
      batch: DataFrame,
      corpus: Option[DataFrame],
      textCol: String,
      idCol: String,
      jaccardThreshold: Double,
      gate: Gate
  ): DataFrame = {
    // The gate filters each batch row on its own signals, so a gated-out
    // doc cannot ride through on the id of a passing one.
    val gated = Spread
      .widenIfNarrow(batch, idCol)
      .select(col("*"), inline(array(Repetition.signalStruct(col(textCol)))))
      .filter(
        col("max_run") <= gate.maxRun &&
          col("top_bigram_frac") <= gate.maxTopBigramFrac
      )
      .select(batch.columns.map(col): _*)
    val selfDeduped = Dedup.exactDedup(gated, textCol, idCol)
    corpus match {
      case Some(ref) =>
        // dedupAgainstCorpus references its incoming side THREE times
        // (candidate band table, verify text join, final anti-join). All
        // three plan the same fingerprint-aggregate exchange, so AQE reuses
        // it and the repetition kernel runs once per query
        // (docs_ingest_batch's final plan at sf0.01, and at 22 MB, where the
        // batch reads Large), so no pin is needed to share it. Rebuilding the batch as batch ⋈ pinned survivor ids
        // would also re-admit every row of a surviving id when ids repeat.
        Dedup.dedupAgainstCorpus(
          selfDeduped,
          ref.select(col(idCol), col(textCol)),
          textCol,
          idCol,
          jaccardThreshold
        )
      case None => selfDeduped
    }
  }

  /** One micro-batch of the pipeline (also usable in batch jobs), reading
    * the live corpus from its delta table when one exists yet. */
  def prepareBatch(
      batch: DataFrame,
      corpusDir: String,
      textCol: String,
      idCol: String,
      jaccardThreshold: Double,
      gate: Gate
  ): DataFrame = {
    val spark = batch.sparkSession
    prepareBatch(
      batch,
      DeltaRead.lookup(spark, corpusDir).map(DeltaRead.read(spark, corpusDir, _)),
      textCol,
      idCol,
      jaccardThreshold,
      gate
    )
  }

  /** Streaming writer running [[prepareBatch]] + exactly-once append per
    * micro-batch ([[DeltaSink.exactlyOnce]], which also folds the corpus log
    * into a checkpoint every 10 commits). Each batch takes one snapshot of
    * the corpus: the replay guard checks its txn marker, and only a batch
    * that passes runs [[prepareBatch]] against the corpus read from that
    * snapshot and commits against it. A replayed batch builds no dedup and
    * commits nothing. Caller sets checkpointLocation and start()s. */
  def ingest(
      stream: DataFrame,
      corpusDir: String,
      appId: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      jaccardThreshold: Double = 0.5,
      gate: Gate = Gate()
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    DeltaSink.exactlyOnce(
      stream,
      corpusDir,
      appId,
      (batch, corpus) => prepareBatch(batch, corpus, textCol, idCol, jaccardThreshold, gate)
    )
}
