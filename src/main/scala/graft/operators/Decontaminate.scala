package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextFunctions => TF}

/** Benchmark decontamination: find training documents that share word
  * n-grams with an evaluation/benchmark set — the standard pre-training
  * hygiene pass (a training doc containing an eval n-gram leaks the
  * benchmark).
  *
  * Scale design (100 TB): the eval set is tiny relative to the corpus, so
  * its distinct shingle set is broadcast — the corpus side is a single
  * scan + explode with NO shuffle of document text; only (doc_id, hash)
  * pairs that actually hit an eval shingle reach the final aggregation.
  * Shingles are hashed with the one-pass [[graft.functions.GraftFunctions
  * .shingleHashes]] kernel (strings never materialize), same as the dedup
  * pipeline.
  */
object Decontaminate {

  /** Distinct n-gram hashes per document: (idCol, sh). */
  private def shingleSet(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int
  ): DataFrame = {
    docs.select(
      col(idCol),
      explode(
        array_distinct(GraftFunctions.shingleHashes(TF.normText(col(textCol)), k))
      ).as("sh")
    )
  }

  /** For each training doc overlapping the eval set: the number of distinct
    * shared `k`-gram shingles — (idCol, n_shared), n_shared >= 1. Docs with
    * no overlap are clean and absent from the result. */
  def overlaps(
      train: DataFrame,
      eval: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5
  ): DataFrame = {
    val evalSh = shingleSet(eval, textCol, idCol, k).select("sh").distinct()
    shingleSet(train, textCol, idCol, k)
      .join(broadcast(evalSh), "sh")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shared"))
  }

  /** The decontaminated corpus: training docs with fewer than `maxShared`
    * shared shingles (default: any overlap removes the doc). */
  def clean(
      train: DataFrame,
      eval: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      maxShared: Long = 1
  ): DataFrame = {
    val dirty = overlaps(train, eval, textCol, idCol, k)
      .filter(col("n_shared") >= maxShared)
      .select(idCol)
    train.join(dirty, Seq(idCol), "left_anti")
  }
}
