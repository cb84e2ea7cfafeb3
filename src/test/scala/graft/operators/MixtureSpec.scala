package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** C33 token-budget mixture sampling: the production two-pass histogram
  * cutoff must be bit-identical to the naive per-stratum window, the
  * selection must be the exact greedy prefix of the hash order, and both
  * must be invariant to partition layout (the determinism the gate oracle
  * depends on).
  */
class MixtureSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  /** Force the two-pass histogram machinery regardless of input size: the
    * fixtures here are tiny, so without this every "machinery == naive"
    * assertion would silently test the adaptive one-window path against
    * itself. An RDD-backed frame has no size estimate of its own, which
    * [[Spread.scale]] reads as `Huge`. */
  private def forceMachinery(df: DataFrame): DataFrame = {
    val rddBacked = spark.createDataFrame(df.rdd, df.schema)
    assert(Spread.scale(rddBacked) == Spread.Scale.Huge)
    rddBacked
  }

  // Deterministic synthetic corpus: stratum, id, token count. Token counts
  // vary so budget boundaries land mid-bucket, not on clean edges.
  private def corpus(perStratum: Map[String, Int]): DataFrame =
    perStratum.toSeq
      .flatMap { case (s, n) =>
        (0 until n).map(i => (s, s.hashCode.abs.toLong * 100000 + i, 5L + (i * 7 % 23)))
      }
      .toDF("src", "id", "tok")

  private val weights = Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25)

  /** Reference formulation of [[Mixture.sampleToTokenBudget]]: ONE
    * cumulative window per stratum, the ground truth the production cutoff
    * must match and the shape of the DuckDB oracle. Not a production path:
    * a dominant stratum serializes onto a single window task. */
  private def sampleToTokenBudgetNaive(
      docs: DataFrame,
      strataCol: String,
      tokensCol: Column,
      idCol: String,
      weights: Map[String, Double],
      totalBudget: Long
  ): DataFrame = {
    val base = Mixture.prepared(docs, strataCol, tokensCol, idCol, weights, totalBudget, "mix", 4096)
    val w = Window
      .partitionBy("s")
      .orderBy("rk", "id")
      .rowsBetween(Window.unboundedPreceding, 0)
    Mixture.finish(
      base.withColumn("cum", sum("tok").over(w)).where(col("cum") <= col("budget")),
      strataCol,
      idCol
    )
  }

  /** Reference formulation of [[Mixture.takeBestToBudget]]: one window per
    * stratum ordered by (quality desc, hash, id). */
  private def takeBestToBudgetNaive(
      docs: DataFrame,
      strataCol: String,
      orderCol: Column,
      tokensCol: Column,
      idCol: String,
      weights: Map[String, Double],
      totalBudget: Long
  ): DataFrame = {
    val base = Mixture.prepared(
      docs, strataCol, tokensCol, idCol, weights, totalBudget, "mix", 4096,
      orderCol = Some(orderCol)
    )
    val w = Window
      .partitionBy("s")
      .orderBy(col("qv").desc, col("rk"), col("id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Mixture.finishQ(
      base.withColumn("cum", sum("tok").over(w)).where(col("cum") <= col("budget")),
      strataCol,
      idCol
    )
  }

  private def keptSet(df: DataFrame): Set[(Long, String, Long)] =
    df.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("src"), r.getAs[Long]("tokens")))
      .toSet

  test("two-pass cutoff is bit-identical to the naive window, all bucket widths") {
    val docs =
      forceMachinery(corpus(Map("a" -> 300, "b" -> 120, "c" -> 40, "unweighted" -> 25)))
    val naive =
      sampleToTokenBudgetNaive(docs, "src", col("tok"), "id", weights, 2000L)
    val naiveSet = keptSet(naive)
    assert(naiveSet.nonEmpty, "boundary must actually cut (budget < corpus)")
    for (buckets <- Seq(4096, 256, 16, 1)) {
      val prod = Mixture.sampleToTokenBudget(
        docs, "src", col("tok"), "id", weights, 2000L, cutBuckets = buckets
      )
      assert(keptSet(prod) == naiveSet, s"cutBuckets=$buckets diverged from naive")
    }
  }

  test("selection is the exact greedy hash-order prefix per stratum") {
    val docs = corpus(Map("a" -> 200, "b" -> 80, "c" -> 30))
    val budget = Mixture.budgets(weights, 1500L)
    val kept = Mixture
      .sampleToTokenBudget(docs, "src", col("tok"), "id", weights, 1500L)
      .collect()
      .map(r => (r.getAs[String]("src"), r.getAs[Long]("id")))
      .toSet
    // Recompute the greedy prefix driver-side from first principles.
    val ranked = docs
      .withColumn("rk", md5(concat(lit("mix"), col("id").cast("string"))))
      .collect()
      .map(r => (r.getAs[String]("src"), r.getAs[Long]("id"), r.getAs[Long]("tok"), r.getAs[String]("rk")))
      .groupBy(_._1)
    for ((s, rows) <- ranked if budget.contains(s)) {
      var cum = 0L
      val expect = rows.sortBy(r => (r._4, r._2)).takeWhile { r =>
        cum += r._3; cum <= budget(s)
      }
      val expectIds = expect.map(r => (r._1, r._2)).toSet
      assert(kept.filter(_._1 == s) == expectIds, s"stratum $s is not the greedy prefix")
      // the prefix is maximal: the next doc in hash order would overflow
      val keptTok = expect.map(_._3).sum
      rows.sortBy(r => (r._4, r._2)).drop(expect.length).headOption.foreach { next =>
        assert(keptTok + next._3 > budget(s), s"stratum $s stopped early")
      }
    }
  }

  test("unweighted strata drop; oversized budget keeps a stratum whole") {
    val docs = corpus(Map("a" -> 50, "b" -> 10, "zzz" -> 40))
    val kept = Mixture.sampleToTokenBudget(
      docs, "src", col("tok"), "id", Map("a" -> 1.0, "b" -> 1.0), 1000000L
    )
    assert(kept.filter(col("src") === "zzz").count() == 0)
    assert(kept.count() == 60, "budget above corpus size must keep every weighted doc")
  }

  test("result is invariant to input partition layout") {
    val docs = forceMachinery(corpus(Map("a" -> 300, "b" -> 120, "c" -> 40)))
    val one = keptSet(
      Mixture.sampleToTokenBudget(docs.repartition(1), "src", col("tok"), "id", weights, 2000L)
    )
    val many = keptSet(
      Mixture.sampleToTokenBudget(
        docs.repartition(13, col("tok")), "src", col("tok"), "id", weights, 2000L
      )
    )
    assert(one == many)
  }

  test("budgets normalize weights in key-sorted order, Map-order independent") {
    val fwd = Mixture.budgets(Map("a" -> 0.2, "b" -> 0.3, "c" -> 0.5), 1000000L)
    val rev = Mixture.budgets(Map("c" -> 0.5, "b" -> 0.3, "a" -> 0.2), 1000000L)
    assert(fwd == rev)
    assert(fwd.values.sum <= 1000000L)
    // un-normalized weights scale to the same shares
    val scaled = Mixture.budgets(Map("a" -> 2.0, "b" -> 3.0, "c" -> 5.0), 1000000L)
    assert(scaled == fwd)
  }

  test("hot stratum: boundary window sees only a 1/cutBuckets slice") {
    // 96% of docs in one stratum — the shape that serializes the naive
    // window. The production path must still match it exactly.
    val docs = forceMachinery(corpus(Map("hot" -> 2400, "cold" -> 100)))
    val w = Map("hot" -> 0.9375, "cold" -> 0.0625)
    val naive = keptSet(
      sampleToTokenBudgetNaive(docs, "src", col("tok"), "id", w, 8000L)
    )
    val prod = keptSet(
      Mixture.sampleToTokenBudget(docs, "src", col("tok"), "id", w, 8000L, cutBuckets = 64)
    )
    assert(prod == naive)
    assert(naive.count(_._2 == "hot") > 0 && naive.count(_._2 == "cold") > 0)
  }

  // C34: value-ordered curation. Quality here is deliberately COARSE
  // (7 distinct values) so cells carry heavy ties and the hash tie-break
  // inside the boundary cell actually decides membership.
  private def qCorpus(perStratum: Map[String, Int]): DataFrame =
    perStratum.toSeq
      .flatMap { case (s, n) =>
        (0 until n).map { i =>
          (s, s.hashCode.abs.toLong * 100000 + i, 5L + (i * 7 % 23), (i % 7).toDouble / 10.0)
        }
      }
      .toDF("src", "id", "tok", "q")

  private def keptSetQ(df: DataFrame): Set[(Long, String, Long, Double)] =
    df.collect()
      .map(r =>
        (r.getAs[Long]("id"), r.getAs[String]("src"), r.getAs[Long]("tokens"),
          r.getAs[Double]("quality"))
      )
      .toSet

  test("quality cutoff is bit-identical to the naive window, ties and all bucket widths") {
    val docs = forceMachinery(qCorpus(Map("a" -> 300, "b" -> 120, "c" -> 40)))
    val naive = keptSetQ(
      takeBestToBudgetNaive(docs, "src", col("q"), col("tok"), "id", weights, 2000L)
    )
    assert(naive.nonEmpty)
    for (buckets <- Seq(4096, 64, 1)) {
      val prod = keptSetQ(
        Mixture.takeBestToBudget(
          docs, "src", col("q"), col("tok"), "id", weights, 2000L, cutBuckets = buckets
        )
      )
      assert(prod == naive, s"cutBuckets=$buckets diverged from naive")
    }
  }

  test("quality selection is the exact best-first prefix per stratum") {
    val docs = qCorpus(Map("a" -> 200, "b" -> 80, "c" -> 30))
    val budget = Mixture.budgets(weights, 1500L)
    val kept = Mixture
      .takeBestToBudget(docs, "src", col("q"), col("tok"), "id", weights, 1500L)
      .collect()
      .map(r => (r.getAs[String]("src"), r.getAs[Long]("id")))
      .toSet
    val ranked = docs
      .withColumn("rk", md5(concat(lit("mix"), col("id").cast("string"))))
      .collect()
      .map(r =>
        (r.getAs[String]("src"), r.getAs[Long]("id"), r.getAs[Long]("tok"),
          r.getAs[Double]("q"), r.getAs[String]("rk"))
      )
      .groupBy(_._1)
    for ((s, rows) <- ranked if budget.contains(s)) {
      var cum = 0L
      val expect = rows
        .sortBy(r => (-r._4, r._5, r._2))
        .takeWhile { r => cum += r._3; cum <= budget(s) }
        .map(r => (r._1, r._2))
        .toSet
      assert(kept.filter(_._1 == s) == expect, s"stratum $s is not the best-first prefix")
    }
  }

  test("constant-quality stratum falls back to hash order, still matches naive") {
    val docs = forceMachinery(
      qCorpus(Map("a" -> 200, "b" -> 60))
        .withColumn("q", when(col("src") === "b", lit(0.5)).otherwise(col("q")))
    )
    val w2 = Map("a" -> 0.5, "b" -> 0.5)
    val naive = keptSetQ(
      takeBestToBudgetNaive(docs, "src", col("q"), col("tok"), "id", w2, 1200L)
    )
    val prod = keptSetQ(
      Mixture.takeBestToBudget(docs, "src", col("q"), col("tok"), "id", w2, 1200L, cutBuckets = 64)
    )
    assert(prod == naive)
    assert(naive.exists(_._2 == "b") && naive.size < 260, "stratum b must be cut mid-tie")
  }

  // C35: epoch materialization.
  test("epochs: full copies + remainder prefix, recomputed from first principles") {
    val docs = corpus(Map("a" -> 40, "b" -> 25, "c" -> 10))
    val w = Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25)
    val budgetTotal = 4000L
    val budget = Mixture.budgets(w, budgetTotal)
    val out = Mixture
      .materializeEpochs(docs, "src", col("tok"), "id", w, budgetTotal)
      .collect()
      .map(r =>
        (r.getAs[String]("src"), r.getAs[Long]("id"), r.getAs[Long]("tokens"),
          r.getAs[Long]("epoch"))
      )
    val rows = docs
      .withColumn("rk", md5(concat(lit("mix"), col("id").cast("string"))))
      .collect()
      .map(r => (r.getAs[String]("src"), r.getAs[Long]("id"), r.getAs[Long]("tok"), r.getAs[String]("rk")))
      .groupBy(_._1)
    for ((s, docsS) <- rows) {
      val total = docsS.map(_._3).sum
      val nFull = budget(s) / total
      val rem = budget(s) % total
      assert(nFull >= 1, s"fixture must exercise at least one full epoch for $s")
      val got = out.filter(_._1 == s)
      // every full epoch carries the complete stratum
      for (e <- 0L until nFull)
        assert(
          got.filter(_._4 == e).map(_._2).toSet == docsS.map(_._2).toSet,
          s"epoch $e of $s is not the full stratum"
        )
      // fractional epoch = greedy hash prefix of the remainder
      var cum = 0L
      val expectFrac = docsS
        .sortBy(r => (r._4, r._2))
        .takeWhile { r => cum += r._3; cum <= rem }
        .map(_._2)
        .toSet
      assert(got.filter(_._4 == nFull).map(_._2).toSet == expectFrac,
        s"fractional epoch of $s is not the remainder prefix")
      assert(got.forall(_._4 <= nFull))
      // token accounting: materialized mass fits the budget with slack
      // smaller than one document
      val mass = got.map(_._3).sum
      assert(mass <= budget(s))
      assert(budget(s) - mass < docsS.map(_._3).max + 1)
    }
  }

  test("epochs: under-budget stratum degenerates to the C33 selection at epoch 0") {
    val docs = corpus(Map("a" -> 300, "b" -> 120, "c" -> 40))
    val ep = Mixture
      .materializeEpochs(docs, "src", col("tok"), "id", weights, 2000L)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("src"), r.getAs[Long]("epoch")))
    assert(ep.forall(_._3 == 0L), "budget below every stratum size must yield only epoch 0")
    val c33 = keptSet(
      Mixture.sampleToTokenBudget(docs, "src", col("tok"), "id", weights, 2000L)
    ).map(r => (r._1, r._2))
    assert(ep.map(r => (r._1, r._2)).toSet == c33)
  }

  test("epochs: an exact-multiple budget yields whole epochs and an empty fraction") {
    val docs = corpus(Map("a" -> 10))
    val total = docs.agg(sum("tok")).collect()(0).getLong(0)
    val out = Mixture
      .materializeEpochs(docs, "src", col("tok"), "id", Map("a" -> 1.0), total * 3)
      .collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("id")))
    assert(out.map(_._1).toSet == Set(0L, 1L, 2L))
    assert(out.length == 30)
  }

  test("epochs: n_full division is integer-exact at 2^53-boundary budgets") {
    // budget = k·total − 1 at magnitudes where DOUBLE division fails: with
    // total = 2^52 and budget = 2^53 − 1 (both exactly representable — every
    // long ≤ 2^53 is), budget/total = 2 − 2^-52 sits EXACTLY halfway between
    // the doubles 2 − 2^-51 and 2.0; ties-to-even rounds UP to 2.0, so a
    // `(budget / total).cast("long")` formulation reports n_full = 2 while
    // the true floor is 1 — and then over-materializes a whole epoch on top
    // of a remainder of total − 1 tokens. SQL DIV must stay exact.
    val tok = 1L << 50
    val docs = (0 until 4).map(i => ("a", i.toLong, tok)).toDF("src", "id", "tok")
    val total = 4 * tok // 2^52
    val budget = (total << 1) - 1 // 2^53 − 1, odd, exactly representable
    assert(budget.toDouble.toLong == budget, "fixture must survive budgets()'s double path")
    assert(Mixture.budgets(Map("a" -> 1.0), budget)("a") == budget)
    val out = Mixture
      .materializeEpochs(docs, "src", col("tok"), "id", Map("a" -> 1.0), budget)
      .collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[Long]("id"), r.getAs[Long]("tokens")))
    // exact: n_full = 1 (full epoch 0), remainder epoch 1 keeps 3 of 4 docs
    // (rem = total − 1, each doc 2^50 → prefix of 3). Double division would
    // emit epochs {0, 1} full + epoch 2 partial and overshoot the budget.
    assert(out.map(_._1).max == 1L, "n_full must floor exactly to 1, not round to 2")
    assert(out.count(_._1 == 0L) == 4)
    assert(out.count(_._1 == 1L) == 3)
    assert(out.map(_._3).sum <= budget, "materialized mass must fit the budget")
    // and the mirrored near-boundary: budget = k·total + 1 floors DOWN to k
    val out2 = Mixture
      .materializeEpochs(docs, "src", col("tok"), "id", Map("a" -> 1.0), (total << 1) + 1)
      .collect()
      .map(r => r.getAs[Long]("epoch"))
    assert(out2.count(_ == 0L) == 4 && out2.count(_ == 1L) == 4)
    assert(out2.max == 1L, "rem = 1 < any doc: fractional epoch must be empty")
  }

  test("invalid arguments fail fast") {
    intercept[IllegalArgumentException](Mixture.budgets(Map.empty, 100L))
    intercept[IllegalArgumentException](Mixture.budgets(Map("a" -> -1.0), 100L))
    intercept[IllegalArgumentException](Mixture.budgets(Map("a" -> 0.0), 100L))
    intercept[IllegalArgumentException] {
      Mixture.sampleToTokenBudget(
        corpus(Map("a" -> 5)), "src", col("tok"), "id", weights, 100L, cutBuckets = 100
      )
    }
  }

  test("adaptive small-input switch: one-window plan by default, machinery when disabled, same rows") {
    val docs = corpus(Map("a" -> 300, "b" -> 120, "c" -> 40))
    def plan(df: DataFrame): String = df.queryExecution.optimizedPlan.toString
    // a Small input -> the single-window path: no keptWhole/keptBoundary
    // Union in the plan
    assert(Spread.scale(docs) == Spread.Scale.Small)
    val small = Mixture.sampleToTokenBudget(docs, "src", col("tok"), "id", weights, 2000L)
    assert(!plan(small).contains("Union"), "small input must take the one-window path")
    // an RDD-backed (Huge) input -> the two-pass machinery (whole/boundary Union)
    val big =
      Mixture.sampleToTokenBudget(forceMachinery(docs), "src", col("tok"), "id", weights, 2000L)
    assert(plan(big).contains("Union"), "a Huge input must take the machinery")
    assert(keptSet(small) == keptSet(big), "the two paths must select identical rows")
    // takeBestToBudget switches the same way
    val q = qCorpus(Map("a" -> 100, "b" -> 50))
    val smallQ = Mixture.takeBestToBudget(q, "src", col("q"), col("tok"), "id", weights, 900L)
    assert(!plan(smallQ).contains("Union"))
  }
}
