package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Property tests for the fused codegen kernels: each kernel must be
  * BIT-identical (raw IEEE bits, not approximately equal) to the
  * interpreted Column formulation it replaced, because DuckDB-oracle hash
  * gates compare exact values downstream of these results. Raw ScalaCheck
  * generators sampled with a fixed seed, same convention as
  * GlueTypeParserPropertySpec (the scalatest bridge is not on this
  * classpath). */
class KernelPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // doubles across magnitudes and signs, plus exact zeros — no NaN/Inf
  // (vectors in the pipeline come from parquet floats/doubles; the kernels
  // and the HOF folds propagate specials identically anyway, but bitwise
  // comparison of NaN payloads is not what these properties are about)
  private val doubleGen: Gen[Double] = Gen.frequency(
    5 -> Gen.choose(-1e3, 1e3),
    2 -> Gen.choose(-1.0, 1.0),
    1 -> Gen.const(0.0),
    1 -> Gen.choose(-1e-8, 1e-8)
  )
  private val vecPairGen: Gen[(Seq[Double], Seq[Double])] = for {
    n <- Gen.frequency(4 -> Gen.choose(1, 64), 1 -> Gen.const(0))
    a <- Gen.listOfN(n, doubleGen)
    b <- Gen.listOfN(n, doubleGen)
  } yield (a, b)

  test("graft_dotd / graft_sqdistd are bit-identical to the Column folds") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val pairs = sample(vecPairGen, 300).zipWithIndex.map { case ((a, b), i) =>
      (i.toLong, a, b)
    }
    val df = pairs.toDF("id", "a", "b")
    val rows = df
      .select(
        col("id"),
        GraftFunctions.dotd(col("a"), col("b")).as("kd"),
        expr(
          "aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (s, z) -> s + z)"
        ).as("hd"),
        GraftFunctions.sqDistD(col("a"), col("b")).as("kq"),
        expr(
          "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0d, (s, z) -> s + z)"
        ).as("hq")
      )
      .collect()
    rows.foreach { r =>
      assert(
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"dotd bits diverge at id=${r.getLong(0)}: ${r.getDouble(1)} vs ${r.getDouble(2)}"
      )
      assert(
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(4)),
        s"sqdistd bits diverge at id=${r.getLong(0)}: ${r.getDouble(3)} vs ${r.getDouble(4)}"
      )
    }
    assert(rows.length == 300)
  }

  // token strings over a tiny alphabet (forces heavy duplication), with
  // messy raw whitespace the normText contract must fold away
  private val tokenGen: Gen[String] =
    Gen.frequency(
      6 -> Gen.oneOf("a", "b", "ab", "ba", "xyz"),
      1 -> Gen.oneOf("Ä", "的", "a1"),
      1 -> Gen.alphaNumStr.map(_.take(4))
    )
  private val docGen: Gen[String] = for {
    n <- Gen.choose(0, 40)
    toks <- Gen.listOfN(n, tokenGen)
    sep <- Gen.oneOf(" ", "  ", " \t ")
  } yield toks.mkString(sep)

  test("graft_diversity_stats matches the HOF formulation on random docs") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.functions.{TextFunctions => TF}
    val docs = sample(docGen, 300).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("id", "text")
    val w = TF.wsTokens(col("text"))
    val mismatch = df
      .select(
        col("id"),
        GraftFunctions.diversityStats(TF.normText(col("text"))).as("c"),
        size(w).cast("long").as("nt"),
        size(array_distinct(w)).cast("long").as("nd"),
        graft.operators.Repetition.topCount(w).cast("long").as("tc")
      )
      .filter(
        element_at(col("c"), 1) =!= col("nt") ||
          element_at(col("c"), 2) =!= col("nd") ||
          element_at(col("c"), 3) =!= col("tc")
      )
    assert(mismatch.count() == 0, mismatch.collect().mkString("; "))
  }

  test("graft_repetition_stats matches the HOF formulation on random docs") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import graft.functions.{TextFunctions => TF}
    import graft.operators.Repetition
    val docs = sample(docGen, 300).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("id", "text")
    val w = TF.wsTokens(col("text"))
    val bg = Repetition.tokenShingles(w, 2)
    val tg = Repetition.tokenShingles(w, 3)
    val mismatch = df
      .select(
        col("id"),
        GraftFunctions.repetitionStats(TF.normText(col("text"))).as("c"),
        size(w).cast("long").as("nt"),
        Repetition.maxRun(w).cast("long").as("mr"),
        when(size(bg) === 0, 0L)
          .otherwise(Repetition.topCount(bg).cast("long"))
          .as("tb"),
        size(bg).cast("long").as("nb"),
        (size(tg) - size(array_distinct(tg))).cast("long").as("dt"),
        size(tg).cast("long").as("ng")
      )
      .filter(
        element_at(col("c"), 1) =!= col("nt") ||
          element_at(col("c"), 2) =!= col("mr") ||
          element_at(col("c"), 3) =!= col("tb") ||
          element_at(col("c"), 4) =!= col("nb") ||
          element_at(col("c"), 5) =!= col("dt") ||
          element_at(col("c"), 6) =!= col("ng")
      )
    assert(mismatch.count() == 0, mismatch.collect().mkString("; "))
  }

  test("graft_squeeze_ws is byte-identical to trim(regexp_replace(\\s+)) — and so is normText") {
    // chunks stress every boundary: ASCII whitespace runs (the \s set),
    // non-ASCII whitespace that Java \s must NOT match, multibyte code
    // points, case-mapping targets, empty and all-whitespace strings
    val chunkGen: Gen[String] = Gen.frequency(
      4 -> Gen.alphaNumStr.map(_.take(8)),
      3 -> Gen.nonEmptyListOf(Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r')).map(_.mkString),
      2 -> Gen.oneOf("\u00A0", "\u2003", "\u1680", "\u200B"),
      2 -> Gen.oneOf("héllo", "ÅΩß", "日本語テキスト", "emoji 🙂 bits", "Großbuchstabe"),
      1 -> Gen.const("")
    )
    val strGen: Gen[String] = Gen.frequency(
      6 -> Gen.listOf(chunkGen).map(_.mkString),
      1 -> Gen.const(""),
      1 -> Gen.const("   \t\r\n  "),
      1 -> Gen.const(" x "),
      1 -> Gen.const("a" + (" " * 500) + "b")
    )
    val rows = sample(strGen, 400).zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val mismatch = rows
      .toDF("id", "t")
      .select(
        col("id"),
        col("t"),
        GraftFunctions.squeezeWs(col("t")).as("k"),
        trim(regexp_replace(col("t"), "\\s+", " ")).as("r"),
        TextFunctions.normText(col("t")).as("nk"),
        // the regex formulation normText replaced
        lower(trim(regexp_replace(col("t"), "\\s+", " "))).as("nr")
      )
      .filter(col("k") =!= col("r") || col("nk") =!= col("nr"))
    assert(mismatch.count() == 0, mismatch.collect().take(5).mkString("; "))
  }

  test("graft_jaccard_sorted is bit-identical to the array_intersect Column form") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // long sets with forced overlap (draws from a small value space) plus
    // empty/disjoint/identical corners
    val setGen: Gen[Seq[Long]] = Gen.frequency(
      6 -> Gen.listOf(Gen.choose(0L, 50L)),
      2 -> Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue)),
      1 -> Gen.const(Seq.empty[Long])
    )
    val rows = sample(Gen.zip(setGen, setGen), 400).zipWithIndex.map {
      case ((a, b), i) => (i.toLong, a, b)
    } ++ Seq((9001L, Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)), (9002L, Seq.empty[Long], Seq.empty[Long]))
    val df = rows.toDF("id", "a", "b")
    // the kernel contract: inputs sorted-distinct; reference = the exact
    // expression exactJaccardPairs used before round 13
    val inter = size(array_intersect(array_distinct(col("a")), array_distinct(col("b")))).cast("double")
    val na = size(array_distinct(col("a"))).cast("double")
    val nb = size(array_distinct(col("b"))).cast("double")
    val uni = na + nb - inter
    val mismatch = df
      .select(
        col("id"),
        GraftFunctions
          .jaccardSorted(sort_array(array_distinct(col("a"))), sort_array(array_distinct(col("b"))))
          .as("k"),
        when(uni === 0d, 0d).otherwise(inter / uni).as("r")
      )
      .filter(col("k") =!= col("r"))
    assert(mismatch.count() == 0, mismatch.collect().take(5).mkString("; "))
  }

  test("graft_argmax_cos / graft_argmin_sqdist4 match the aggregate argmin/argmax, ties included") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val dim = 8
    val vecGen: Gen[Seq[Double]] = Gen.listOfN(dim, doubleGen)
    // centroids include an exact DUPLICATE vector under two ids so the tie
    // rules (cos: higher id wins; sqdist: lower id wins) are exercised on
    // every point, plus a zero vector (cosine-0 convention)
    val cents: Seq[(Long, Seq[Double])] = {
      val base = sample(vecGen, 6).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      base ++ Seq((100L, base.head._2), (101L, Seq.fill(dim)(0.0)))
    }
    val pts = sample(vecGen, 200).zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      Seq((9001L, cents.head._2), (9002L, Seq.fill(dim)(0.0)))
    val ptsDf = pts.toDF("id", "v")
    val centsDf = cents.toDF("cid", "cv")

    // cosine flavor (float vectors, as the IVF path uses)
    val fPts = ptsDf.select(col("id"), col("v").cast("array<float>").as("v"))
    val fCents = centsDf.select(col("cid").as("centroid_id"), col("cv").cast("array<float>").as("cv"))
    val aggCos = fPts
      .crossJoin(broadcast(fCents))
      .select(col("id"), col("centroid_id"), GraftFunctions.cosineSim(col("v"), col("cv")).as("csim"))
      .groupBy("id")
      .agg(max(struct(col("csim"), col("centroid_id"))).as("best"))
      .select(col("id"), col("best.centroid_id").as("agg_c"))
    val kernelCos = fPts
      .crossJoin(
        broadcast(
          fCents
            .select(struct(col("centroid_id"), col("cv")).as("c"))
            .agg(sort_array(collect_list(col("c"))).as("cs"))
            .select(
              expr("transform(cs, x -> x.centroid_id)").as("ids"),
              expr("transform(cs, x -> x.cv)").as("cvs")
            )
        )
      )
      .select(col("id"), GraftFunctions.argmaxCos(col("v"), col("ids"), col("cvs")).as("kern_c"))
    val badCos = aggCos.join(kernelCos, "id").filter(col("agg_c") =!= col("kern_c"))
    assert(badCos.count() == 0, badCos.collect().take(5).mkString("; "))

    // sqdist flavor (double vectors, as KMeans uses)
    val dCents = centsDf.select(col("cid"), col("cv").cast("array<double>").as("cv"))
    val aggSq = ptsDf
      .crossJoin(broadcast(dCents))
      .select(
        col("id"),
        col("cid"),
        round(GraftFunctions.sqDistD(col("v").cast("array<double>"), col("cv")), 4).as("d")
      )
      .groupBy("id")
      .agg(min(struct(col("d"), col("cid"))).as("best"))
      .select(col("id"), col("best.cid").as("agg_c"))
    val kernelSq = graft.operators.KMeans
      .assign(ptsDf, dCents, "v", "id")
      .withColumnRenamed("cluster", "kern_c")
    val badSq = aggSq.join(kernelSq, "id").filter(col("agg_c") =!= col("kern_c"))
    assert(badSq.count() == 0, badSq.collect().take(5).mkString("; "))
  }
}
