package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.functions.{TextFunctions => TF}

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "  ALPHA beta   gamma delta epsilon zeta eta theta "), // exact dup after norm
    (3L, "alpha beta gamma delta epsilon zeta eta iota"),       // near dup of 1
    (4L, "one two three four five six seven eight nine ten"),
    (5L, "totally unrelated content with its own words here")
  ).toDF("doc_id", "text")

  test("exact dedup: normalization-equal docs collapse, keeper is min id") {
    val groups = Dedup.exactGroups(corpus, "text", "doc_id")
    assert(groups.count() == 4)
    val dupGroup = groups.filter($"n_docs" === 2).collect()
    assert(dupGroup.length == 1)
    assert(dupGroup(0).getAs[Long]("keeper_id") == 1L)
    val kept = Dedup.exactDedup(corpus, "text", "doc_id")
    assert(kept.count() == 4)
    assert(kept.filter($"doc_id" === 2L).count() == 0)
  }

  test("minhash LSH finds the exact and near duplicates, nothing else") {
    val pairs = Dedup
      .minhashCandidatePairs(corpus, "text", "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((1L, 2L))) // identical after norm
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
    assert(!pairs.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("nearDupPairs verifies with exact jaccard values") {
    val out = Dedup
      .nearDupPairs(corpus, "text", "doc_id", threshold = 0.3)
      .orderBy("a_id", "b_id")
      .collect()
    val m = out.map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // docs 1/2 identical after normalization
    assert(m((1L, 2L)) == 1.0)
    // docs 1/3: 6 shingles each (8 tokens, k=3), 5 shared => 5/7
    assert(m((1L, 3L)) == math.rint(5.0 / 7.0 * 10000) / 10000)
  }

  test("simhash blocking finds the near-dup pair with its hamming distance") {
    val pairs = Dedup
      .simhashPairs(corpus, "text", "doc_id", maxHamming = 15, bands = 16)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
      .toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 0) // identical tokens
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0)
  }

  test("hamming-pair kernel is row-identical to the SQL lambda formulation") {
    // The codegen pair kernel (graft_hamming_pairs) replaced the
    // transform/filter/flatten lambda chain inside simhashPairs (round 10,
    // 14x at sf10); this pins bit-identity on randomized buckets — ids
    // sorted ascending like sort_array produces, hashes arbitrary.
    import org.apache.spark.sql.functions.{expr => e}
    val rnd = new scala.util.Random(7)
    val rows = (0 until 50).map { g =>
      val n = 1 + rnd.nextInt(40)
      val ids = Array.iterate(rnd.nextInt(1000).toLong, n)(_ + 1 + rnd.nextInt(5))
      val hs = Array.fill(n)(rnd.nextLong())
      (g, ids, hs)
    }
    val df = rows.toDF("g", "ids", "hs")
    for (d <- Seq(0, 7, 31)) {
      val kernel = df
        .select(graft.functions.GraftFunctions.hammingPairs($"ids", $"hs", d).as("p"))
        .collect()
        .map(_.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getLong(0), r.getLong(1), r.getInt(2))))
      val lambda = df
        .select(e(
          "flatten(transform(arrays_zip(ids, hs), (x, i) -> " +
            "filter(transform(slice(arrays_zip(ids, hs), i + 2, size(ids)), " +
            "y -> struct(x.ids AS a_id, y.ids AS b_id, " +
            "cast(bit_count(x.hs ^ y.hs) AS int) AS hamming)), " +
            s"p -> p.hamming <= $d)))"
        ).as("p"))
        .collect()
        .map(_.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getLong(0), r.getLong(1), r.getInt(2))))
      assert(kernel.toSeq == lambda.toSeq, s"maxHamming=$d diverged")
    }
  }

  test("cosine-pair kernel is row-identical to the SQL lambda formulation") {
    // Same pinning as the hamming kernel: graft_cosine_pairs replaced the
    // interpreted lambda around graft_dotd in embeddingNearDups /
    // semanticDedup. The kernel must reproduce the lambda's values BIT
    // exactly — same dotd fold, same Spark Round-on-double HALF_UP — on
    // randomized buckets, including thresholds that land on rounding
    // boundaries.
    import org.apache.spark.sql.functions.{expr => e}
    val rnd = new scala.util.Random(11)
    val rows = (0 until 30).map { g =>
      val n = 2 + rnd.nextInt(25)
      val ids = Array.iterate(rnd.nextInt(100).toLong, n)(_ + 1 + rnd.nextInt(3))
      val vs = Array.fill(n)(Array.fill(8)(rnd.nextDouble() * 2 - 1))
      val nrms = vs.map(v => math.sqrt(v.map(x => x * x).sum))
      (g, ids, vs, nrms)
    }
    val df = rows.toDF("g", "ids", "vs", "nrms")
    for (t <- Seq(0.0, 0.5, 0.9)) {
      val kernel = df
        .select(
          graft.functions.GraftFunctions.cosinePairs($"ids", $"vs", $"nrms", t).as("p")
        )
        .collect()
        .map(_.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
      val lambda = df
        .select(e(
          "flatten(transform(arrays_zip(ids, vs, nrms), (x, i) -> " +
            "filter(transform(slice(arrays_zip(ids, vs, nrms), i + 2, size(ids)), " +
            "y -> struct(x.ids AS a_id, y.ids AS b_id, " +
            "round(graft_dotd(x.vs, y.vs) / (x.nrms * y.nrms), 4) AS cos)), " +
            s"p -> p.cos >= $t)))"
        ).as("p"))
        .collect()
        .map(_.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
      assert(kernel.toSeq == lambda.toSeq, s"threshold=$t diverged")
    }
  }

  test("pair kernels fail fast on bad user input (NaN threshold, null elements)") {
    // The kernels are user-callable SQL; a NaN threshold would be
    // interpolated into generated Java (uncompilable) and a null array
    // element would NPE out of toLongArray — both must be clear errors.
    intercept[IllegalArgumentException] {
      val nul = org.apache.spark.sql.catalyst.expressions.Literal(null)
      graft.functions.CosinePairs(nul, nul, nul, Double.NaN)
    }
    val nullIds = Seq((Seq[java.lang.Long](1L, null), Seq(1L, 2L)))
      .toDF("ids", "hs")
    val err = intercept[Exception] {
      nullIds.select(expr("graft_hamming_pairs(ids, hs, 3)")).collect()
    }
    assert(
      err.getMessage.contains("graft_hamming_pairs") ||
        Option(err.getCause).exists(_.getMessage.contains("graft_hamming_pairs")),
      s"expected a named error, got: ${err.getMessage}"
    )
  }

  test("embedding near-dups finds planted duplicate vectors") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.99f, 0.01f, 0f, 0f)), // near dup of 1
      (3L, Array(0f, 1f, 0f, 0f)),
      (4L, Array(0f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup
      .embeddingNearDups(vecs, "embedding", "vec_id", threshold = 0.99, numPlanes = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("canonical-bucket emission = plain kernel + distinct, row for row") {
    // Round 11: embeddingNearDups dropped its distinct() in favor of
    // canonical-bucket exactly-once emission (graft_cosine_pairs_canon).
    // This pins row-SET equality against the round-10 formulation — the
    // plain graft_cosine_pairs kernel over the same multi-probe exchange
    // followed by distinct() — on randomized corpora, across plane counts
    // and thresholds. Values must match bit-exactly (same dotd fold, same
    // rounding); only the emission discipline differs.
    import graft.functions.GraftFunctions
    val rnd = new scala.util.Random(23)
    // clustered corpus: near-dup groups (the multi-bucket-collision regime
    // that made duplicates dominate) plus uniform background noise
    val rows = (0 until 60).flatMap { g =>
      val center = Array.fill(8)(rnd.nextFloat() * 2 - 1)
      (0 until (1 + rnd.nextInt(3))).map { m =>
        val v = center.map(x => x + rnd.nextFloat() * 0.02f)
        ((g * 10 + m).toLong, v)
      }
    } ++ (0 until 50).map(i => ((1000 + i).toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = rows.toDF("vec_id", "embedding")
    for (planes <- Seq(4, 8); t <- Seq(0.4, 0.95)) {
      val canon = Dedup
        .embeddingNearDups(df, "embedding", "vec_id", threshold = t, numPlanes = planes)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // the round-10 formulation, inlined
      implicit val s: org.apache.spark.sql.SparkSession = spark
      val base = df
        .select(
          $"vec_id".as("id"),
          $"embedding".cast("array<double>").as("v"),
          GraftFunctions.hyperplaneBucket($"embedding", planes).as("bucket0")
        )
        .withColumn("nrm", expr("sqrt(graft_dotd(v, v))"))
        .filter($"nrm" > 0d)
      val old = base
        .select(
          $"id", $"v", $"nrm",
          explode(expr(
            s"array_union(array(bucket0), transform(sequence(0, ${planes - 1}), " +
              s"b -> cast(bucket0 ^ shiftleft(1, b) AS int)))"
          )).as("bucket")
        )
        .groupBy("bucket")
        .agg(sort_array(collect_list(struct($"id", $"v", $"nrm"))).as("xs"))
        .filter(size($"xs").between(2, 4096))
        .select(explode(GraftFunctions.cosinePairs(
          expr("transform(xs, x -> x.id)"),
          expr("transform(xs, x -> x.v)"),
          expr("transform(xs, x -> x.nrm)"),
          t)).as("p"))
        .select($"p.a_id", $"p.b_id", $"p.cos")
        .distinct()
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(canon.length == canon.distinct.length, s"duplicate emission at p=$planes t=$t")
      assert(canon.toSet == old.toSet, s"row sets diverged at p=$planes t=$t")
      assert(canon.nonEmpty, s"vacuous comparison at p=$planes t=$t")
    }
  }

  test("dedupAgainstCorpus drops incoming near-dups of the reference only") {
    val reference = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),   // exact dup of 100
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),    // near dup of 100
      (3L, "totally new content that matches nothing at all"),
      (4L, "one two three four five six seven eight nine ten") // exact dup of 101
    ).toDF("doc_id", "text")
    val kept = Dedup
      .dedupAgainstCorpus(incoming, reference, "text", "doc_id", threshold = 0.5)
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(kept == Set(3L), s"kept $kept")
    // a lower threshold with no matching shingles still keeps novel docs
    val keptAll = Dedup
      .dedupAgainstCorpus(
        incoming.filter($"doc_id" === 3L),
        reference,
        "text",
        "doc_id",
        threshold = 0.3
      )
      .count()
    assert(keptAll == 1L)
  }

  test("dedupAgainstCorpus: the large-corpus pinned/semi-filtered verification is row-identical") {
    // Round 14: at Spread.scale >= Large the verification pins the
    // candidate pair frame and semi-filters both text sides before the
    // per-doc shingle kernel. An RDD-backed reference (no estimate of its
    // own: Huge) takes that branch and must produce exactly the rows of
    // the small-corpus branch — same columns, same values — on a corpus
    // with exact dups, near dups above and below threshold, and novel docs.
    val reference = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight nine ten"),
      (102L, "red orange yellow green blue indigo violet colors here")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // near dup
      (3L, "totally new content that matches nothing at all"),
      (4L, "one two three four five six seven eight nine ten"), // exact dup
      (5L, "one two three four completely different tail words here now")
    ).toDF("doc_id", "text")
    def run(ref: DataFrame, band: Spread.Scale) = {
      assert(Spread.scale(ref) == band)
      Dedup
        .dedupAgainstCorpus(incoming, ref, "text", "doc_id", threshold = 0.5)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)
        .toSeq
    }
    val small = run(reference, Spread.Scale.Small) // the r13 broadcast shape
    val large = run( // pinned + semi-filtered shape
      spark.createDataFrame(reference.rdd, reference.schema), Spread.Scale.Huge)
    assert(small == large, s"shapes diverged:\nsmall=$small\nlarge=$large")
    assert(small.map(_._1) == Seq(3L, 5L))
  }

  test("embedding near-dups: recall vs exhaustive truth at the threshold") {
    // Planted structure: 30 seeded base directions, each with two noisy
    // copies -> a known population of high-cosine pairs; truth computed by
    // exhaustive O(n^2) cosine with the operator's own rounding (4 decimals,
    // float->double widening), independent of any LSH machinery.
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(8)(rnd.nextGaussian().toFloat)
    def jitter(v: Array[Float]) = v.map(x => x + (rnd.nextGaussian() * 0.05).toFloat)
    val rows = (0 until 30).flatMap { i =>
      val base = vec()
      Seq((i * 3L, base), (i * 3L + 1, jitter(base)), (i * 3L + 2, jitter(base)))
    }
    val threshold = 0.9
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      math.rint(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000) / 10000
    }
    val truth = (for {
      x <- rows; y <- rows
      if x._1 < y._1 && cos(x._2, y._2) >= threshold
    } yield (x._1, y._1)).toSet
    assert(truth.size >= 30, s"planted truth too small: ${truth.size}")

    val found = Dedup
      .embeddingNearDups(rows.toDF("vec_id", "embedding"), "embedding", "vec_id", threshold)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // precision is exact by construction (cosine verified inside the pair
    // lambda): every emitted pair must be a true pair
    assert((found -- truth).isEmpty, s"false positives: ${found -- truth}")
    // recall: 8 planes + 1-bit multi-probe on both sides covers bucket
    // hamming distance <= 2; seeded data makes this deterministic
    val recall = (found & truth).size.toDouble / truth.size
    assert(recall >= 0.8, s"recall=$recall (${found.size}/${truth.size})")
  }

  test("embedding near-dups: degenerate bucket is capped, not exploded") {
    // 120 identical vectors would form one bucket of 120 in EVERY probe ->
    // C(120,2)=7140 pairs per probe if uncapped. With the cap they are
    // dropped entirely while a small planted pair elsewhere still returns.
    val flood = (0L until 120L).map(i => (i, Array(1f, 0f, 0f, 0f)))
    val pair = Seq(
      (1000L, Array(0f, 1f, 1f, 0f)),
      (1001L, Array(0f, 1f, 0.99f, 0f))
    )
    val out = Dedup
      .embeddingNearDups(
        (flood ++ pair).toDF("vec_id", "embedding"),
        "embedding",
        "vec_id",
        threshold = 0.9,
        maxBucketSize = 50
      )
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((1000L, 1001L)), s"got ${out.toSeq}")
  }

  test("oversized LSH buckets are dropped (skew guard)") {
    // 60 identical docs -> one giant bucket; cap at 10 drops it entirely
    val many = (1L to 60L).map(i => (i, "same same same same same")).toDF("doc_id", "text")
    val capped = Dedup.minhashCandidatePairs(
      many, "text", "doc_id", maxBucketSize = 10
    )
    assert(capped.count() == 0)
    val uncapped = Dedup.minhashCandidatePairs(many, "text", "doc_id")
    assert(uncapped.count() == 60L * 59L / 2L)
  }

  test("duplicate substring spans: shared k-gram found, overlaps merged") {
    val phrase = (1 to 11).map(i => s"p$i").mkString(" ") // 11 shared tokens
    val docs = Seq(
      (1L, s"$phrase tail1 tail2 tail3"),
      (2L, s"lead1 lead2 $phrase"),
      (3L, "entirely different words with no shared ten gram at all right")
    ).toDF("doc_id", "text")
    val spans = Dedup
      .duplicateSpans(docs, "text", "doc_id", k = 10)
      .orderBy("doc_id", "span_start")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // 11 shared tokens -> two overlapping 10-grams -> ONE merged span of 11
    // tokens (2 grams) per document, at each document's phrase offset
    assert(spans.toSeq == Seq((1L, 0, 11, 2L), (2L, 2, 13, 2L)))
  }

  test("duplicate substring spans: within-document repetition counts too") {
    val phrase = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$phrase mid1 mid2 $phrase"),
      (2L, "nothing shared here with anybody else in this corpus at all")
    ).toDF("doc_id", "text")
    val spans = Dedup
      .duplicateSpans(docs, "text", "doc_id", k = 10)
      .orderBy("doc_id", "span_start")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(spans.toSeq == Seq((1L, 0, 10, 1L), (1L, 12, 22, 1L)))
    // short documents (< k tokens) produce no grams and no spans
    val short = Seq((9L, "too short")).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(short, "text", "doc_id", k = 10).count() == 0)
  }

  test("duplicate substring spans keepFirst: canonical first occurrence survives") {
    val phrase = (1 to 10).map(i => s"q$i").mkString(" ")
    val docs = Seq(
      (1L, s"$phrase tail1 tail2"),   // first occurrence (lowest doc, pos)
      (2L, s"lead1 $phrase"),         // later copy -> removable
      (3L, s"$phrase mid $phrase")    // hmm: within-doc later copy removable
    ).toDF("doc_id", "text")
    // global order of occurrences of the shared gram: (1,0) < (2,1) < (3,0) < (3,11)
    val spans = Dedup
      .duplicateSpans(docs, "text", "doc_id", k = 10, keepFirst = true)
      .orderBy("doc_id", "span_start")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(spans.toSeq == Seq((2L, 1, 11), (3L, 0, 10), (3L, 11, 21)))
  }

  test("duplicate substring spans: mid-band gram-table pin is row-identical") {
    // Round 14: in the Mid band the (id, pos, gh) gram table is pinned
    // once (one tokenize+hash kernel pass instead of two) and the
    // join-back broadcasts the gram dictionary explicitly. Driving the
    // band both ways must produce exactly the same spans — cross-doc
    // dups, within-doc repetition, keepFirst canonicalization, and a
    // no-dup doc. An RDD-backed frame's estimate is
    // spark.sql.defaultSizeInBytes: Long.MaxValue (Huge) by default, Mid
    // when set to 4 MB. Each run builds a fresh frame, because a plan
    // caches its statistics.
    val phrase = (1 to 12).map(i => s"g$i").mkString(" ")
    val docs = Seq(
      (1L, s"$phrase tail1 tail2 $phrase"),
      (2L, s"lead1 lead2 $phrase"),
      (3L, "entirely different words with no shared ten gram at all right")
    ).toDF("doc_id", "text")
    def rddBacked = spark.createDataFrame(docs.rdd, docs.schema)
    val defaultSize = "spark.sql.defaultSizeInBytes"
    for (keepFirst <- Seq(false, true)) {
      def run(input: DataFrame, band: Spread.Scale) = {
        assert(Spread.scale(input) == band)
        Dedup
          .duplicateSpans(input, "text", "doc_id", k = 10, keepFirst = keepFirst)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
          .sortBy(t => (t._1, t._2))
          .toSeq
      }
      spark.conf.set(defaultSize, (4L << 20).toString)
      val pinned = // inside the band => pin ON
        try run(rddBacked, Spread.Scale.Mid)
        finally spark.conf.unset(defaultSize)
      val below = run(docs, Spread.Scale.Small) // r13 shape
      val above = run(rddBacked, Spread.Scale.Huge) // r13 shape
      assert(pinned == below,
        s"keepFirst=$keepFirst diverged:\npinned=$pinned\nbelow=$below")
      assert(pinned == above,
        s"keepFirst=$keepFirst diverged:\npinned=$pinned\nabove=$above")
      assert(pinned.nonEmpty)
    }
  }

  test("duplicate substring spans: hot gram with 1e5 occurrences, no gram-hash window") {
    // One boilerplate 10-gram planted in 100k documents — the web-corpus
    // skew case. The scale-safe plan aggregates gram counts with map-side
    // partials and joins back; it must NOT sort all 1e5 occurrences of the
    // hot gram inside a single window partition (AQE cannot split those).
    val phrase = (1 to 10).map(i => s"hot$i").mkString(" ")
    val docs = spark
      .range(100000L)
      .select(
        col("id").as("doc_id"),
        concat(lit(phrase + " tail"), col("id").cast("string")).as("text")
      )
    val spans = Dedup.duplicateSpans(docs, "text", "doc_id", k = 10)
    val planText = spans.queryExecution.executedPlan.toString
    // the only window left is the per-document island merge
    assert(
      !planText.contains("windowspecdefinition(gh"),
      "gram-hash window reintroduced — hot grams would serialize into one task"
    )
    // every doc carries exactly one duplicated gram (pos 0); the second gram
    // ("hot2..hot10 tail<id>") is unique per doc and must not appear
    assert(spans.count() == 100000L)
    assert(
      spans.filter(col("span_start") =!= 0 || col("span_end") =!= 10).count() == 0
    )
    // keepFirst: the canonical occurrence (doc 0, pos 0) survives
    val kf = Dedup.duplicateSpans(docs, "text", "doc_id", k = 10, keepFirst = true)
    assert(kf.count() == 99999L)
    assert(kf.filter(col("doc_id") === 0L).count() == 0)
  }

  test("semantic dedup: within-cluster near-dups dropped, keep-first by id") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.999f, 0.001f, 0f, 0f)), // near dup of 1 -> dropped
      (3L, Array(0.998f, 0.002f, 0f, 0f)), // near dup of 1 -> dropped
      (10L, Array(0f, 1f, 0f, 0f)),
      (11L, Array(0f, 0.999f, 0.001f, 0f)), // near dup of 10 -> dropped
      (12L, Array(0f, 0f, 0f, 1f)),         // same cluster as 10, not near
      (13L, Array(0f, 0f, 0f, 0f))          // zero norm -> always kept
    ).toDF("vec_id", "embedding")
    val out = Dedup
      .semanticDedup(vecs, "embedding", "vec_id", threshold = 0.99, k = 2)
      .collect()
      .map(r => r.getLong(0) -> r.getBoolean(2))
      .toMap
    assert(out.size == 7)
    assert(out.filter(!_._2).keySet == Set(2L, 3L, 11L), out.toString)
  }

  test("semantic dedup: two-level assignment path finds the same near-dups") {
    // 8 well-separated axis clusters of 4 vectors each; within each cluster
    // the first two are near-identical (the higher id must drop), the other
    // two are distinct. k = 8 > flatAssignMaxK = 4 forces assignTwoLevel.
    val vecs = (0 until 8).flatMap { c =>
      val base = Array.fill(8)(0f)
      base(c) = 1f
      val near = base.clone(); near((c + 1) % 8) = 0.001f
      val far1 = Array.fill(8)(0f); far1(c) = 1f; far1((c + 1) % 8) = 1f
      val far2 = Array.fill(8)(0f); far2(c) = 1f; far2((c + 2) % 8) = -1f
      Seq(
        (c * 10L, base.toSeq),
        (c * 10L + 1, near.toSeq), // near dup of base -> dropped
        (c * 10L + 2, far1.toSeq),
        (c * 10L + 3, far2.toSeq)
      )
    }.toDF("vec_id", "embedding")
    val out = Dedup
      .semanticDedup(vecs, "embedding", "vec_id", threshold = 0.99, k = 8, flatAssignMaxK = 4)
      .collect()
      .map(r => r.getLong(0) -> r.getBoolean(2))
      .toMap
    assert(out.size == 32)
    val expectedDropped = (0 until 8).map(c => c * 10L + 1).toSet
    assert(out.filter(!_._2).keySet == expectedDropped, out.toString)
  }

  test("paragraph dedup: corpus-wide keep-first, all-dup doc survives as empty string") {
    val docs = Seq(
      (1L, "shared para\n\nunique one"),
      (2L, "shared para\n\nunique two\n\nshared para"), // cross-doc AND in-doc repeat
      (3L, "SHARED   para"), // normalization-equal to doc 1's first -> empty
      (4L, "solo paragraph")
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "text", "doc_id").orderBy("doc_id").collect()
    assert(out.length == 4)
    // doc 1 owns the first (doc_id, pos) occurrence of "shared para"
    assert(out(0).getAs[String]("text_dedup") == "shared para\n\nunique one")
    assert(out(0).getAs[Long]("n_paras") == 2L && out(0).getAs[Long]("n_kept") == 2L)
    // doc 2: both copies of the shared para drop (one cross-doc, one in-doc)
    assert(out(1).getAs[String]("text_dedup") == "unique two")
    assert(out(1).getAs[Long]("n_paras") == 3L && out(1).getAs[Long]("n_kept") == 1L)
    // doc 3: every paragraph is a repeat -> row preserved with empty text
    assert(out(2).getAs[String]("text_dedup") == "")
    assert(out(2).getAs[Long]("n_paras") == 1L && out(2).getAs[Long]("n_kept") == 0L)
    // doc 4: single-paragraph doc passes through
    assert(out(3).getAs[String]("text_dedup") == "solo paragraph")
    assert(out(3).getAs[Long]("n_paras") == 1L && out(3).getAs[Long]("n_kept") == 1L)
  }

  test("paragraph dedup: separators at document boundaries produce (kept) empty paragraphs") {
    val docs = Seq((7L, "\n\nedge"), (8L, "tail\n\n")).toDF("doc_id", "text")
    val out = Dedup
      .paragraphDedup(docs, "text", "doc_id")
      .orderBy("doc_id")
      .collect()
    // doc 7's leading "" is the corpus-first empty paragraph -> kept, so the
    // leading separator survives reassembly; doc 8's trailing "" is a repeat
    assert(out(0).getAs[String]("text_dedup") == "\n\nedge")
    assert(out(0).getAs[Long]("n_kept") == 2L)
    assert(out(1).getAs[String]("text_dedup") == "tail")
    assert(out(1).getAs[Long]("n_paras") == 2L && out(1).getAs[Long]("n_kept") == 1L)
  }

  test("bloomNewDocs: incoming minus reference content, both overloads agree") {
    val ref = Seq((10L, "known alpha"), (11L, "known beta")).toDF("doc_id", "text")
    val inc = Seq(
      (1L, "known alpha"),      // exact member -> dropped
      (2L, "brand new gamma"),  // novel -> kept
      (3L, "  KNOWN   beta "),  // member after normalization -> dropped
      (4L, "another new delta") // novel -> kept
    ).toDF("doc_id", "text")
    val built = Dedup
      .bloomNewDocs(inc, ref, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(built == Set(2L, 4L))
    // pre-built-filter overload (the batch-reuse path) must agree
    val refFp = ref.select(TF.fingerprint($"text").as("__fp"))
    val bloom = refFp.select(xxhash64($"__fp").as("__k")).stat.bloomFilter("__k", 2, 0.01)
    val reused = Dedup
      .bloomNewDocs(inc, bloom, refFp, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reused == built)
    // output schema matches the incoming schema (no leaked __fp column)
    assert(
      Dedup.bloomNewDocs(inc, ref, "text", "doc_id").columns.toSeq == inc.columns.toSeq
    )
  }

  test("bloomNewDocs: bloom false positive on a novel doc is culled by the fingerprint verify") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val ref = Seq((10L, "known alpha")).toDF("doc_id", "text")
    val refFp = ref.select(TF.fingerprint($"text").as("__fp"))
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(2, 0.01)
    refFp.select(xxhash64($"__fp")).collect().foreach(r => bloom.putLong(r.getLong(0)))
    val inc = Seq((1L, "novel text"), (2L, "known alpha")).toDF("doc_id", "text")
    // plant the novel doc's probe key in the filter — exactly what an
    // xxhash64 collision (or an ordinary false positive) looks like; the
    // md5-fingerprint verify join must still keep the doc
    val novelKey =
      inc.filter($"doc_id" === 1L).select(xxhash64(TF.fingerprint($"text"))).head.getLong(0)
    bloom.putLong(novelKey)
    val out = Dedup
      .bloomNewDocs(inc, bloom, refFp, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L))
  }

  test("bloom filter save/load round-trips through the Hadoop FS API, incl. a custom scheme") {
    val ref = Seq((10L, "known alpha"), (11L, "known beta")).toDF("doc_id", "text")
    val inc = Seq((1L, "known alpha"), (2L, "brand new gamma")).toDF("doc_id", "text")
    val refFp = ref.select(TF.fingerprint($"text").as("__fp"))
    val bloom = refFp.select(xxhash64($"__fp").as("__k")).stat.bloomFilter("__k", 2, 0.01)
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    // default scheme
    Dedup.saveBloom(spark, bloom, s"$dir/corpus.bloom")
    val loaded = Dedup.loadBloom(spark, s"$dir/corpus.bloom")
    assert(loaded.bitSize() == bloom.bitSize())
    val viaLoaded = Dedup
      .bloomNewDocs(inc, loaded, refFp, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaLoaded == Set(2L))
    // a second FileSystem scheme: same bytes through graftfs://
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfs.impl", classOf[graft.sources.GraftFsFileSystem].getName)
    conf.set("fs.graftfs.impl.disable.cache", "true")
    Dedup.saveBloom(spark, bloom, s"graftfs://$dir/corpus2.bloom")
    assert(Dedup.loadBloom(spark, s"graftfs://$dir/corpus2.bloom").bitSize() == bloom.bitSize())
  }

  test("minhash banding candidates equal the exact Jaccard pair set on real corpora (gate contract)") {
    // The dedup_minhash_lsh gate row is checked against the O(n²) exact
    // 3-gram Jaccard >= 0.8 oracle. That only works if (a) banding recall is
    // total — structural: 32 bands × 4 rows gives P(miss) < 1e-7 at j = 0.8 —
    // and (b) no banding false positive survives on the gate corpus. This
    // asserts both on the same data the driver uses.
    for (dir <- Seq(SparkFixture.sfDir, SparkFixture.sfDirMid)) {
      val docs = spark.read
        .parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val exact = Dedup
        .exactJaccardPairs(docs, "text", "doc_id", threshold = 0.8)
        .select("a_id", "b_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val cand = Dedup
        .minhashCandidatePairs(docs, "text", "doc_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      assert(exact.nonEmpty, s"$dir: fixture lost its planted near-dups")
      assert(
        exact.subsetOf(cand),
        s"$dir: banding missed ${(exact -- cand).take(5)}"
      )
      assert(
        cand == exact,
        s"$dir: banding false positives ${(cand -- exact).take(5)}"
      )
    }
  }

  test("sampled recall: exact-in-sample truth vs full-corpus banding, edge cases") {
    // the gate corpora: banding finds every exact pair, so the sampled
    // restriction must too — and the summary's counts must match a direct
    // computation of the sample's ground truth
    for (dir <- Seq(SparkFixture.sfDir, SparkFixture.sfDirMid)) {
      val docs = spark.read
        .parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val row = Dedup
        .minhashSampledRecall(docs, "text", "doc_id", 0.8, modulus = 2, floor = 0.8)
        .collect()
        .head
      val sample = docs.filter(pmod($"doc_id", lit(2)) === 0)
      assert(row.getAs[Long]("n_sample") == sample.count())
      val directExact = Dedup
        .exactJaccardPairs(sample, "text", "doc_id", 0.8)
        .count()
      assert(row.getAs[Long]("exact_pairs") == directExact)
      assert(directExact > 0, s"$dir: sample lost all planted pairs")
      assert(row.getAs[Boolean]("recall_ok"), s"$dir: recall below floor")
    }
    // pair-free sample: the bound is vacuously true, not null/false
    val loners = Seq(
      (2L, "alpha beta gamma delta epsilon zeta"),
      (4L, "one two three four five six seven"),
      (5L, "this odd doc is outside the sample")
    ).toDF("doc_id", "text")
    val edge = Dedup
      .minhashSampledRecall(loners, "text", "doc_id", 0.8, modulus = 2, floor = 0.8)
      .collect()
      .head
    assert(edge.getAs[Long]("n_sample") == 2L)
    assert(edge.getAs[Long]("exact_pairs") == 0L)
    assert(edge.getAs[Boolean]("recall_ok"))
  }

  test("sampled recall: modulus is the scale dial (m=5; m tracking corpus growth pins the sample)") {
    // the docstring advertises `modulus` as the dial that keeps the
    // quadratic denominator fixed as the corpus grows; exercise a modulus
    // other than the gate row's hardcoded 2, then prove the dial
    val docs = spark.read
      .parquet(s"${SparkFixture.sfDirMid}/documents.parquet")
      .select("doc_id", "text")
    val row = Dedup
      .minhashSampledRecall(docs, "text", "doc_id", 0.8, modulus = 5, floor = 0.8)
      .collect()
      .head
    val sample5 = docs.filter(pmod($"doc_id", lit(5)) === 0)
    assert(row.getAs[Long]("n_sample") == sample5.count())
    assert(
      row.getAs[Long]("exact_pairs") ==
        Dedup.exactJaccardPairs(sample5, "text", "doc_id", 0.8).count()
    )
    assert(row.getAs[Boolean]("recall_ok"))

    // corpus grows 5x (disjoint id shards, per-copy token suffix as in
    // ScaleUp); raising modulus 5x (2 -> 10) must NOT grow the sample the
    // quadratic ground truth runs on
    val base = docs.agg(max($"doc_id")).head.getLong(0) + 1L
    val grown = docs
      .withColumn("c", explode(lit((0 until 5).toArray)))
      .select(
        ($"doc_id" + $"c" * base).as("doc_id"),
        concat($"text", lit(" copytoken"), $"c").as("text")
      )
    val sampleOrig = docs.filter(pmod($"doc_id", lit(2)) === 0).count()
    val grownRow = Dedup
      .minhashSampledRecall(grown, "text", "doc_id", 0.8, modulus = 10, floor = 0.8)
      .collect()
      .head
    val sampleGrown = grownRow.getAs[Long]("n_sample")
    assert(
      sampleGrown <= (sampleOrig * 1.1).toLong + 1,
      s"sample grew with the corpus: $sampleOrig -> $sampleGrown"
    )
    assert(grownRow.getAs[Boolean]("recall_ok"))
  }

  test("exact embedding pairs: independent re-derivation, LSH subset + measured recall") {
    val emb = spark.read.parquet(s"${SparkFixture.sfDirMid}/embeddings.parquet")
    val exactDf = Dedup
      .exactEmbeddingPairs(emb, "embedding", "vec_id", threshold = 0.4)
    val exact = exactDf
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(exact.nonEmpty, "gate corpus lost its planted near-dup embeddings")

    // Independent re-derivation of the same pair set with plain Column
    // formulations (zip_with/aggregate) instead of the codegen kernel.
    val v = emb.select(
      col("vec_id"),
      col("embedding").cast("array<double>").as("e")
    )
    val ref = v
      .toDF("a_id", "ea")
      .crossJoin(v.toDF("b_id", "eb"))
      .filter($"a_id" < $"b_id")
      .withColumn(
        "dot",
        expr("aggregate(zip_with(ea, eb, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
      )
      .withColumn(
        "na",
        expr("sqrt(aggregate(ea, 0D, (acc, x) -> acc + x * x))")
      )
      .withColumn(
        "nb",
        expr("sqrt(aggregate(eb, 0D, (acc, x) -> acc + x * x))")
      )
      .withColumn("cos", round($"dot" / ($"na" * $"nb"), 4))
      .filter($"cos" >= 0.4)
      .select("a_id", "b_id", "cos")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(ref.keySet == exact.keySet, "kernel vs Column pair sets differ")
    val maxDiff =
      ref.map { case (k, c) => math.abs(c - exact(k)) }.max
    assert(maxDiff <= 1e-6, s"cos values diverge by $maxDiff")

    // The LSH form verifies cosine in-bucket, so its output is structurally
    // a SUBSET of the exact set (precision 1.0); its recall at a 0.4
    // threshold is poor BY DESIGN — hyperplane collision probability decays
    // with the angle, and cos 0.4 is a 66° angle, so band-collision recall
    // is low exactly where the pairs are least similar. Assert the subset
    // contract and a measured floor; the at-scale path for low thresholds
    // is cluster-local semantic dedup (C27), not hyperplane LSH.
    val lsh = Dedup
      .embeddingNearDups(emb, "embedding", "vec_id", threshold = 0.4)
      .select("a_id", "b_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(
      lsh.subsetOf(exact.keySet),
      s"LSH emitted non-pairs ${(lsh -- exact.keySet).take(5)}"
    )
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.25, s"recall=$recall collapsed below the measured floor")
  }

  test("bloomNewDocs: null-text rows are excluded, not resurrected by the seed probe key") {
    val ref = Seq((10L, "known alpha")).toDF("doc_id", "text")
    val inc = Seq(
      (1L, "known alpha"),
      (2L, null.asInstanceOf[String]), // ill-defined membership -> excluded
      (3L, "fresh content")
    ).toDF("doc_id", "text")
    val out = Dedup
      .bloomNewDocs(inc, ref, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(3L))
  }
}
