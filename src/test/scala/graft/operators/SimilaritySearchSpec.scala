package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkFixture, Tables}

class SimilaritySearchSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("brute force top-k: exact results on a constructed corpus") {
    val corpus = Seq(
      (10L, Array(1f, 0f)),
      (11L, Array(0.9f, 0.1f)),
      (12L, Array(0f, 1f)),
      (13L, Array(-1f, 0f))
    ).toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val out = SimilaritySearch
      .bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 3)
      .orderBy("rank")
      .collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(10L, 11L, 12L))
    assert(out(0).getDouble(2) == 1.0)
    assert(out(2).getDouble(2) == 0.0)
    assert(out.map(_.getLong(3)).toSeq == Seq(1L, 2L, 3L))
  }

  test("query vector excluded from its own results") {
    val emb = Tables.t(spark, SparkFixture.sfDir, "embeddings")
    val out = SimilaritySearch.bruteForceTopK(
      emb, emb.filter($"vec_id" < 3), "embedding", "vec_id", k = 5
    )
    assert(out.filter($"query_id" === $"vec_id").count() == 0)
    assert(out.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))
  }

  test("LSH top-k is a subset of the bucket and recalls well at few planes") {
    val emb = Tables.t(spark, SparkFixture.sfDir, "embeddings")
    val queries = emb.filter($"vec_id" < 10)
    val exact = SimilaritySearch
      .bruteForceTopK(emb, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val approx = SimilaritySearch
      .lshTopK(emb, queries, "embedding", "vec_id", k = 5, numPlanes = 2)
      .select("query_id", "vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall=$recall") // multi-probe, 2 planes
    // every approx hit must be a genuine corpus vector in the query's bucket
    assert(approx.forall { case (q, v) => q != v })
  }

  test("multi-table LSH: table 0 reproduces the single table, recall is monotone in tables") {
    val emb = Tables.t(spark, SparkFixture.sfDir, "embeddings")
    val queries = emb.filter($"vec_id" < 10)
    def ids(numTables: Int) = SimilaritySearch
      .lshTopK(emb, queries, "embedding", "vec_id", k = 5, numPlanes = 4, numTables = numTables)
      .select("query_id", "vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val exact = SimilaritySearch
      .bruteForceTopK(emb, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // table 0 of an L-table run uses the same plane slice as a 1-table run,
    // so the candidate pool only grows with L: recall vs exact is monotone
    def recall(s: Set[(Long, Long)]) = (s & exact).size.toDouble / exact.size
    val r1 = recall(ids(1))
    val r4 = recall(ids(4))
    val r7 = recall(ids(7))
    assert(r4 >= r1, s"recall dropped with tables: $r1 -> $r4")
    assert(r7 >= r4, s"recall dropped with tables: $r4 -> $r7")
    assert(r7 >= 0.9, s"7-table recall=$r7 below the measured band")
  }

  test("recallContract: boolean bound from measured recall, dropped query still surfaces") {
    val corpus = Seq(
      (10L, Array(1f, 0f)),
      (11L, Array(0.9f, 0.1f)),
      (12L, Array(0f, 1f))
    ).toDF("vec_id", "embedding")
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 12L), (2L, 10L))
      .toDF("query_id", "vec_id")
    val approx = Seq((1L, 10L), (1L, 11L)) // query 2 entirely missing
      .toDF("query_id", "vec_id")
    val out = SimilaritySearch
      .recallContract(exact, approx, k = 2, floor = 0.8)
      .orderBy("query_id")
      .collect()
    assert(out.length == 2)
    assert(out(0).getBoolean(2)) // query 1: recall 1.0
    assert(!out(1).getBoolean(2)) // query 2: recall 0.0, not silently absent
  }

  test("IVF: index assigns every vector once; search recalls well") {
    val emb = Tables.t(spark, SparkFixture.sfDir, "embeddings")
    val index = SimilaritySearch.ivfIndex(emb, "embedding", "vec_id", 16)
    assert(index.count() == emb.count())
    assert(index.select("centroid_id").distinct().count() <= 16)

    val queries = emb.filter($"vec_id" < 10)
    val exact = SimilaritySearch
      .bruteForceTopK(emb, queries, "embedding", "vec_id", k = 5)
      .select("query_id", "vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val ivf = SimilaritySearch
      .ivfTopK(emb, queries, "embedding", "vec_id", k = 5, numCentroids = 16, nProbe = 6)
      .select("query_id", "vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")

    // Lloyd-refined centroids: index still complete, recall reasonable
    val refined = SimilaritySearch
      .ivfTopK(emb, queries, "embedding", "vec_id", k = 5,
        numCentroids = 16, nProbe = 6, refineIterations = 2)
      .select("query_id", "vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val refinedRecall = (exact & refined).size.toDouble / exact.size
    assert(refinedRecall >= 0.5, s"refinedRecall=$refinedRecall")
    assert(
      SimilaritySearch.ivfIndex(emb, "embedding", "vec_id", 16, 2).count() ==
        emb.count()
    )
  }

  test("vector fixed-point mean aggregate = the posexplode/two-groupBy chain, bit for bit") {
    // Round 14: ivfCentroids' Lloyd update collapsed to ONE aggregation
    // (graft_vector_fixed_mean). The centroid values feed assignment
    // argmaxes whose exact floats the contract rows pin, so the aggregate
    // must reproduce the old chain BIT-identically — same scaled-long
    // casts, exactly associative sums, same division sequence — on
    // randomized groups, under a shuffle (map-side partials + merge).
    val rnd = new scala.util.Random(13)
    val rows = (0 until 500).map { i =>
      (i.toLong % 7, Array.fill(16)((rnd.nextGaussian() * 2).toFloat))
    }
    val df = rows.toDF("centroid_id", "v").repartition(8, $"centroid_id" % 3)
    val fused = df
      .groupBy($"centroid_id")
      .agg(graft.functions.GraftFunctions.vectorFixedMean($"v").as("cv"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
      .toMap
    val chain = df
      .select($"centroid_id", posexplode($"v").as(Seq("pos", "x")))
      .groupBy($"centroid_id", $"pos")
      .agg(
        sum(($"x" * lit(1048576.0)).cast("long")).as("sx"),
        count(lit(1)).as("cn")
      )
      .select(
        $"centroid_id",
        $"pos",
        ($"sx".cast("double") / $"cn" / 1048576.0).as("m")
      )
      .groupBy($"centroid_id")
      .agg(sort_array(collect_list(struct($"pos", $"m"))).as("pm"))
      .select($"centroid_id", expr("transform(pm, p -> cast(p.m AS float))").as("cv"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
      .toMap
    assert(fused.keySet == chain.keySet)
    for (k <- chain.keySet)
      assert(
        fused(k).map(java.lang.Float.floatToRawIntBits) ==
          chain(k).map(java.lang.Float.floatToRawIntBits),
        s"centroid $k diverged: ${fused(k)} vs ${chain(k)}"
      )
    // null vector rows contribute neither sums nor count (posexplode parity)
    val withNull = (rows.take(20).map { case (g, v) => (g, Option(v)) } :+ (0L, Option.empty[Array[Float]]))
      .toDF("centroid_id", "v")
    val a = withNull
      .groupBy($"centroid_id")
      .agg(graft.functions.GraftFunctions.vectorFixedMean($"v").as("cv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val b = withNull.filter($"v".isNotNull)
      .groupBy($"centroid_id")
      .agg(graft.functions.GraftFunctions.vectorFixedMean($"v").as("cv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(a == b)
  }

  test("plan shape: queries broadcast, corpus not shuffled before scoring") {
    val emb = Tables.t(spark, SparkFixture.sfDir, "embeddings")
    val plan = SimilaritySearch
      .bruteForceTopK(emb, emb.filter($"vec_id" < 5), "embedding", "vec_id", 10)
      .queryExecution
      .executedPlan
      .toString
    assert(plan.contains("Broadcast"))
  }

  test("prebuilt IVF index: saved index matches inline results, scan prunes") {
    val emb = Tables.t(spark, SparkFixture.sfDir, "embeddings")
    val queries = emb.filter($"vec_id" < 5)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString

    SimilaritySearch.saveIvfIndex(emb, "embedding", "vec_id", dir, numCentroids = 8)
    // inverted lists land as one partition directory per centroid
    val partDirs = new java.io.File(s"$dir/assignments")
      .listFiles()
      .filter(_.isDirectory)
      .map(_.getName)
    assert(partDirs.nonEmpty && partDirs.forall(_.startsWith("centroid_id=")))

    val inline = SimilaritySearch
      .ivfTopK(emb, queries, "embedding", "vec_id", k = 5, numCentroids = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(x => (x._1, x._4))
    val prebuilt = SimilaritySearch
      .ivfTopKPrebuilt(spark, dir, queries, "embedding", "vec_id", k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(x => (x._1, x._4))
    assert(prebuilt.toSeq == inline.toSeq)

    // the probed join filters the partitioned index on its partition column
    // (static or dynamic partition pruning — either way, not a full scan
    // promise-free read: the partition column must reach the scan)
    val plan = SimilaritySearch
      .ivfTopKPrebuilt(spark, dir, queries, "embedding", "vec_id", k = 5)
      .queryExecution
      .executedPlan
      .toString
    assert(plan.contains("centroid_id"), plan)
  }
}
