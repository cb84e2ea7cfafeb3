package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: the query set is small and broadcast; the corpus streams
  * through once, cosine evaluated inside whole-stage codegen (native
  * [[graft.functions.CosineSimilarity]]), and per-query top-k is a
  * partitioned window — a map-side-combinable pattern (at extreme scale swap
  * the window for an `aggregate` with a bounded heap; the plan shape is the
  * same). The LSH variant prunes the corpus to matching hyperplane buckets
  * first, turning the scan into an equi-join.
  */
object SimilaritySearch {

  /** Exact top-k by cosine for each query vector (self-matches excluded):
    * (query_id, vec_id, cos, rank). Scores rounded to 4 decimals, rank tied
    * on rounded score broken by vec_id — keeps results engine-portable. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int
  ): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    )
    // widenIfNarrow (round 13): the |queries|-per-row cosine fan-out runs
    // below the top-k window's exchange — single-task on a one-split scan
    // (JobProbe: the 191 ms single-task stage left in ann_lsh_recall after
    // the LSH side was widened); no-op at scale.
    val scored = Spread
      .widenIfNarrow(corpus, idCol)
      .join(q, col("query_id") =!= col(idCol))
      .select(
        col("query_id"),
        col(idCol).as("vec_id"),
        round(GraftFunctions.cosineSim(col("qv"), col(vecCol)), 4).as("cos")
      )
    topKPerGroup(scored, k)
  }

  /** Nearest-centroid assignment: ties broken toward the higher centroid id
    * (deterministic). Round 13 (guide §2.4 — remove shuffles outright): the
    * centroids collapse into ONE broadcast row of parallel (ids, vectors)
    * arrays and the argmax is a per-row codegen kernel
    * ([[graft.functions.VectorOps.argmaxCos]] — same cosine, same
    * double-compare, same tie rule as the max(struct(csim, centroid_id))
    * aggregate it replaces, spec-pinned equal), so an assignment pass is a
    * pure map: the previous crossJoin → groupBy(id) shape exchanged one
    * skinny row PER CORPUS VECTOR per pass — at 100 TB that is a full
    * corpus-cardinality shuffle per Lloyd iteration for an operation that
    * needs none. Output keeps EVERY corpus column + centroid_id, which also
    * deletes the `.join(corpus, idCol)` (another corpus-scale exchange) the
    * index builders paid to re-attach vectors. */
  private def assign(
      corpus: DataFrame,
      cents: DataFrame,
      vecCol: String,
      idCol: String
  ): DataFrame = {
    val centsRow = broadcast(
      cents
        .select(struct(col("centroid_id"), col("cv")).as("c"))
        .agg(sort_array(collect_list(col("c"))).as("cs"))
        .select(
          expr("transform(cs, x -> x.centroid_id)").as("__cent_ids"),
          expr("transform(cs, x -> x.cv)").as("__cent_vs")
        )
    )
    corpus
      .crossJoin(centsRow)
      .withColumn(
        "centroid_id",
        GraftFunctions.argmaxCos(col(vecCol), col("__cent_ids"), col("__cent_vs"))
      )
      .drop("__cent_ids", "__cent_vs")
  }

  /** Deterministic k-means seeding (`numCentroids` lowest-id vectors),
    * optionally refined with `refineIterations` Lloyd steps: assign → new
    * centroid = per-dimension mean of its members (distributed: posexplode +
    * two keyed aggregations — no vectors ever collect to the driver). */
  def ivfCentroids(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      numCentroids: Int = 16,
      refineIterations: Int = 0
  ): DataFrame = {
    var cents = corpus
      .orderBy(col(idCol))
      .limit(numCentroids)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("cv"))
    for (_ <- 1 to refineIterations) {
      // assign keeps the vector column, so the former
      // `.join(corpus.select(id, vec), idCol)` re-attach is gone (round 13)
      val members = assign(corpus, cents, vecCol, idCol)
      // Deterministic mean: sum in 2^20 fixed point — scaled-long sums are
      // exactly associative, so the centroid is bit-identical under ANY
      // partition layout / AQE re-plan, where a float `avg` depends on
      // reduction order (a one-neighbor recall margin on the contract rows
      // must not hinge on summation order). Quantization is ~1e-6 per
      // coordinate on unit-scale embeddings; headroom: |x|≤1 scaled to 2^20
      // keeps the long sum exact past 2^40 cluster members.
      // Round 14 (guide §2.3/§2.4): the update is ONE vector-grain
      // aggregation (graft_vector_fixed_mean — map-side partial array
      // sums, k×dim longs per partition on the wire) instead of
      // posexplode → groupBy(cid, pos) → groupBy(cid), which exploded n
      // vectors into n×dim rows and paid two keyed exchanges per Lloyd
      // iteration. Values bit-identical (same scaled-long casts, exactly
      // associative sums, same division sequence — spec-pinned in
      // SimilaritySearchSpec).
      cents = members
        .groupBy(col("centroid_id"))
        .agg(GraftFunctions.vectorFixedMean(col(vecCol)).as("cv"))
        // lazy: the truncation still isolates each iteration's plan, but
        // the k-row centroid frame materializes inside the FIRST job that
        // consumes it (the next iteration's broadcast build) instead of
        // paying its own barrier job per iteration — 2 fewer driver
        // round-trips per run (JobProbe: ann_ivf 17 -> 15 jobs, job-wall
        // 655 -> 399 ms; bench-wall flat at sf0.1, where scheduling is
        // cheap — the saving is the barrier count on a real cluster)
        // pin, loop lineage: iteration i+1 must not re-run iterations 1..i
        .localCheckpoint(false)
    }
    cents
  }

  /** IVF (inverted-file) index: every corpus vector assigned to its nearest
    * centroid (see [[ivfCentroids]] for seeding/refinement). */
  def ivfIndex(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      numCentroids: Int = 16,
      refineIterations: Int = 0
  ): DataFrame = {
    val cents =
      ivfCentroids(corpus, vecCol, idCol, numCentroids, refineIterations)
    assign(corpus, cents, vecCol, idCol)
  }

  /** ANN via IVF: queries probe their `nProbe` nearest centroids and score
    * only vectors assigned to those centroids. The candidate join is an
    * equi-join on centroid_id; the index is typically precomputed and
    * reused across query batches. Output shape matches [[bruteForceTopK]]. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      numCentroids: Int = 16,
      nProbe: Int = 4,
      refineIterations: Int = 0
  ): DataFrame = {
    val centroids = ivfCentroids(corpus, vecCol, idCol, numCentroids, refineIterations)
    val index = assign(corpus, centroids, vecCol, idCol)
    ivfTopKIndexed(index, centroids, queries, vecCol, idCol, k, nProbe)
  }

  /** Persist an IVF index for reuse across query batches — the production
    * shape (FAISS-style build-once): `dir/centroids` holds (centroid_id,
    * cv); `dir/assignments` holds every corpus vector keyed by its
    * centroid, PARTITIONED BY centroid_id so a probe of nProbe centroids
    * prunes the scan to exactly those inverted lists at the file level. */
  def saveIvfIndex(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      dir: String,
      numCentroids: Int = 16,
      refineIterations: Int = 0
  ): Unit = {
    val centroids =
      ivfCentroids(corpus, vecCol, idCol, numCentroids, refineIterations)
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    assign(corpus, centroids, vecCol, idCol)
      .write
      .mode("overwrite")
      .partitionBy("centroid_id")
      .parquet(s"$dir/assignments")
  }

  /** ANN over a prebuilt [[saveIvfIndex]] index: no clustering work at
    * query time; the candidate read is partition-pruned to the probed
    * inverted lists. Output shape matches [[bruteForceTopK]]. */
  def ivfTopKPrebuilt(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nProbe: Int = 4
  ): DataFrame = {
    val centroids = spark.read.parquet(s"$indexDir/centroids")
    val index = spark.read.parquet(s"$indexDir/assignments")
    ivfTopKIndexed(index, centroids, queries, vecCol, idCol, k, nProbe)
  }

  /** The probe phase shared by [[ivfTopK]] (inline index) and
    * [[ivfTopKPrebuilt]] (parquet index): broadcast the centroids, pick
    * nProbe per query, equi-join the inverted lists, heap top-k. */
  private def ivfTopKIndexed(
      index: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    val cents = broadcast(
      centroids.select(col("centroid_id").as("cid"), col("cv"))
    )
    // nProbe nearest centroids per query (tiny: |queries| x numCentroids)
    val probes = broadcast(
      topKPerGroup(
        queries
          .crossJoin(cents)
          .select(
            col(idCol).as("query_id"),
            col("cid").as("vec_id"),
            GraftFunctions.cosineSim(col(vecCol), col("cv")).as("cos")
          ),
        nProbe
      ).select(col("query_id"), col("vec_id").as("centroid_id"))
        .join(
          queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
          "query_id"
        )
    )
    val scored = index
      .join(probes, Seq("centroid_id"))
      .filter(col("query_id") =!= col(idCol))
      .select(
        col("query_id"),
        col(idCol).as("vec_id"),
        round(GraftFunctions.cosineSim(col("qv"), col(vecCol)), 4).as("cos")
      )
    topKPerGroup(scored, k)
  }

  /** Per-group top-k via the native bounded-heap aggregate
    * ([[graft.functions.TopKAggregate]]): O(n log k) with map-side partials
    * and a k-bounded shuffle, instead of window row_number's per-partition
    * sort. Expects (query_id, vec_id, cos); emits + rank (1-based). */
  private def topKPerGroup(scored: DataFrame, k: Int): DataFrame = {
    scored
      .groupBy("query_id")
      .agg(GraftFunctions.topK(col("vec_id"), col("cos"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "e")))
      .select(
        col("query_id"),
        col("e.id").as("vec_id"),
        col("e.score").as("cos"),
        (col("pos") + 1).cast("long").as("rank")
      )
  }

  /** Recall@k contract between an exact top-k result and an approximate one
    * (both in [[bruteForceTopK]] output shape): per query, the fraction of
    * the exact top-k ids the approximate result returned, collapsed to a
    * `recall_ok` boolean against `floor`. This is how a nondeterministic-
    * looking operator becomes gate-checkable: the engine runs BOTH paths
    * and certifies the accuracy bound; an oracle only has to assert the
    * bound holds (a literal `true` per query), so any recall regression
    * below the floor flips the row red. Left join from the exact side: a
    * query the approximate path dropped entirely still yields its row,
    * with recall 0. */
  def recallContract(
      exact: DataFrame,
      approx: DataFrame,
      k: Int,
      floor: Double
  ): DataFrame =
    exact
      .select("query_id", "vec_id")
      .join(
        // distinct HERE, not trusted from the caller: a duplicate approx
        // pair would fan out its exact row in the left join and inflate
        // (h+d)/(n+d) toward 1 — an over-certified recall is exactly what
        // this contract exists to prevent
        approx.select("query_id", "vec_id").distinct().withColumn("hit", lit(1)),
        Seq("query_id", "vec_id"),
        "left"
      )
      .groupBy("query_id")
      .agg(
        (sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("recall")
      )
      .select(
        col("query_id"),
        lit(k).as("k"),
        (col("recall") >= floor).as("recall_ok")
      )

  /** ANN via random-hyperplane LSH: `numTables` independent hash tables of
    * `numPlanes` planes each (OR-amplification), with 1-bit multi-probe on
    * the query side of every table.
    *
    * A single AND-only table has per-neighbor recall q^p (q = 1 - θ/π, the
    * plane-agreement probability), which collapses for the moderate-cosine
    * neighbors top-k actually returns; L independent tables lift it to
    * 1-(1-q^p)^L at L× candidate cost — the standard recall/cost dial.
    * All L tables come from ONE kernel evaluation: the signature is
    * `numPlanes·numTables` (≤ 30) plane signs packed in an int, table t's
    * bucket is its p-bit slice tagged with t in the high bits, so the
    * corpus pays one scan, one codegen pass, and an in-task (shuffle-free)
    * explode to its L bucket rows. Queries live on the broadcast side with
    * their L·(p+1) probe keys (own bucket + every 1-bit flip per table);
    * the probe is still a plain equi-join, and a pair found by several
    * tables collapses via distinct before ranking (cosine is deterministic,
    * so the duplicate rows are identical). Output shape matches
    * [[bruteForceTopK]].
    *
    * Scale note: cost per query ≈ L·(p+1)·n/2^p candidates, so p is the
    * log-n dial (bucket population) and L the recall dial. At 100 TB pick p
    * so n/2^p stays a few hundred and L for the recall target; at tiny n a
    * high-recall setting approaches brute-force cost — expected, brute
    * force IS optimal there. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      numPlanes: Int = 4,
      numTables: Int = 1
  ): DataFrame = {
    require(
      numPlanes >= 1 && numTables >= 1 && numPlanes * numTables <= 30,
      "numPlanes*numTables must be in [1,30] (packed int signature)"
    )
    val total = numPlanes * numTables
    // table t's key: t in the high bits, its p-bit signature slice low
    val sliceKeys =
      s"transform(sequence(0, ${numTables - 1}), " +
        s"t -> cast(shiftleft(t, $numPlanes) | " +
        s"(shiftright(bits, t * $numPlanes) & ${(1 << numPlanes) - 1}) AS int))"
    val q = broadcast(
      queries
        .select(
          col(idCol).as("query_id"),
          col(vecCol).as("qv"),
          GraftFunctions.hyperplaneBucket(col(vecCol), total).as("bits")
        )
        // per table: own bucket plus each single-bit flip inside the slice
        .select(
          col("query_id"),
          col("qv"),
          explode(
            expr(
              s"flatten(transform($sliceKeys, " +
                s"key -> array_union(array(key), " +
                s"transform(sequence(0, ${numPlanes - 1}), " +
                s"b -> cast(key ^ shiftleft(1, b) AS int)))))"
            )
          ).as("bucket")
        )
    )
    // widenIfNarrow (round 13): the corpus-side hyperplane hashing, the
    // broadcast bucket probe and the per-candidate cosine all run below the
    // distinct's exchange — single-task on a one-split scan (JobProbe:
    // 214 ms of ann_lsh_recall's wall at sf0.1); no-op at scale.
    val c = Spread
      .widenIfNarrow(corpus, idCol)
      .select(
        col(idCol).as("vec_id"),
        col(vecCol),
        GraftFunctions.hyperplaneBucket(col(vecCol), total).as("bits")
      )
      .select(
        col("vec_id"),
        col(vecCol),
        explode(expr(sliceKeys)).as("bucket")
      )
    val scored = c
      .join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(
        col("query_id"),
        col("vec_id"),
        round(GraftFunctions.cosineSim(col("qv"), col(vecCol)), 4).as("cos")
      )
      .distinct()
    topKPerGroup(scored, k)
  }
}
