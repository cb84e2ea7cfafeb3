package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Distributed Lloyd's k-means over an embedding column — the clustering
  * pass a training-data pipeline runs for corpus analysis / stratification
  * (complements [[SimilaritySearch.ivfCentroids]], which is the
  * cosine/float flavor feeding the IVF ANN index; this one is squared-
  * euclidean in double precision with every step engine-portable, so whole
  * iterations are verifiable against an external SQL oracle).
  *
  * Scale design (100 TB): k centroids are a handful of rows — every
  * assignment is a broadcast cross-join (k rows) over one corpus scan, the
  * argmin is a per-row aggregation (no shuffle of the vectors), and the
  * centroid update is posexplode → two keyed aggregations on (cluster, dim)
  * — shuffle volume k×dim, independent of corpus size. Nothing ever
  * collects to the driver.
  *
  * Portability discipline (mirrored in the oracle SQL): squared distances
  * rounded to 4 decimals BEFORE the argmin with ties to the lowest centroid
  * id; centroid means via exact DECIMAL(30,10) summation rounded to 6 — so
  * float summation order can flip neither an assignment nor a coordinate.
  */
object KMeans {

  /** Left-fold sum of squared differences of two double arrays (the
    * reference formulation the `graft_sqdistd` codegen kernel is
    * bit-identical to; the hot paths call the kernel). */
  def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, x) => acc + x
    )

  /** Nearest-centroid id per point under rounded squared-euclidean distance.
    * `cents`: (cid, cv array<double>). Output: (idCol, cluster).
    *
    * Round 13 (guide §2.4): the centroids collapse into ONE broadcast row of
    * parallel (ids, vectors) arrays and the argmin is a per-row codegen
    * kernel ([[graft.functions.VectorOps.argminSqDist4]] — distances rounded
    * to 4 decimals BEFORE the argmin, ties to the lowest cid, exactly the
    * min(struct(d, cid)) contract the oracle mirrors; spec-pinned equal).
    * The previous crossJoin → groupBy(id) shape shuffled one skinny row per
    * POINT per assignment pass — a corpus-cardinality exchange per Lloyd
    * iteration that the argmin never needed. */
  def assign(
      points: DataFrame,
      cents: DataFrame,
      vecCol: String,
      idCol: String
  ): DataFrame = {
    val centsRow = broadcast(
      cents
        .select(struct(col("cid"), col("cv")).as("c"))
        .agg(sort_array(collect_list(col("c"))).as("cs"))
        .select(
          expr("transform(cs, x -> x.cid)").as("__cent_ids"),
          expr("transform(cs, x -> x.cv)").as("__cent_vs")
        )
    )
    points
      .crossJoin(centsRow)
      .select(
        col(idCol),
        GraftFunctions
          .argminSqDist4(
            col(vecCol).cast("array<double>"),
            col("__cent_ids"),
            col("__cent_vs")
          )
          .as("cluster")
      )
  }

  /** Deterministic seeds: the k lowest-id vectors as (cid = id, cv).
    * orderBy+limit plans TakeOrderedAndProject — no global sort. */
  def seeds(points: DataFrame, vecCol: String, idCol: String, k: Int): DataFrame =
    points
      .orderBy(col(idCol))
      .limit(k)
      .select(col(idCol).as("cid"), col(vecCol).cast("array<double>").as("cv"))

  /** Distributed deterministic seeding for corpus-scaled k: keep every
    * point whose id-hash lands on a stride of ~n/k — expected ~k seeds,
    * fully distributed (a pure filter: no global sort, no single-task
    * gather). [[seeds]]' orderBy+limit(k) is exact and oracle-mirrorable
    * but funnels k full vectors through one task — fine for dozens of
    * centroids, an O(k·dim) single-point bottleneck when k = n/625 tracks
    * the corpus. Hash-of-id (not rand()) keeps seeding idempotent under
    * stage retries, same discipline as docs_stratified_sample. */
  def seedsSampled(
      points: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      n: Long
  ): DataFrame = {
    val stride = math.max(1L, n / math.max(1, k))
    points
      .filter(pmod(xxhash64(col(idCol)), lit(stride)) === 0L)
      .select(col(idCol).as("cid"), col(vecCol).cast("array<double>").as("cv"))
  }

  /** Two-level (IVF-style) nearest-centroid assignment, for when k itself
    * scales with the corpus (SemDeDup sizes k = n/625, so at 1B vectors the
    * flat [[assign]] is 1.6M distances per point AND a 1.6M-row broadcast —
    * both non-starters). The k fine centroids are first clustered into
    * m = ceil(sqrt(k)) coarse cells (k rows — one cheap Lloyd step); each
    * point then computes m coarse distances, probes its `nProbe` nearest
    * cells, and argmins over only those cells' ~k/m fine centroids:
    * O(sqrt(k)) work per point, and the only full-k structure is an
    * equi-joined (cell -> fine list) table that never broadcasts as a whole.
    *
    * Distance math mirrors [[assign]] exactly (squared distance rounded to
    * 4 decimals before the argmin, ties to the lowest centroid id), so
    * whenever the probed cells cover the true nearest centroid — always,
    * when nProbe >= m — the result is identical to the flat path.
    * Approximation only enters when the nearest fine centroid lives in an
    * unprobed cell, the standard IVF recall trade. */
  def assignTwoLevel(
      points: DataFrame,
      cents: DataFrame,
      vecCol: String,
      idCol: String,
      nProbe: Int = 2
  ): DataFrame = {
    GraftFunctions.register(points.sparkSession)
    val k = cents.count()
    val m = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    // coarse-quantize the centroids themselves (tiny: k rows)
    val asPts = cents.select(col("cid").as("id"), col("cv").as("v"))
    val coarse0 = seeds(asPts, "v", "id", m)
    val coarse = updateCentroids(asPts, assign(asPts, coarse0, "v", "id"), "v", "id")
    // cell -> its fine centroids, as one array row per cell (equi-join side;
    // each row is ~k/m centroids, bounded regardless of corpus size)
    val cells = assign(asPts, coarse, "v", "id")
      .select(col("id").as("cid"), col("cluster").as("cell"))
      .join(cents, "cid")
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(struct(col("cid"), col("cv")))).as("fines"))
    // every coarse centroid in ONE broadcast row, so probe selection is a
    // per-row fold — the point's vector column never leaves the row
    val coarseArr = broadcast(
      coarse
        .select(struct(col("cid").as("cell"), col("cv")).as("c"))
        .agg(sort_array(collect_list(col("c"))).as("coarse_all"))
    )
    val sq = "graft_sqdistd(CAST(%s AS array<double>), %s)"
    val probed = points
      .crossJoin(coarseArr)
      .select(
        col(idCol),
        col(vecCol),
        explode(
          expr(
            "transform(slice(sort_array(transform(coarse_all, " +
              s"c -> struct(round(${sq.format(vecCol, "c.cv")}, 4) AS d, c.cell AS cell))), " +
              s"1, $nProbe), p -> p.cell)"
          )
        ).as("cell")
      )
    // in-cell argmin per probed row, then min across the nProbe rows — the
    // only shuffle is nProbe skinny (id, d, cid) rows per point
    probed
      .join(cells, Seq("cell"))
      .select(
        col(idCol),
        expr(
          "array_min(transform(fines, " +
            s"f -> struct(round(${sq.format(vecCol, "f.cv")}, 4) AS d, f.cid AS cid)))"
        ).as("best")
      )
      .groupBy(col(idCol))
      .agg(min(col("best")).as("b"))
      .select(col(idCol), col("b.cid").as("cluster"))
  }

  /** One Lloyd update: per-dimension mean (exact fixed-point sum, rounded
    * to 6) of each cluster's members. Clusters that lost all members
    * disappear. The sum rides `graft_fixed_sum10` (round 11): the
    * n×dim posexploded rows previously went through a DECIMAL(30,10)
    * aggregate whose per-row BigDecimal.valueOf + non-compact buffers were
    * the same ~4x tax q1 paid — the kernel keeps the exact-sum contract
    * (same rounded means, oracle hash unchanged) in pure long arithmetic. */
  def updateCentroids(
      points: DataFrame,
      assigned: DataFrame,
      vecCol: String,
      idCol: String
  ): DataFrame = {
    // Round 14 (guide §2.3/§2.4): one vector-grain aggregation
    // (graft_vector_fixed_mean10 — map-side partial 128-bit array sums)
    // instead of posexplode → groupBy(cid, pos) → groupBy(cid), which
    // exploded n vectors into n×dim rows and paid two keyed exchanges per
    // Lloyd update. Values bit-identical: same scaled1e10 conversion, the
    // same exactly-associative limb sums, Decimal→double cast, /count,
    // Spark Round-on-double HALF_UP at 6 — spec-pinned against the old
    // chain in KMeansSpec, oracle hashes unchanged (emb_kmeans,
    // dedup_semantic).
    points
      .join(assigned, idCol)
      .select(
        col("cluster").as("cid"),
        col(vecCol).cast("array<double>").as("__v")
      )
      .groupBy(col("cid"))
      .agg(GraftFunctions.vectorFixedMean10(col("__v")).as("cv"))
  }
}
