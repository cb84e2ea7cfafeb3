package graft
package gate

import org.apache.spark.sql.functions._

/** ANN and k-means rows (SURVEY §2 C), with their recall contract rows. */
object AnnRows {
  val rows: Seq[GateQuery] = Seq(
    // ---- C6: exact brute-force top-k cosine for 5 query vectors (oracle).
    GateQuery("ann_bruteforce", { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      operators.SimilaritySearch
        .bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "embedding", "vec_id", k = 10)
        .orderBy("query_id", "rank")
    }, Oracle(
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 4) AS cos
        |  FROM q, embeddings e
        |  WHERE e.vec_id <> q.query_id
        |), ranked AS (
        |  SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS "rank"
        |  FROM scored
        |)
        |SELECT query_id, vec_id, cos, "rank" FROM ranked
        |WHERE "rank" <= 10
        |ORDER BY query_id, "rank"""".stripMargin)),

    // ---- C7: LSH-bucketed ANN, same shape (rows-only; recall spec'd and
    // gate-checked by the ann_lsh_recall contract row). 7 tables × 4 planes
    // (one packed 28-bit signature, OR-amplified): single-table recall on
    // this corpus's moderate-cosine neighbors measured 0.2-0.7; the
    // amplified form measures ≥0.9 per query.
    GateQuery("ann_lsh", { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      operators.SimilaritySearch
        .lshTopK(
          emb,
          emb.filter(col("vec_id") < 5),
          "embedding",
          "vec_id",
          k = 10,
          numPlanes = 4,
          numTables = 7
        )
        .orderBy("query_id", "rank")
    }, Contract("ann_lsh_recall",
      "approximate top-k; accuracy is gate-checked by the HASH-MATCHED " +
        "ann_lsh_recall contract row (recall floor 0.8 per query, measured " +
        "1.0 at the gate params)")),

    // ---- C7 contract row: the LSH path's recall@10 against the exact
    // top-10, certified per query. The engine runs BOTH paths and emits a
    // boolean bound; the oracle asserts the bound holds, so a recall
    // regression (plane/table/probe change, kernel bug) flips this row red
    // while ann_lsh itself stays free to be approximate. Measured at the
    // gate params: 1.0 recall on every query; floor 0.8 leaves honest
    // margin.
    GateQuery("ann_lsh_recall", { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
      val ss = operators.SimilaritySearch
      ss.recallContract(
          ss.bruteForceTopK(emb, qs, "embedding", "vec_id", k = 10),
          ss.lshTopK(emb, qs, "embedding", "vec_id", k = 10, numPlanes = 4, numTables = 7),
          k = 10,
          floor = 0.8
        )
        .orderBy("query_id")
    }, Oracle(
      // Recall-contract rows: the engine certifies the accuracy bound by
      // running exact + approximate internally; the oracle pins the query
      // set, k, and the asserted bound. `true` is not a tautology — the
      // Spark side computes the boolean from measured recall, so a
      // regression produces a value diff on a hash-compared row.
      """SELECT vec_id AS query_id, 10 AS k, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5
        |ORDER BY query_id""".stripMargin)),

    // ---- C7b: IVF ANN — centroid index + nProbe search (rows-only).
    GateQuery("ann_ivf", { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      operators.SimilaritySearch
        .ivfTopK(
          emb,
          emb.filter(col("vec_id") < 5),
          "embedding",
          "vec_id",
          k = 10,
          numCentroids = 16,
          nProbe = 6,
          refineIterations = 2
        )
        .orderBy("query_id", "rank")
    }, Contract("ann_ivf_recall",
      "approximate top-k; accuracy is gate-checked by the HASH-MATCHED " +
        "ann_ivf_recall contract row (recall floor 0.8 per query, measured " +
        "0.9 at the gate params)")),

    // ---- C7b contract row: IVF recall@10 certified the same way. Measured
    // 0.9 per query at 16 centroids / nProbe 6 / 2 Lloyd refinements on the
    // weakly-clustered gate corpus; floor 0.8.
    GateQuery("ann_ivf_recall", { (s, dir) =>
      val emb = T(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
      val ss = operators.SimilaritySearch
      ss.recallContract(
          ss.bruteForceTopK(emb, qs, "embedding", "vec_id", k = 10),
          ss.ivfTopK(
            emb,
            qs,
            "embedding",
            "vec_id",
            k = 10,
            numCentroids = 16,
            nProbe = 6,
            refineIterations = 2
          ),
          k = 10,
          floor = 0.8
        )
        .orderBy("query_id")
    }, Oracle(
      """SELECT vec_id AS query_id, 10 AS k, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5
        |ORDER BY query_id""".stripMargin)),

    // ---- C24: two Lloyd iterations of k-means over the embeddings
    // (operators.KMeans) — every step engine-portable (rounded distances,
    // decimal-exact centroid means), so the ORACLE verifies whole
    // iterations, not just the final labels.
    GateQuery("emb_kmeans", { (s, dir) =>
      val e = T(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val c0 = operators.KMeans.seeds(e, "v", "vec_id", 8)
      val a1 = operators.KMeans.assign(e, c0, "v", "vec_id")
      val c1 = operators.KMeans.updateCentroids(e, a1, "v", "vec_id")
      val a2 = operators.KMeans
        .assign(e, c1, "v", "vec_id")
        .withColumnRenamed("cluster", "c2")
      a1.withColumnRenamed("cluster", "c1")
        .join(a2, "vec_id")
        .filter(col("vec_id") < 100)
        .orderBy("vec_id")
    }, Oracle(
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), c0 AS (
        |  -- the k lowest vec_ids, exactly KMeans.seeds (orderBy(id).limit(k));
        |  -- no assumption of a 0-based dense id domain
        |  SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8
        |), d1 AS (
        |  SELECT e.vec_id, c0.cid,
        |    round(list_sum([ (e.v[i]-c0.cv[i])*(e.v[i]-c0.cv[i])
        |                     for i in range(1, len(e.v)+1)]), 4) AS d
        |  FROM e, c0
        |), a1 AS (
        |  SELECT vec_id, cid AS c1 FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM d1
        |  ) WHERE rn = 1
        |), x AS (
        |  SELECT a1.c1, generate_subscripts(e.v, 1) AS pos, unnest(e.v) AS val
        |  FROM e JOIN a1 USING (vec_id)
        |), m AS (
        |  SELECT c1, pos,
        |    round(CAST(sum(CAST(val AS DECIMAL(30,10))) AS DOUBLE) / count(*), 6) AS mv
        |  FROM x GROUP BY c1, pos
        |), c1t AS (
        |  SELECT c1 AS cid, array_agg(mv ORDER BY pos) AS cv FROM m GROUP BY c1
        |), d2 AS (
        |  SELECT e.vec_id, c1t.cid,
        |    round(list_sum([ (e.v[i]-c1t.cv[i])*(e.v[i]-c1t.cv[i])
        |                     for i in range(1, len(e.v)+1)]), 4) AS d
        |  FROM e, c1t
        |), a2 AS (
        |  SELECT vec_id, cid AS c2 FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM d2
        |  ) WHERE rn = 1
        |)
        |SELECT a1.vec_id, a1.c1, a2.c2
        |FROM a1 JOIN a2 USING (vec_id)
        |WHERE vec_id < 100
        |ORDER BY vec_id""".stripMargin))
  )
}
