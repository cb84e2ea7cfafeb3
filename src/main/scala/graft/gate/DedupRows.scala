package graft
package gate

import org.apache.spark.sql.functions._

/** Dedup rows (SURVEY §2 C): exact, LSH, embedding, substring and semantic dedup. */
object DedupRows {
  val rows: Seq[GateQuery] = Seq(
    // ---- C1: exact dedup groups by md5 content fingerprint.
    GateQuery("dedup_exact", { (s, dir) =>
      operators.Dedup
        .exactGroups(T(s, dir, "documents"), "text", "doc_id")
        .orderBy("fingerprint")
    }, Oracle(
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
        | count(*) AS n_docs, min(doc_id) AS keeper_id
        |FROM documents
        |GROUP BY 1
        |ORDER BY 1""".stripMargin)),

    // ---- C29: canonical-URL dedup. The corpus has no URL column, so both
    // engines synthesize the SAME messy URL per doc — scheme/host case,
    // www., default port, tracking params, param order, fragment, trailing
    // slash all varied deterministically by doc_id — and must collapse them
    // to identical canonical groups.
    GateQuery("dedup_url", { (s, dir) =>
      val d = col("doc_id")
      val url = concat(
        when(d % 2 === 0, lit("https://")).otherwise(lit("HTTPS://")),
        when(d % 3 === 0, lit("www.")).otherwise(lit("")),
        when(d % 2 === 1, upper(col("source"))).otherwise(col("source")),
        lit(".Example.COM"),
        when(d % 4 === 1, lit(":443")).otherwise(lit("")),
        lit("/Docs/"),
        (d % 7).cast("string"),
        when(d % 2 === 0, lit("/")).otherwise(lit("")),
        when(
          d % 3 === 0,
          concat(lit("?page="), (d % 5).cast("string"), lit("&utm_campaign=c"))
        ).when(
          d % 3 === 1,
          concat(lit("?utm_source=feed&page="), (d % 5).cast("string"))
        ).otherwise(concat(lit("?fbclid=abc"), d.cast("string"))),
        when(d % 5 === 0, lit("#sec")).otherwise(lit(""))
      )
      operators.Dedup
        .urlGroups(
          T(s, dir, "documents").withColumn("url", url),
          "url",
          "doc_id"
        )
        .orderBy("canonical_url")
    }, Oracle(
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 1 THEN upper(source) ELSE source END)
        |    || '.Example.COM'
        |    || (CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END)
        |    || '/Docs/' || (doc_id % 7)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '?page=' || (doc_id % 5) || '&utm_campaign=c'
        |             WHEN doc_id % 3 = 1 THEN '?utm_source=feed&page=' || (doc_id % 5)
        |             ELSE '?fbclid=abc' || doc_id END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS url
        |  FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(regexp_replace(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS nofrag
        |  FROM u
        |), d AS (
        |  SELECT doc_id, scheme,
        |    regexp_replace(lower(regexp_extract(nofrag, '^([^/?]*)', 1)), '^www\.', '') AS auth,
        |    regexp_replace(nofrag, '^[^/?]*', '') AS pathq
        |  FROM c
        |), e AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
        |         ELSE auth END AS host,
        |    regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') AS path,
        |    regexp_extract(pathq, '\?(.*)$', 1) AS query
        |  FROM d
        |), f AS (
        |  SELECT doc_id, scheme, host, path,
        |    coalesce(array_to_string(list_sort(list_filter(str_split(query, '&'),
        |      p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)(=|$)'))), '&'), '') AS qs
        |  FROM e
        |)
        |SELECT scheme || '://' || host || path
        |    || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS canonical_url,
        |  count(*) AS n_docs, min(doc_id) AS keeper_id
        |FROM f
        |GROUP BY 1
        |ORDER BY 1""".stripMargin)),

    // ---- C30: bloom-gated exact membership dedup. The bloom filter only
    // prunes (false positives culled by the verify join), so the result is
    // deterministic and the oracle is a plain NOT IN — while the Spark plan
    // must route bloom-negative rows around the shuffle entirely.
    GateQuery("dedup_bloom", { (s, dir) =>
      val docs = T(s, dir, "documents")
      operators.Dedup
        .bloomNewDocs(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          "text",
          "doc_id",
          fpp = 0.01
        )
        .select("doc_id")
        .orderBy("doc_id")
    }, Oracle(
      """SELECT doc_id FROM documents
        |WHERE doc_id % 2 = 1
        |  AND md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) NOT IN (
        |    SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |    FROM documents WHERE doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin)),

    // ---- C31: paragraph-level exact dedup. The synthetic corpus has no
    // paragraph breaks, so both engines build the same two-paragraph docs
    // (own text + text of doc_id % 50) and must drop repeated paragraphs
    // keeping the first (doc_id, pos) occurrence, reassembling in order.
    GateQuery("dedup_paragraph", { (s, dir) =>
      val docs = T(s, dir, "documents")
      val two = docs
        .join(
          docs.select(col("doc_id").as("o_id"), col("text").as("o_text")),
          col("doc_id") % 50 === col("o_id")
        )
        .select(
          col("doc_id"),
          concat(col("text"), lit("\n\n"), col("o_text")).as("text")
        )
      operators.Dedup.paragraphDedup(two, "text", "doc_id").orderBy("doc_id")
    }, Oracle(
      """WITH two AS (
        |  SELECT d.doc_id, d.text || chr(10) || chr(10) || o.text AS text
        |  FROM documents d JOIN documents o ON d.doc_id % 50 = o.doc_id
        |), p AS (
        |  SELECT doc_id, unnest(parts) AS para,
        |    unnest(generate_series(1, len(parts))) AS pos
        |  FROM (SELECT doc_id, str_split(text, chr(10) || chr(10)) AS parts FROM two)
        |), r AS (
        |  SELECT doc_id, pos, para, row_number() OVER (
        |    PARTITION BY lower(trim(regexp_replace(para, '\s+', ' ', 'g')))
        |    ORDER BY doc_id, pos) AS rn
        |  FROM p
        |), agg AS (
        |  SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text_dedup,
        |    count(*) AS n_kept
        |  FROM r WHERE rn = 1 GROUP BY doc_id
        |)
        |SELECT t.doc_id, coalesce(a.text_dedup, '') AS text_dedup,
        |  len(str_split(t.text, chr(10) || chr(10))) AS n_paras,
        |  coalesce(a.n_kept, 0) AS n_kept
        |FROM two t LEFT JOIN agg a ON t.doc_id = a.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    // ---- C2: MinHash-LSH candidate pairs. Oracled: at gate scale the
    // banding candidate set coincides exactly with the O(n²) 3-gram
    // Jaccard >= 0.8 pair set, so the same quadratic oracle that verifies
    // C4 verifies the candidates directly. Recall is structural (32 bands
    // × 4 rows: P(miss) < 1e-7 at j = 0.8); precision is data-dependent —
    // a benign banding false-positive would surface as a row diff, flagged
    // deliberately so a collision-rate change is visible, not silent.
    GateQuery("dedup_minhash_lsh", { (s, dir) =>
      operators.Dedup
        .minhashCandidatePairs(T(s, dir, "documents"), "text", "doc_id")
        .orderBy("a_id", "b_id")
    }, Oracle(
      // C2's candidates carry no jaccard column; the exact pair set IS the
      // expected candidate set at gate scale (see the queries-side comment).
      // CORPUS-COUPLED: banding precision is data-dependent, so a benign
      // hash-collision false positive on a REGENERATED gate corpus can flip
      // this row red with the operator behaving as designed — before
      // trusting a red row after a testdata change, re-run DedupSpec's
      // candidates==exact assertion on the new corpus.
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                   for i in range(1, len(w)-1)]) AS s
        |  FROM t
        |)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE round(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
        |  ELSE len(list_intersect(a.s, b.s))::DOUBLE
        |       / len(list_distinct(list_concat(a.s, b.s))) END, 4) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin)),

    // ---- C3: SimHash near-dup candidates with hamming distance (rows-only).
    GateQuery("dedup_simhash", { (s, dir) =>
      operators.Dedup
        .simhashPairs(T(s, dir, "documents"), "text", "doc_id", maxHamming = 7)
        .orderBy("a_id", "b_id")
    }, Contract("spec:DedupSpec",
      "simhash bit internals are not portable SQL; the band guarantee is " +
        "pigeonhole (hamming <= d implies a band collision) and is spec'd " +
        "on planted fixtures (DedupSpec); emitted hamming distances are " +
        "exact in-engine values")),

    // ---- C4: LSH candidates + exact 3-gram Jaccard >= 0.8 (oracle: full
    // O(n^2) Jaccard in DuckDB — the LSH path must find the same pairs).
    GateQuery("dedup_ngram_jaccard", { (s, dir) =>
      operators.Dedup
        .nearDupPairs(T(s, dir, "documents"), "text", "doc_id", threshold = 0.8)
        .orderBy("a_id", "b_id")
    }, Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                   for i in range(1, len(w)-1)]) AS s
        |  FROM t
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    round(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
        |      ELSE len(list_intersect(a.s, b.s))::DOUBLE
        |           / len(list_distinct(list_concat(a.s, b.s))) END, 4) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |)
        |SELECT a_id, b_id, jaccard FROM pairs
        |WHERE jaccard >= 0.8
        |ORDER BY a_id, b_id""".stripMargin)),

    // ---- C2b: the at-scale calibration loop as a gate row. Exact pair
    // ground truth within a deterministic half-sample (quadratic only on
    // the sample), minhash banding at FULL corpus scale, recall of
    // sample-internal truth measured and bounded. The oracle recomputes
    // the sample size and exact pair count (hash-matched values) and pins
    // the recall bound.
    GateQuery("dedup_recall_sample", { (s, dir) =>
      operators.Dedup.minhashSampledRecall(
        T(s, dir, "documents"),
        "text",
        "doc_id",
        threshold = 0.8,
        modulus = 2,
        floor = 0.8
      )
    }, Oracle(
      // Sampled-recall calibration row: sample size and exact-pair count are
      // hash-matched values; the recall bound is pinned (engine-computed).
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents WHERE doc_id % 2 = 0
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                   for i in range(1, len(w)-1)]) AS s
        |  FROM t
        |), e AS (
        |  SELECT count(*) AS exact_pairs
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
        |    ELSE len(list_intersect(a.s, b.s))::DOUBLE
        |         / len(list_distinct(list_concat(a.s, b.s))) END, 4) >= 0.8
        |), n AS (
        |  SELECT count(*) AS n_sample FROM documents WHERE doc_id % 2 = 0
        |)
        |SELECT n.n_sample, e.exact_pairs, true AS recall_ok FROM n, e""".stripMargin)),

    // ---- C4b: pairs → duplicate clusters via connected components (oracle:
    // recursive-CTE transitive closure over the same verified pair set).
    GateQuery("dedup_clusters", { (s, dir) =>
      operators.Dedup
        .nearDupClusters(T(s, dir, "documents"), "text", "doc_id", threshold = 0.8)
        .orderBy("id")
    }, Oracle(
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                   for i in range(1, len(w)-1)]) AS s
        |  FROM t
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
        |    ELSE len(list_intersect(a.s, b.s))::DOUBLE
        |         / len(list_distinct(list_concat(a.s, b.s))) END, 4) >= 0.8
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION
        |  SELECT b_id AS src, a_id AS dst FROM pairs
        |), reach AS (
        |  SELECT doc_id AS id, doc_id AS r FROM documents
        |  UNION
        |  SELECT reach.id, edges.dst AS r
        |  FROM reach JOIN edges ON reach.r = edges.src
        |)
        |SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin)),

    // ---- C4c: the deduplicated corpus — keep each cluster's canonical
    // (smallest-id) document; everything else is a near-duplicate drop.
    GateQuery("dedup_keep_canonical", { (s, dir) =>
      val clusters = operators.Dedup
        .nearDupClusters(T(s, dir, "documents"), "text", "doc_id", threshold = 0.8)
      clusters
        .filter(col("id") === col("component"))
        .select(col("id").as("doc_id"))
        .join(T(s, dir, "documents").select("doc_id", "n_chars"), "doc_id")
        .orderBy("doc_id")
    }, Oracle(
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                   for i in range(1, len(w)-1)]) AS s
        |  FROM t
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
        |    ELSE len(list_intersect(a.s, b.s))::DOUBLE
        |         / len(list_distinct(list_concat(a.s, b.s))) END, 4) >= 0.8
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION
        |  SELECT b_id AS src, a_id AS dst FROM pairs
        |), reach AS (
        |  SELECT doc_id AS id, doc_id AS r FROM documents
        |  UNION
        |  SELECT reach.id, edges.dst AS r
        |  FROM reach JOIN edges ON reach.r = edges.src
        |), comp AS (
        |  SELECT id, min(r) AS component FROM reach GROUP BY id
        |)
        |SELECT d.doc_id, d.n_chars
        |FROM comp JOIN documents d ON comp.id = d.doc_id
        |WHERE comp.id = comp.component
        |ORDER BY d.doc_id""".stripMargin)),

    // ---- C5: embedding near-dups via hyperplane LSH buckets with 1-bit
    // multi-probe on both sides (rows-only: bucket recall is probabilistic
    // by design; recall + degenerate-bucket bounds spec'd in tests).
    GateQuery("dedup_embedding", { (s, dir) =>
      operators.Dedup
        .embeddingNearDups(
          T(s, dir, "embeddings"),
          "embedding",
          "vec_id",
          threshold = 0.4
        )
        .orderBy("a_id", "b_id")
    }, Contract("dedup_embedding_exact",
      "bucketed LSH recall is probabilistic by design; precision is " +
        "structural (in-bucket exact cosine verify) and spec'd as a subset " +
        "of the HASH-MATCHED dedup_embedding_exact ground truth, with a " +
        "measured recall floor (DedupSpec)")),

    // ---- C5b: EXACT embedding near-dup pairs — the quadratic ground truth
    // that the LSH form (C5) approximates, and the recall denominator its
    // spec measures against. Oracled in DuckDB via list_cosine_similarity;
    // the round-4 threshold cut has measured margin 1.28e-4 to the nearest
    // pair at sf0.01, so no float-boundary flakiness.
    GateQuery("dedup_embedding_exact", { (s, dir) =>
      operators.Dedup
        .exactEmbeddingPairs(
          T(s, dir, "embeddings"),
          "embedding",
          "vec_id",
          threshold = 0.4
        )
        .orderBy("a_id", "b_id")
    }, Oracle(
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  round(list_cosine_similarity(a.e, b.e), 4) AS cos
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.e, b.e), 4) >= 0.4
        |ORDER BY a_id, b_id""".stripMargin)),

    // ---- C17: incremental (batch-vs-corpus) dedup — odd doc_ids are the
    // incoming batch, even doc_ids the reference corpus. The oracle
    // re-derives the kept set with a direct O(|in|·|ref|) Jaccard join, so
    // the gate proves the LSH candidate path finds every cross-corpus
    // near-dup at the threshold.
    GateQuery("dedup_incremental", { (s, dir) =>
      val docs = T(s, dir, "documents")
      val incoming = docs.filter(col("doc_id") % 2 === 1)
      val reference = docs.filter(col("doc_id") % 2 === 0)
      operators.Dedup
        .dedupAgainstCorpus(incoming, reference, "text", "doc_id", threshold = 0.8)
        .select("doc_id")
        .orderBy("doc_id")
    }, Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                   for i in range(1, len(w)-1)]) AS s
        |  FROM t
        |), matched AS (
        |  SELECT DISTINCT a.doc_id
        |  FROM sh a JOIN sh b
        |    ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |   AND (CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
        |        ELSE len(list_intersect(a.s, b.s))::DOUBLE
        |             / len(list_distinct(list_concat(a.s, b.s))) END) >= 0.8
        |)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 2 = 1
        |  AND doc_id NOT IN (SELECT doc_id FROM matched)
        |ORDER BY doc_id""".stripMargin)),

    // ---- C26: exact duplicate-substring spans (token-10-gram form of
    // Lee et al. suffix-array dedup): corpus-duplicated 10-grams merged
    // into maximal removable spans per document.
    GateQuery("dedup_substring_spans", { (s, dir) =>
      operators.Dedup
        .duplicateSpans(T(s, dir, "documents"), "text", "doc_id", k = 10)
        .orderBy("doc_id", "span_start")
    }, Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, CAST(generate_subscripts(gs, 1) - 1 AS INTEGER) AS pos,
        |         unnest(gs) AS gram
        |  FROM (SELECT doc_id,
        |          [array_to_string(w[i:i+9], ' ') for i in range(1, len(w)-8)] AS gs
        |        FROM t WHERE len(w) >= 10)
        |), d AS (
        |  SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
        |), p AS (
        |  SELECT doc_id, pos FROM g JOIN d USING (gram)
        |), w2 AS (
        |  SELECT doc_id, pos,
        |    max(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM p
        |), f AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS flag
        |  FROM w2
        |), isl AS (
        |  SELECT doc_id, pos,
        |    sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM f
        |)
        |SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
        |  CAST(max(pos) + 10 AS INTEGER) AS span_end, count(*) AS n_grams
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin)),

    // ---- C26b: the actionable keep-first form — each duplicated gram's
    // globally-first occurrence survives, later copies become removable
    // spans (Lee et al.'s actual dedup semantics).
    GateQuery("dedup_substring_keep_first", { (s, dir) =>
      operators.Dedup
        .duplicateSpans(T(s, dir, "documents"), "text", "doc_id", k = 10,
          keepFirst = true)
        .orderBy("doc_id", "span_start")
    }, Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, CAST(generate_subscripts(gs, 1) - 1 AS INTEGER) AS pos,
        |         unnest(gs) AS gram
        |  FROM (SELECT doc_id,
        |          [array_to_string(w[i:i+9], ' ') for i in range(1, len(w)-8)] AS gs
        |        FROM t WHERE len(w) >= 10)
        |), ranked AS (
        |  SELECT doc_id, pos,
        |    count(*) OVER (PARTITION BY gram) AS cnt,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        |  FROM g
        |), p AS (
        |  SELECT doc_id, pos FROM ranked WHERE cnt >= 2 AND rn > 1
        |), w2 AS (
        |  SELECT doc_id, pos,
        |    max(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM p
        |), f AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS flag
        |  FROM w2
        |), isl AS (
        |  SELECT doc_id, pos,
        |    sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM f
        |)
        |SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
        |  CAST(max(pos) + 10 AS INTEGER) AS span_end, count(*) AS n_grams
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin)),

    // ---- C27: semantic dedup (SemDeDup shape): k-means cluster, then drop
    // within-cluster vectors with a lower-id mate at cosine >= threshold.
    GateQuery("dedup_semantic", { (s, dir) =>
      // k auto-scales with the corpus (max(8, n/625)); at gate scale
      // (sf0.01, 500 vectors) that resolves to exactly the k=8 the SQL
      // oracle mirrors, while larger corpora keep clusters bounded
      operators.Dedup
        .semanticDedup(T(s, dir, "embeddings"), "embedding", "vec_id",
          threshold = 0.4) // no ORDER BY — see text_quality
    }, Oracle(
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), c0 AS (
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
        |  SELECT vec_id, cid AS cluster FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM d2
        |  ) WHERE rn = 1
        |), nrm AS (
        |  SELECT vec_id, sqrt(list_sum([ v[i]*v[i] for i in range(1, len(v)+1)])) AS nr
        |  FROM e
        |), dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM a2 a JOIN a2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
        |  JOIN nrm na ON na.vec_id = a.vec_id JOIN nrm nb ON nb.vec_id = b.vec_id
        |  WHERE na.nr > 0 AND nb.nr > 0
        |    AND round(list_sum([ ea.v[i]*eb.v[i] for i in range(1, len(ea.v)+1)])
        |              / (na.nr * nb.nr), 4) >= 0.4
        |)
        |SELECT a2.vec_id, a2.cluster,
        |  a2.vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
        |FROM a2 ORDER BY vec_id""".stripMargin))
  )
}
