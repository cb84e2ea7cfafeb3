package graft
package gate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus pipeline rows (SURVEY §2 C, `docs_*`). */
object CorpusRows {
  val rows: Seq[GateQuery] = Seq(
    // ---- C18: the composed corpus-prep flagship: exact dedup → quality
    // gate → diversity gate → sequence packing, one declarative plan. Two
    // shuffles total (fingerprint window, pack window) — Catalyst pipelines
    // the scalar gates into the scans; every stage is individually oracled
    // elsewhere and the whole chain is oracled here.
    GateQuery("docs_prepare_corpus", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tf = functions.TextFunctions
      // n_tok/ttr from the fused diversity kernel, let-bound + inlined so
      // the ttr gate below cannot re-inline the tokenizer chain
      val base = T(s, dir, "documents")
        .select(
          col("doc_id"),
          col("lang"),
          col("source"),
          tf.normText(col("text")).as("norm"),
          tf.qualityScore(col("text")).as("quality")
        )
        .withColumn("fp", md5(col("norm")))
        .select(
          col("*"),
          inline(
            array(
              element_at(
                transform(
                  array(functions.GraftFunctions.diversityStats(col("norm"))),
                  a =>
                    struct(
                      element_at(a, 1).cast("int").as("n_tok"),
                      round(
                        element_at(a, 2).cast("double") / element_at(a, 1),
                        4
                      ).as("ttr")
                    )
                ),
                1
              )
            )
          )
        )
      val kept = base
        .withColumn("keeper", min("doc_id").over(Window.partitionBy("fp")))
        .filter(col("doc_id") === col("keeper"))
        .filter(col("quality") >= 0.5 && col("ttr") >= 0.45)
      val wp = Window
        .partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      kept
        .withColumn("cum", sum(col("n_tok").cast("long")).over(wp))
        .withColumn("pack_id", expr("(cum - n_tok) div 512"))
        .select(
          col("doc_id"),
          col("lang"),
          col("source"),
          col("n_tok"),
          col("ttr"),
          col("quality"),
          col("pack_id")
        )
        .orderBy("doc_id")
    }, Oracle(
      """WITH n AS (
        |  SELECT doc_id, lang, source,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |  FROM documents
        |), f AS (
        |  SELECT *, md5(norm) AS fp, string_split(norm, ' ') AS w FROM n
        |), k1 AS (
        |  SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM f
        |), k2 AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(w) AS INTEGER) AS n_tok,
        |    round(len(list_distinct(w))::DOUBLE / len(w), 4) AS ttr,
        |    round(0.5 * (len(list_distinct(w))::DOUBLE / len(w))
        |          + 0.5 * least(length(norm)::DOUBLE / 200.0, 1.0), 4) AS quality
        |  FROM k1 WHERE doc_id = keeper
        |), k3 AS (
        |  SELECT * FROM k2 WHERE quality >= 0.5 AND ttr >= 0.45
        |), p AS (
        |  SELECT *, CAST(sum(n_tok) OVER (PARTITION BY lang, source
        |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM k3
        |)
        |SELECT doc_id, lang, source, n_tok, ttr, quality,
        |  (cum - n_tok) // 512 AS pack_id
        |FROM p
        |ORDER BY doc_id""".stripMargin)),

    // ---- C13: deterministic stratified sampling — per-language rates via a
    // content-hash nibble (md5, engine-portable). No rand(): resampling under
    // stage retries would break exactly-once semantics at scale; a hash of
    // the key is idempotent, uniformly distributed, and needs no shuffle.
    GateQuery("docs_stratified_sample", { (s, dir) =>
      val tf = functions.TextFunctions
      T(s, dir, "documents")
        .withColumn("nib", tf.sampleNibble(col("doc_id"), "s42"))
        .filter(
          (col("lang") === "en" && col("nib").isin("0", "1", "2", "3")) ||
            (col("lang") =!= "en" &&
              col("nib").isin("0", "1", "2", "3", "4", "5", "6", "7"))
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }, Oracle(
      """SELECT doc_id, lang, source
        |FROM documents
        |WHERE (lang = 'en'
        |       AND substr(md5('s42' || CAST(doc_id AS VARCHAR)), 1, 1)
        |           IN ('0','1','2','3'))
        |   OR (lang <> 'en'
        |       AND substr(md5('s42' || CAST(doc_id AS VARCHAR)), 1, 1)
        |           IN ('0','1','2','3','4','5','6','7'))
        |ORDER BY doc_id""".stripMargin)),

    // ---- C33: token-budget mixture sampling — weighted sources, global
    // token budget, deterministic per-stratum hash-order prefix. The
    // production two-pass histogram-cutoff path (operators.Mixture) is
    // bit-identical to the naive per-stratum window the oracle runs; the
    // weights are exact binary fractions summing to 1.0 so the per-stratum
    // budgets (floor(w x 4000): 1000/1000/500/500/250 x4) are float-exact
    // in both engines.
    GateQuery("docs_mixture_budget", { (s, dir) =>
      val tf = functions.TextFunctions
      operators.Mixture
        .sampleToTokenBudget(
          T(s, dir, "documents"),
          "source",
          size(tf.wsTokens(col("text"))),
          "doc_id",
          weights = Map(
            "src0" -> 0.25,
            "src1" -> 0.25,
            "src2" -> 0.125,
            "src3" -> 0.125,
            "src4" -> 0.0625,
            "src5" -> 0.0625,
            "src6" -> 0.0625,
            "src7" -> 0.0625
          ),
          totalBudget = 4000L
        ) // no ORDER BY — see text_quality
    }, Oracle(
      // The oracle recomputes the mixture selection from first principles as
      // the NAIVE per-stratum window (MixtureSpec's reference formulation);
      // hash-matching it certifies the production histogram-cutoff path end
      // to end. Token counts reuse the ws_tokens normalization both engines
      // already hash-agree on (text_tokencount).
      """WITH w(source, wt) AS (
        |  VALUES ('src0', 0.25), ('src1', 0.25), ('src2', 0.125),
        |         ('src3', 0.125), ('src4', 0.0625), ('src5', 0.0625),
        |         ('src6', 0.0625), ('src7', 0.0625)
        |), tok AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS tokens
        |  FROM documents
        |), j AS (
        |  SELECT t.doc_id, t.source, t.tokens,
        |    md5('mix' || CAST(t.doc_id AS VARCHAR)) AS rk,
        |    CAST(floor(w.wt / 1.0 * 4000) AS BIGINT) AS budget
        |  FROM tok t JOIN w ON t.source = w.source
        |), c AS (
        |  SELECT doc_id, source, tokens, budget,
        |    sum(tokens) OVER (PARTITION BY source ORDER BY rk, doc_id
        |                      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM j
        |)
        |SELECT doc_id, source, tokens FROM c WHERE cum <= budget
        |ORDER BY doc_id""".stripMargin)),

    // ---- C35: epoch materialization — the over-budget half of a mixture
    // spec ("2.4 epochs of source X"): floor(budget/total) full copies of
    // each stratum plus a fractional final epoch = the C33 hash-prefix of
    // the remainder. 12000 tokens over these weights gives src0/src1 two
    // full epochs + a sliver, src2/src3 one, src4–7 a sub-epoch fraction —
    // every arm of the operator exercised at gate scale.
    GateQuery("docs_mixture_epochs", { (s, dir) =>
      val tf = functions.TextFunctions
      operators.Mixture
        .materializeEpochs(
          T(s, dir, "documents"),
          "source",
          size(tf.wsTokens(col("text"))),
          "doc_id",
          weights = Map(
            "src0" -> 0.25,
            "src1" -> 0.25,
            "src2" -> 0.125,
            "src3" -> 0.125,
            "src4" -> 0.0625,
            "src5" -> 0.0625,
            "src6" -> 0.0625,
            "src7" -> 0.0625
          ),
          totalBudget = 12000L
        ) // no ORDER BY — see text_quality
    }, Oracle(
      // C35: full epochs from first principles (budget // total copies via a
      // bounded sequence join) + the remainder as the same naive window the
      // C33 oracle uses, tagged epoch n_full.
      """WITH w(source, wt) AS (
        |  VALUES ('src0', 0.25), ('src1', 0.25), ('src2', 0.125),
        |         ('src3', 0.125), ('src4', 0.0625), ('src5', 0.0625),
        |         ('src6', 0.0625), ('src7', 0.0625)
        |), tok AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS tokens
        |  FROM documents
        |), tot AS (
        |  -- §6 rule: DuckDB sum(BIGINT) returns HUGEINT; cast so n_full (and
        |  -- therefore the epoch column after UNION ALL) stays BIGINT like the
        |  -- engine's, or the driver hash sees float64 "2.0" vs long "2".
        |  SELECT source, CAST(sum(tokens) AS BIGINT) AS total FROM tok GROUP BY source
        |), ep AS (
        |  SELECT tot.source,
        |    CAST(floor(w.wt / 1.0 * 12000) AS BIGINT) // tot.total AS n_full,
        |    CAST(floor(w.wt / 1.0 * 12000) AS BIGINT) % tot.total AS rem
        |  FROM w JOIN tot ON w.source = tot.source
        |), seq AS (
        |  -- bound derived from the data, not a fixture-scale constant: a
        |  -- stratum repeated >=1000 epochs would silently truncate a fixed
        |  -- range(1000) and report a false mismatch at larger SFs.
        |  SELECT unnest(range((SELECT coalesce(max(n_full), 0) + 1 FROM ep))) AS epoch
        |), full_e AS (
        |  SELECT t.doc_id, t.source, t.tokens, s.epoch
        |  FROM tok t
        |  JOIN ep ON t.source = ep.source
        |  JOIN seq s ON s.epoch < ep.n_full
        |), frac AS (
        |  SELECT doc_id, source, tokens, n_full AS epoch FROM (
        |    SELECT t.doc_id, t.source, t.tokens, ep.n_full, ep.rem,
        |      sum(t.tokens) OVER (PARTITION BY t.source
        |                          ORDER BY md5('mix' || CAST(t.doc_id AS VARCHAR)), t.doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM tok t JOIN ep ON t.source = ep.source
        |  ) WHERE cum <= rem
        |)
        |SELECT doc_id, source, tokens, epoch FROM full_e
        |UNION ALL
        |SELECT doc_id, source, tokens, epoch FROM frac
        |ORDER BY doc_id, epoch""".stripMargin)),

    // ---- C36: token-window chunking — fixed-size overlapping windows
    // (chunkSize 40, overlap 8 → stride 32), the unit RAG indexing and
    // long-document prep consume. Pure map-side explode, no shuffle; the
    // oracle recomputes membership from the same closed-form integer
    // arithmetic and list slicing.
    GateQuery("docs_chunk_windows", { (s, dir) =>
      operators.Chunk
        .tokenWindows(T(s, dir, "documents"), "text", "doc_id", chunkSize = 40, overlap = 8)
    // no ORDER BY — see text_quality (the sort would re-run the explode)
    }, Oracle(
      // C36: chunk membership from the same integer arithmetic (DuckDB `//`
      // == Spark's truncating cast on positive ints) + 1-based inclusive
      // list slicing (both engines clamp at the array end).
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, w,
        |    CASE WHEN len(w) <= 40 THEN 1
        |         ELSE (len(w) - 40 + 31) // 32 + 1 END AS nc
        |  FROM t
        |), seq AS (
        |  -- bound derived from max chunk count: a document over ~32k tokens
        |  -- (nc > 1000) would silently truncate a fixed range(1000).
        |  SELECT unnest(range((SELECT coalesce(max(nc), 0) FROM n))) AS chunk_id
        |), c AS (
        |  SELECT n.doc_id, s.chunk_id,
        |    n.w[(s.chunk_id * 32 + 1):(s.chunk_id * 32 + 40)] AS ct
        |  FROM n JOIN seq s ON s.chunk_id < n.nc
        |)
        |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
        |  CAST(len(ct) AS INTEGER) AS n_chunk_tokens,
        |  array_to_string(ct, ' ') AS chunk_text
        |FROM c
        |ORDER BY doc_id, chunk_id""".stripMargin)),

    // ---- C34: quality-prefix curation — keep each source's BEST documents
    // (by the C9 quality score, hash-matched in text_quality) until its
    // token-budget share is spent. Same two-pass cutoff machinery as C33
    // with value-range cells in place of hash-prefix buckets; the oracle
    // recomputes the naive (quality DESC, md5, id) window selection.
    GateQuery("docs_quality_budget", { (s, dir) =>
      val tf = functions.TextFunctions
      operators.Mixture
        .takeBestToBudget(
          T(s, dir, "documents"),
          "source",
          tf.qualityScore(col("text")),
          size(tf.wsTokens(col("text"))),
          "doc_id",
          weights = Map(
            "src0" -> 0.25,
            "src1" -> 0.25,
            "src2" -> 0.125,
            "src3" -> 0.125,
            "src4" -> 0.0625,
            "src5" -> 0.0625,
            "src6" -> 0.0625,
            "src7" -> 0.0625
          ),
          totalBudget = 4000L
        ) // no ORDER BY — see text_quality
    }, Oracle(
      // Naive-window recomputation of the C34 quality-prefix selection; the
      // quality expression is byte-identical to text_quality's (already
      // hash-matched), so the (quality DESC, md5, id) order is engine-stable.
      """WITH w(source, wt) AS (
        |  VALUES ('src0', 0.25), ('src1', 0.25), ('src2', 0.125),
        |         ('src3', 0.125), ('src4', 0.0625), ('src5', 0.0625),
        |         ('src6', 0.0625), ('src7', 0.0625)
        |), t AS (
        |  SELECT doc_id, source,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |  FROM documents
        |), u AS (
        |  SELECT doc_id, source, norm, string_split(norm, ' ') AS wd FROM t
        |), q AS (
        |  SELECT doc_id, source,
        |    CAST(len(wd) AS BIGINT) AS tokens,
        |    round(0.5 * (CASE WHEN len(wd) = 0 THEN 0.0
        |                 ELSE len(list_distinct(wd))::DOUBLE / len(wd) END)
        |        + 0.5 * least(length(norm)::DOUBLE / 200.0, 1.0), 4) AS quality
        |  FROM u
        |), j AS (
        |  SELECT q.doc_id, q.source, q.tokens, q.quality,
        |    md5('mix' || CAST(q.doc_id AS VARCHAR)) AS rk,
        |    CAST(floor(w.wt / 1.0 * 4000) AS BIGINT) AS budget
        |  FROM q JOIN w ON q.source = w.source
        |), c AS (
        |  SELECT doc_id, source, tokens, quality, budget,
        |    sum(tokens) OVER (PARTITION BY source
        |                      ORDER BY quality DESC, rk, doc_id
        |                      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM j
        |)
        |SELECT doc_id, source, tokens, quality FROM c WHERE cum <= budget
        |ORDER BY doc_id""".stripMargin)),

    // ---- C15: sequence packing — assign documents to fixed token-budget
    // training packs (capacity 512) by cumulative token count within
    // (lang, source), ordered by doc_id. The window key is the natural shard
    // key: packing parallelism grows with the number of (lang, source)
    // shards, so no single-partition window bottleneck at scale.
    GateQuery("docs_pack_sequences", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tf = functions.TextFunctions
      val w = Window
        .partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "documents")
        .select(
          col("doc_id"),
          col("lang"),
          col("source"),
          size(tf.wsTokens(col("text"))).cast("long").as("n_tok")
        )
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("pack_id", expr("(cum - n_tok) div 512"))
        .groupBy(col("lang"), col("source"), col("pack_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens")
        )
        .orderBy("lang", "source", "pack_id")
    }, Oracle(
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tok
        |  FROM documents
        |), w AS (
        |  SELECT *, CAST(sum(n_tok) OVER (PARTITION BY lang, source ORDER BY doc_id
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM t
        |)
        |SELECT lang, source, (cum - n_tok) // 512 AS pack_id,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
        |FROM w
        |GROUP BY lang, source, pack_id
        |ORDER BY lang, source, pack_id""".stripMargin)),

    // ---- C20: deterministic train/val/test split + shard assignment via
    // md5 hex nibbles — stable under retries/replays (no rand()), uniformly
    // distributed, and portable (md5 is identical across engines). First
    // nibble picks the split (12/2/2 of 16), second picks 1 of 16 shards.
    GateQuery("docs_split_shard", { (s, dir) =>
      val h = md5(col("doc_id").cast("string"))
      val c1 = substring(h, 1, 1)
      T(s, dir, "documents")
        .select(
          when(c1.isin("c", "d"), "val")
            .when(c1.isin("e", "f"), "test")
            .otherwise("train")
            .as("split"),
          substring(h, 2, 1).as("shard"),
          col("n_chars")
        )
        .groupBy("split", "shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("split", "shard")
    }, Oracle(
      """WITH d AS (
        |  SELECT md5(CAST(doc_id AS VARCHAR)) AS h, n_chars FROM documents
        |)
        |SELECT CASE WHEN substr(h,1,1) IN ('c','d') THEN 'val'
        |            WHEN substr(h,1,1) IN ('e','f') THEN 'test'
        |            ELSE 'train' END AS split,
        |  substr(h,2,1) AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM d
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)),

    // ---- C21: per-domain cap — keep each (source, lang)'s top-5 documents
    // by quality score (dedup against over-represented domains). The
    // row_number idiom is TopKRewriteRule's input shape, so it plans as a
    // bounded heap per group, not a full sort.
    GateQuery("docs_domain_cap", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tf = functions.TextFunctions
      val w = Window.partitionBy("source", "lang").orderBy(col("quality").desc, col("doc_id"))
      T(s, dir, "documents")
        .select(
          col("doc_id"),
          col("source"),
          col("lang"),
          tf.qualityScore(col("text")).as("quality")
        )
        .withColumn("cap_rank", row_number().over(w).cast("long"))
        .filter(col("cap_rank") <= 5)
        .orderBy("source", "lang", "cap_rank")
    }, Oracle(
      """WITH t AS (
        |  SELECT doc_id, source, lang,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |  FROM documents
        |), u AS (
        |  SELECT doc_id, source, lang, norm, string_split(norm, ' ') AS w FROM t
        |), q AS (
        |  SELECT doc_id, source, lang,
        |    round(0.5 * (CASE WHEN len(w) = 0 THEN 0.0
        |                 ELSE len(list_distinct(w))::DOUBLE / len(w) END)
        |        + 0.5 * least(length(norm)::DOUBLE / 200.0, 1.0), 4) AS quality
        |  FROM u
        |), r AS (
        |  SELECT doc_id, source, lang, quality,
        |    row_number() OVER (PARTITION BY source, lang
        |                       ORDER BY quality DESC, doc_id) AS cap_rank
        |  FROM q
        |)
        |SELECT doc_id, source, lang, quality, cap_rank FROM r
        |WHERE cap_rank <= 5
        |ORDER BY source, lang, cap_rank""".stripMargin)),

    // ---- C22: benchmark decontamination — training docs sharing 5-gram
    // shingles with the eval set (doc_id % 5 == 0), counted on hashed
    // shingles with the eval shingle set broadcast
    // (operators.Decontaminate). Oracle re-derives on shingle STRINGS.
    GateQuery("docs_decontaminate", { (s, dir) =>
      val d = T(s, dir, "documents")
      operators.Decontaminate
        .overlaps(
          d.filter(col("doc_id") % 5 =!= 0),
          d.filter(col("doc_id") % 5 === 0),
          "text",
          "doc_id",
          k = 5
        )
        .orderBy("doc_id")
    }, Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
        |                   for i in range(1, len(w)-3)]) AS s
        |  FROM t
        |), ev AS (
        |  SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 5 = 0
        |), tr AS (
        |  SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 5 <> 0
        |)
        |SELECT tr.doc_id, count(*) AS n_shared
        |FROM tr JOIN ev USING (g)
        |GROUP BY tr.doc_id
        |ORDER BY tr.doc_id""".stripMargin)),

    // ---- C25+C26 composed: the repetition gate a corpus-prep pipeline
    // applies — per-doc repetition signals joined with the fraction of
    // tokens covered by corpus-duplicated substring spans, folded into a
    // deterministic pass/fail verdict.
    GateQuery("docs_repetition_gate", { (s, dir) =>
      val d = T(s, dir, "documents")
      val sig = operators.Repetition.signals(d, "text", "doc_id")
      val spans = operators.Dedup
        .duplicateSpans(d, "text", "doc_id", k = 10)
        .groupBy("doc_id")
        .agg(sum(col("span_end") - col("span_start")).as("dup_toks"))
      sig
        .join(spans, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          col("n_tokens"),
          col("max_run"),
          col("top_bigram_frac"),
          round(
            coalesce(col("dup_toks"), lit(0L)).cast("double") / col("n_tokens"),
            6
          ).as("dup_span_frac")
        )
        .withColumn(
          "pass",
          col("max_run") <= 5 && col("top_bigram_frac") <= 0.2 &&
            col("dup_span_frac") <= 0.5
        )
        .orderBy("doc_id")
    }, Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS tok FROM t
        |), runs AS (
        |  SELECT doc_id, count(*) AS run
        |  FROM (SELECT doc_id, tok,
        |          pos - row_number() OVER (PARTITION BY doc_id, tok ORDER BY pos) AS grp
        |        FROM tok)
        |  GROUP BY doc_id, tok, grp
        |), mr AS (
        |  SELECT doc_id, CAST(max(run) AS INTEGER) AS max_run FROM runs GROUP BY doc_id
        |), ng AS (
        |  SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
        |    [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS bg
        |  FROM t
        |), sig AS (
        |  SELECT ng.doc_id, ng.n_tokens, mr.max_run,
        |    CASE WHEN len(bg) = 0 THEN 0.0 ELSE
        |      round(CAST(list_max([len(list_filter(bg, x -> x = d)) for d in list_distinct(bg)]) AS DOUBLE) / len(bg), 6)
        |    END AS top_bigram_frac
        |  FROM ng JOIN mr USING (doc_id)
        |), g AS (
        |  SELECT doc_id, CAST(generate_subscripts(gs, 1) - 1 AS INTEGER) AS pos,
        |         unnest(gs) AS gram
        |  FROM (SELECT doc_id,
        |          [array_to_string(w[i:i+9], ' ') for i in range(1, len(w)-8)] AS gs
        |        FROM t WHERE len(w) >= 10)
        |), dup AS (
        |  SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
        |), p AS (
        |  SELECT doc_id, pos FROM g JOIN dup USING (gram)
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
        |), spans AS (
        |  SELECT doc_id, min(pos) AS span_start, max(pos) + 10 AS span_end
        |  FROM isl GROUP BY doc_id, island
        |), cover AS (
        |  SELECT doc_id, sum(span_end - span_start) AS dup_toks
        |  FROM spans GROUP BY doc_id
        |)
        |SELECT sig.doc_id, sig.n_tokens, sig.max_run, sig.top_bigram_frac,
        |  round(CAST(coalesce(cover.dup_toks, 0) AS DOUBLE) / sig.n_tokens, 6)
        |    AS dup_span_frac,
        |  (sig.max_run <= 5 AND sig.top_bigram_frac <= 0.2 AND
        |   round(CAST(coalesce(cover.dup_toks, 0) AS DOUBLE) / sig.n_tokens, 6) <= 0.5)
        |    AS pass
        |FROM sig LEFT JOIN cover USING (doc_id)
        |ORDER BY sig.doc_id""".stripMargin)),

    // ---- D10 batch twin: the composed streaming corpus-ingestion pipeline
    // (repetition gate -> exact dedup -> MinHash-LSH dedup against the live
    // corpus) run as one batch over a split of `documents` — odd doc_ids are
    // the incoming micro-batch, even doc_ids the existing corpus. Same code
    // path CorpusIngest.ingest executes per micro-batch (foreachBatch runs
    // batch DataFrame logic; the delta read/append ends are covered by
    // DeltaSink/CorpusIngest specs), mirroring how B27/B29/B58 oracle the
    // other streaming operators. The full-chain CTE oracle recomputes all
    // three stages exactly.
    GateQuery("docs_ingest_batch", { (s, dir) =>
      val docs = T(s, dir, "documents")
      val incoming = docs.filter(col("doc_id") % 2 === 1)
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      streaming.CorpusIngest
        .prepareBatch(
          incoming,
          Some(corpus),
          "text",
          "doc_id",
          jaccardThreshold = 0.8,
          streaming.CorpusIngest.Gate(maxRun = 5, maxTopBigramFrac = 0.2)
        )
        .select("doc_id")
        .orderBy("doc_id")
    }, Oracle(
      // full-chain recompute of the D10 ingest pipeline: gate (max_run,
      // top_bigram_frac over odd doc_ids) -> exact dedup (min doc_id per md5
      // fingerprint) -> exact 3-shingle Jaccard vs the even-doc_id corpus
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS tok
        |  FROM (SELECT * FROM t WHERE doc_id % 2 = 1)
        |), runs AS (
        |  SELECT doc_id, count(*) AS run
        |  FROM (SELECT doc_id, tok,
        |          pos - row_number() OVER (PARTITION BY doc_id, tok ORDER BY pos) AS grp
        |        FROM tok)
        |  GROUP BY doc_id, tok, grp
        |), mr AS (
        |  SELECT doc_id, max(run) AS max_run FROM runs GROUP BY doc_id
        |), bgf AS (
        |  SELECT t.doc_id,
        |    CASE WHEN len(bg) = 0 THEN 0.0 ELSE
        |      round(CAST(list_max([len(list_filter(bg, x -> x = d)) for d in list_distinct(bg)]) AS DOUBLE) / len(bg), 6)
        |    END AS top_bigram_frac
        |  FROM (SELECT doc_id,
        |          [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS bg
        |        FROM t WHERE doc_id % 2 = 1) AS t
        |), gated AS (
        |  SELECT mr.doc_id FROM mr JOIN bgf USING (doc_id)
        |  WHERE mr.max_run <= 5 AND bgf.top_bigram_frac <= 0.2
        |), ex AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM documents JOIN gated USING (doc_id)
        |  GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |), sh AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                   for i in range(1, len(w)-1)]) AS s
        |  FROM t
        |), matched AS (
        |  SELECT DISTINCT a.doc_id
        |  FROM (SELECT sh.doc_id, sh.s FROM sh JOIN ex USING (doc_id)) a
        |  JOIN sh b
        |    ON b.doc_id % 2 = 0
        |   AND (CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
        |        ELSE len(list_intersect(a.s, b.s))::DOUBLE
        |             / len(list_distinct(list_concat(a.s, b.s))) END) >= 0.8
        |)
        |SELECT doc_id FROM ex
        |WHERE doc_id NOT IN (SELECT doc_id FROM matched)
        |ORDER BY doc_id""".stripMargin))
  )
}
