package graft
package gate

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text and multimodal rows (SURVEY §2 C): per-document signals, PII
  * scrubbing and the multimodal decode path. */
object TextRows {
  val rows: Seq[GateQuery] = Seq(
    // ---- B43: vocabulary extraction — top bigrams by frequency (the
    // corpus-statistics side of a training-data pipeline).
    GateQuery("text_vocab_ngrams", { (s, dir) =>
      T(s, dir, "documents")
        .select(
          explode(functions.TextFunctions.wordShingles(col("text"), 2)).as("ngram")
        )
        .groupBy(col("ngram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("ngram"))
        .limit(100)
    }, Oracle(
      """WITH t AS (
        |  SELECT string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents
        |), n AS (
        |  SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS ngram
        |  FROM t
        |)
        |SELECT ngram, count(*) AS n FROM n
        |GROUP BY ngram
        |ORDER BY n DESC, ngram
        |LIMIT 100""".stripMargin)),

    // ---- C8: language-id heuristic, aggregated confusion counts (oracle).
    GateQuery("text_langid", { (s, dir) =>
      // widenIfNarrow (round 13): the langid kernel sits below the groupBy
      // exchange, so a one-split scan ran it as one task (JobProbe: 307 ms
      // of a 0.63 s run at sf0.1); no-op at scale.
      operators.Spread
        .widenIfNarrow(T(s, dir, "documents"), "doc_id")
        .select(col("lang"), functions.TextFunctions.langId(col("text")).as("predicted"))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    }, Oracle(
      """WITH t AS (
        |  SELECT lang,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents
        |), s AS (
        |  SELECT lang,
        |    len(list_filter(w, x -> list_contains(['the','and','of','to','is','that','it','for'], x))) AS s_en,
        |    len(list_filter(w, x -> list_contains(['le','la','de','et','les','des','une','est'], x))) AS s_fr,
        |    len(list_filter(w, x -> list_contains(['der','die','und','das','ein','ist','nicht','mit'], x))) AS s_de,
        |    len(list_filter(w, x -> list_contains(['el','los','las','y','en','que','por','con'], x))) AS s_es,
        |    len(list_filter(w, x -> list_contains(['的','了','是','我','不','在','有','人'], x))) AS s_zh
        |  FROM t
        |), p AS (
        |  SELECT lang, CASE
        |    WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es AND s_en >= s_zh THEN 'en'
        |    WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
        |    WHEN s_de >= s_es AND s_de >= s_zh THEN 'de'
        |    WHEN s_es >= s_zh THEN 'es'
        |    ELSE 'zh' END AS predicted
        |  FROM s
        |)
        |SELECT lang, predicted, count(*) AS n FROM p
        |GROUP BY lang, predicted
        |ORDER BY lang, predicted""".stripMargin)),

    // ---- C9: quality scoring (oracle).
    GateQuery("text_quality", { (s, dir) =>
      val tf = functions.TextFunctions
      T(s, dir, "documents")
        .select(
          col("doc_id"),
          length(tf.normText(col("text"))).as("n_chars_norm"),
          size(tf.wsTokens(col("text"))).as("n_tokens"),
          tf.qualityScore(col("text")).as("quality")
        )
    // Projection-only full-corpus transforms carry NO final ORDER BY (here
    // and in the other per-row text/chunk rows): the gate compare sorts
    // rows itself, the range sort's boundary sampling re-executes the
    // whole scan+compute stage a second time (the plan has no exchange to
    // truncate it), and a 100 TB pipeline never globally sorts a per-row
    // transform's output anyway. ORDER BY stays wherever LIMIT needs it.
    }, Oracle(
      """WITH t AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |  FROM documents
        |), u AS (
        |  SELECT doc_id, norm, string_split(norm, ' ') AS w FROM t
        |)
        |SELECT doc_id,
        |  CAST(length(norm) AS INTEGER) AS n_chars_norm,
        |  CAST(len(w) AS INTEGER) AS n_tokens,
        |  round(0.5 * (CASE WHEN len(w) = 0 THEN 0.0
        |               ELSE len(list_distinct(w))::DOUBLE / len(w) END)
        |      + 0.5 * least(length(norm)::DOUBLE / 200.0, 1.0), 4) AS quality
        |FROM u
        |ORDER BY doc_id""".stripMargin)),

    // ---- C10: token counting, whitespace + BPE-ish (oracle).
    GateQuery("text_tokencount", { (s, dir) =>
      val tf = functions.TextFunctions
      T(s, dir, "documents")
        .select(
          col("doc_id"),
          size(tf.wsTokens(col("text"))).as("ws_tokens"),
          size(tf.bpeTokens(col("text"))).as("bpe_tokens")
        ) // no ORDER BY — see text_quality
    }, Oracle(
      """WITH t AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(string_split(norm, ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS INTEGER) AS bpe_tokens
        |FROM t
        |ORDER BY doc_id""".stripMargin)),

    // ---- C11: content fingerprinting (oracle).
    GateQuery("text_fingerprint", { (s, dir) =>
      val tf = functions.TextFunctions
      T(s, dir, "documents")
        .select(
          col("doc_id"),
          tf.fingerprint(col("text")).as("fingerprint"),
          length(tf.normText(col("text"))).as("n_chars_norm")
        ) // no ORDER BY — see text_quality
    }, Oracle(
      """WITH t AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |  FROM documents
        |)
        |SELECT doc_id, md5(norm) AS fingerprint,
        |  CAST(length(norm) AS INTEGER) AS n_chars_norm
        |FROM t
        |ORDER BY doc_id""".stripMargin)),

    // ---- C12: multimodal decode — mixed-modality fixture with REAL
    // container bytes (PNG-encoded pixels every third doc, WAV-encoded PCM
    // every third, raw text the rest), decoded by the real javax.imageio /
    // javax.sound.sampled codecs per partition (rows-only: feature values
    // aren't SQL-expressible; codec correctness is spec'd on known
    // pixels/samples in MultimodalSpec).
    GateQuery("multimodal_features", { (s, dir) =>
      import s.implicits._
      operators.Multimodal
        .extractFeatures(
          operators.Multimodal.withSyntheticMedia(T(s, dir, "documents"))
        )
        .select(
          col("doc_id"),
          col("n_bytes"),
          col("checksum"),
          size(col("features")).as("n_dims")
        )
    // no ORDER BY: the gate compare sorts rows itself, and a range sort
    // here would re-execute the whole encode+decode chain a second time
    // just to sample partition boundaries (measured 2.2x on the gate row)
    }, Contract("multimodal_decode_check",
      "float feature vectors are not portable SQL; the codec round-trip " +
        "is gate-checked by the HASH-MATCHED multimodal_decode_check " +
        "contract row (pixel channel sums, container facts and byte " +
        "lengths recomputed by the oracle from first principles), and the " +
        "codecs are spec'd on known pixels/samples (MultimodalSpec)")),

    // ---- C12 contract row: end-to-end decode verification. Modality is
    // whichever REAL codec accepted the bytes; pixel channel sums, audio
    // container facts and raw byte lengths are all independently
    // recomputable by the oracle from doc_id/text arithmetic — so this row
    // hash-checks that javax.imageio/javax.sound round-trip the synthetic
    // containers bit-exactly, through the same per-partition plumbing the
    // feature extractor uses.
    GateQuery("multimodal_decode_check", { (s, dir) =>
      operators.Multimodal
        .decodeCheck(
          operators.Multimodal.withSyntheticMedia(T(s, dir, "documents"))
        )
        .toDF()
    // no ORDER BY — same double-execution argument as multimodal_features
    }, Oracle(
      // Decode contract row: every value is recomputed from first principles —
      // pixel channel sums by replaying the synthetic (id*31 + pos) & 0xffffff
      // pattern the PNG encodes (lossless round-trip => bit-equal sums),
      // audio container facts from the synthesis constants, raw lengths from
      // the text bytes.
      """WITH p AS (SELECT range AS i FROM range(0, 64))
        |SELECT d.doc_id,
        |  CASE d.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'raw' END AS modality,
        |  CASE WHEN d.doc_id % 3 = 0 THEN 8 END AS width,
        |  CASE WHEN d.doc_id % 3 = 0 THEN 8 END AS height,
        |  CASE WHEN d.doc_id % 3 = 0 THEN CAST((SELECT
        |    sum(((d.doc_id * 31 + p.i) % 16777216) // 65536) FROM p)
        |    AS BIGINT) END AS sum_r,
        |  CASE WHEN d.doc_id % 3 = 0 THEN CAST((SELECT
        |    sum(((d.doc_id * 31 + p.i) % 65536) // 256) FROM p)
        |    AS BIGINT) END AS sum_g,
        |  CASE WHEN d.doc_id % 3 = 0 THEN CAST((SELECT
        |    sum((d.doc_id * 31 + p.i) % 256) FROM p)
        |    AS BIGINT) END AS sum_b,
        |  CASE WHEN d.doc_id % 3 = 1 THEN CAST(400 AS BIGINT) END AS frames,
        |  CASE WHEN d.doc_id % 3 = 1 THEN 8000 END AS sample_rate,
        |  CASE WHEN d.doc_id % 3 = 1 THEN true END AS rms_ok,
        |  CASE WHEN d.doc_id % 3 = 2 THEN CAST(octet_length(encode(text))
        |    AS BIGINT) END AS raw_bytes
        |FROM documents d ORDER BY d.doc_id""".stripMargin)),

    // ---- C19: boilerplate span detection — 8-token spans repeated across
    // >= 3 distinct documents (the cross-doc repeated-substring signal that
    // drives template/boilerplate stripping). Explode is bounded by tokens
    // per doc; the shuffle is keyed by span.
    GateQuery("text_boilerplate_spans", { (s, dir) =>
      // Count on 8-byte span HASHES (native ShingleHashes kernel — span
      // strings never materialize or shuffle), two-phase to avoid a
      // countDistinct Expand; then resolve only the qualifying spans back to
      // strings via a broadcast semi-join on the hash. The hash of a single
      // 8-token span equals the corresponding element of the full-text
      // hashing, so the join key is exact (collisions ~n²/2⁶⁴, same argument
      // as the minhash pipeline; the oracle gate would catch one).
      // Measured 5.0s -> 1.2s at sf0.1 vs aggregating the strings.
      locally {
        val tf = functions.TextFunctions
        val docs = T(s, dir, "documents")
        // each span hash remembers one exemplar (doc, position); qualifying
        // hashes then recover their span STRING from just those ~50
        // exemplar documents — no string ever enters the big shuffle.
        // widenIfNarrow (round 13): the 8-gram hash kernel + posexplode ran
        // as one task on the one-split scan (JobProbe: 329 ms of a 1.3 s
        // run at sf0.1); the exemplar-resolve side is NOT widened — its
        // kernel evaluates only for broadcast-probe matches (~50 rows).
        val stats = operators.Spread
          .widenIfNarrow(docs, "doc_id")
          .select(
            col("doc_id"),
            posexplode(
              functions.GraftFunctions
                .shingleHashes(tf.normText(col("text")), 8)
            ).as(Seq("pos", "h"))
          )
          .groupBy(col("h"), col("doc_id"))
          .agg(count(lit(1)).as("n_in_doc"), min(col("pos")).as("pos0"))
          .groupBy(col("h"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_in_doc")).as("n_occurrences"),
            min(struct(col("doc_id"), col("pos0"))).as("ex")
          )
          .filter(col("n_docs") >= 3)
          .select(
            col("n_docs"),
            col("n_occurrences"),
            col("ex.doc_id").as("ex_doc"),
            col("ex.pos0").as("ex_pos")
          )
        docs
          .join(broadcast(stats), col("doc_id") === col("ex_doc"))
          .select(
            element_at(tf.wordShingles(col("text"), 8), col("ex_pos") + 1)
              .as("span"),
            col("n_docs"),
            col("n_occurrences")
          )
          .orderBy(col("n_docs").desc, col("span"))
          .limit(50)
      }
    }, Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(w[i:i+7], ' ')
        |            for i in range(1, len(w) - 6)]) AS span
        |  FROM t
        |)
        |SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
        |FROM g
        |GROUP BY span
        |HAVING count(DISTINCT doc_id) >= 3
        |ORDER BY n_docs DESC, span
        |LIMIT 50""".stripMargin)),

    // ---- C14: lexical-diversity filter (type-token ratio + top-token
    // share). The three exact counts come from ONE codegen kernel call per
    // row (graft_diversity_stats — tokenize + distinct + top-frequency
    // fused); the ratios are assembled in Column space so values stay
    // bit-identical to the HOF formulation the oracle mirrors. The counts
    // array rides the let-binding + inline-generator shape (same as
    // Repetition.signals) so the ttr filter below cannot re-inline the
    // kernel (see the round-6 quadratic-inlining note in SURVEY §5).
    GateQuery("text_diversity_filter", { (s, dir) =>
      val tf = functions.TextFunctions
      val counts = functions.GraftFunctions.diversityStats(tf.normText(col("text")))
      val stats = element_at(
        transform(
          array(counts),
          a =>
            struct(
              element_at(a, 1).cast("int").as("n_tokens"),
              element_at(a, 2).cast("int").as("n_distinct"),
              round(
                element_at(a, 2).cast("double") / element_at(a, 1),
                4
              ).as("ttr"),
              round(
                element_at(a, 3).cast("double") / element_at(a, 1),
                4
              ).as("top_share")
            )
        ),
        1
      )
      T(s, dir, "documents")
        .select(col("doc_id"), inline(array(stats)))
        .filter(col("ttr") >= 0.45)
        .orderBy("doc_id")
    }, Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS INTEGER) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct,
        |    round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS ttr,
        |    round(list_max(list_transform(list_distinct(toks),
        |            t2 -> len(list_filter(toks, x -> x = t2))))::DOUBLE
        |          / len(toks), 4) AS top_share
        |  FROM t
        |)
        |SELECT * FROM m WHERE ttr >= 0.45 ORDER BY doc_id""".stripMargin)),

    // ---- C23: tf-idf top terms per document — the keyword-extraction /
    // relevance-scoring pass. Counts are exact integers; the only double is
    // the final score, quantized to 6 decimals on both engines BEFORE
    // ranking so ulp-level ln() differences cannot flip an order.
    GateQuery("text_tfidf_terms", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tfn = functions.TextFunctions
      val docsT = T(s, dir, "documents")
      val toks = docsT
        .select(col("doc_id"), explode(tfn.wsTokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // df per term WITHOUT the (doc_id, term) distinct exchange (round 13,
      // guide §2.3 — aggregate before you shuffle): a term's distinct-doc
      // count is one row per (doc, distinct term), and "distinct within the
      // doc" is a per-ROW array_distinct — map-side, no exchange — so the
      // groupBy(term) is the only shuffle (was: distinct exchange on
      // (doc_id, term) + groupBy(term) exchange, fed by a SECOND full
      // tokenize+explode pass).
      val dfreq = docsT
        .select(
          col("doc_id"),
          explode(array_distinct(tfn.wsTokens(col("text")))).as("term")
        )
        .groupBy("term")
        .agg(count(lit(1)).as("df"))
      // nd = number of documents with >= 1 token. countDistinct(doc_id) over
      // the exploded tokens computed exactly this (doc_ids are unique per
      // document) through a THIRD full tokenize + explode + two-phase
      // distinct aggregate; a scan-level conditional count is the same value
      // with no explode and no distinct machinery.
      val nDocs = docsT
        .agg(
          sum(
            when(size(tfn.wsTokens(col("text"))) > 0, 1L).otherwise(0L)
          ).as("nd")
        )
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(nDocs))
        .select(
          col("doc_id"),
          col("term"),
          col("tf"),
          col("df"),
          round(col("tf") * log(col("nd").cast("double") / col("df")), 6).as("score")
        )
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5 && col("doc_id") < 50)
        .orderBy("doc_id", "rn")
    }, Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(w) AS term FROM t
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
        |), dfreq AS (
        |  SELECT term, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term
        |), n AS (
        |  SELECT count(DISTINCT doc_id) AS nd FROM tok
        |), scored AS (
        |  SELECT doc_id, term, tf, df,
        |    round(tf * ln(nd::DOUBLE / df), 6) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |), r AS (
        |  SELECT doc_id, term, tf, df, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |  FROM scored
        |)
        |SELECT doc_id, term, tf, df, score, rn FROM r
        |WHERE rn <= 5 AND doc_id < 50
        |ORDER BY doc_id, rn""".stripMargin)),

    // ---- C32: unigram-LM perplexity quality scoring (the CCNet signal) —
    // per-document mean negative log-likelihood under an add-one-smoothed
    // unigram model (1000-term vocabulary cap) trained on the corpus
    // itself; high-mean_nll docs are the out-of-distribution tail that
    // heuristic ratio scores (C9) cannot see. Per-term log-probs are
    // quantized to integer micro-nats BEFORE aggregation
    // (operators.Perplexity), so the per-doc sum is exact integer math —
    // associative under any partitioning — and the only output float is
    // one correctly-rounded IEEE division both engines compute identically.
    GateQuery("text_perplexity", { (s, dir) =>
      operators.Perplexity
        .scoreSelf(T(s, dir, "documents"), "text", "doc_id", cap = 1000)
    // no ORDER BY on the scoring pass — see text_quality (the model is
    // collected while the frame is built, so only the per-row scoring
    // stage would re-run)
    }, Oracle(
      // C32: identical model — same smoothing, same 1000-term cap with the
      // same (count desc, term) tie-break, same micro-nat quantization; the
      // final mean is integer-sum / count / 1e6, so both engines divide the
      // same exact operands.
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
        |  FROM documents
        |), cnt AS (
        |  SELECT term, count(*) AS c FROM t GROUP BY term
        |), tot AS (
        |  SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM cnt
        |), lp AS (
        |  SELECT k.term,
        |    CAST(round(-ln((k.c + 1) / (tot.n + tot.v)) * 1e6) AS BIGINT) AS lp_micro
        |  FROM (SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT 1000) k
        |  CROSS JOIN tot
        |), ov AS (
        |  SELECT CAST(round(-ln(1 / (n + v)) * 1e6) AS BIGINT) AS oov_lp_micro FROM tot
        |)
        |SELECT t.doc_id,
        |  count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN lp.lp_micro IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
        |  round(CAST(sum(coalesce(lp.lp_micro, ov.oov_lp_micro)) AS DOUBLE)
        |        / count(*) / 1e6, 6) AS mean_nll
        |FROM t LEFT JOIN lp ON t.term = lp.term CROSS JOIN ov
        |GROUP BY t.doc_id
        |ORDER BY doc_id""".stripMargin)),

    // ---- C25: Gopher/MassiveText repetition-quality signals — per-row
    // higher-order-function projections, zero shuffles.
    GateQuery("text_repetition", { (s, dir) =>
      operators.Repetition
        .signals(T(s, dir, "documents"), "text", "doc_id")
    // no ORDER BY — see text_quality
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
        |    [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS bg,
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)] AS tg
        |  FROM t
        |)
        |SELECT ng.doc_id, ng.n_tokens, mr.max_run,
        |  CASE WHEN len(bg) = 0 THEN 0.0 ELSE
        |    round(CAST(list_max([len(list_filter(bg, x -> x = d)) for d in list_distinct(bg)]) AS DOUBLE) / len(bg), 6)
        |  END AS top_bigram_frac,
        |  CASE WHEN len(tg) = 0 THEN 0.0 ELSE
        |    round(CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE) / len(tg), 6)
        |  END AS dup_trigram_frac
        |FROM ng JOIN mr USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- C16 under the gate: PII scrubbing. The corpus has no natural
    // PII, so both engines append the SAME deterministic contact string
    // (email + phone + IPv4 derived from doc_id) and must scrub it
    // identically — the patterns live in the Java-regex ∩ RE2 intersection
    // precisely so this oracle is possible.
    GateQuery("q_pii_scrub", { (s, dir) =>
      val raw = concat(
        col("text"),
        lit(" reach user"),
        col("doc_id").cast("string"),
        lit("@mail.example.org, call +49 (30) 1234"),
        col("doc_id").cast("string"),
        lit(", server 192.168."),
        (col("doc_id") % 256).cast("string"),
        lit(".42")
      )
      T(s, dir, "documents")
        .select(
          col("doc_id"),
          functions.TextFunctions.piiScrub(raw).as("scrubbed")
        ) // no ORDER BY — see text_quality
    }, Oracle(
      """WITH s AS (
        |  SELECT doc_id,
        |    text || ' reach user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.org, call +49 (30) 1234'
        |      || CAST(doc_id AS VARCHAR)
        |      || ', server 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.42' AS raw
        |  FROM documents
        |)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(raw,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS scrubbed
        |FROM s ORDER BY doc_id""".stripMargin))
  )
}
