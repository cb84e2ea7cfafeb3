package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the LLM-data-pipeline operators.
  *
  * Everything here is composed from codegen'd built-ins
  * (`org.apache.spark.sql.functions`), and — where an operator is
  * oracle-checked — designed so the identical computation is expressible in
  * portable SQL (see SparkEntry.oracleSql): same normalization, same regexes,
  * same tie-breaking.
  */
object TextFunctions {

  /** Canonical text form: lowercase, trimmed, whitespace collapsed to single
    * spaces. Every downstream op (fingerprint, tokens, shingles) starts here.
    * The squeeze+trim half runs as the one-pass `graft_squeeze_ws` codegen
    * kernel (byte-identical to `trim(regexp_replace(c, "\\s+", " "))`,
    * property-proven in GraftExpressionsSpec); `lower` stays the built-in so
    * Unicode case mapping is Spark's own. */
  def normText(c: Column): Column =
    lower(GraftFunctions.squeezeWs(c))

  /** Content fingerprint: md5 of the normalized text (portable across
    * engines, unlike xxhash64 — used for the exact-dedup oracle). */
  def fingerprint(c: Column): Column = md5(normText(c))

  /** Whitespace tokens of the normalized text. */
  def wsTokens(c: Column): Column = split(normText(c), " ")

  /** BPE-ish sub-tokens: letter runs, single digits, single punctuation. */
  val BpeRegex = "[a-z]+|[0-9]|[^a-z0-9 ]"
  def bpeTokens(c: Column): Column =
    regexp_extract_all(normText(c), lit(BpeRegex), lit(0))

  /** Word k-shingles (k-grams of whitespace tokens, space-joined). k=2 uses
    * zip-with-shifted (one pass, no per-position slicing — ~4× cheaper on
    * vocabulary extraction); general k falls back to per-position slices. */
  def wordShingles(c: Column, k: Int): Column = {
    val w = wsTokens(c)
    if (k == 2) {
      // concat yields NULL on the padded tail element; filter drops it
      filter(
        zip_with(w, slice(w, lit(2), size(w)), (a, b) => concat(a, lit(" "), b)),
        x => x.isNotNull
      )
    } else
      when(size(w) < k, array()).otherwise(
        transform(
          sequence(lit(1), size(w) - lit(k - 1)),
          i => concat_ws(" ", slice(w, i, lit(k)))
        )
      )
  }

  /** xxhash64 of each element — the long-hash input for minhash/simhash. */
  def tokenHashes(tokens: Column): Column = transform(tokens, t => xxhash64(t))

  // ---- language id (stopword-count heuristic) ----

  /** Tiny per-language stopword lists. A heuristic, not a model: scores are
    * occurrence counts of language-characteristic tokens. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "it", "for"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "une", "est"),
    "de" -> Seq("der", "die", "und", "das", "ein", "ist", "nicht", "mit"),
    "es" -> Seq("el", "los", "las", "y", "en", "que", "por", "con"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有", "人")
  )

  /** Occurrence count of `words` among the whitespace tokens. */
  def stopwordCount(c: Column, words: Seq[String]): Column = {
    val wordArr = array(words.map(lit): _*)
    size(filter(wsTokens(c), t => array_contains(wordArr, t)))
  }

  /** Predicted language: argmax of the stopword scores, ties broken by list
    * order (en > fr > de > es > zh) — mirrored exactly in the SQL oracle.
    * Built as array_position(scores, max) rather than a pairwise when-chain:
    * the chain references every score O(n²) times, which defeats codegen
    * subexpression elimination and re-tokenizes per comparison; the array
    * form evaluates each stopword count once. */
  def langId(c: Column): Column = {
    val scoreArr = array(Stopwords.map { case (_, words) => stopwordCount(c, words) }: _*)
    val langArr = array(Stopwords.map { case (lang, _) => lit(lang) }: _*)
    element_at(langArr, array_position(scoreArr, array_max(scoreArr)).cast("int"))
  }

  // ---- quality scoring ----

  /** Heuristic document quality in [0,1]: rewards mid-length docs and lexical
    * diversity, penalizes repetition. Deterministic and SQL-portable. */
  def qualityScore(c: Column): Column = {
    val n = normText(c)
    val toks = wsTokens(c)
    val nTok = size(toks).cast("double")
    val distinctRatio =
      when(nTok === 0.0, 0.0).otherwise(size(array_distinct(toks)) / nTok)
    val lenScore = least(length(n).cast("double") / lit(200.0), lit(1.0))
    round(lit(0.5) * distinctRatio + lit(0.5) * lenScore, 4)
  }

  // ---- sampling / redaction ----

  /** Deterministic content-hash sampling key: first hex nibble of
    * md5(salt ++ id). Stable across runs/engines (md5 is portable, unlike
    * xxhash64), uniformly distributed, and independent of partitioning — the
    * property `rand()`-based sampling lacks at scale (retries/stage replays
    * resample). Keep a row when the nibble falls below the per-stratum
    * threshold: nibble ∈ first k of "0123456789abcdef" ⇒ rate k/16. */
  def sampleNibble(id: Column, salt: String): Column =
    substring(md5(concat(lit(salt), id.cast("string"))), 1, 1)

  /** PII redaction: emails, international-ish phone numbers and IPv4
    * addresses replaced by typed tags. Patterns are intentionally in the
    * portable intersection of Java regex and RE2 (no backrefs, no
    * lookaround) so the op stays oracle-checkable. */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRegex = "\\+?[0-9][0-9 ()-]{6,}[0-9]"
  val Ipv4Regex = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  def piiScrub(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRegex, "<EMAIL>"),
        PhoneRegex,
        "<PHONE>"
      ),
      Ipv4Regex,
      "<IP>"
    )
}
