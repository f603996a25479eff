package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text-analysis kernels for large-scale training-data
  * pipelines (SURVEY.md §7 M7 / north-star extensions; no reference
  * analog — the reference's only string kernels are byte-slice parsers,
  * hive-io-exp-core input/parser/array/BytesParser.java:152-298).
  *
  * Everything here is a pure Catalyst expression tree built from
  * `org.apache.spark.sql.functions` — codegen-friendly, no UDF, no
  * driver-side state, so every operator scales linearly with input
  * partitions.
  */
object TextOps {

  /** Whitespace-normalized lowercase text — the canonical form used by
    * fingerprinting and shingling. */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(normalized(text), " ")

  /** Order-invariant bag-of-words fingerprint: md5 of the SORTED
    * DISTINCT token set — shuffled near-copies still collide. Shared by
    * q110 (incremental dedup) and q171 (cluster canonical pick); the
    * DuckDB twin is [[graft.queries.Fragments.BagFpSql]] and MUST stay
    * in lockstep. `sort_array`: lambda-free, see
    * [[graft.functions.LengthPrefixExpr]]. */
  def bagFingerprint(text: Column): Column =
    md5(concat_ws(" ", sort_array(array_distinct(tokens(text)))))

  /** Distinct word k-shingles (k consecutive tokens joined by a space) of
    * the normalized text; empty when the document has fewer than k tokens.
    * Single-pass custom expression ([[graft.functions.ShingleKernel]]) —
    * the equivalent transform∘slice∘concat_ws∘array_distinct chain is
    * interpreted and ~10× slower. */
  def wordShingles(text: Column, k: Int): Column =
    graft.functions.Hashing.wordShingles(text, k)

  /** Exact-dedup / fingerprint hash of the normalized text (rolling-hash
    * document fingerprint analog; md5 keeps DuckDB-oracle parity). */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Jaccard similarity of two pre-distinct string arrays (single-pass
    * custom expression, [[graft.functions.JaccardKernel]]). */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.Hashing.jaccardSim(a, b)

  /** Language stopword marker sets (tiny, broadcast as literals). */
  val StopEn = Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")
  val StopDe = Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den")
  val StopFr = Seq("le", "la", "les", "et", "un", "une", "est", "pour", "que", "dans")
  val StopEs = Seq("el", "los", "y", "un", "una", "es", "por", "que", "con", "para")

  /** All per-document scalars in one pass (custom expression; repeated
    * uses in one projection are deduplicated by codegen subexpression
    * elimination). */
  private def stats(text: Column): Column = graft.functions.TextStats(text)

  /** N-gram-heuristic language ID: Han-script detection for zh, else the
    * language with the highest stopword-hit count (ties broken by fixed
    * precedence en > de > fr > es — mirrored exactly in the oracle SQL). */
  def langId(text: Column): Column = {
    val st = stats(text)
    val en = st.getField("stop_en"); val de = st.getField("stop_de")
    val fr = st.getField("stop_fr"); val es = st.getField("stop_es")
    when(st.getField("has_han"), "zh")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = stats(text).getField("n_tokens")

  /** BPE-ish token count: word pieces + isolated punctuation (the classic
    * `\w+|[^\w\s]` pre-tokenizer; ASCII \w in both Java regex and RE2). */
  def bpeTokenCount(text: Column): Column = stats(text).getField("bpe")

  /** True subword tokens under a rank-ordered BPE merges table
    * ([[graft.functions.BpeKernel]] — single-pass codegen'd kernel; the
    * DuckDB twin is [[graft.queries.Fragments.bpeWordSql]], unrolled from
    * the SAME table). The production token-budget counter: pipelines
    * denominate budgets in subwords, not whitespace words. */
  def bpeSubwords(text: Column, mergesKey: String = "en16"): Column =
    graft.functions.Bpe.bpeTokens(text, mergesKey)

  /** Subword count under the named BPE merges table — drop-in
    * replacement for whitespace [[tokenCount]] in the budget family
    * (q94/q170/q180 take it as the opt-in counter). */
  def subwordCount(text: Column, mergesKey: String = "en16"): Column =
    size(bpeSubwords(text, mergesKey)).cast("long")

  /** Punctuation-character ratio (fixed class for oracle parity). */
  def punctRatio(text: Column): Column =
    stats(text).getField("punct").cast("double") / greatest(length(text), lit(1))

  /** English-stopword ratio among whitespace tokens. */
  def stopwordRatio(text: Column): Column =
    stats(text).getField("stop_en").cast("double") /
      greatest(stats(text).getField("n_tokens"), lit(1))

  /** Email-address pattern (ASCII, lowercase input assumed for the local
    * part; `#` included because fixture names contain it). Identical
    * semantics in Java regex and RE2 — no backrefs, no lookaround. */
  val EmailRe = "[a-z0-9.#_%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"

  /** Phone-shaped digit run: optional `+`, then ≥7 digits/dashes
    * bracketed by digits. Applied AFTER email redaction so an address's
    * digits are not double-counted. */
  val PhoneRe = "\\+?[0-9][0-9-]{5,}[0-9]"

  /** PII redaction: emails → `<EMAIL>`, then phone-shaped digit runs →
    * `<PHONE>`. Order matters (emails often contain digit runs). Pure
    * codegen'd regexp_replace chain — scales linearly, no UDF. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Count of email matches in the raw text. */
  def emailCount(text: Column): Column = regexp_count(text, lit(EmailRe))

  /** Count of phone-shaped runs AFTER email redaction (mirrors
    * [[redactPii]]'s pass order). */
  def phoneCount(text: Column): Column =
    regexp_count(regexp_replace(text, EmailRe, "<EMAIL>"), lit(PhoneRe))

  /** Composite quality score in [0,1]: length saturation × (1 − punct
    * excess) × stopword plausibility. Deterministic, documented formula —
    * the oracle SQL replicates it term by term. */
  def qualityScore(text: Column): Column = {
    val lenSat = least(tokenCount(text).cast("double") / 50.0, lit(1.0))
    val punctOk = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val stopOk = least(stopwordRatio(text) * 4.0, lit(1.0))
    round(lenSat * (lit(0.5) + lit(0.25) * punctOk + lit(0.25) * stopOk), 4)
  }

  /** Learned-classifier inference (q258): a hashed-ngram LINEAR scorer —
    * the fastText-style quality gate of published curation pipelines,
    * next to the rule-based (q39/q74), unigram-LM (q82) and DSIR (q212)
    * scorers. Features are the distinct unigrams plus distinct word
    * bigrams of the normalized text (binary bag — a unigram can never
    * collide with a bigram: bigrams contain a space); each feature
    * hashes to one of `weights.length` buckets via the repo's lockstep
    * md5 bucket ([[graft.queries.Fragments.hashBucket]]) and
    * contributes its integer milli-weight to an exact BIGINT sum.
    *
    * The weight vector rides the plan as a literal array with a
    * codegen'd `element_at` lookup — model-as-data
    * ([[graft.functions.QualityModel]]) with zero joins, zero shuffles,
    * zero UDFs: the whole scorer is one whole-stage-codegen'd
    * expression over the document scan, the shape that serves a
    * 100 TB corpus at scan speed.
    *
    * Returns struct(w_sum BIGINT, n_feats INT); callers derive the
    * normalized score (w_sum / 1000·n_feats) and the keep decision
    * (w_sum > 0 — an exact integer compare, no float threshold). */
  def linearQualityScore(text: Column, weights: Array[Int]): Column = {
    val uni = filter(array_distinct(tokens(text)), f => f =!= "")
    val feats = concat(uni, wordShingles(text, 2))
    val wlit = typedLit(weights.toSeq)
    val wsum = aggregate(feats, lit(0L), (acc, f) =>
      acc + element_at(wlit,
        graft.queries.Fragments.hashBucket(f, weights.length) + 1)
        .cast("long"))
    struct(wsum.as("w_sum"), size(feats).as("n_feats"))
  }
}
