package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis expression library for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, fingerprinting,
  * shingling, and engine-portable stable hashing.
  *
  * Everything here is a pure Catalyst `Column` expression — codegen'd inside
  * WholeStageCodegen, no UDFs, no driver round-trips — so each function
  * scales linearly over a 100 TB `documents` table and its results are
  * reproducible in any ANSI engine (the DuckDB oracle mirrors each one).
  *
  * Hash portability: every hash is derived from `md5` of an explicit string,
  * never from an engine-internal hash (Spark's `hash`/`xxhash64` and
  * DuckDB's `hash` disagree), so signatures computed here match signatures
  * computed by any other engine byte-for-byte.
  */
object TextFunctions {

  /** Whitespace tokens of trimmed text; empty/blank text → empty array. */
  def wsTokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  /** Whitespace token count (0 for blank text). */
  def tokenCount(c: Column): Column = size(wsTokens(c))

  /** BPE-ish subword count: letter runs + single digits + single symbols —
    * the standard cheap proxy for tokenizer cost when budgeting a corpus. */
  def bpeTokenCount(c: Column): Column =
    regexp_count(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))

  /** Count of non-alphanumeric, non-space symbols. */
  def punctCount(c: Column): Column = regexp_count(c, lit("[^A-Za-z0-9\\s]"))

  /** Count of characters outside printable ASCII (space..tilde) — cheap
    * CJK/extended-script signal for language routing. */
  def nonAsciiCount(c: Column): Column = regexp_count(c, lit("[^ -~]"))

  /** Hits of common English stopwords (word-bounded, lowercased). */
  def stopwordCount(c: Column): Column =
    regexp_count(lower(c), lit("\\b(the|and|is|of|to|in|a|for|on|it)\\b"))

  /** Exact cross-engine fixed-point: floor(x·10^d + 0.5) as a long. Decimal
    * `round(x, d)` implementations disagree on representation ties (Spark
    * rounds the exact binary expansion, other engines the shortest decimal);
    * this formula is a pure double computation — identical everywhere the
    * input double is identical. */
  def fixedPoint(c: Column, digits: Int): Column =
    floor(c * math.pow(10, digits) + 0.5).cast("long")

  /** Composite document-quality score in [0,1]:
    * 40% length saturation (tokens/100 capped), 30% low punctuation noise,
    * 30% stopword naturalness (stopwords per token, saturated at 1/5).
    * Pure integer-derived double arithmetic → bit-identical across engines.
    * Surface via fixedPoint(…, 4) when comparing across engines. */
  def qualityScore(c: Column): Column = {
    val nTok = tokenCount(c).cast("double")
    val nChr = length(c).cast("double")
    val lenScore = least(nTok / 100.0, lit(1.0))
    val punctScore = lit(1.0) - when(nChr > 0, punctCount(c) / nChr).otherwise(lit(0.0))
    val stopScore = least(when(nTok > 0, stopwordCount(c) * 5.0 / nTok).otherwise(lit(0.0)), lit(1.0))
    lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3
  }

  /** Marker-word language scores. Scoring is a deterministic n-gram/marker
    * heuristic; prediction = fixed-priority argmax (CJK presence wins). */
  private val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|is|of|to)\\b",
    "de" -> "\\b(der|die|und|ist|ein)\\b",
    "fr" -> "\\b(le|les|des|est|une)\\b",
    "es" -> "\\b(el|los|las|una|por)\\b")

  /** Predicted language code: 'zh' on any non-ASCII script, else the
    * highest-scoring marker profile, ties broken en>de>fr>es. */
  def langId(c: Column): Column = {
    val scores = langMarkers.map { case (l, re) => l -> regexp_count(lower(c), lit(re)) }
    val best = greatest(scores.map(_._2): _*)
    val pick = scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
    when(nonAsciiCount(c) > 0, lit("zh")).otherwise(pick)
  }

  /** Canonical-form fingerprint: md5 of lowercased, whitespace-collapsed,
    * trimmed text. Exact-dedup key that survives formatting noise. */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " "))

  /** Distinct character n-gram shingles (1-based substrings); texts shorter
    * than n shingle to themselves so no document vanishes. Array order is
    * positional → downstream sequential folds are deterministic. */
  def charShingles(c: Column, n: Int): Column =
    when(length(c) >= n,
      array_distinct(transform(sequence(lit(1), length(c) - n + 1), i => c.substr(i, lit(n)))))
      .otherwise(array(c))

  /** First 15 hex digits of md5 as a non-negative 60-bit long — an
    * engine-portable stable hash (DuckDB: CAST('0x'||substr(md5(x),1,15) AS BIGINT)). */
  def stableHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Winnowing fingerprint set (Schleimer/Wilkerson/Aiken): hash every
    * character n-gram (positional, NOT deduplicated — windows must see the
    * true sequence), slide a window of `w` hashes, keep each window's
    * minimum, distinct the kept mins. Guarantees any shared substring of
    * length ≥ n+w-1 contributes a shared fingerprint — the standard
    * containment/plagiarism detector. Entirely row-local; ~|text|/(w/2)
    * fingerprints per doc. */
  def winnowingFingerprints(c: Column, n: Int, w: Int): Column = {
    // fused shingle+hash (positional, NOT distinct — windows must see the
    // true sequence), then codegen'd one-pass sliding minima: a
    // transform(sequence, i -> array_min(slice(hs, ...))) formulation
    // captures the whole hash chain in the lambda and re-evaluates it PER
    // WINDOW (O(n·w) md5s/doc)
    val hs = org.apache.spark.sql.graft.MinHashExprs
      .hashedShingles(c, n, distinct = false)
    org.apache.spark.sql.graft.MinHashExprs.winnowMins(hs, w)
  }

  /** Distinct word n-grams (space-joined token windows); docs with fewer
    * than n tokens yield none. Row-local — the decontamination join key. */
  def wordNgrams(c: Column, n: Int): Column = {
    val tks = wsTokens(c)
    when(size(tks) >= n,
      array_distinct(transform(sequence(lit(0), size(tks) - n),
        i => concat_ws(" ", slice(tks, i + lit(1), lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  // --- Gopher-style repetition / shape statistics (row-local, integer-
  // derived doubles → engine-exact; surface via fixedPoint e4) ---

  /** Fraction of tokens that repeat an earlier token: 1 - distinct/total. */
  def dupTokenFracE4(c: Column): Column = {
    val tks = wsTokens(c)
    when(size(tks) > 0, fixedPoint(
      (size(tks) - size(array_distinct(tks))).cast("double")
        / size(tks).cast("double"), 4)).otherwise(lit(0L))
  }

  /** Share of the single most frequent token (Gopher's top-2-gram cousin):
    * max per-token frequency / token count. O(distinct·n) per row — bounded
    * by the row, never a shuffle. */
  def topTokenFracE4(c: Column): Column = {
    val tks = wsTokens(c)
    when(size(tks) > 0, fixedPoint(
      array_max(transform(array_distinct(tks),
        t => size(filter(tks, x => x === t)))).cast("double")
        / size(tks).cast("double"), 4)).otherwise(lit(0L))
  }

  /** Mean token length (e4) — Gopher's word-shape filter. */
  def meanTokenLenE4(c: Column): Column = {
    val tks = wsTokens(c)
    when(size(tks) > 0, fixedPoint(
      aggregate(tks, lit(0L), (acc, x) => acc + length(x)).cast("double")
        / size(tks).cast("double"), 4)).otherwise(lit(0L))
  }

  // --- PII detection/redaction. Patterns stay inside the Java-regex ∩ RE2
  // common subset (\b, \d, bounded repeats, character classes) so the
  // DuckDB oracle applies the byte-identical regex. ---
  val EmailRe = raw"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
  val Ipv4Re = raw"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
  val PhoneRe = raw"\+1-\d{3}-\d{4}"

  /** Redact emails → <EMAIL>, IPv4 → <IP>, then phones → <PHONE>.
    * Email first: its pattern overlaps dotted hosts, the placeholders
    * themselves match none of the later patterns. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Deterministic per-key sampling hash in [0, 10000): md5-derived, so the
    * same row is kept by every engine and every run — the primitive under
    * stratified corpus sampling (keep iff sampleBucket < rate_e4). */
  def sampleBucket(key: Column): Column =
    stableHash60(concat(lit("samp:"), key.cast("string"))) % 10000

  /** Adjacent word pairs of a token-array column as "w1 w2" strings —
    * empty for arrays of fewer than 2 tokens (sequence() would otherwise
    * count DOWN and fabricate reversed pairs). Row-local; the q92 bigram
    * LM derives all counts from one explode of this. */
  def wordBigrams(ts: Column): Column =
    when(size(ts) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(ts) - 2),
        i => concat(get(ts, i.cast("int")), lit(" "), get(ts, (i + 1).cast("int")))))
}
