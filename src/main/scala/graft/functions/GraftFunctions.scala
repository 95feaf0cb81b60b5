package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar-function surface of the engine.
  *
  * Reference parity (see SURVEY.md §2.5): ksqlDB's `DATETOSTRING` /
  * `TIMESTAMPTOSTRING` (reference `README.md:211-212`) re-expressed as thin
  * wrappers over Spark's codegen'd `date_format` — no UDFs anywhere, so
  * every expression stays inside whole-stage codegen.
  *
  * All functions are pure `Column` combinators: they compose into Catalyst
  * plans, get constant-folded / subexpression-eliminated for free, and are
  * identical in batch and Structured Streaming plans.
  */
object GraftFunctions {

  // ---------------------------------------------------------------------
  // Reference-derived (ksqlDB scalar functions)
  // ---------------------------------------------------------------------

  /** ksqlDB `DATETOSTRING(dateCol, fmt)` — reference README.md:211.
    * Accepts a DATE column (or epoch-days int via [[epochDaysToDate]]).
    */
  def dateToString(c: Column, fmt: String): Column = date_format(c, fmt)

  /** ksqlDB `TIMESTAMPTOSTRING(tsCol, fmt, 'UTC')` — reference
    * README.md:212. Session timezone is pinned UTC (build.sbt).
    */
  def timestampToString(c: Column, fmt: String): Column = date_format(c, fmt)

  /** Epoch-days int (Kafka Connect `Date` logical type, reference
    * README.md:207) → DateType. Handles negative (pre-1970) days.
    */
  def epochDaysToDate(c: Column): Column = date_from_unix_date(c)

  /** Epoch-millis long (Kafka Connect `Timestamp` logical type) →
    * TimestampType.
    */
  def epochMillisToTimestamp(c: Column): Column = timestamp_millis(c)

  // ---------------------------------------------------------------------
  // Vector math (extension: similarity search over Array[Float] columns)
  // ---------------------------------------------------------------------
  // Implemented with higher-order functions (zip_with / aggregate), which
  // are codegen'd Catalyst expressions — no UDF, no serialization cliff.
  // Floats are widened to double BEFORE any arithmetic so results are
  // bit-deterministic and oracle-comparable.

  /** Sequential-order dot product of two array<float|double> columns —
    * native codegen'd [[VectorDot]] expression (bit-identical to the
    * higher-order-function formulation it replaces, ~2× faster on the
    * similarity hot loop).
    */
  def dotProduct(a: Column, b: Column): Column = VectorMath.vectorDot(a, b)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(VectorMath.vectorDot(a, a))

  /** Cosine similarity = dot(a,b) / (|a| * |b|). */
  def cosineSimilarity(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

  /** [[cosineSimilarity]] that yields NULL for a zero vector instead of
    * dividing by zero (which ANSI mode turns into a runtime error). The
    * lazy CaseWhen keeps the division unevaluated when the norm product
    * is 0; on nonzero vectors the value is bit-identical to the unguarded
    * form. Threshold filters then drop the NULLs — exactly how the
    * sparse oracle formulation excludes all-cancelled documents
    * ([[graft.OracleSqlGen.semanticPairsSql]]).
    */
  def cosineSimilarityOrNull(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(null).cast("double"))
      .otherwise(dotProduct(a, b) / denom)
  }

  // ---------------------------------------------------------------------
  // Text analysis (extension: LLM-training-data pipeline surface)
  // ---------------------------------------------------------------------

  /** Whitespace tokenization; empty string → empty array (split of "" yields
    * [""], which we filter out). Round 16: native [[WsTokens]] expression —
    * value-exact for every input (java `\s` is the six ASCII whitespace
    * bytes, which no multi-byte UTF-8 sequence contains), one byte scan
    * instead of a regex split plus a filter pass.
    */
  def tokens(text: Column): Column = TextNorm.tokensColumn(text)

  /** Token count (whitespace). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish sub-word count: alphanumeric runs + individual non-alnum
    * non-space chars — the usual pre-tokenizer shape. RE2-safe pattern (no
    * lookarounds), so the DuckDB oracle can evaluate the identical regex.
    */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]")).cast("long")

  /** Ratio of punctuation characters to total characters (0 for empty). */
  def punctRatio(text: Column): Column = {
    val total = length(text)
    val punct = length(regexp_replace(text, "[^\\p{Punct}]", ""))
    when(total === 0, lit(0.0)).otherwise(punct.cast("double") / total.cast("double"))
  }

  /** Ratio of alphabetic characters to total characters. */
  def alphaRatio(text: Column): Column = {
    val total = length(text)
    val alpha = length(regexp_replace(text, "[^A-Za-z]", ""))
    when(total === 0, lit(0.0)).otherwise(alpha.cast("double") / total.cast("double"))
  }

  /** English-ish stopword ratio over whitespace tokens. */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "that", "this")

  def stopwordRatio(text: Column): Column = {
    val toks = tokens(lower(text))
    val stops = filter(toks, t => t.isin(stopwords: _*))
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(stops).cast("double") / size(toks).cast("double"))
  }

  /** Normalized text: lowercase, non-alphanumeric RUNS → one space, trim.
    * The single `+`-quantified replacement already collapses whitespace
    * (adjacent spaces cannot survive it), so no second pass is needed —
    * this is the hottest expression in the dedup/fingerprint paths.
    * Round 16: native [[NormalizeText]] expression — a fused ASCII scan
    * with the exact original `trim(regexp_replace(lower(…)))` pipeline as
    * the non-ASCII fallback (TextNormEquivalenceSpec pins equality).
    * Must stay in lockstep with OracleSqlGen.norm.
    */
  def normalizeText(text: Column): Column = TextNorm.normalizeColumn(text)

  /** Document fingerprint: md5 of the normalized text. md5 exists in both
    * Spark and DuckDB, so this is oracle-checkable (unlike Murmur3 `hash`).
    */
  def fingerprint(text: Column): Column = md5(normalizeText(text))

  /** Character n-gram shingles (distinct) from an ALREADY-MATERIALIZED
    * normalized-text column (same per-element-lambda inlining hazard as
    * [[shinglesFromTokens]]).
    */
  def charShinglesFromNorm(norm: Column, n: Int): Column =
    array_distinct(
      filter(
        transform(sequence(lit(1), greatest(length(norm) - (n - 1), lit(1))),
          i => substring(norm, i, lit(n))),
        t => length(t) === n))

  /** Word n-gram shingles (distinct) from an ALREADY-MATERIALIZED token
    * array column. Callers must project the token array into a real column
    * first (two-step select): `toks` is referenced once per shingle inside
    * the transform lambda, and Catalyst inlines — never de-duplicates —
    * expression trees inside lambdas, so handing it the full
    * tokenize-from-text expression re-runs regex tokenization per shingle
    * instead of per row (measured 10× slowdown).
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    // the empty-token case would otherwise yield [""]; filtering keeps the
    // word path consistent with charShinglesFromNorm (empty set for empty
    // docs) so empty documents never pair as jaccard-1.0 near-dups
    filter(
      array_distinct(
        transform(
          sequence(lit(0), greatest(size(toks) - n, lit(0))),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))),
      s => length(s) > 0)

  /** Word n-gram shingles straight from text — single-expression form, only
    * for contexts that evaluate it once per row (see [[shinglesFromTokens]]).
    */
  def wordShingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(normalizeText(text)), n)

  /** Jaccard similarity of two array columns (treated as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }
}
