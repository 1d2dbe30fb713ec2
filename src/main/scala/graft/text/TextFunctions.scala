package graft.text

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis columns for training-data pipelines — builtin
  * `functions._` compositions and one native expression ([[wordNgrams]]),
  * no UDFs, so filters/projections push down where possible. Only
  * [[charShingles]]' `transform` keeps its projection out of whole-stage
  * codegen.
  */
object TextFunctions {

  /** Whitespace tokens of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Token count (long). */
  def tokenCount(text: Column): Column =
    size(tokens(text)).cast("long")

  /** BPE-ish regex tokens: letter runs, digit runs, and single
    * non-alphanumeric marks — the pre-tokenization split a byte-pair
    * encoder applies before merges. */
  val BpeTokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  /** Count of BPE-ish regex tokens (long). */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0))).cast("long")

  /** Total non-whitespace characters. */
  def nonWsChars(text: Column): Column =
    length(regexp_replace(trim(text), "\\s+", "")).cast("long")

  /** Mean token length = non-ws chars / token count (double). */
  def avgTokenLen(text: Column): Column =
    nonWsChars(text).cast("double") / tokenCount(text)

  val StopWords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Fraction of tokens that are stopwords (double). */
  def stopwordRatio(text: Column): Column =
    size(filter(tokens(text), _.isInCollection(StopWords)))
      .cast("double") / tokenCount(text)

  /** Fraction of characters in [a-z] (double). */
  def alphaRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[a-z]", "")))
      .cast("double") / length(text)

  /** Marker-word language vote: count hits per language marker set, pick
    * the best (ties resolved in fixed order en > de > fr), 'und' when no
    * markers fire. An n-gram profile model would go the same way — per-row
    * closed-form scoring, no shuffle. */
  def langId(text: Column): Column = {
    def hits(words: Seq[String]): Column =
      size(filter(tokens(text), _.isInCollection(words)))
    val en = hits(Seq("the", "a", "of", "and", "to", "in", "is", "it"))
    val de = hits(Seq("der", "die", "das", "und", "ist", "nicht"))
    val fr = hits(Seq("le", "la", "les", "et", "est", "que"))
    when(en >= de && en >= fr && en > 0, lit("en"))
      .when(de >= fr && de > 0, lit("de"))
      .when(fr > 0, lit("fr"))
      .otherwise(lit("und"))
  }

  /** Content fingerprint: sha256 of the lowercased text with everything
    * outside [a-z0-9] stripped — whitespace/punct-insensitive identity for
    * near-exact dedup. */
  def fingerprint(text: Column): Column =
    sha2(regexp_replace(lower(text), "[^a-z0-9]", ""), 256)

  /** Character k-shingles of a text column (array, with repeats — wrap in
    * array_distinct or explode+distinct for set semantics). Caller must
    * filter length(text) >= k: Spark's `sequence(1, n)` runs DESCENDING for
    * n < 1 instead of returning empty. */
  def charShingles(text: Column, k: Int): Column =
    transform(sequence(lit(1), length(text) - (k - 1)),
      i => text.substr(i, lit(k)))

  /** Word n-grams of a text column: the space-joined windows of `n`
    * consecutive whitespace tokens, in order, with repeats; an empty array
    * when the text is null or has fewer than `n` tokens. The tokens are
    * the builtin split; the windows are one `graft_word_ngrams`
    * expression, registered in the active session. */
  def wordNgrams(text: Column, n: Int): Column = {
    GraftFunctions.ensureRegistered(SparkSession.active)
    call_function(GraftFunctions.WordNgramsName, tokens(text), lit(n))
  }
}
