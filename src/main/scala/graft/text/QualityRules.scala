package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Repetition / PII quality gates — the document-level filter rules a
  * pretraining pipeline runs after the cheap per-row stats (q19) and
  * before dedup (the Gopher-style "repetition removal" family, Rae et al.
  * 2021 §A1.1, and the PII scrub every public corpus release documents).
  *
  * Both operators follow the engine's exact-integer parity discipline:
  * every ratio is a floor-ppm integer (`div`), every distributed sum is
  * integral, so a SQL oracle replays the results bit-for-bit. No UDFs —
  * the token mode needs a real aggregation (per-row array folds would
  * re-sort each document inside one task), and everything else is per-row
  * codegen.
  */
object QualityRules {

  /** Per-document repetition statistics + keep gate:
    * (id, n_tokens, top_cnt, top_tok_ppm, dup_bigram_ppm, keep).
    *
    *  - `top_tok_ppm`: most-frequent-token share of all tokens (floor ppm)
    *    — the "single token dominates the document" rule;
    *  - `dup_bigram_ppm`: duplicate word-bigram share, 1 − distinct/total
    *    (floor ppm) — the duplicate-n-gram rule; short docs (< 2 tokens)
    *    score 0;
    *  - `keep` = 1 iff both shares are under their thresholds.
    *
    * Scale shape: the token mode is explode → two-phase count on
    * (id, token) → max per id (both aggregations map-side combined, keyed
    * by doc — no skew: a document's tokens are bounded by its length);
    * the bigram stats are per-row array arithmetic inside whole-stage
    * codegen; one join on the doc id brings them together. The document
    * text itself never shuffles. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      topTokPpmMax: Long = 120000L,
                      dupBigramPpmMax: Long = 20000L): DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val mode = toks.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("top_cnt"))
    val bg = df.select(col(idCol),
        TextFunctions.wordNgrams(col(textCol), 2).as("bg"))
      .select(col(idCol), size(col("bg")).cast("long").as("nbg"),
        size(array_distinct(col("bg"))).cast("long").as("dbg"))
    mode.join(bg, idCol)
      .select(col(idCol), col("n_tokens"), col("top_cnt"),
        expr("top_cnt * 1000000L div n_tokens").as("top_tok_ppm"),
        when(col("nbg") > 0,
          expr("(nbg - dbg) * 1000000L div nbg"))
          .otherwise(lit(0L)).as("dup_bigram_ppm"))
      .withColumn("keep",
        (col("top_tok_ppm") <= topTokPpmMax &&
          col("dup_bigram_ppm") <= dupBigramPpmMax).cast("long"))
  }

  /** Corpus-trained bigram language-model fluency score — the CCNet /
    * Wiki-LM quality gate, integerized. Train and score in ONE pass over
    * the corpus: every doc's word bigrams feed global (w1,w2) and
    * w1-prefix counts, then each doc is scored by the floor-ppm average
    * of its bigrams' conditional frequencies
    * p(w2|w1) = count(w1,w2) / count(w1,·). Common phrasing scores
    * high; shuffled/garbled text scores low. All arithmetic is integer
    * `div` (exact, order-independent → hash-oracle-able); output
    * (id, n_bigrams, lm_ppm) for docs with ≥ 1 bigram.
    *
    * Scale: two shuffles over the corpus bigram stream (count tables),
    * two shuffle joins back onto it, one per-doc aggregation. The count
    * tables are vocabulary²-bounded, NOT corpus-bounded — at 100 TB the
    * bigram table still fits a shuffle join (and a `min count` floor
    * would broadcast the head of the distribution; not needed here). */
  def bigramLmScore(df: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    // persisted: the exploded bigram stream feeds the bigram-count agg,
    // the prefix-count agg AND the scoring join — without the cache the
    // explode + wordNgrams runs three times
    val bg = df.select(col(idCol),
        explode(TextFunctions.wordNgrams(col(textCol), 2)).as("bg"))
      .persist()
    val bc = bg.groupBy(col("bg")).agg(count(lit(1)).as("bc"))
    val w1 = substring_index(col("bg"), " ", 1)
    val pc = bg.select(w1.as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("pc"))
    val out = bg.join(bc, "bg")
      .withColumn("w1", w1)
      .join(pc, "w1")
      .select(col(idCol), expr("bc * 1000000L div pc").as("ppm"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(ppm) div count(1)").as("lm_ppm"))
      .localCheckpoint(eager = true)
    bg.unpersist()
    out
  }

  /** Bigram cross-entropy in whole BITS — the log-scale companion of
    * [[bigramLmScore]], libm-free: the surprisal of one bigram occurrence
    * is floor(log2(count(w1,·) / count(w1,w2))), computed as
    * `length(bin(pc div bc)) − 1` — the bit length of the truncated
    * integer ratio — which both Spark and DuckDB evaluate identically
    * (`bin` renders a positive long in binary in both). Summing bits is
    * the integer skeleton of perplexity: avg_mbits = total·10³ div n is
    * a monotone stand-in for log-perplexity that a quality gate can
    * threshold without any float. Count tables and joins are exactly
    * [[bigramLmScore]]'s two vocabulary-bounded shuffles.
    * @return (id, n_bigrams, total_bits, avg_mbits) for docs with >= 1
    *         bigram */
  def bigramSurprisalBits(df: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    // same bigram-stream cache discipline as [[bigramLmScore]]
    val bg = df.select(col(idCol),
        explode(TextFunctions.wordNgrams(col(textCol), 2)).as("bg"))
      .persist()
    val bc = bg.groupBy(col("bg")).agg(count(lit(1)).as("bc"))
    val w1 = substring_index(col("bg"), " ", 1)
    val pc = bg.select(w1.as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("pc"))
    val out = bg.join(bc, "bg")
      .withColumn("w1", w1)
      .join(pc, "w1")
      .select(col(idCol),
        (length(bin(expr("pc div bc"))) - lit(1)).cast("long").as("bits"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bits")).as("total_bits"),
        expr("sum(bits) * 1000L div count(1)").as("avg_mbits"))
      .localCheckpoint(eager = true)
    bg.unpersist()
    out
  }

  /** Email-address pattern — deliberately RE2-compatible (no lookaround,
    * no backrefs) so the Java-regex Spark plan and an RE2-based oracle
    * (DuckDB) or scrubber agree match-for-match. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 pattern (syntactic — no octet range check), same
    * RE2-compatible discipline. */
  val Ipv4Pattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Per-document PII detection + scrub:
    * (id, n_emails, n_ipv4, masked_sha) where masked_sha is the sha256 of
    * the text with emails replaced by `<EMAIL>` first, then dotted quads
    * by `<IP>` (order matters — an email's host part may itself look like
    * a dotted quad; callers get the canonical masked identity without
    * shipping the masked text).
    *
    * Pure per-row codegen (regexp count + replace + sha) — at 100 TB this
    * is a single scan with no shuffle at all; the counts feed routing
    * decisions and the masked sha feeds dedup-after-scrub. */
  def piiStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      size(regexp_extract_all(t, lit(EmailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(Ipv4Pattern), lit(0)))
        .cast("long").as("n_ipv4"),
      sha2(regexp_replace(
        regexp_replace(t, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"), 256).as("masked_sha"))
  }

  /** Corpus-driven boilerplate (frequent-phrase) statistics — the C4-style
    * cleaning rule where phrases repeated across MANY documents (headers,
    * footers, licence blurbs, navigation chrome) are flagged from the
    * corpus itself, unlike q65's decontamination where the n-gram set
    * comes from an external benchmark. Output per document:
    * (id, n_phrases, n_boiler, boiler_ppm, keep) where a "phrase" is a
    * word `n`-gram occurrence, "boiler" counts occurrences of phrases
    * whose document frequency is >= `minDf`, boiler_ppm is the floor-ppm
    * share (exact-integer parity discipline), and keep = 1 iff the share
    * is <= `boilerPpmMax`. Documents shorter than `n` tokens have zero
    * phrases and score 0 (kept).
    *
    * Scale shape: explode to (doc, phrase) with per-pair counts (map-side
    * combined, keyed by doc — no skew), derive the phrase df table from
    * those pairs (second aggregation, keyed by phrase; hot phrases are
    * exactly the point and a count is skew-proof), join back on phrase,
    * re-aggregate by doc. The document text itself never shuffles; only
    * (id, phrase-hash, count) triples move. */
  /** Lexical diversity as an integer-exact quality signal: per document,
    * the type-token ratio and the Gini–Simpson index of the word
    * distribution, both in ppm. Gini–Simpson = 1 − Σ(cᵢ/n)² — the
    * probability two random tokens differ — computed entirely in integer
    * arithmetic (1e6 − sumsq·1e6 div n²), no libm, so any engine replays
    * it bit-for-bit. Low diversity flags repetitive/template/spam text
    * that length or stopword ratios miss (cf. repetition filters in
    * Gopher/C4-style pipelines; [[repetitionStats]] is the n-gram twin).
    * Scale: one explode + two map-side-combined aggregations keyed by
    * doc_id — no corpus-text shuffle. */
  def tokenDiversity(df: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val cnt = df
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    cnt.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("distinct_tokens"),
        sum(col("c") * col("c")).as("sumsq"))
      .select(col("doc_id"), col("n_tokens"), col("distinct_tokens"),
        expr("distinct_tokens * 1000000L div n_tokens").as("ttr_ppm"),
        (lit(1000000L) -
          expr("sumsq * 1000000L div (n_tokens * n_tokens)")).as("gini_ppm"))
  }

  def frequentPhraseStats(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 5, minDf: Long = 5L,
                          boilerPpmMax: Long = 500000L): DataFrame = {
    val pg = df.select(col(idCol),
        explode(TextFunctions.wordNgrams(col(textCol), n)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
    val dfreq = pg.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val perDoc = pg.join(dfreq, "g")
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_phrases"),
        sum(when(col("df") >= minDf, col("c")).otherwise(lit(0L)))
          .as("n_boiler"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_phrases"), lit(0L)).as("n_phrases"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_ppm",
        when(col("n_phrases") > 0,
          expr("n_boiler * 1000000L div n_phrases")).otherwise(lit(0L)))
      .withColumn("keep", (col("boiler_ppm") <= boilerPpmMax).cast("long"))
  }

  /** Distributional-outlier (OOD) score: L1 distance in ppm between
    * each doc's lowercase-letter frequency histogram and the corpus
    * histogram — the cheap "does this even look like the corpus'
    * language" filter that catches binary spill, ciphertext and
    * wrong-script docs before any model-based scoring. Explode-free:
    * the 26 per-letter counters are `length(x) − length(replace(x,c))`
    * expressions (pure whole-stage codegen, one corpus pass + one 1-row
    * corpus-histogram broadcast); all-integer ppm. Docs with no letters
    * are excluded (no histogram to compare). */
  def charDistributionOod(df: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val letters = ('a' to 'z').toSeq
    def cnt(c: Char): Column =
      (length(col("lt")) - length(regexp_replace(col("lt"),
        c.toString, ""))).cast("long").as(s"c_$c")
    // localCheckpoint before the filter: Catalyst's constraint
    // propagation rewrites the filter's constraints through every one
    // of the 26 nested length-difference aliases and goes
    // combinatorial (measured: analysis alone ran minutes at 500
    // rows); materializing the narrow (id + 27 longs) histogram resets
    // the lineage so the filter sits on leaf attributes
    val counted = df.select(col(idCol), lower(col(textCol)).as("lt"))
      .select(Seq(col(idCol)) ++ letters.map(cnt): _*)
      .withColumn("total",
        letters.map(c => col(s"c_$c")).reduce(_ + _))
      .localCheckpoint(true)
      .filter(col("total") > 0L)
    val corpus = counted.agg(
      letters.map(c => sum(col(s"c_$c")).as(s"g_$c")).head,
      letters.map(c => sum(col(s"c_$c")).as(s"g_$c")).tail: _*)
      .withColumn("gtotal",
        letters.map(c => col(s"g_$c")).reduce(_ + _))
    val l1 = letters.map { c =>
      abs(expr(s"c_$c * 1000000L div total") -
        expr(s"g_$c * 1000000L div gtotal"))
    }.reduce(_ + _)
    counted.crossJoin(broadcast(corpus))
      .select(col(idCol), col("total").as("n_letters"), l1.as("l1_ppm"))
  }

  /** Cohen's kappa between two binary labelers — the agreement metric
    * an eval/curation harness reports before trusting a cheap rule as
    * a stand-in for an expensive one. Integer ppm end to end:
    * po = (n00+n11)/n, pe = (a0·b0 + a1·b1)/n², kappa = (po−pe)/(1−pe),
    * each stage one integral `div` (marginal products need n < ~3·10⁹
    * per evaluation slice to stay in long range — evaluate per slice at
    * extreme scale). One aggregation over the joined label columns. */
  def agreementKappa(df: DataFrame, labelA: Column,
                     labelB: Column): DataFrame =
    df.select(labelA.cast("long").as("a"), labelB.cast("long").as("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") === 0 && col("b") === 0, 1L).otherwise(0L))
          .as("n00"),
        sum(when(col("a") === 0 && col("b") === 1, 1L).otherwise(0L))
          .as("n01"),
        sum(when(col("a") === 1 && col("b") === 0, 1L).otherwise(0L))
          .as("n10"),
        sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L))
          .as("n11"))
      .withColumn("po_ppm", expr("(n00 + n11) * 1000000L div n"))
      .withColumn("pe_ppm", expr(
        "((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11)) " +
          "* 1000000L div (n * n)"))
      .withColumn("kappa_ppm", expr(
        "CASE WHEN pe_ppm = 1000000L THEN 1000000L " +
          "ELSE (po_ppm - pe_ppm) * 1000000L div (1000000L - pe_ppm) END"))

  /** Gopher-style document gates (Rae et al. 2021 §A1.1) as one pass —
    * the four structural rules, each an INTEGER predicate (mean word
    * length bounds by cross-multiplication, never a float division):
    *
    *  - r_words:   word count within [minWords, maxWords];
    *  - r_meanlen: mean word length within [·, ·] tenths —
    *               meanLo·nw ≤ 10·(chars−spaces) ≤ meanHi·nw;
    *  - r_stop:    at least minStop stop-word occurrences ("the a of to
    *               and" — the Gopher stop-word-presence rule);
    *  - r_rep:     no token takes more than 1/repDiv of the document
    *               (maxtok·repDiv ≤ nw) — the cheap companion of
    *               [[repetitionStats]]'s ppm shares.
    *
    * `pass` = all four. Scale shape: one explode → (id, token) count →
    * per-id max for the repetition rule (map-side combined, doc-bounded
    * keys); everything else per-row codegen; one join on the doc id. */
  def gopherGates(df: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 25L, maxWords: Long = 80L,
                  meanLoTenths: Long = 40L, meanHiTenths: Long = 48L,
                  minStop: Long = 2L, repDiv: Long = 5L): DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val mx = toks.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(max(col("c")).as("maxtok"))
    val stops = Seq("the", "a", "of", "to", "and")
    df.select(col(idCol),
        TextFunctions.tokenCount(col(textCol)).as("nw"),
        TextFunctions.nonWsChars(col(textCol)).as("nc_ns"),
        size(filter(TextFunctions.tokens(col(textCol)),
          t => t.isin(stops: _*))).cast("long").as("nstop"))
      .join(mx, idCol)
      .select(col(idCol), col("nw"),
        (col("nw") >= minWords && col("nw") <= maxWords).cast("long")
          .as("r_words"),
        (lit(meanLoTenths) * col("nw") <= lit(10L) * col("nc_ns") &&
          lit(10L) * col("nc_ns") <= lit(meanHiTenths) * col("nw"))
          .cast("long").as("r_meanlen"),
        (col("nstop") >= minStop).cast("long").as("r_stop"),
        (col("maxtok") * repDiv <= col("nw")).cast("long").as("r_rep"))
      .withColumn("pass",
        (col("r_words") * col("r_meanlen") * col("r_stop") * col("r_rep"))
          .cast("long"))
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney '95;
    * Chen & Goodman '98 eq. 4.25), the LM smoothing that scores "San
    * Francisco" high but "Francisco" low as a continuation — the
    * upgrade over [[bigramLmScore]]'s raw conditional ppm. Integer
    * milli-units with absolute discount D = 0.75 (dMilli = 750):
    *
    *   pkn_milli(w2|w1) = max(c12·1000 − D, 0) div c1
    *                    + ((D · n1plus(w1)) div c1)
    *                      · ((1000 · n1pre(w2)) div B) div 1000
    *
    * where c1 counts w1 as left context, n1plus(w1) = distinct
    * continuations of w1, n1pre(w2) = distinct left contexts of w2
    * (the continuation count — KN's signature), B = distinct bigram
    * types. Every term is an integer div, bit-replayable in SQL.
    *
    * Output: the top `heads` left-contexts by (c1 desc, w1), each with
    * its top `perHead` continuations by (pkn desc, w2) — the model
    * card a tokenizer/LM-filter pipeline inspects.
    *
    * Scale shape: one corpus-scale bigram count, then everything is
    * vocabulary-bounded; the two rank windows partition by w1. */
  def knBigram(df: DataFrame, idCol: String, textCol: String,
               dMilli: Long = 750L, heads: Int = 20,
               perHead: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bg = df.select(
        explode(TextFunctions.wordNgrams(col(textCol), 2)).as("bg"))
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .localCheckpoint(eager = true)
    val c1 = bg.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1plus"))
    val pre = bg.groupBy(col("w2")).agg(count(lit(1)).as("n1pre"))
    val b = bg.count()
    val top = c1.orderBy(col("c1").desc, col("w1")).limit(heads)
    val scored = bg.join(top, "w1").join(pre, "w2")
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        (expr(s"CASE WHEN c12 * 1000 - $dMilli > 0 " +
          s"THEN (c12 * 1000 - $dMilli) div c1 ELSE 0 END") +
          expr(s"(($dMilli * n1plus) div c1) * ((1000 * n1pre) div $b) " +
            "div 1000")).as("pkn_milli"))
    scored.withColumn("rk", row_number().over(
        Window.partitionBy(col("w1"))
          .orderBy(col("pkn_milli").desc, col("w2"))).cast("long"))
      .filter(col("rk") <= perHead)
      .select(col("w1"), col("w2"), col("c12"), col("pkn_milli"),
        col("rk"))
  }

  /** Tokenizer fertility per predicted language — (lang_pred, n_docs,
    * n_words, n_subtokens, fertility_ppm) where fertility is sub-tokens
    * per whitespace word in floor ppm.
    *
    * The standard tokenizer-evaluation ledger for a multilingual corpus
    * (how many BPE-ish pieces each language pays per word — fertility
    * ~1.0 means the tokenizer fits the language, >>1 means the mix is
    * under-served). Composes the engine's per-row primitives: q18's
    * regex sub-token count x q20's marker-vote langid, then ONE
    * ~4-group aggregation — a single corpus scan with a 4-row shuffle,
    * nothing else, at any scale. Integer sums + floor div keep it
    * bit-exactly replayable in SQL. */
  def tokenizerFertility(df: DataFrame, textCol: String): DataFrame =
    df.select(TextFunctions.langId(col(textCol)).as("lang_pred"),
        TextFunctions.tokenCount(col(textCol)).as("w"),
        TextFunctions.tokenCountBpe(col(textCol)).as("t"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("t")).as("n_subtokens"))
      .select(col("lang_pred"), col("n_docs"), col("n_words"),
        col("n_subtokens"),
        expr("n_subtokens * 1000000L div n_words").as("fertility_ppm"))

  /** Longest consecutive repeated-token run per document — the
    * degenerate-generation detector ("the the the ...") that n-gram
    * duplicate fractions miss when the loop is short. Returns one row
    * per document whose longest run reaches `minRun`:
    * (id, token, run_len), ties broken to the lexically-lowest token.
    *
    * Islands trick: within a doc, a run of equal tokens is a group of
    * positions where pos - rank-within-(doc,token) is constant — two
    * doc-partitioned windows and a group-by, all shuffled on the doc
    * key (bounded partitions, no global window), then one per-doc
    * argmax. Exact integers end-to-end. */
  def maxTokenRun(df: DataFrame, idCol: String, textCol: String,
                  minRun: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol),
        posexplode(TextFunctions.tokens(col(textCol))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "token")
    val grp = toks.withColumn("grp",
      col("p") - row_number().over(Window.partitionBy(col(idCol),
        col("token")).orderBy(col("p"))))
    val runs = grp.groupBy(col(idCol), col("token"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
      .filter(col("run_len") >= minRun)
    runs.withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("run_len").desc, col("token"))))
      .filter(col("rk") === 1)
      .select(col(idCol), col("token"), col("run_len"))
  }

  /** TextTiling-style block cohesion — topical-boundary detection for
    * long-document chunking: split each document's token stream into
    * fixed `blockTokens`-token blocks, measure the Jaccard overlap (floor
    * ppm, distinct tokens) between each adjacent block pair, and flag a
    * segment boundary where cohesion falls below `boundaryPpm`. Returns
    * (id, block, overlap_ppm, is_boundary) for every adjacent pair —
    * `block` is the left block index.
    *
    * The packing pipeline's chunker wants to cut long documents at topic
    * shifts, not mid-thought; block-overlap minima are the classic
    * signal (TextTiling, Hearst CL'97). Scale shape: one explode to
    * (id, block, token) distinct triples, one self-join on (id, block+1)
    * — both shuffled on the doc key, blocks bounded per doc — then pure
    * per-row ppm arithmetic. Exact integers, bit-replayable in SQL. */
  def blockCohesion(df: DataFrame, idCol: String, textCol: String,
                    blockTokens: Int = 20,
                    boundaryPpm: Long = 100000L): DataFrame = {
    val toks = df.select(col(idCol),
        posexplode(TextFunctions.tokens(col(textCol))))
      .select(col(idCol), expr(s"pos div $blockTokens").as("block"),
        col("col").as("token"))
      .distinct()
    val sizes = toks.groupBy(col(idCol), col("block"))
      .agg(count(lit(1)).as("sz"))
    val inter = toks.as("a")
      .join(toks.as("b"),
        col(s"a.$idCol") === col(s"b.$idCol") &&
          col("a.block") + 1 === col("b.block") &&
          col("a.token") === col("b.token"))
      .groupBy(col(s"a.$idCol").as(idCol), col("a.block").as("block"))
      .agg(count(lit(1)).as("ix"))
    sizes.as("l")
      .join(sizes.as("r"),
        col(s"l.$idCol") === col(s"r.$idCol") &&
          col("l.block") + 1 === col("r.block"))
      .select(col(s"l.$idCol").as(idCol), col("l.block").as("block"),
        col("l.sz").as("lsz"), col("r.sz").as("rsz"))
      .join(inter, Seq(idCol, "block"), "left")
      .select(col(idCol), col("block"),
        expr("coalesce(ix, 0L) * 1000000L div (lsz + rsz - coalesce(ix, 0L))")
          .as("overlap_ppm"))
      .withColumn("is_boundary", col("overlap_ppm") < boundaryPpm)
  }

  /** k-ANONYMITY risk ledger over quasi-identifier columns — the
    * re-identification audit a corpus release runs on its metadata:
    * any combination of quasi-identifiers shared by FEWER than `k`
    * documents singles those documents out (Sweeney 2002). Emits one
    * row per risky group plus the corpus-wide share of at-risk docs as
    * a constant ppm column. One hash aggregation on the QI tuple (the
    * exact-dedup shuffle shape) + a broadcast-sized totals row; the
    * corpus never reshuffles. `df` must be pre-projected to the QI
    * columns (bucket continuous ones first — raw lengths would make
    * every doc unique and the audit vacuous).
    * @return (qiCols..., n_docs, risk_ppm) for groups with n_docs < k */
  def kAnonymityRisk(df: DataFrame, qiCols: Seq[String],
                     k: Long): DataFrame = {
    val g = df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(eager = true)
    val tot = g.agg(sum(col("n_docs")).as("t"),
        sum(when(col("n_docs") < k, col("n_docs")).otherwise(0L)).as("r"))
      .select(expr("(1000000L * r) div t").as("risk_ppm"))
    g.filter(col("n_docs") < k).crossJoin(broadcast(tot))
  }

  /** l-DIVERSITY risk ledger — the attribute-disclosure companion of
    * [[kAnonymityRisk]] (Machanavajjhala et al., ICDE'06): a QI group can
    * be k-anonymous yet still leak its sensitive attribute when every
    * member SHARES it; any group with fewer than `l` distinct sensitive
    * values lets an attacker who locates the group infer the attribute.
    * Same scale shape as the k-audit: one hash aggregation on the QI
    * tuple (now also counting distinct sensitive values — map-side
    * combinable) + a broadcast totals row; the corpus never reshuffles.
    * @return (qiCols..., n_docs, n_sensitive, risk_ppm) for groups with
    *         n_sensitive < l; risk_ppm = corpus-wide share of docs in
    *         under-diverse groups */
  def lDiversityRisk(df: DataFrame, qiCols: Seq[String], sensCol: String,
                     l: Long): DataFrame = {
    val g = df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col(sensCol)).as("n_sensitive"))
      .localCheckpoint(eager = true)
    val tot = g.agg(sum(col("n_docs")).as("t"),
        sum(when(col("n_sensitive") < l, col("n_docs")).otherwise(0L))
          .as("r"))
      .select(expr("(1000000L * r) div t").as("risk_ppm"))
    g.filter(col("n_sensitive") < l).crossJoin(broadcast(tot))
  }

  /** CODE-SWITCH detection: language-identify each `seg`-token block of
    * a document independently and report per-document language mixing —
    * (n_segments, n_langs, majority_lang, minority_ppm). Catches the
    * mixed-language pages a whole-document language id (q20) averages
    * away — exactly the docs a monolingual corpus filter should route
    * to review rather than keep-or-drop wholesale. Majority ties break
    * to the lexicographically larger language (a deterministic
    * `max(struct(count, lang))` — no window). Per-row segment explode +
    * two hash aggregations; per-doc cardinality bounded by doc length. */
  def codeSwitch(df: DataFrame, idCol: String, textCol: String,
                 seg: Int = 32): DataFrame = {
    val t = split(trim(col(textCol)), "\\s+")
    val segs = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("id"),
        explode(transform(
          sequence(lit(0), ((size(t) - 1) / seg).cast("int")),
          i => concat_ws(" ", slice(t, i * seg + 1, lit(seg))))).as("seg"))
    val perLang = segs
      .select(col("id"), TextFunctions.langId(col("seg")).as("l"))
      .groupBy(col("id"), col("l")).agg(count(lit(1)).as("c"))
    perLang.groupBy(col("id"))
      .agg(sum(col("c")).as("n_segments"),
        count(lit(1)).as("n_langs"),
        max(struct(col("c"), col("l"))).as("m"))
      .select(col("id"), col("n_segments"), col("n_langs"),
        col("m.l").as("majority_lang"),
        expr("(1000000L * (n_segments - m.c)) div n_segments")
          .as("minority_ppm"))
  }

  /** Blocklist gate — the wordlist filter every public corpus pipeline
    * runs (the C4/LDNOOBW pattern): per document, total tokens,
    * blocklist hits, floor-ppm hit rate, and the keep decision
    * (hit_ppm < threshold). Pure per-row codegen over the token array;
    * the blocklist is a literal `isin` (production swaps in a broadcast
    * set — same plan shape as the q65 benchmark-n-gram broadcast). */
  def blocklistGate(df: DataFrame, idCol: String, textCol: String,
                    words: Seq[String],
                    thresholdPpm: Long = 10000L): DataFrame =
    df.select(col(idCol),
        TextFunctions.tokenCount(col(textCol)).as("n_tokens"),
        size(filter(TextFunctions.tokens(col(textCol)),
          _.isInCollection(words))).cast("long").as("hits"))
      .withColumn("hit_ppm",
        when(col("n_tokens") > 0L,
          expr("(1000000L * hits) div n_tokens")).otherwise(0L))
      .withColumn("keep", col("hit_ppm") < thresholdPpm)
}
