package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TF-IDF term weighting + per-document top-k salient terms — the
  * classic corpus-profiling / keyword-extraction pass (and the scoring
  * core of a BM25-style retrieval index).
  *
  * [[topTermsIdfPpm]] uses the exact-integer idf `1000000·N div df`
  * (monotone in 1/df like the textbook ln(N/df), floor-ppm discipline) so
  * a SQL oracle replays the ranking bit-for-bit: a double `ln` could flip
  * a tie on a 1-ulp libm difference at a round boundary.
  *
  * Scale shape: tf is a (doc, term) count (map-side combined, keyed by
  * doc — skew-free), df is a count over that pair table keyed by term
  * (hot terms are fine: counts combine), one join on term brings idf to
  * the pairs, and the top-k is a per-doc window over ≤ |doc| rows (keyed
  * by doc — no global sort). The corpus text never shuffles; N is one
  * scalar count. */
object TfIdf {

  /** Exact-integer parity ranking: score = tf · (1000000·N div df). */
  def topTermsIdfPpm(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = docs.select(col(idCol)).distinct().count()
    val tf = docs.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .withColumn("score", expr(s"tf * (1000000L * ${n}L div df)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("long").as("rank"),
        col("term"), col("score"))
  }

  /** PMI-family collocation mining: the top-k adjacent word pairs by
    * LIFT — n_xy·B / (n_x·n_y) over the bigram contingency table (n_x =
    * x's count as a bigram LEFT, n_y = y's count as a bigram RIGHT, B =
    * total bigrams). Lift is the monotone exp(PMI) transform, computed as
    * staged exact-integer ppm (`((10^6·n_xy) div n_x)·B div n_y` — fixed
    * associativity, identical on any engine, no libm log in the ranking)
    * so the result hash-matches a SQL oracle; consumers take ln at read
    * time if they want the PMI scale. This is the phrase/collocation
    * detector of a pretraining corpus profile (word2vec-style phrase
    * merging, Mikolov et al. 2013's score is the same ratio with a
    * discount).
    *
    * `minCount` drops hapax pairs before the marginals join (the classic
    * noise filter — a 1-occurrence pair otherwise tops any lift ranking).
    *
    * Scale shape: one map-side-combined bigram count keyed by the pair,
    * two marginal aggregations OF THE COUNTED TABLE (tiny vs the corpus),
    * two joins keyed by x then y, distributed TakeOrdered for the top-k —
    * the corpus text shuffles once (the bigram count), everything after
    * is vocabulary-sized. Magnitude bound: 10^6·n_xy and the staged
    * quotient·B both stay under 2^63 while B < ~9·10^12 bigrams per run
    * (shard the corpus profile beyond that). */
  def collocationLiftPpm(docs: DataFrame, idCol: String, textCol: String,
                         minCount: Long = 2, k: Int = 20): DataFrame = {
    // persisted: the vocabulary-bounded bigram-count table feeds the
    // total scalar, both marginal aggs AND the final join — uncached,
    // the explode + bigram aggregation over the corpus ran four times
    val bg = docs
      .select(explode(TextFunctions.wordNgrams(col(textCol), 2)).as("g"))
      .select(split(col("g"), " ").as("xy"))
      .select(col("xy").getItem(0).as("x"), col("xy").getItem(1).as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_xy"))
      .persist()
    val b = bg.agg(sum(col("n_xy"))).first() match {
      case r if r.isNullAt(0) => 0L // no bigrams anywhere -> empty top-k
      case r                  => r.getLong(0)
    }
    val lx = bg.groupBy(col("x")).agg(sum(col("n_xy")).as("n_x"))
    val ry = bg.groupBy(col("y")).agg(sum(col("n_xy")).as("n_y"))
    val out = bg.filter(col("n_xy") >= minCount)
      .join(lx, "x").join(ry, "y")
      .withColumn("lift_ppm",
        expr(s"((1000000L * n_xy) div n_x) * ${b}L div n_y"))
      .select(col("x"), col("y"), col("n_xy"), col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("x"), col("y")).limit(k)
      .localCheckpoint(eager = true)
    bg.unpersist()
    out
  }

  /** BM25 retrieval scoring (Robertson-Spärck Jones / Okapi) for a fixed
    * query term set, in exact integer micro-units with the ODDS idf —
    * `(N−df+0.5)/(df+0.5)` kept as a ratio instead of its logarithm, so
    * the whole score is libm-free and a SQL oracle replays it
    * bit-for-bit (the floor-ppm discipline of [[topTermsIdfPpm]]; the
    * log is monotone, so per-term score ORDER is preserved — consumers
    * wanting the classic scale take ln at read time). Saturation and
    * length normalization are the standard BM25 shape:
    *
    *   idf_ppm(t)  = (2·(N−df)+1)·10⁶ div (2·df+1)
    *   norm_ppm(d) = (10⁶ − b_ppm) + (b_ppm·dl(d)·N_dl) div Σdl
    *   wtf_ppm     = tf·(10⁶+k1_ppm)·10⁶
    *                   div (tf·10⁶ + (k1_ppm·norm_ppm) div 10⁶)
    *   score_micro = Σ_t (idf_ppm·wtf_ppm) div 10⁶
    *
    * Scale shape: the corpus tokenizes once; tf rows are immediately
    * filtered to the query terms (a broadcast-sized isin list), so the
    * per-term join and the per-doc sum run over |terms|·|matching docs|
    * rows, not the corpus vocabulary. Doc length and its global sum are
    * one narrow aggregate; N and Σdl are two scalar collects. Every doc
    * gets a row (score 0 when no term matches) — the ranking join a
    * retrieval pipeline feeds from. Magnitude bound: idf_ppm·wtf_ppm ≲
    * 2N·10⁶ · 2.2·10⁶, in long range while N < ~10⁶ docs per scoring
    * shard — beyond that, drop idf to plain ppm (div 10⁶ before the
    * product) or score per corpus shard. */
  def bm25OddsMicro(docs: DataFrame, idCol: String, textCol: String,
                    terms: Seq[String], k1Ppm: Long = 1200000L,
                    bPpm: Long = 750000L): DataFrame = {
    val toks = docs.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("t"))
    val dl = toks.select(col(idCol), size(col("t")).cast("long").as("dl"))
      .persist()
    val n = dl.count()
    val totalDl = dl.agg(sum(col("dl"))).first() match {
      case r if r.isNullAt(0) => 1L
      case r                  => math.max(1L, r.getLong(0))
    }
    val tf = toks.select(col(idCol), explode(col("t")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val perTerm = tf.join(df, "term").join(dl, idCol)
      .withColumn("idf_ppm",
        expr(s"(2L * (${n}L - df) + 1L) * 1000000L div (2L * df + 1L)"))
      .withColumn("norm_ppm",
        expr(s"(1000000L - ${bPpm}L) + " +
          s"(${bPpm}L * dl * ${n}L) div ${totalDl}L"))
      .withColumn("wtf_ppm",
        expr(s"tf * (1000000L + ${k1Ppm}L) * 1000000L div " +
          s"(tf * 1000000L + (${k1Ppm}L * norm_ppm) div 1000000L)"))
      .groupBy(col(idCol))
      .agg(expr("CAST(sum(idf_ppm * wtf_ppm div 1000000L) AS BIGINT)")
        .as("s"), count(lit(1)).as("nm"))
    val out = dl.join(perTerm, Seq(idCol), "left_outer")
      .select(col(idCol), col("dl"),
        coalesce(col("nm"), lit(0L)).as("n_terms_matched"),
        coalesce(col("s"), lit(0L)).as("score_micro"))
      .localCheckpoint(eager = true)
    dl.unpersist()
    out
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher SIGIR'09) of two
    * retrievers over the same query — the standard hybrid-retrieval
    * combiner (it needs only RANKS, so a BM25 ranking and a raw
    * term-frequency ranking fuse without score calibration):
    *
    *   rrf_ppm(d) = Σ_r 10⁶ div (rrfK + rank_r(d))
    *
    * Retriever A is [[bm25OddsMicro]]; retriever B is the unweighted
    * term-frequency sum (the boolean-AND-ish lexical baseline BM25 is
    * usually fused against). Both rankings break ties by doc id; docs
    * matching no term rank after all matching docs in both.
    *
    * Scale shape: two corpus-scale scoring passes (each one shuffle),
    * two vocabulary-independent rank windows over the SCORED docs, one
    * join on doc id; topK is a TakeOrdered, not a global sort. The rank
    * windows are single-partition by construction (a global ranking is
    * inherently one ordered pass) — at 100 TB, rank within query shards.
    *
    * @return top `topK`: (id, rank_bm25, rank_tf, rrf_ppm) */
  def rrfFusion(docs: DataFrame, idCol: String, textCol: String,
                terms: Seq[String], rrfK: Long = 60L,
                topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = bm25OddsMicro(docs, idCol, textCol, terms)
      .withColumn("rank_bm25", row_number().over(
        Window.orderBy(col("score_micro").desc, col(idCol))).cast("long"))
      .select(col(idCol), col("rank_bm25"))
    val b = docs.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol)).agg(count(lit(1)).as("tfs"))
    val bAll = docs.select(col(idCol)).join(b, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("tfs"), lit(0L)).as("tfs"))
      .withColumn("rank_tf", row_number().over(
        Window.orderBy(col("tfs").desc, col(idCol))).cast("long"))
      .select(col(idCol), col("rank_tf"))
    a.join(bAll, idCol)
      .withColumn("rrf_ppm",
        expr(s"1000000 div ($rrfK + rank_bm25) + 1000000 div ($rrfK + rank_tf)"))
      .orderBy(col("rrf_ppm").desc, col(idCol)).limit(topK)
  }

  /** Micro-unit rank discounts 10⁶/log₂(r+1), r = 1..k, floored — ONE
    * definition shared by [[ndcgAtK]] and the SQL oracle (which
    * interpolates this exact table into a VALUES list), so the float
    * log appears only in these build-time constants, never in a
    * distributed sum. */
  def ndcgDiscMicro(k: Int): Seq[Long] =
    (1 to k).map(r =>
      math.floor(1e6 / (math.log(r + 1.0) / math.log(2.0))).toLong)

  /** NDCG@k + MRR@k retrieval-quality evaluation of a scored ranking —
    * the eval a search/retrieval pipeline publishes next to its scorer
    * (q189 BM25): DCG from the top-k by (score desc, id), IDCG from the
    * top-k by (relevance desc, id) over the WHOLE corpus, both as exact
    * integer micro sums over the fixed discount table
    * ([[ndcgDiscMicro]]), and MRR as 10⁶ div first-relevant rank.
    *
    * Scale shape: both rankings are distributed TakeOrdereds down to k
    * rows (the [[graft.kernels.GraphStats.rankAgreement]] discipline);
    * the rank windows and DCG sums run over k-row frames only.
    * @return one row (dcg_micro, idcg_micro, ndcg_ppm, mrr_micro);
    *         empty if the corpus has no relevant document. */
  def ndcgAtK(scored: DataFrame, idCol: String, relCol: String,
              scoreCol: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val disc = array(ndcgDiscMicro(k).map(lit): _*)
    val withDisc = scored.withColumn("disc", disc)
    def dcg(ord: Seq[org.apache.spark.sql.Column], out: String) =
      withDisc.select(col(idCol), col(relCol).cast("long").as("rel"),
          col(scoreCol), col("disc"))
        .orderBy(ord: _*).limit(k)
        .withColumn("rnk",
          row_number().over(Window.orderBy(ord: _*)).cast("long"))
        .agg(expr("CAST(sum(rel * element_at(disc, CAST(rnk AS INT))) AS BIGINT)")
          .as(out),
          min(when(col("rel") > 0L, col("rnk"))).as(s"${out}_first"))
    val actual = dcg(Seq(col(scoreCol).desc, col(idCol)), "dcg_micro")
    val ideal = dcg(Seq(col("rel").desc, col(idCol)), "idcg_micro")
    actual.crossJoin(ideal)
      .filter(col("idcg_micro") > 0L)
      .select(col("dcg_micro"), col("idcg_micro"),
        expr("(1000000L * dcg_micro) div idcg_micro").as("ndcg_ppm"),
        coalesce(expr("1000000L div dcg_micro_first"), lit(0L))
          .as("mrr_micro"))
  }
}
