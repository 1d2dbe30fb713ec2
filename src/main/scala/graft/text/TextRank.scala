package graft.text

import graft.engine.Superstep
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TextRank keyword extraction (Mihalcea & Tarau EMNLP'04) at CORPUS
  * level: vertices are tokens, edges are adjacent-token co-occurrences
  * weighted by corpus frequency, importance is weighted PageRank over that
  * graph — the unsupervised keyword signal a curation pipeline uses to
  * tag sources and build topic mixes without a model. The same
  * corpus-to-graph-to-kernel composition as the q01 pipeline, applied to
  * text (SURVEY §1.3's derivation shape, token edition).
  *
  * Exactness (libm-free): fixed ITERATIONS of the weighted power update
  * in ppm integers — r' = (1−d) + d·Σ_in (r_u·w_uv div W_u) div 10⁶,
  * with the per-vertex out-weight W_u precomputed; every step is integer
  * mult/div, so a recursive-CTE oracle replays it exactly. Frequency
  * pruning (minToken/minEdge) keeps the graph vocabulary-bounded.
  *
  * Scale shape: the token graph is VOCABULARY-sized, not corpus-sized —
  * one map-side-combined bigram count over the token stream builds it,
  * after which the power iterations are joins on a table orders of
  * magnitude smaller than the input. The one corpus-scale shuffle is the
  * bigram count.
  */
object TextRank {

  /** @param minToken  prune tokens with corpus count below this
    * @param minEdge   prune adjacent-pair edges with count below this
    * @param iters     fixed power-iteration rounds (ppm damping 0.85)
    * @param topK      keywords kept, ordered by (rank desc, token)
    * @return (token, rank_ppm, rk) */
  def keywords(docs: DataFrame, idCol: String, textCol: String,
               minToken: Long = 5L, minEdge: Long = 2L,
               iters: Int = 3, topK: Int = 20): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
        posexplode(TextFunctions.tokens(col(textCol))))
      .select(col("id"), col("pos"), col("col").as("tok"))
    val keep = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minToken).select(col("tok"))
    val kept = toks.join(keep, "tok")
    // adjacent SURVIVING positions only (pruned tokens break adjacency,
    // as in the paper's window-over-candidate-words formulation)
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.id") === col("b.id") && col("a.pos") + 1 === col("b.pos") &&
          col("a.tok") =!= col("b.tok"))
      .select(least(col("a.tok"), col("b.tok")).as("u"),
        greatest(col("a.tok"), col("b.tok")).as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= minEdge)
    val sym = pairs.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionAll(pairs.select(col("v"), col("u"), col("w")))
      .localCheckpoint(eager = true)
    val outW = sym.groupBy(col("src")).agg(sum(col("w")).as("wout"))

    def step(rank: DataFrame): DataFrame = {
      val contrib = rank.join(sym, col("tok") === col("src"))
        .join(outW, "src")
        .select(col("dst"), expr("(r * w) div wout").as("c"))
        .groupBy(col("dst").as("tok")).agg(sum(col("c")).as("cin"))
      rank.join(contrib, Seq("tok"), "left")
        .select(col("tok"),
          (lit(150000L) + expr("850000 * coalesce(cin, 0) div 1000000"))
            .as("r"))
    }
    val (rank, _, _, _) = Superstep.run(docs.sparkSession, "textrank",
      outW.select(col("src").as("tok"), lit(1000000L).as("r")), step,
      lit(0), (_, _, _) => false, iters)
    rank.orderBy(col("r").desc, col("tok")).limit(topK)
      .select(col("tok"), col("r").as("rank_ppm"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rank_ppm").desc, col("tok"))).cast("long"))
  }
}
