package graft.kernels

import graft.graph.Edges
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Common-neighbor link prediction — top-k candidate edges per vertex.
  *
  * The classic link-graph feature for training pipelines ("which repos
  * will co-occur next"): score every NON-edge pair at distance 2 by its
  * common-neighbor count, keep each vertex's top-k. Built entirely on the
  * engine's co-occurrence derivation: a wedge center IS a shared group
  * (`Edges.coOccurrence` with group = the center vertex), so the heavy
  * step is the one grouped self-join the derivation pipeline already
  * bounds and the oracle already replays (SURVEY §1.3).
  *
  * Scale shape: one shuffle on the center key for the wedge join, one
  * count aggregation on the pair key, an anti-join against the existing
  * edge set, and a per-vertex top-k window (shuffled by vertex — no
  * global single-task window). Scores are exact, which is what the q70
  * oracle replays.
  */
object LinkPredict {

  /** (vid, cand, cn, rnk): for each vertex, its top-k non-neighbor
    * candidates by common-neighbor count (ties to the lower candidate id).
    * @param edges canonical undirected edge table (src < dst, distinct) */
  def commonNeighbors(edges: DataFrame, topK: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    topPerVertex(wedgeCounts(e, "cn"), e, "cn", topK)
  }

  /** Resource-allocation index (Zhou/Lü/Zhang 2009) in exact fixed-point:
    * each wedge center c contributes 1/deg(c), carried as the INTEGER
    * 1_000_000 / deg(c) (floor ppm) so the distributed sum is
    * order-independent and bit-exactly replayable by a SQL oracle — the
    * same integer-parity discipline as the ANN twins. Down-weights hub
    * centers, the usual fix for common-neighbor's hub bias on web graphs.
    *
    * Output (vid, cand, ra_ppm, rnk): per-vertex top-k non-edge candidates
    * by summed ppm score (ties to the lower candidate id). Same plan shape
    * as [[commonNeighbors]]: one wedge shuffle on the center, one pair
    * aggregation, an anti-join, a vertex-partitioned top-k window. */
  def resourceAllocation(edges: DataFrame, topK: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val sym = Edges.symmetrize(e)
    val deg = Edges.degrees(sym)
    val sd = sym.join(deg.withColumnRenamed("vid", "src"), "src")
      .select(col("src").as("c"), col("dst").as("nbr"),
        (lit(1000000L) / col("degree")).cast("long").as("w"))
    val scored = sd.as("a")
      .join(sd.as("b"),
        col("a.c") === col("b.c") && col("a.nbr") < col("b.nbr"))
      .groupBy(col("a.nbr").as("src"), col("b.nbr").as("dst"))
      .agg(sum(col("a.w")).as("ra_ppm"))
    topPerVertex(scored, e, "ra_ppm", topK)
  }

  /** Canonical (src < dst) 2-hop pairs with their common-neighbor count
    * in column `score`: a wedge center IS a shared group, so this is the
    * co-occurrence derivation over the symmetric edge table. */
  private def wedgeCounts(e: DataFrame, score: String): DataFrame =
    Edges.coOccurrence(Edges.symmetrize(e), "src", "dst", minWeight = 1L)
      .withColumnRenamed("weight", score)

  /** The top-k tail both predictors share: drop existing edges (both
    * tables are canonical), emit each pair from both ends, and keep each
    * vertex's top `topK` candidates by (`score` desc, candidate id). */
  private def topPerVertex(scored: DataFrame, e: DataFrame, score: String,
                           topK: Int): DataFrame = {
    val cand = scored.join(e, Seq("src", "dst"), "left_anti")
    val bi = cand.select(col("src").as("vid"), col("dst").as("cand"),
        col(score))
      .union(cand.select(col("dst").as("vid"), col("src").as("cand"),
        col(score)))
    val w = Window.partitionBy(col("vid"))
      .orderBy(col(score).desc, col("cand"))
    bi.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
  }

  /** Weighted (Ruzicka) Jaccard similarity between vertices' weighted
    * neighbor vectors — top `topK` pairs by
    * wj_ppm = 1e6 * Σ_c min(w_uc, w_vc) div (W_u + W_v − Σ_c min),
    * using the identity Σ_union max = W_u + W_v − Σ_shared min so only
    * the SHARED-neighbor coordinates are ever joined.
    *
    * The weighted upgrade of the exact set-similarity join: on a
    * co-occurrence graph the edge weights carry the evidence strength,
    * and two vertices are interchangeable (merge candidates, alias
    * entities) when their weighted neighborhoods overlap — the unweighted
    * Jaccard calls a 100-shared-commit neighbor and a 1-shared-commit
    * neighbor the same.
    *
    * Scale shape: one weighted-adjacency shuffle, one self-join keyed on
    * the shared neighbor (the wedge expansion of the predictors above;
    * `capPerCenter` truncates hub centers to their top-C
    * strongest neighbors, a documented lower-bound approximation exactly
    * like the derivation's `capPerGroup`), one pair aggregation, a
    * broadcast-joined per-vertex weight-mass table, and a distributed
    * TakeOrdered. Integer weights → floor-ppm scores, bit-exact in SQL. */
  def weightedJaccard(weighted: DataFrame, topK: Int = 30,
                      capPerCenter: Int = Int.MaxValue): DataFrame = {
    val adj = weighted.select(col("src").as("vid"), col("dst").as("nbr"),
        col("weight"))
      .union(weighted.select(col("dst"), col("src"), col("weight")))
    val capped =
      if (capPerCenter == Int.MaxValue) adj
      else {
        val w = Window.partitionBy(col("nbr"))
          .orderBy(col("weight").desc, col("vid"))
        adj.withColumn("rc", row_number().over(w))
          .filter(col("rc") <= capPerCenter).drop("rc")
      }
    val mass = adj.groupBy(col("vid")).agg(sum(col("weight")).as("wm"))
    val shared = capped.as("a")
      .join(capped.as("b"),
        col("a.nbr") === col("b.nbr") && col("a.vid") < col("b.vid"))
      .groupBy(col("a.vid").as("u"), col("b.vid").as("v"))
      .agg(sum(least(col("a.weight"), col("b.weight"))).as("smin"))
    shared
      .join(mass.select(col("vid").as("u"), col("wm").as("wu")), "u")
      .join(mass.select(col("vid").as("v"), col("wm").as("wv")), "v")
      .select(col("u"), col("v"),
        expr("smin * 1000000L div (wu + wv - smin)").as("wj_ppm"))
      .orderBy(col("wj_ppm").desc, col("u"), col("v")).limit(topK)
  }

  /** EXACT ranking AUC of the common-neighbor score as a link predictor,
    * evaluated against held-out ground truth: candidates are the
    * non-edge 2-hop pairs of the `edges` graph, a candidate is POSITIVE
    * iff it appears in `truth` (e.g. the weight-1 co-occurrence pairs
    * the >= 2 threshold dropped — links that exist but were cut). AUC is
    * the Mann-Whitney statistic with the standard midrank tie
    * correction, computed EXACTLY in integer ppm: scores collapse to a
    * value histogram first (common-neighbor counts are small integers),
    * ascending cumulative counts give each value band's doubled midrank
    * 2·r0 + c + 1, and AUC_ppm = 10⁶·(Σ_pos 2·midrank − n_pos·(n_pos+1))
    * div (2·n_pos·n_neg) — the eval a link-prediction pipeline publishes
    * next to q70's top-k, with no per-pair global sort anywhere (the
    * window runs over the tiny score histogram; exact while the doubled
    * rank sum fits int64 — beyond ~10⁹ candidates promote to decimal).
    * @return one row (n_pairs, n_pos, n_neg, auc_ppm); empty if either
    *         class is absent. */
  def linkAuc(edges: DataFrame, truth: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val lab = wedgeCounts(e, "score").join(e, Seq("src", "dst"), "left_anti")
      .join(truth.select(col("src"), col("dst"), lit(1L).as("y")),
        Seq("src", "dst"), "left")
      .select(col("score"), coalesce(col("y"), lit(0L)).as("y"))
    val hist = lab.groupBy(col("score"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("r0", sum(col("c")).over(w) - col("c"))
      .agg(sum(col("c")).as("n_pairs"), sum(col("p")).as("np"),
        sum(col("c") - col("p")).as("nn"),
        sum(col("p") * (lit(2L) * col("r0") + col("c") + 1L)).as("r2"))
      .filter(col("np") > 0L && col("nn") > 0L)
      .select(col("n_pairs"), col("np").as("n_pos"), col("nn").as("n_neg"),
        expr("(1000000L * (r2 - np * (np + 1L))) div (2L * np * nn)")
          .as("auc_ppm"))
  }
}
