package graft.kernels

import graft.engine.Frontier
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Landmark (sampled-source) betweenness centrality — Brandes'
  * dependency accumulation from a seed set, bounded horizon. Exact
  * all-pairs betweenness is O(V·E) and off the table at web scale;
  * sampling sources is the standard estimator (Brandes–Pich 2007), and
  * the bounded horizon matches the engine's other landmark operator
  * ([[GraphStats.harmonicCentrality]]).
  *
  * Forward phase (per BFS level, ALL seeds at once in one labeled
  * frontier — not |seeds| traversals): σ_s(v) = number of shortest
  * s→v paths, an exact INTEGER accumulated level by level
  * (σ of a newly reached vertex = Σ σ of its level-(l-1) predecessors).
  *
  * Backward phase (levels deepest-first): the classic recurrence
  *
  *   δ_s(v) = Σ_{(v,w) ∈ E, dist_s(w) = dist_s(v)+1}
  *              σ_s(v)/σ_s(w) · (1 + δ_s(w))
  *
  * with δ ≡ 0 at the horizon (a horizon cut truncates dependencies the
  * same way it truncates harmonic sums — documented estimator bias, not
  * an implementation artifact). bc(v) = Σ_seeds δ_s(v) over dist ≥ 1,
  * rounded to 8 dp (the doubles are ratios of exact integers with a
  * fixed per-level evaluation order; the final sums sit far above the
  * 1e-8 boundary noise, the PageRank-oracle discipline).
  *
  * Scale shape: each forward level is one [[graft.engine.Frontier]] hop,
  * a join+integer-aggregate of the labeled frontier against the edge
  * table with an anti-join against the reached set; each backward level
  * joins one level's rows (frontier-sized) with the next level's δ
  * through the edge table — SHUFFLE_HASH on the state sides, localCheckpoint
  * truncation per level, no collect, no window.
  */
object Betweenness {

  /** Per-(seed, vid) forward state, one piece per level: (seed, vid,
    * dist, sigma). Level 0 = the seeds themselves (sigma 1). */
  private def forward(sym: DataFrame, seeds: DataFrame, maxHop: Int)
      : Vector[DataFrame] =
    Frontier.run(sym.select(col("src"), col("dst")),
        seeds.select(col("vid").as("seed"), col("vid"), lit(0).as("dist"),
          lit(1L).as("sigma")),
        Seq("seed", "vid"), maxHop) { (e, last, hop) =>
      val f = last.select(col("seed"), col("vid").as("fv"), col("sigma"))
        .hint("SHUFFLE_HASH")
      e.join(f, e("src") === f("fv"))
        .groupBy(col("seed"), e("dst").as("vid"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("seed"), col("vid"), lit(hop).as("dist"), col("sigma"))
    }.levels

  /** (seed, vid, dist, sigma, delta) for every reached pair — the
    * fixed-horizon Brandes table, exposed for oracle replay. */
  def dependencies(spark: SparkSession, sym: DataFrame, seeds: DataFrame,
                   maxHop: Int): DataFrame = {
    val e = sym.select(col("src"), col("dst"))
    val pieces = forward(sym, seeds, maxHop)
    val deepest = pieces.size - 1
    // delta per level, deepest-first; horizon level has delta 0
    var deltas = Map(deepest ->
      pieces(deepest).withColumn("delta", lit(0.0)))
    for (l <- (deepest - 1) to 0 by -1) {
      val cur = pieces(l)
      val nxt = deltas(l + 1)
        .select(col("seed").as("ns"), col("vid").as("nv"),
          col("sigma").as("nsigma"), col("delta").as("ndelta"))
        .hint("SHUFFLE_HASH")
      val contrib = cur
        .join(e, cur("vid") === e("src"))
        .join(nxt, e("dst") === col("nv") && cur("seed") === col("ns"))
        .groupBy(cur("seed"), cur("vid"))
        .agg(sum(cur("sigma").cast("double") / col("nsigma") *
          (lit(1.0) + col("ndelta"))).as("d"))
      deltas += l -> cur
        .join(contrib, Seq("seed", "vid"), "left")
        .withColumn("delta", coalesce(col("d"), lit(0.0)))
        .select(col("seed"), col("vid"), col("dist"), col("sigma"),
          col("delta"))
        .localCheckpoint(eager = true)
    }
    (0 to deepest).map(deltas).reduce(_ unionByName _)
  }

  /** Landmark betweenness estimate (vid, bc) over reached non-seed-self
    * pairs: bc(v) = round(Σ_seeds δ_s(v), 8), vertices with dist ≥ 1
    * from at least one seed. */
  def landmark(spark: SparkSession, sym: DataFrame, seeds: DataFrame,
               maxHop: Int): DataFrame =
    dependencies(spark, sym, seeds, maxHop)
      .filter(col("dist") >= 1)
      .groupBy(col("vid"))
      .agg(round(sum(col("delta")), 8).as("bc"))
}
