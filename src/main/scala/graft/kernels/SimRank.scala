package graft.kernels

import graft.engine.Superstep
import graft.graph.Edges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SimRank (Jeh & Widom, KDD 2002) — "two objects are similar if they are
  * referenced by similar objects" — in exact integer parts-per-million
  * with a fixed iteration count, so a SQL oracle replays every division
  * bit-for-bit (floor-ppm discipline, no libm):
  *
  *   s(a, a)   = 1000000
  *   s_{t+1}(a, b) = (cPpm · Σ_{u∈N(a), w∈N(b)} s_t(u, w))
  *                     div (1000000 · deg(a) · deg(b))        for a ≠ b
  *
  * The structural-similarity counterpart of the co-occurrence weight: two
  * repo nodes score high when their NEIGHBORS are similar, even with no
  * shared edge — the link-graph analog of second-order embedding
  * similarity.
  *
  * Scale shape: state is the SPARSE off-diagonal pair table (only nonzero
  * pairs, stored once with a < b); each iteration is two keyed joins of
  * the symmetric edge table around the state lookup (u-side then w-side —
  * the same neighbor-info-exchange shape as J6) and one (a, b) sum — all
  * shuffles on vertex/pair keys, map-side combined, one [[Superstep]]
  * round each. Pair-state growth is the real cost at scale: density
  * rises with common-neighborhood mass, so production runs bound it
  * (threshold filter inside the loop via `minPpm`, exactly where a
  * FocusCluster-style ball cap would go). The ppm numerator
  * cPpm·Σ s_t ≤ 8·10⁵ · (deg_a·deg_b·10⁶) stays in long range up to
  * deg products of ~10⁷; beyond that, pre-scale the state (documented,
  * spec-guarded at this scale). */
object SimRank {

  /** @param edges  undirected unique pairs (src, dst)
    * @param cPpm   decay constant C in ppm (0.8 → 800000)
    * @param iters  fixed iteration count (oracle-replayable)
    * @param minPpm keep only pairs with sim ≥ minPpm between iterations
    *               (0 = exact; the scale knob)
    * @return (a, b, sim_ppm) off-diagonal pairs a < b with sim_ppm > 0 */
  def run(spark: SparkSession, edges: DataFrame, cPpm: Long = 800000L,
          iters: Int = 2, minPpm: Long = 1L): DataFrame = {
    val sym = Edges.symmetrize(edges).repartition(col("src")).persist()
    val deg = Edges.degrees(sym).persist()
    val diag = deg.select(col("vid").as("u"), col("vid").as("w"),
      lit(1000000L).as("sp"))
    // off-diagonal state, stored once with a < b; it starts empty
    def step(t: DataFrame): DataFrame = {
      val full = diag
        .union(t.select(col("a").as("u"), col("b").as("w"), col("sp")))
        .union(t.select(col("b").as("u"), col("a").as("w"), col("sp")))
      val tot = sym.as("na")
        .join(full.hint("SHUFFLE_HASH"), col("na.dst") === col("u"))
        .select(col("na.src").as("a"), col("w"), col("sp"))
        .join(sym.as("nb"), col("w") === col("nb.dst")
          && col("a") < col("nb.src"))
        .groupBy(col("a"), col("nb.src").as("b"))
        .agg(sum(col("sp")).as("tot"))
      tot
        .join(deg.select(col("vid").as("a"), col("degree").as("da")), "a")
        .join(deg.select(col("vid").as("b"), col("degree").as("db")), "b")
        .select(col("a"), col("b"),
          expr(s"($cPpm * tot) div (1000000L * da * db)").as("sp"))
        .filter(col("sp") >= minPpm)
    }
    val (s, _, _, _) = Superstep.run(spark, "simrank",
      diag.select(col("u").as("a"), col("w").as("b"), col("sp")).limit(0),
      step, lit(0), (_, _, _) => false, iters)
    sym.unpersist(); deg.unpersist()
    s.select(col("a"), col("b"), col("sp").as("sim_ppm"))
  }
}
