package graft.kernels

import graft.engine.Superstep
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HITS (hubs and authorities, Kleinberg) on the engine's gather-scatter
  * substrate — the directed complement to [[EigenCentrality]]: each half
  * iteration is one join+aggregate over the DIRECTED edge table, pulling
  * the opposite score across the edge.
  *
  *   a_i(v) = Σ_{u→v} h_{i-1}(u)      (authority ← in-neighbors' hub)
  *   h_i(u) = Σ_{u→v} a_i(v)          (hub ← out-neighbors' authority)
  *
  * Normalization is deferred to the very end (one scalar per score),
  * exactly as in [[EigenCentrality]]: with h_0 ≡ 1 every unnormalized
  * score is an integer-valued path count, so fixed-iteration runs are
  * bit-replayable in plain SQL (a recursive CTE over half-steps) and
  * double stays exact far past any practical iteration count.
  *
  * Support semantics: a vertex with no in-edges carries no authority
  * and a vertex with no out-edges into the surviving authority support
  * carries no hub — a null in the state, 0 in the output — so every
  * vertex that still holds either score appears exactly once.
  *
  * Scale shape: one [[Superstep]] state (vid, hub, auth) per iteration,
  * materialized once: the two half-steps and the full outer join that
  * pairs their supports share one plan. The edge table is persisted once
  * and reused by every iteration; state joins build on the (small) score
  * side via SHUFFLE_HASH.
  */
object Hits {

  /** @param edges directed edge table (src, dst)
    * @param iters full HITS iterations (authority then hub)
    * @return (vid, hub, auth), each score divided by its total */
  def run(spark: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).persist()
    val init = e.select(col("src").as("vid"))
      .union(e.select(col("dst").as("vid"))).distinct()
      .select(col("vid"), lit(1.0).as("hub"),
        lit(null).cast("double").as("auth"))
    def half(score: DataFrame, from: String, to: String,
             name: String): DataFrame = {
      val s = score.select(col("vid").as("sv"), col("x")).hint("SHUFFLE_HASH")
      e.join(s, col(from) === col("sv"))
        .groupBy(col(to).as("vid")).agg(sum(col("x")).as(name))
    }
    def step(st: DataFrame): DataFrame = {
      val a = half(st.filter(col("hub").isNotNull)
        .select(col("vid"), col("hub").as("x")), "src", "dst", "auth")
      val h = half(a.select(col("vid"), col("auth").as("x")),
        "dst", "src", "hub")
      h.join(a, Seq("vid"), "full_outer")
    }
    val (state, _, _, _) = Superstep.run(spark, "hits", init, step, lit(0),
      (_, _, _) => false, iters)
    // one scalar per score; an empty side has nothing to normalize
    val tot = state.agg(sum(col("hub")), sum(col("auth"))).first()
    def total(i: Int): Double = if (tot.isNullAt(i)) 1.0 else tot.getDouble(i)
    val out = state.select(col("vid"),
      coalesce(col("hub") / total(0), lit(0.0)).as("hub"),
      coalesce(col("auth") / total(1), lit(0.0)).as("auth"))
    e.unpersist()
    out
  }
}
