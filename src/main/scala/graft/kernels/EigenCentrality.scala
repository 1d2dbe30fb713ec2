package graft.kernels

import graft.engine.{IterationMetric, Superstep}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Eigenvector centrality by power iteration on the engine's BSP substrate
  * (B1 superstep loop + B2 message passing — the same gather-scatter as
  * PageRank without teleport): x' = A·x, normalized ONCE at the end.
  *
  * Deferred normalization keeps every superstep a single join+aggregate
  * with no scalar roundtrip, and makes the fixed-iteration run exactly
  * replayable (each unnormalized x_k(v) = #walks of length k ending at v
  * when x_0 ≡ 1 — integer-valued until the final division). Magnitudes
  * grow like (avg degree)^k, so double stays exact far past any practical
  * iteration count; for tol-driven runs at scale, normalize per superstep
  * instead (one scalar agg — the PageRank dangling-mass shape).
  */
object EigenCentrality {

  final case class Result(scores: DataFrame,
                          metrics: Seq[IterationMetric],
                          iterations: Int)

  /** Katz centrality, scaled-INTEGER form: with attenuation β = 1/4,
    * 4^k · Katz_k is the integer y_k = Σ_{j≤k} 4^{k−j}·walks_j — iterate
    * y' = 4^{iter}·1 + A·y and every superstep stays exact 64-bit
    * arithmetic (the [[run]] deferred-normalization idea taken all the
    * way: no float appears AT ALL, so the oracle hash-matches without a
    * rounding convention). Same gather-scatter superstep as PageRank;
    * magnitudes grow like (avg degree)^k — at 6 iterations that is exact
    * far below 2^63 for any graph whose hubs fit a shuffle; a tol-driven
    * production run would use the float β-form with per-superstep
    * normalization instead. The state carries the round's multiplier 4^i
    * as a column `c`, equal on every row. */
  def katzScaled(spark: SparkSession, sym: DataFrame,
                 iters: Int = 6): DataFrame = {
    val e = sym.select(col("src"), col("dst")).repartition(col("src"))
      .persist()
    val init = e.select(col("src").as("vid")).distinct()
      .select(col("vid"), lit(1L).as("y"), lit(1L).as("c"))
    def step(y: DataFrame): DataFrame = {
      val state = y.hint("SHUFFLE_HASH")
      val c = max(col("c")) * 4L
      e.join(state, e("src") === state("vid"))
        .groupBy(e("dst").as("vid"))
        .agg((c + sum(col("y"))).as("y"), c.as("c"))
    }
    val (y, _, _, _) = Superstep.run(spark, "katz", init, step, lit(0),
      (_, _, _) => false, iters)
    e.unpersist()
    y.select(col("vid"), col("y").as("katz_scaled"))
  }

  /** @param sym symmetric edge table (src, dst)
    * @param iters fixed power-iteration count */
  def run(spark: SparkSession, sym: DataFrame, iters: Int): Result = {
    val e = sym.select(col("src"), col("dst")).repartition(col("src"))
      .persist()
    val verts = e.select(col("src").as("vid")).distinct()
      .repartition(col("vid")).persist()
    verts.count()

    def init: DataFrame = verts.select(col("vid"), lit(1.0).as("x"))
    def step(x: DataFrame): DataFrame = {
      val state = x.hint("SHUFFLE_HASH")
      e.join(state, e("src") === state("vid"))
        .groupBy(e("dst").as("vid")).agg(sum(col("x")).as("x"))
    }

    // delta: the largest walk count (a max, exact in any merge order)
    val (state, metrics, it, _) = Superstep.run(
      spark, "eigencentrality", init, step, max(col("x")),
      (_, _, _) => false, iters)
    val total = state.agg(sum(col("x"))).first().getDouble(0)
    val out = state.select(col("vid"), (col("x") / total).as("score"))
    e.unpersist(); verts.unpersist()
    Result(out, metrics, it)
  }
}
