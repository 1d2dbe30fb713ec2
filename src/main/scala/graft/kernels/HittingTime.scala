package graft.kernels

import graft.engine.Superstep
import graft.graph.Edges
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Expected hitting time to an absorbing vertex set — K synchronous
  * Jacobi sweeps of h(v) = 1 + mean over neighbors h(u), h == 0 on the
  * absorbing set, in exact integer milli units.
  *
  * The absorbing-walk companion to PageRank/PPR: where PPR measures how
  * much probability mass a seed SENDS to each vertex, the hitting time
  * measures how many steps a random walk FROM each vertex needs to reach
  * the seed set — the classic proximity feature for recommendation and
  * link-graph curriculum ordering (walk-distance to the trusted hub set).
  * Same gather-scatter fabric as the reference's PageRank app
  * (`apps/pagerank.cpp:94-122`): one neighbor join + one sum aggregation
  * per sweep, nothing per-vertex-imperative.
  *
  * Exactness discipline: h is carried as BIGINT milli-steps and each
  * sweep floors the neighbor mean with integer `div`, so the K-sweep
  * result is order-independent and bit-exactly replayable by an unrolled
  * SQL oracle (the same integer-parity convention as the ANN twins and
  * the ppm link-prediction scores). The truncated Jacobi value is a
  * LOWER bound on the true hitting time that sharpens with K; K is part
  * of the operator's contract, not a convergence knob.
  *
  * Scale shape: the symmetric edge table and the degree table are
  * computed once; each sweep is one shuffle on the gather key (the same
  * key every sweep, so AQE/bucketing can reuse the layout) followed by a
  * broadcast-size absorbing-set anti-pattern — the absorbing set is a
  * column flag, never a collect. Each sweep is one [[Superstep]] round,
  * its frame materialized (O(1) lineage, as in every fixed-K loop).
  */
object HittingTime {

  /** (vid, degree, h_milli) for every vertex of the symmetric graph.
    * @param edges    canonical undirected edge table (src < dst)
    * @param absorbTop absorbing set = top-m vertices by (degree desc,
    *                  vid asc) — the deterministic "trusted hub" seed
    * @param sweeps   number of Jacobi sweeps K (fixed, part of the
    *                 contract; each sweep is one shuffle) */
  def run(edges: DataFrame, absorbTop: Int = 5,
          sweeps: Int = 4): DataFrame = {
    // materialize the message fabric ONCE — every sweep re-joins it, and
    // an unmaterialized plan would re-run the upstream derivation per
    // sweep (the same reuse discipline as the superstep kernels)
    val sym = Edges.symmetrize(edges).localCheckpoint(eager = true)
    val deg = Edges.degrees(sym).localCheckpoint(eager = true)
    // absorbing flag stays a column: distributed TakeOrdered for the
    // top-m (no global single-task window), broadcast back as a flag
    val top = deg.orderBy(col("degree").desc, col("vid"))
      .limit(absorbTop).select(col("vid").as("avid"))
    val init = deg
      .join(broadcast(top), deg("vid") === top("avid"), "left")
      .select(col("vid"), col("degree"),
        col("avid").isNotNull.as("absorb"), lit(0L).as("h_milli"))
    def sweep(h: DataFrame): DataFrame = {
      val gathered = sym
        .join(h.select(col("vid").as("dst"), col("h_milli").as("hn")),
          "dst")
        .groupBy(col("src").as("vid")).agg(sum(col("hn")).as("hsum"))
      h.drop("h_milli").join(gathered, Seq("vid"), "left")
        .select(col("vid"), col("degree"), col("absorb"),
          when(col("absorb"), lit(0L))
            .otherwise(expr("1000L + coalesce(hsum, 0L) div degree"))
            .as("h_milli"))
    }
    val (h, _, _, _) = Superstep.run(edges.sparkSession, "hitting_time",
      init, sweep, lit(0), (_, _, _) => false, sweeps)
    h.select(col("vid"), col("degree"), col("h_milli"))
  }
}
