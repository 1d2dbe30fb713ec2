package graft.kernels

import graft.engine.Superstep
import graft.graph.Edges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synchronous integer forward-push PPR (Andersen–Chung–Lang FOCS'06) —
  * the LOCAL personalized-PageRank primitive: mass starts at one seed and
  * only ever flows along touched edges, so the cost is proportional to the
  * seed's neighborhood, not the graph ([[PageRank.run]]'s power iteration
  * touches every edge every superstep; this is its sublinear sibling, the
  * building block of PPR-Nibble local clustering and seed-expansion
  * recommendation at web scale).
  *
  * Exactness: the paper's asynchronous queue is scheduler-dependent, so
  * this runs the SYNCHRONOUS variant — each round, EVERY vertex with
  * residual pushes at once — in pure integer arithmetic (mass in units of
  * 1e-12, α in ppm, per-edge share by integer `div` with the remainder
  * retired — a defined, bit-replayable contraction). A fixed round count
  * replaces the ε stopping rule; a SQL oracle replays rounds as a
  * recursive CTE. Every vertex the push reaches lies in the symmetrized
  * edge table, so each has degree ≥ 1 — no dangling case.
  *
  * Scale shape: each round is one join of the (sparse) residual frontier
  * against the co-partitioned edge table plus one map-side-combined sum —
  * one [[graft.engine.Superstep]] round, with lineage cut per round.
  */
object ForwardPush {

  /** @param edges    canonical undirected pairs (src < dst)
    * @param alphaPpm teleport α in ppm (150000 = 0.15)
    * @param rounds   synchronous push rounds
    * @return (vid, p, r): settled mass and leftover residual, units 1e-12,
    *         for every vertex touched by the push */
  def run(spark: SparkSession, edges: DataFrame, seed: Long,
          alphaPpm: Long = 150000L, rounds: Int = 3): DataFrame = {
    val sym = Edges.symmetrize(edges).localCheckpoint(eager = true)
    val deg = Edges.degrees(sym)

    val init = spark.range(1)
      .select(lit(seed).as("vid"), lit(0L).as("p"),
        lit(1000000000000L).as("r"))
    def push(state: DataFrame): DataFrame = {
      val st = state.join(deg, Seq("vid"))
        .select(col("vid"),
          (col("p") + expr(s"($alphaPpm * r) div 1000000")).as("p2"),
          expr(s"((${1000000L - alphaPpm} * r) div 1000000) div degree")
            .as("share"))
      val pushed = st.select(col("vid").as("src"), col("share"))
        .join(sym, "src")
        .groupBy(col("dst").as("vid")).agg(sum(col("share")).as("r"))
      st.select(col("vid"), col("p2").as("p"))
        .join(pushed, Seq("vid"), "full")
        .select(col("vid"), coalesce(col("p"), lit(0L)).as("p"),
          coalesce(col("r"), lit(0L)).as("r"))
    }
    val (state, _, _, _) = Superstep.run(spark, "forward_push", init, push,
      lit(0), (_, _, _) => false, rounds)
    state.filter(col("p") =!= 0L || col("r") =!= 0L)
  }
}
