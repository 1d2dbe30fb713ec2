package graft.kernels

import graft.engine.{Frontier, Superstep}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS — k-hop reachability distances from a seed set.
  *
  * The engine-extension companion of hash-min CC and the Voronoi flood
  * (`partition/BDGPartitioner.tpp:279-307` is the same traversal with
  * colors instead of distances): graph feature generation for a training
  * pipeline ("hops to nearest doc of type X") and the reachability
  * primitive behind the drill-down queries. Both traversals are
  * [[graft.engine.Frontier]] walks; each hop is one shuffle keyed by
  * vertex id, and the reached set, bounded by |V|, is the only state.
  */
object Bfs {

  /** (vid, dist) for every vertex within `maxHop` of `seeds` (a `vid`
    * column); dist = minimum hop count to any seed (seeds are dist 0). */
  def distances(sym: DataFrame, seeds: DataFrame, maxHop: Int): DataFrame =
    Frontier.run(sym.select(col("src"), col("dst")),
        seeds.select(col("vid"), lit(0L).as("dist")), Seq("vid"), maxHop) {
      (e, last, hop) =>
        e.join(last.hint("SHUFFLE_HASH"), e("src") === last("vid"))
          .select(e("dst").as("vid")).distinct()
          .select(col("vid"), lit(hop.toLong).as("dist"))
    }.reached

  /** Per-seed (labeled) BFS distances: (seed, vid, dist) for every seed
    * and every vertex within `maxHop` of it — the landmark-distance
    * feature table (harmonic/closeness centrality of the landmarks, "hops
    * from doc X" features). State is keyed by (seed, vid): the per-seed
    * traversals share every join and shuffle instead of running |seeds|
    * separate jobs. State is bounded by |seeds|·|V| — callers bound the
    * landmark set (that bound is the standard approximation for
    * centrality at scale, Eppstein–Wang 2004). */
  def perSeedDistances(sym: DataFrame, seeds: DataFrame,
                       maxHop: Int): DataFrame =
    Frontier.run(sym.select(col("src"), col("dst")),
        seeds.select(col("vid").as("seed"), col("vid"), lit(0L).as("dist")),
        Seq("seed", "vid"), maxHop) { (e, last, hop) =>
      e.join(last.hint("SHUFFLE_HASH"), e("src") === last("vid"))
        .select(col("seed"), e("dst").as("vid")).distinct()
        .select(col("seed"), col("vid"), lit(hop.toLong).as("dist"))
    }.reached

  /** Bounded-hop weighted single/multi-source shortest paths: dist(v) =
    * minimum total weight over paths of <= `rounds` edges from any seed
    * (synchronous Bellman-Ford, which computes exactly that closure —
    * replayable as a bounded recursive CTE with integer weights).
    *
    * Shape: per round, one co-partitioned state⋈edges join + a min
    * aggregation with map-side combine (the A8 combiner); state is the
    * only growing table (<= |V| rows), one [[Superstep]] round each. Unlike
    * [[distances]] the whole state re-joins each round — an improved
    * distance must be able to re-propagate. */
  def weightedDistances(edgesW: DataFrame, seeds: DataFrame,
                        rounds: Int): DataFrame = {
    // persisted for the loop: a lazy derived graph would otherwise be
    // re-derived every round
    val e = edgesW.select(col("src"), col("dst"), col("weight")).persist()
    def relax(state: DataFrame): DataFrame =
      e.join(state.hint("SHUFFLE_HASH"), e("src") === state("vid"))
        .select(e("dst").as("vid"), (col("dist") + e("weight")).as("dist"))
        .union(state)
        .groupBy(col("vid")).agg(min(col("dist")).as("dist"))
    val (state, _, _, _) = Superstep.run(edgesW.sparkSession, "sssp",
      seeds.select(col("vid"), lit(0L).as("dist")), relax, lit(0),
      (_, _, _) => false, rounds)
    e.unpersist()
    state
  }
}
