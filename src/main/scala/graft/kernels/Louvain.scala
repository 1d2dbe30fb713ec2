package graft.kernels

import graft.engine.Superstep
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synchronous Louvain phase-1 local move — the modularity-greedy
  * community assignment that generalizes the reference's attribute-seeded
  * community detection (`apps/community.cpp`) to an unsupervised global
  * pass. Each round every vertex simultaneously evaluates the modularity
  * gain of adopting each neighboring community and moves to the best one;
  * communities start as singletons.
  *
  * Integer-exact gain. The modularity delta of placing v into community C
  * (after removing v from its own) is, up to the constant factor 1/(2m²)
  * and terms independent of the choice of C:
  *
  *   gain(v, C) = 2m·e_vC − deg(v)·degsum'(C)
  *
  * where e_vC is the number of edges from v into C, degsum'(C) the total
  * degree of C's members with v itself excluded, and m the undirected
  * edge count. Everything is a bigint count, so a SQL oracle replays the
  * argmax bit-for-bit (no libm, no floats). Ties break to the smaller
  * community id; v's current community is always a candidate (gain with
  * its own degree removed), so an isolated-in-community vertex stays put
  * only when nothing strictly better exists.
  *
  * Scale shape: each round is (1) one groupBy(comm) over the ≤|V|-row
  * assignment for community degree sums, (2) one join of the symmetric
  * edge table to the assignment (keyed by vid — the co-partitioned layout
  * every superstep kernel reuses) + a (vid, cand) count — map-side
  * combined, so hub fan-in aggregates before the shuffle, (3) a broadcast
  * of nothing: the degsum table joins on cand (≤|V| rows, shuffle-hash).
  * The per-round argmax is a max_by over each vertex's ≤deg(v)+1
  * candidate rows — no global sort, no window over the corpus. Rounds are
  * synchronous [[Superstep]] rounds, the assignment materialized per
  * round, so lineage stays O(1) like the other superstep kernels. */
object Louvain {

  /** @param edges undirected unique pairs (src, dst), src < dst
    * @param rounds synchronous local-move rounds
    * @return (vid, community) after `rounds` moves */
  def localMove(spark: SparkSession, edges: DataFrame,
                rounds: Int = 2): DataFrame = {
    // persisted: the canonical table feeds the m count and (via the
    // symmetric view) the degree table plus every round's candidate
    // join — a lazy derived caller graph would be re-derived per round
    val e0 = edges.select(col("src"), col("dst")).persist()
    val sym = graft.graph.Edges.symmetrize(e0)
    val deg = graft.graph.Edges.degrees(sym).persist()
    val m = e0.count()
    def step(asg: DataFrame): DataFrame = {
      val degsum = asg.join(deg, "vid")
        .groupBy(col("community").as("cand"))
        .agg(sum(col("degree")).as("dsum"))
      // candidate communities of v = its neighbors' communities, plus its
      // own with an additive 0 (sum() folds the two when they coincide)
      val nbrCand = sym.as("s")
        .join(asg.as("a"), col("s.dst") === col("a.vid"))
        .select(col("s.src").as("vid"), col("a.community").as("cand"),
          lit(1L).as("one"))
      val ownCand = asg.select(col("vid"), col("community").as("cand"),
        lit(0L).as("one"))
      val cands = nbrCand.union(ownCand)
        .groupBy(col("vid"), col("cand")).agg(sum(col("one")).as("e_vc"))
      val scored = cands
        .join(deg, "vid")
        .join(asg.withColumnRenamed("community", "own"), "vid")
        .join(degsum.hint("SHUFFLE_HASH"), "cand")
        .withColumn("gain",
          lit(2L * m) * col("e_vc") - col("degree") *
            (col("dsum") - when(col("cand") === col("own"),
              col("degree")).otherwise(lit(0L))))
      // deterministic argmax: max gain, then smallest community id —
      // packed as a max_by key so no per-vertex window sort is needed
      scored
        .groupBy(col("vid"))
        .agg(max_by(col("cand"),
          struct(col("gain"), -col("cand"))).as("community"))
    }
    val (asg, _, _, _) = Superstep.run(spark, "louvain",
      deg.select(col("vid"), col("vid").as("community")), step, lit(0),
      (_, _, _) => false, rounds)
    e0.unpersist(); deg.unpersist()
    asg
  }

  /** Louvain phase 2 — graph coarsening: contract each community of
    * `asg` to a super-vertex and aggregate parallel edges into weights.
    * Returns (ca, cb, weight) with ca <= cb over the undirected unique
    * input pairs; ca = cb rows carry the intra-community edge count (the
    * self-loop weight the next Louvain level runs on). Two keyed joins
    * of the edge table against the ≤|V|-row assignment + one count —
    * the same co-partitioned shape as a superstep, and the output is
    * communities², typically orders of magnitude smaller than the input
    * (the whole point of the multi-level scheme). */
  def coarsen(edges: DataFrame, asg: DataFrame): DataFrame = {
    val a = asg.select(col("vid"), col("community"))
    edges.select(col("src"), col("dst"))
      .join(a.withColumnRenamed("vid", "src")
        .withColumnRenamed("community", "cs"), "src")
      .join(a.withColumnRenamed("vid", "dst")
        .withColumnRenamed("community", "cd"), "dst")
      .groupBy(least(col("cs"), col("cd")).as("ca"),
        greatest(col("cs"), col("cd")).as("cb"))
      .agg(count(lit(1)).as("weight"))
  }
}
