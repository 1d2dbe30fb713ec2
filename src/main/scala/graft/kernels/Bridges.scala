package graft.kernels

import graft.engine.Frontier
import graft.graph.Edges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact bridge (cut-edge) detection for a candidate edge subset: edge
  * (s, d) is a bridge iff d is unreachable from s once the edge itself is
  * removed. The structural-fragility probe of a link graph — a bridge
  * co-occurrence edge is the only path between two repo clusters, so its
  * deletion (q46-style drill-down) splits a component.
  *
  * All candidates are probed TOGETHER: reachability is one multi-source
  * [[graft.engine.Frontier]] walk keyed by candidate id (the shape of
  * [[Bfs.perSeedDistances]]), so c candidates cost one join per hop, not
  * c traversals. The per-candidate removed edge is enforced with a
  * broadcast of the (cid, cs, cd) table — three longs per candidate —
  * against the expansion, never a per-candidate edge copy. Candidates
  * are expected to be few (sha-sampled or suspicion-filtered upstream);
  * the reached set is at most |cand| × |component| rows. A walk that
  * `maxIter` cuts short fails loudly instead of reporting a verdict.
  */
object Bridges {

  /** @param edges undirected unique pairs (src, dst)
    * @param cand  (cid, src, dst) candidate edges to probe
    * @return (src, dst, is_bridge 0/1) one row per candidate */
  def probe(spark: SparkSession, edges: DataFrame, cand: DataFrame,
            maxIter: Int = 200): DataFrame = {
    val c = cand.select(col("cid"), col("src").as("cs"), col("dst").as("cd"))
      .localCheckpoint(eager = true)
    val walk = Frontier.run(Edges.symmetrize(edges).repartition(col("src")),
        c.select(col("cid"), col("cs").as("vid")), Seq("cid", "vid"),
        maxIter) { (sym, last, _) =>
      last.join(sym, last("vid") === sym("src"))
        .select(last("cid"), last("vid"), sym("dst").as("nbr"))
        .join(broadcast(c), Seq("cid"))
        .filter(!((col("vid") === col("cs") && col("nbr") === col("cd")) ||
                  (col("vid") === col("cd") && col("nbr") === col("cs"))))
        .select(col("cid"), col("nbr").as("vid")).distinct()
    }
    // an unreached endpoint reads as a bridge, so a cut-short walk would
    // mislabel every candidate it did not finish
    require(walk.converged, s"bridge probe did not converge in $maxIter hops")
    val reached = walk.reached
    c.as("c")
      .join(reached.as("r"),
        col("c.cid") === col("r.cid") && col("r.vid") === col("c.cd"),
        "left_outer")
      .select(col("c.cs").as("src"), col("c.cd").as("dst"),
        when(col("r.vid").isNull, lit(1L)).otherwise(lit(0L))
          .as("is_bridge"))
  }

  /** Articulation-point (cut-vertex) probe for a candidate vertex subset:
    * v is an articulation point iff deleting v disconnects two of its
    * neighbors. Probed exactly: one multi-source reachability keyed by
    * candidate, seeded at v's minimum neighbor, expanding over the graph
    * with v excluded (the frontier row carries its own candidate id, so
    * the exclusion is a plain column filter — no broadcast at all);
    * v is a cut vertex iff some neighbor stays unreached. Same
    * c-candidates-one-traversal shape as [[probe]].
    * @param cand single-column (vid) candidate vertices
    * @return (vid, is_articulation 0/1) one row per candidate */
  def articulationProbe(spark: SparkSession, edges: DataFrame,
                        cand: DataFrame, maxIter: Int = 200): DataFrame = {
    val sym = Edges.symmetrize(edges).repartition(col("src")).persist()
    val cv = cand.select(col("vid").as("cv")).localCheckpoint(eager = true)
    val nbrs = cv.join(sym, cv("cv") === sym("src"))
      .select(col("cv"), col("dst").as("nbr"))
      .localCheckpoint(eager = true)
    val walk = Frontier.run(sym,
        nbrs.groupBy(col("cv")).agg(min(col("nbr")).as("vid")),
        Seq("cv", "vid"), maxIter) { (e, last, _) =>
      last.join(e, last("vid") === e("src"))
        .select(last("cv"), e("dst").as("vid"))
        .filter(col("vid") =!= col("cv")).distinct()
    }
    sym.unpersist()
    require(walk.converged,
      s"articulation probe did not converge in $maxIter hops")
    val reached = walk.reached
    nbrs.as("n")
      .join(reached.as("r"),
        col("n.cv") === col("r.cv") && col("n.nbr") === col("r.vid"),
        "left_outer")
      .groupBy(col("n.cv").as("vid"))
      .agg(max(when(col("r.vid").isNull, lit(1L)).otherwise(lit(0L)))
        .as("is_articulation"))
  }
}
