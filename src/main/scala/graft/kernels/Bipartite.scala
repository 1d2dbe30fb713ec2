package graft.kernels

import graft.engine.Frontier
import graft.graph.Edges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-component bipartiteness (odd-cycle) test: BFS 2-coloring from each
  * component's root, a vertex reached at BOTH parities witnesses an odd
  * cycle. On a co-occurrence link graph a bipartite component is a pure
  * two-sided structure (e.g. repo↔path with no lateral links) — the
  * shape check that decides whether the butterfly/rectangle census
  * (q106/q107) is the right motif family for it.
  *
  * One multi-source parity frontier keyed by component id — components
  * partition the graph, so the traversals never overlap and the whole
  * verdict costs one join per BFS level, not one traversal per
  * component. State space is (vid, parity), at most 2|V| rows, walked by
  * [[graft.engine.Frontier]]. */
object Bipartite {

  /** @param edges undirected unique pairs (src, dst)
    * @return (component — its min vid, n_vertices, is_bipartite 0/1) */
  def run(spark: SparkSession, edges: DataFrame,
          maxIter: Int = 200): DataFrame = {
    // persisted once for both walks: the CC labels and the parity BFS
    val sym = Edges.symmetrize(edges).repartition(col("src")).persist()
    // hash-min CC: component id IS the component's minimum vid = the root
    val comp = ConnectedComponents.run(spark, sym).components
      .localCheckpoint(eager = true)
    val roots = comp.filter(col("vid") === col("component"))
      .select(col("component"), col("vid"), lit(0L).as("par"))
    val walk = Frontier.run(sym, roots, Seq("component", "vid", "par"),
        maxIter) { (e, last, _) =>
      last.join(e, last("vid") === e("src"))
        .select(last("component"), e("dst").as("vid"),
          (lit(1L) - last("par")).as("par"))
        .distinct()
    }
    sym.unpersist()
    require(walk.converged,
      s"bipartite parity BFS did not converge in $maxIter levels")
    val seen = walk.reached
    val odd = seen.groupBy(col("component"), col("vid"))
      .agg(count(lit(1)).as("np")).filter(col("np") === 2L)
      .select(col("component")).distinct()
      .withColumn("odd", lit(1L))
    comp.groupBy(col("component"))
      .agg(count(lit(1)).as("n_vertices"))
      .join(odd, Seq("component"), "left")
      .select(col("component"), col("n_vertices"),
        when(col("odd").isNull, lit(1L)).otherwise(lit(0L))
          .as("is_bipartite"))
  }
}
