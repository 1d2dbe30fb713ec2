package graft.kernels

import graft.engine.Peel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K-truss decomposition — cohesive-subgraph mining on the TC fabric.
  *
  * The k-truss of a graph is the maximal subgraph in which every edge
  * participates in at least k−2 triangles (of that subgraph). It is the
  * standard robust-community / spam-link filter over web-scale link
  * graphs, and the natural next operator above the reference's triangle
  * kernel (`apps/trianglecount.cpp:127-163` — triangle support is exactly
  * the quantity the reference's TC computes per oriented edge; peeling
  * iterates it).
  *
  * Shape, per peel round (SURVEY §2.3 J3 + §2.8 B1): the live edges'
  * triangle support from [[TriangleCount.support]] (the degree-oriented
  * sorted-adjacency intersection, each triangle charged to its three
  * canonical edges), then a filter that drops edges under k−2 — one
  * [[graft.engine.Peel]] round, which stops when no row is removed.
  *
  * `maxRounds` bounds the peel for the oracle-parity query (q69 runs a
  * FIXED 3 rounds so DuckDB replays the identical staged SQL); the
  * default Int.MaxValue runs to the true fixpoint (KernelSpec checks it
  * against a brute-force peeler).
  */
object KTruss {

  /** Surviving canonical edges (src, dst) of the k-truss after at most
    * `maxRounds` peel rounds (fixpoint if it converges earlier).
    * @param edges canonical undirected edge table, src < dst, distinct */
  def run(edges: DataFrame, k: Int,
          maxRounds: Int = Int.MaxValue): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3")
    val r = Peel.shrink(Vector(edges.select(col("src"), col("dst"))),
        maxRounds) { st =>
      Vector(TriangleCount.support(st.live.head)
        .filter(col("sup") >= k - 2).select(col("src"), col("dst")))
    }
    r.live.head
  }

  /** Truss communities (Huang et al. SIGMOD'14, vertex-component
    * variant): connected components of the k-truss subgraph — each
    * component is a triangle-dense community robust to bridge edges
    * (the k-truss keeps only edges with >= k-2 triangle support, so
    * weak ties never glue two communities together). Composes two
    * verified stages: the [[run]] peel and hash-min
    * [[ConnectedComponents]]. Returns (vid, community) for vertices
    * that survive the peel. */
  def communities(spark: org.apache.spark.sql.SparkSession,
                  edges: DataFrame, k: Int,
                  maxRounds: Int = Int.MaxValue): DataFrame =
    ConnectedComponents.run(spark,
      graft.graph.Edges.symmetrize(run(edges, k, maxRounds))).components
}
