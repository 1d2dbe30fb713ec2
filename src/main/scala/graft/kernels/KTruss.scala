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
  * Shape, per peel round (SURVEY §2.3 J3 + §2.8 B1):
  *  - triangle triples come from the degree-oriented sorted-adjacency
  *    intersection (the [[TriangleCount]] plan — O(E^1.5) intersection
  *    work, hub-safe under degree orientation);
  *  - each triangle charges its three CANONICAL edges (least/greatest —
  *    one row per (triangle, edge), the unavoidable 3× expansion of
  *    support attribution);
  *  - support is a two-phase count aggregation; the filter drops edges
  *    under k−2 — one [[graft.engine.Peel]] round, which stops when no
  *    row is removed.
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
    // the round's oriented table feeds the adj aggregation AND both join
    // probes: persisted, and released once the next round's survivors
    // have materialized (relying on ReusedExchange instead was measured
    // 3.7x slower on the bench graph, TriangleCount scaladoc)
    var oe = Option.empty[DataFrame]
    val r = Peel.shrink(Vector(edges.select(col("src"), col("dst"))),
        maxRounds) { st =>
      val e = st.live.head
      oe.foreach(_.unpersist())
      oe = Some(graft.graph.Edges.orientByDegree(e).persist())
      val tri = TriangleCount.trianglesOriented(oe.get)
      // charge each triangle to its three CANONICAL edges (least/greatest:
      // degree orientation does not preserve id order)
      val charged = tri.select(
          array(
            struct(least(col("a"), col("b")).as("src"),
              greatest(col("a"), col("b")).as("dst")),
            struct(least(col("a"), col("c")).as("src"),
              greatest(col("a"), col("c")).as("dst")),
            struct(least(col("b"), col("c")).as("src"),
              greatest(col("b"), col("c")).as("dst"))).as("es"))
        .select(explode(col("es")).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val support = charged.groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("sup"))
      Vector(e.join(support, Seq("src", "dst"), "left")
        .filter(coalesce(col("sup"), lit(0L)) >= k - 2)
        .select(col("src"), col("dst")))
    }
    oe.foreach(_.unpersist())
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
