package graft.kernels

import graft.graph.Edges
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Triangle counting via oriented adjacency intersection — the semantics of
  * the reference's TC kernel (`apps/trianglecount.cpp:127-163`: each vertex
  * keeps only higher neighbors, a triangle (u,i,j) is counted once at its
  * smallest corner by intersecting sorted adjacency suffixes; orientation
  * pruning at `:303-331`).
  *
  * Set-at-a-time translation: orient each edge, build sorted out-adjacency
  * arrays once, then for every oriented edge (u,v) count
  * |N⁺(u) ∩ N⁺(v)| with a codegen'd sorted-merge expression — one shuffle
  * to build `adj`, two co-partitioned joins, no iteration.
  *
  * Three entry points share that plan: [[total]] (one scalar),
  * [[perVertex]] (vid, tc) and [[support]] (src, dst, sup) — every
  * triangle consumer in `src/main` reads one of them, so the orientation,
  * the adjacency build and the cache decision live here only.
  *
  * The oriented edge table IS persisted for the duration of each call
  * (it feeds the adj aggregation and both join probes; measured on the
  * 50.5M-directed-edge bench graph, relying on ReusedExchange instead of
  * the cache made `total` 3.7x slower — the oriented subtree, itself two
  * joins over the degree table, gets recomputed per consumer) and
  * released before return: each entry point materializes its result
  * first (a single row / a localCheckpoint), so no cached blocks outlive
  * the call in a long-lived session.
  *
  * Skew (SURVEY §4.3): with degree-orientation (edges point from the lower-
  * (degree,id) endpoint to the higher) every out-adjacency is O(√E) on any
  * graph, so hub vertices cannot blow up an intersection — same total as
  * id-orientation (the triangle set is orientation-invariant) with an
  * O(E^1.5) work bound.
  */
object TriangleCount {

  /** Each oriented edge (src, dst) with `common`, a function of the sorted
    * out-adjacency arrays of its two ends (adjU, adjV): one shuffle to
    * build `adj`, two joins. The triangle triples (q07, support) and
    * intersection counts (q06) share this plan up to the last
    * projection. */
  private def overAdjacency(e: DataFrame)(
      common: (Column, Column) => Column): DataFrame = {
    val adj = Edges.adjacency(e)
    // deliberately NOT hinted SHUFFLE_HASH: probed on the 50.5M-edge bench
    // graph, building hash tables over the |V| array-valued adj rows is 3x
    // SLOWER than sort-merge (89.8 vs 30.4 s total) — the superstep
    // kernels' SHJ-always rule applies to narrow scalar state, not to
    // wide array build sides
    e.join(adj.withColumnRenamed("src", "u"), e("src") === col("u"))
      .select(e("src"), e("dst"), col("adj").as("adjU"))
      .join(adj.withColumnRenamed("src", "v").withColumnRenamed("adj", "adjV"),
        col("dst") === col("v"))
      .select(col("src"), col("dst"), common(col("adjU"), col("adjV")))
  }

  /** Triangle triples (a, b, c) from a pre-materialized oriented edge
    * table: each triangle once, at the edge joining its two lowest corners. */
  private def trianglesFrom(e: DataFrame): DataFrame =
    overAdjacency(e)(array_intersect(_, _).as("common"))
      .select(col("src").as("a"), col("dst").as("b"),
        explode(col("common")).as("c"))

  /** Per-oriented-edge intersection sizes (src, dst, ncommon) — the count
    * fabric, WITHOUT materializing a row per triangle. Uses the native
    * codegen'd [[graft.functions.SortedIntersectCount]] merge loop over the
    * sorted adjacency arrays (zero allocation per row, vs the hash-set
    * materialization inside builtin `array_intersect`). */
  private def commonCountsFrom(e: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(e.sparkSession)
    overAdjacency(e)(call_function(graft.functions.GraftFunctions.Name,
      _, _).as("ncommon"))
  }

  /** Total triangle count as a one-row DataFrame (reference's CountAgg,
    * `apps/trianglecount.cpp:50-119`). Sums per-edge intersection SIZES —
    * never materializes a per-triangle row, so a clique-heavy graph with
    * billions of triangles costs O(E^1.5) intersection work and O(E)
    * rows, not O(#triangles). Eager (computes the scalar, releases the
    * cache, returns a local one-row frame). */
  def total(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val e = Edges.orientByDegree(edges).persist()
    val result = commonCountsFrom(e)
      .agg(coalesce(sum(col("ncommon")), lit(0L)).as("triangles"))
    val rows = result.collect().toSeq
    e.unpersist()
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), result.schema)
  }

  /** Per-vertex triangle participation counts (vid, tc) — vertices in at
    * least one triangle. Result is materialized (localCheckpoint) so the
    * oriented-edge cache can be released before return. */
  def perVertex(edges: DataFrame): DataFrame = {
    val e = Edges.orientByDegree(edges).persist()
    val t = trianglesFrom(e)
    val out = t.select(col("a").as("vid"))
      .union(t.select(col("b").as("vid")))
      .union(t.select(col("c").as("vid")))
      .groupBy("vid").agg(count(lit(1)).as("tc"))
      .localCheckpoint(true)
    e.unpersist()
    out
  }

  /** Per-edge triangle support (src, dst, sup) for every input edge:
    * sup = the triangles through the edge = |N(src) ∩ N(dst)|, 0 for an
    * edge in none — the quantity [[KTruss]] peels on, [[Scan]] turns into
    * structural similarity and [[GraphStats.edgeEmbeddedness]] reports.
    * Each triangle charges its three edges under their canonical names
    * (degree orientation does not keep id order); a left join back to
    * the input keeps the zero-support edges. Result is materialized
    * (localCheckpoint) so the oriented-edge cache can be released before
    * return.
    * @param edges canonical undirected pairs, src < dst, distinct */
  def support(edges: DataFrame): DataFrame = {
    val e = Edges.orientByDegree(edges).persist()
    val lo = Seq(least(col("a"), col("b")), least(col("a"), col("c")),
      least(col("b"), col("c")))
    val hi = Seq(greatest(col("a"), col("b")), greatest(col("a"), col("c")),
      greatest(col("b"), col("c")))
    val charged = trianglesFrom(e)
      .select(explode(array(lo.zip(hi).map { case (l, h) =>
        struct(l.as("src"), h.as("dst")) }: _*)).as("t"))
      .groupBy(col("t.src").as("src"), col("t.dst").as("dst"))
      .agg(count(lit(1)).as("sup0"))
    val out = edges.join(charged, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("sup0"), lit(0L)).as("sup"))
      .localCheckpoint(true)
    e.unpersist()
    out
  }
}
