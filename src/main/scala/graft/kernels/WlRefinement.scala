package graft.kernels

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Superstep
import graft.graph.Edges
import graft.text.Dedup

/** 1-dimensional Weisfeiler–Leman color refinement — canonical
  * per-vertex structural fingerprints (Weisfeiler & Leman 1968; the
  * "WL subtree" feature map of Shervashidze et al., JMLR 2011). After
  * r rounds two vertices share a color iff their depth-r neighborhood
  * trees are isomorphic, which makes the colors the standard cheap
  * structural-role feature for GNN pipelines and a subgraph-dedup key.
  *
  * Set-at-a-time formulation: a round is ONE edge join + TWO
  * aggregations. The refinement input is the COUNTED multiset of
  * neighbor colors — per-(vertex, color) counts first (map-side
  * combinable, so a hub's shuffle volume is its DISTINCT neighbor-color
  * count, not its degree), then the sorted "color:count" encoding —
  * the same two-phase-aggregation discipline as A1. Colors are 60-bit
  * sha-derived hashes ([[Dedup.shaTokenHash60]]) so a DuckDB oracle
  * replays every round bit-exactly; the initial color is the degree.
  */
object WlRefinement {

  /** (vid, wl_color, class_size) after `rounds` refinements over the
    * symmetric edge set. class_size is the final color class's vertex
    * count — 1 means the vertex is structurally unique at depth
    * `rounds`. */
  def colors(sym: DataFrame, rounds: Int): DataFrame = {
    // persist the edge view for the loop: the degree init plus every
    // round's multiset join probe it — a lazy derived caller graph
    // (the co-occurrence self-join) would otherwise be re-derived
    // rounds+1 times
    val e = sym.select(col("src"), col("dst")).persist()
    // each round reads the previous colors twice (multiset build + the
    // rehash join) — one Superstep round each, so lineage is truncated
    // per round (without it the final plan re-reads the base edges
    // 2^rounds times)
    def refine(c: DataFrame): DataFrame = {
      val counted = e
        .join(c.withColumnRenamed("vid", "src"), "src")
        .groupBy(col("dst"), col("color"))
        .agg(count(lit(1)).as("n"))
      // struct sort => numeric color order (colors are distinct per
      // vertex here, so the trailing n never decides a tie)
      val enc = counted.groupBy(col("dst").as("vid"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("color"), col("n")))),
          s => concat(s.getField("color").cast("string"), lit(":"),
            s.getField("n").cast("string"))), ",").as("enc"))
      c.join(enc, "vid")
        .select(col("vid"), Dedup.shaTokenHash60(
          concat(col("color").cast("string"), lit("|"), col("enc")))
          .as("color"))
    }
    val (c, _, _, _) = Superstep.run(sym.sparkSession, "wl_refinement",
      Edges.degrees(e)
        .select(col("vid"), col("degree").cast("long").as("color")),
      refine, lit(0), (_, _, _) => false, rounds)
    e.unpersist() // c is checkpointed; the final joins never re-read e
    val sizes = c.groupBy(col("color"))
      .agg(count(lit(1)).as("class_size"))
    c.join(sizes, "color")
      .select(col("vid"), col("color").as("wl_color"), col("class_size"))
  }
}
