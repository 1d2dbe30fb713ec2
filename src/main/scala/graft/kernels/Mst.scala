package graft.kernels

import graft.engine.Peel
import graft.graph.Edges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimum spanning forest by Borůvka contraction — the canonical
  * O(log V)-round distributed MST (GHS / Borůvka; the algorithm behind
  * every BSP MST since Pregel), absent from the reference's app set but
  * squarely in its workload class: the minimum-weight backbone of a
  * weighted link graph (e.g. strongest-co-occurrence skeleton used for
  * graph sparsification before expensive mining).
  *
  * Per [[graft.engine.Peel]] round, set-at-a-time, over the live CROSS
  * edges (component-crossing, each carrying its endpoints' components):
  *  1. every component picks its MINIMUM incident cross edge: explode
  *     each edge to both sides, one min-struct aggregation (weights are
  *     unique, so `min(struct(w, src, dst))` is deterministic and
  *     map-side combined — A1 two-phase discipline); the picks are the
  *     round's forest piece;
  *  2. the touched components merge by [[ConnectedComponents.run]] on
  *     the selected (ca, cb) pairs — a component-COUNT-sized graph, not
  *     a vertex-sized one;
  *  3. the cross edges relabel through the resulting map (two
  *     component-sized joins) and drop the ones that became internal.
  * Components at least halve per round → ≤ log2(V) rounds.
  *
  * Weights: sha60("w:src:dst") — unique modulo a 2^-60-per-pair
  * collision, making the MSF unique, so Kruskal replayed edge-by-edge in
  * a DuckDB recursive CTE (list-carried union-find, q99) must produce
  * the EXACT same edge set as this Borůvka — two different algorithms
  * agreeing on one answer is the strongest oracle in the suite.
  *
  * 100 TB posture: the contraction graph shrinks geometrically (round k
  * has ≤ V/2^k components), cross-edge filtering drops intra-component
  * edges from the working set each round, and nothing vertex-sized ever
  * reaches the driver.
  */
object Mst {

  /** Deterministic unique edge weights: sha60("w:src:dst"). */
  def shaWeights(edges: DataFrame, salt: String = "w"): DataFrame =
    edges.select(col("src"), col("dst"),
      graft.text.Dedup.shaTokenHash60(
        concat(lit(salt + ":"), col("src").cast("string"),
          lit(":"), col("dst").cast("string"))).as("w"))

  /** Minimum spanning forest edges (src, dst, w) of the weighted
    * canonical edge table (src < dst, unique weights). */
  def boruvka(spark: SparkSession, weighted: DataFrame,
              maxRounds: Int = 40, maxSupersteps: Int = 100): DataFrame = {
    import spark.implicits._
    // the cross (component-crossing) edges, each with its endpoints'
    // current components (ca, cb); every vertex starts as its own
    val cross = weighted.select(col("src"), col("dst"), col("w")).distinct()
      .select(col("src"), col("dst"), col("w"), col("src").as("ca"),
        col("dst").as("cb"))
      .filter(col("ca") =!= col("cb"))
    val none = Seq.empty[(Long, Long, Long, Long, Long)]
      .toDF("w", "src", "dst", "ca", "cb")
    val r = Peel.run(Vector(cross), none, maxRounds) { st =>
      // min incident cross edge per component (both sides vote)
      val cross = st.live.head
      val e = struct(col("w"), col("src"), col("dst"),
        col("ca"), col("cb"))
      cross.select(col("ca").as("c"), e.as("e"))
        .unionAll(cross.select(col("cb").as("c"), e.as("e")))
        .groupBy(col("c")).agg(min(col("e")).as("e"))
        .select(col("e.w").as("w"), col("e.src").as("src"),
          col("e.dst").as("dst"), col("e.ca").as("ca"),
          col("e.cb").as("cb"))
        .distinct()
    } { (st, sel) =>
      // contract: the selected edges are a forest plus 2-cycles over
      // COMPONENT ids; hash-min CC labels each merged tree by its min id
      val cc = ConnectedComponents.run(spark, Edges.symmetrize(
        sel.select(col("ca").as("src"), col("cb").as("dst"))), maxSupersteps)
      require(cc.converged,
        s"mst contraction did not converge in $maxSupersteps supersteps")
      val lbl = cc.components.hint("SHUFFLE_HASH")
      Vector(st.live.head
        .join(lbl.select(col("vid").as("la"), col("component").as("na")),
          col("ca") === col("la"), "left")
        .join(lbl.select(col("vid").as("lb"), col("component").as("nb")),
          col("cb") === col("lb"), "left")
        .select(col("src"), col("dst"), col("w"),
          coalesce(col("na"), col("ca")).as("ca"),
          coalesce(col("nb"), col("cb")).as("cb"))
        .filter(col("ca") =!= col("cb")))
    }
    require(r.rows.last.head == 0L, s"mst did not finish in $maxRounds rounds")
    r.emitted.select(col("src"), col("dst"), col("w"))
  }
}
