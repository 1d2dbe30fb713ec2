package graft.kernels

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimum spanning forest by Borůvka contraction — the canonical
  * O(log V)-round distributed MST (GHS / Borůvka; the algorithm behind
  * every BSP MST since Pregel), absent from the reference's app set but
  * squarely in its workload class: the minimum-weight backbone of a
  * weighted link graph (e.g. strongest-co-occurrence skeleton used for
  * graph sparsification before expensive mining).
  *
  * Per round, set-at-a-time:
  *  1. label every edge with its endpoints' current components and keep
  *     the CROSS edges (component-crossing) — two shuffle-hash joins;
  *  2. every component picks its MINIMUM incident cross edge: explode
  *     each edge to both sides, one min-struct aggregation (weights are
  *     unique, so `min(struct(w, src, dst))` is deterministic and
  *     map-side combined — A1 two-phase discipline);
  *  3. the selected edges join the forest; the touched components merge
  *     by inlined hash-min on the selected (ca, cb) pairs — a component-
  *     COUNT-sized graph, not a vertex-sized one — and the vertex table
  *     relabels through the resulting map with one broadcast-sized join.
  * Components at least halve per round → ≤ log2(V) rounds; every loop
  * materializes once per superstep and counts arithmetic deltas only
  * (the [[Scc]] trim / [[graft.engine.Frontier]] probe cadence).
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
    val we = weighted.select(col("src"), col("dst"), col("w")).distinct()
      .localCheckpoint(eager = true)
    var comp = we.select(col("src").as("vid"))
      .unionAll(we.select(col("dst").as("vid"))).distinct()
      .select(col("vid"), col("vid").as("comp"))
      .localCheckpoint(eager = true)
    val forest = Seq.newBuilder[DataFrame]
    var round = 0
    var crossLeft = 1L
    while (crossLeft > 0 && round < maxRounds) {
      round += 1
      // 1. cross edges under the current labeling
      val cs = comp.select(col("vid").as("src"), col("comp").as("ca"))
      val cd = comp.select(col("vid").as("dst"), col("comp").as("cb"))
      val cross = we.join(cs.hint("SHUFFLE_HASH"), "src")
        .join(cd.hint("SHUFFLE_HASH"), "dst")
        .filter(col("ca") =!= col("cb"))
        .select(col("src"), col("dst"), col("w"), col("ca"), col("cb"))
        .localCheckpoint(eager = true)
      crossLeft = cross.count()
      if (crossLeft > 0) {
        // 2. min incident cross edge per component (both sides vote)
        val e = struct(col("w"), col("src"), col("dst"),
          col("ca"), col("cb"))
        val sel = cross.select(col("ca").as("c"), e.as("e"))
          .unionAll(cross.select(col("cb").as("c"), e.as("e")))
          .groupBy(col("c")).agg(min(col("e")).as("e"))
          .select(col("e.w").as("w"), col("e.src").as("src"),
            col("e.dst").as("dst"), col("e.ca").as("ca"),
            col("e.cb").as("cb"))
          .distinct()
          .localCheckpoint(eager = true)
        forest += sel.select(col("src"), col("dst"), col("w"))
        // 3. contract: hash-min over the selected component pairs (the
        // selected graph is forest+2-cycles over COMPONENT ids — tiny)
        var labels = sel.select(col("ca").as("c"))
          .unionAll(sel.select(col("cb").as("c"))).distinct()
          .select(col("c"), col("c").as("lbl"))
          .localCheckpoint(eager = true)
        val symSel = sel.select(col("ca").as("a"), col("cb").as("b"))
          .unionAll(sel.select(col("cb").as("a"), col("ca").as("b")))
        var changed = 1L
        var steps = 0
        while (changed > 0 && steps < maxSupersteps) {
          steps += 1
          val mins = symSel
            .join(labels.hint("SHUFFLE_HASH"), symSel("a") === labels("c"))
            .select(col("b").as("c"), col("lbl"))
            .groupBy("c").agg(min("lbl").as("m"))
          val next = labels
            .join(mins.hint("SHUFFLE_HASH"), Seq("c"), "left")
            .select(col("c"),
              least(col("lbl"), coalesce(col("m"), col("lbl"))).as("lbl"),
              (col("m").isNotNull && col("m") < col("lbl")).as("ch"))
            .localCheckpoint(eager = true)
          changed = next.filter(col("ch")).count()
          labels = next.select(col("c"), col("lbl"))
        }
        require(changed == 0,
          s"mst contraction did not converge in $maxSupersteps steps")
        comp = comp
          .join(labels.hint("SHUFFLE_HASH"),
            comp("comp") === labels("c"), "left")
          .select(col("vid"),
            coalesce(col("lbl"), col("comp")).as("comp"))
          .localCheckpoint(eager = true)
      }
    }
    require(crossLeft == 0, s"mst did not finish in $maxRounds rounds")
    val ps = forest.result()
    if (ps.isEmpty) {
      import spark.implicits._
      Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    } else ps.reduce(_ unionAll _).localCheckpoint(eager = true)
  }
}
