package graft.kernels

import graft.engine.{Frontier, Peel}
import graft.graph.Edges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Strongly connected components on a DIRECTED link graph — the
  * trim + forward-min-coloring + backward-sweep algorithm (FW-BW-Trim,
  * Hong et al. PPoPP'13 / the "coloring" SCC of Orzan's thesis),
  * re-expressed set-at-a-time so every phase is a Catalyst join+agg
  * rather than a per-vertex DFS (Tarjan is inherently sequential and
  * cannot ship on a cluster).
  *
  * Directedness is the one thing the reference's hash-min CC
  * (`partition/BPartitioner.tpp:90-165`) discards — repo dependency
  * edges (A imports B) are not symmetric, and the SCC decomposition
  * (mutual-reachability classes, e.g. circular-dependency clusters) is
  * the canonical directed analog the engine was missing.
  *
  * Phases, per outer round:
  *  1. TRIM to fixpoint: a vertex with no in-edges or no out-edges in
  *     the remaining subgraph can sit on no cycle → it is its own
  *     singleton SCC. Peeling these repeatedly dissolves the DAG
  *     portion of the graph (most of a web/link graph) in a few
  *     semi-join rounds, leaving only the cyclic core — without it the
  *     coloring phase would peel a long dependency chain one vertex
  *     per round.
  *  2. FORWARD COLORING to fixpoint: color(v) = min vertex id that
  *     reaches v — [[ConnectedComponents.run]] on the edge table NOT
  *     symmetrized (directed hash-min; its frontier messaging is sound on
  *     directed edges, since every label a vertex takes is sent along
  *     its out-edges the superstep after).
  *  3. BACKWARD SWEEP within colors: from each root r (color(r) = r),
  *     walk edges BACKWARD but only across same-colored endpoints; the
  *     vertices reached are exactly SCC(r) — they reach r (backward
  *     path = forward path to r) and r reaches them (their color says
  *     the min-reacher is r... r reaches everything it colors).
  *     Every root's sweep runs in the SAME [[graft.engine.Frontier]]
  *     walk (the root set is a DataFrame, not a loop over roots).
  *  4. The identified SCCs leave the graph; repeat on the remainder.
  *     Each round removes at least every root's SCC (the global min of
  *     every weak component is always a root), so the round count is
  *     bounded by the longest chain of nested SCC "layers" — small in
  *     practice once TRIM eats the acyclic mass.
  *
  * Both the outer rounds and the trim rounds are [[graft.engine.Peel]]
  * loops over (vertices, edges); each emits (vid, scc_id) pieces.
  *
  * 100 TB posture: trim rounds are semi-joins on the shrinking vertex
  * set (broadcast once it fits); coloring shuffles only the remaining
  * cyclic core; no phase collects vertices to the driver.
  */
object Scc {

  /** Deterministic sha-steered orientation of an undirected canonical
    * edge table (src < dst): h = sha60("dir:src:dst") mod 3 picks
    * src→dst (h=0), dst→src (h=1), or both (h=2). Gives a reproducible
    * directed graph with non-trivial SCCs from any undirected
    * derivation, and the rule is plain SQL so DuckDB derives the exact
    * same digraph (the q75/q92 sha-replay discipline). */
  def shaDirect(edges: DataFrame, salt: String = "dir"): DataFrame = {
    val h = pmod(graft.text.Dedup.shaTokenHash60(
      concat(lit(salt + ":"), col("src").cast("string"),
        lit(":"), col("dst").cast("string"))), lit(3L))
    val fwd = edges.select(col("src"), col("dst"), h.as("h"))
    fwd.filter(col("h") =!= 1)
      .select(col("src"), col("dst"))
      .unionAll(fwd.filter(col("h") =!= 0)
        .select(col("dst").as("src"), col("src").as("dst")))
  }

  /** (vid, scc_id) for every vertex of the directed edge table;
    * scc_id = min vertex id of the strongly connected component. */
  def run(spark: SparkSession, dedges: DataFrame,
          maxRounds: Int = 60, maxSupersteps: Int = 200): DataFrame = {
    import spark.implicits._
    // materialized once: the vertex set and the edge table derive from it
    val e0 = dedges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(eager = true)
    val verts0 = e0.select(col("src").as("vid"))
      .unionAll(e0.select(col("dst").as("vid"))).distinct()
    val none = Seq.empty[(Long, Long)].toDF("vid", "scc_id")
    val r = Peel.run(Vector(verts0, e0), none, maxRounds) { st =>
      // --- 1. trim to fixpoint: no-in or no-out ⇒ singleton SCC ---
      val trim = Peel.run(st.live, st.rows, none, Int.MaxValue) { t =>
        val Vector(verts, edges) = t.live
        val both = edges.select(col("src").as("vid")).distinct()
          .join(edges.select(col("dst").as("vid")).distinct(), "vid")
        verts.join(both, Seq("vid"), "left_anti")
          .select(col("vid"), col("vid").as("scc_id"))
      }((t, dead) => Edges.withoutVertices(t.live, dead))
      if (trim.rows.last.head == 0L) trim.emitted
      else {
        // --- 2. forward min-coloring to fixpoint (directed hash-min) ---
        // every vertex left after the trim has an out-edge, so the CC
        // vertex set (edge sources) is the remaining vertex set
        val edges = trim.live(1)
        val cc = ConnectedComponents.run(spark, edges, maxSupersteps)
        require(cc.converged, s"scc coloring did not converge " +
          s"in $maxSupersteps supersteps")
        val colors = cc.components.withColumnRenamed("component", "color")
        // --- 3. backward sweep from roots within same-color region ---
        val cSrc = colors.select(col("vid").as("src"),
          col("color").as("c_src"))
        val cDst = colors.select(col("vid").as("dst"),
          col("color").as("c_dst"))
        val sameColor = edges.join(cSrc.hint("SHUFFLE_HASH"), "src")
          .join(cDst.hint("SHUFFLE_HASH"), "dst")
          .filter(col("c_src") === col("c_dst"))
          .select(col("src"), col("dst"), col("c_src").as("color"))
        val sweep = Frontier.run(sameColor,
            colors.filter(col("vid") === col("color")), Seq("vid"),
            maxSupersteps) { (e, last, _) =>
          e.join(last.hint("SHUFFLE_HASH"),
              e("dst") === last("vid") && e("color") === last("color"))
            .select(e("src").as("vid"), e("color")).distinct()
        }
        require(sweep.converged,
          s"scc backward sweep did not converge in $maxSupersteps steps")
        trim.emitted.union(sweep.reached.select(col("vid"),
          col("color").as("scc_id")))
      }
    }((st, found) => Edges.withoutVertices(st.live, found))
    require(r.rows.last.head == 0L, s"scc did not finish in $maxRounds rounds")
    r.emitted
  }
}
