package graft.kernels

import graft.engine.Peel
import graft.graph.Edges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Densest-subgraph peeling (Charikar 2000, parallel 2(1+ε) variant of
  * Bahmani–Kumar–Vassilvitskii VLDB'12 at ε=0): each round removes every
  * vertex whose degree is at most the current average (deg·|V| ≤ 2·|E| —
  * INTEGER arithmetic, no float density inside the loop), the classic
  * spam-farm / dense-core detector on web link graphs. The best round's
  * |E|/|V| is a ≥½-of-optimum density witness.
  *
  * Scale shape per round: one degree aggregation over the live canonical
  * edges (map-side combined) + anti-joins that drop the peeled vertices
  * and their edges; the two counts that steer the peel are the ones
  * [[graft.engine.Peel]] observes on the jobs that materialize the
  * survivors, so the census costs no job of its own.
  */
object Densest {

  /** Per-round census (round, n_v, n_e) for EXACTLY `rounds` peels
    * (round 0 = the input graph; converged/empty rounds repeat their
    * stats so the row count is fixed — the oracle-replayable parity
    * form, q110 discipline). Isolated survivors count in n_v (they peel
    * next round, per the induced-subgraph definition). */
  def peelCensus(spark: SparkSession, edges: DataFrame,
                 rounds: Int): DataFrame = {
    import spark.implicits._
    // materialized once: the vertex set and the edge table derive from it
    val e0 = edges.select(col("src"), col("dst")).localCheckpoint(eager = true)
    val verts0 = e0.select(col("src").as("vid"))
      .union(e0.select(col("dst"))).distinct()
    val r = Peel.run(Vector(verts0, e0), verts0.limit(0), rounds) { st =>
      val Vector(verts, e) = st.live
      val Vector(nV, nE) = st.rows
      // peel iff deg·|V| <= 2·|E| (at most average, exact); on an
      // empty/edgeless graph this peels everything — same as the oracle's
      // unrolled stage
      verts.join(Edges.degrees(Edges.symmetrize(e)), Seq("vid"), "left")
        .filter(coalesce(col("degree"), lit(0L)) * nV <= 2L * nE)
        .select(col("vid"))
    }((st, peeled) => Edges.withoutVertices(st.live, peeled))
    // a peel that stopped early (emptied, or removed nothing) repeats its
    // last census row, as the oracle's converged stages do
    (0 to rounds).map { i =>
      val Vector(nV, nE) = r.rows(math.min(i, r.rounds))
      (i.toLong, nV, nE)
    }.toDF("round", "n_v", "n_e")
  }
}
