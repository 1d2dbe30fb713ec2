package graft.kernels

import graft.engine.{Checkpointer, IterationMetric, Superstep}
import graft.graph.Edges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components by hash-min label propagation — the exact semantics
  * of the reference's `subG_hashmin` (`partition/BPartitioner.tpp:90-165`
  * with min-combiner `partition/BDGPartitioner.tpp:259-263`): every vertex
  * starts labeled with its own id, broadcasts its label to neighbors, keeps
  * the minimum it has seen, iterates to fixpoint. Final label = min vertex
  * id of the component.
  *
  * Each superstep is one shuffle join (labels ⋈ edges on the vertex key)
  * plus a min aggregation with automatic map-side combine (the reference's
  * combiner, for free from Catalyst partial aggregation). Converges in
  * O(diameter) supersteps — fine for co-occurrence graphs (small diameter);
  * the state is checkpointed per superstep so lineage stays O(1).
  */
object ConnectedComponents {

  final case class Result(state: DataFrame,
                          metrics: Seq[IterationMetric],
                          iterations: Int,
                          converged: Boolean) {
    /** (vid, component) — the public result shape. */
    def components: DataFrame = state.select(col("vid"), col("component"))
  }

  /** @param sym symmetric edge table (src, dst) — both directions present
    * @param initState optional warm-start labels (vid, component) from a
    *   previous run on a SUBGRAPH of `sym` (e.g. before an edge insert /
    *   threshold relaxation): vertices seed from their old component
    *   label instead of their own id, so already-collapsed regions skip
    *   straight to their old minimum and only the newly-connected
    *   frontier iterates. SAFE precondition (callers must hold it): each
    *   label is the id of a vertex inside the same NEW component — true
    *   whenever labels come from hash-min CC on a subgraph, since the
    *   old min-vid is itself a member. The fixpoint is then identical to
    *   the cold run (min vid per component); vertices absent from
    *   `initState` seed with their own id. */
  def run(spark: SparkSession, sym: DataFrame,
          maxIter: Int = 200,
          ckpt: Option[Checkpointer] = None,
          resume: Boolean = false,
          initState: Option[DataFrame] = None): Result = {
    // hash-partition the persisted edge table on the join key: every
    // superstep's state join then reuses this partitioning instead of
    // re-shuffling |E| rows per iteration (state is already hash(vid)-
    // partitioned by the previous aggregation)
    val edges = sym.select(col("src"), col("dst"))
      .repartition(col("src")).persist()

    // state carries a per-vertex `changed` flag (also the frontier), so
    // the changed count is an aggregate over the state's own rows
    def init: DataFrame = {
      val ids = Edges.vertexIds(edges)
      initState match {
        case None =>
          ids.select(col("vid"), col("vid").as("component"),
            lit(true).as("changed"))
        case Some(st) =>
          ids.join(st.select(col("vid"), col("component").as("c0")),
              Seq("vid"), "left")
            .select(col("vid"),
              least(col("vid"), coalesce(col("c0"), col("vid")))
                .as("component"),
              lit(true).as("changed"))
      }
    }

    def step(labels: DataFrame): DataFrame = {
      // FRONTIER messaging: only vertices whose label CHANGED last
      // superstep send. Sound for hash-min because labels are monotone
      // non-increasing and every label a vertex ever held has already
      // been delivered to its neighbors the superstep after it was
      // acquired — so min over frontier messages equals min over all
      // messages, every superstep's state (and the iteration count) is
      // bit-identical to all-vertices messaging, and the per-superstep
      // shuffle shrinks from |E| to the frontier's incident edges
      // (hash-min fronts collapse after the first 2-3 supersteps).
      //
      // SHUFFLE_HASH hints: the state side is the hash build side, so the
      // |E|-row probe side is never sorted (a sort-merge join re-sorts the
      // persisted edge table EVERY superstep — measured 5x slower)
      val frontier = labels.filter(col("changed"))
      val msgs = edges
        .join(frontier.hint("SHUFFLE_HASH"), edges("src") === frontier("vid"))
        .select(edges("dst").as("vid"), col("component"))
      val mins = msgs.groupBy("vid").agg(min("component").as("m"))
      labels.select(col("vid"), col("component"))
        .join(mins.hint("SHUFFLE_HASH"), Seq("vid"), "left")
        .select(col("vid"),
          least(col("component"), coalesce(col("m"), col("component")))
            .as("component"),
          (col("m").isNotNull && col("m") < col("component")).as("changed"))
    }

    // changed count = sum(changed), observed on the job that materializes
    // the state (a sum of longs is exact in any merge order)
    val (state, metrics, iters, done) = Superstep.run(
      spark, "cc", init, step, sum(col("changed").cast("long")),
      (_, d, _) => d == 0.0, maxIter, ckpt, resume)
    edges.unpersist()
    Result(state, metrics, iters, done)
  }
}
