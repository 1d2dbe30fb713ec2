package graft.kernels

import graft.engine.{Checkpointer, IterationMetric, Superstep}
import graft.graph.Edges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synchronous label propagation: every vertex starts with its own id as
  * label; each superstep it adopts the MODE of its neighbors' labels, ties
  * broken by the smallest label. Deterministic by construction (SURVEY
  * §7.4.3) — the reference's hash-min pass (`partition/BPartitioner.tpp:
  * 90-165`) is the min-label special case of this kernel.
  *
  * The mode-with-min-tiebreak is pure builtin aggregation (two-phase, per
  * SURVEY §7.3's preferred fallback): count labels per (vid, label), then
  * per vid take max of struct(count, -label) — lexicographic struct
  * ordering gives greatest count, then smallest label. Both aggregations
  * get map-side partial combine from Catalyst.
  */
object LabelPropagation {

  final case class Result(labels: DataFrame,
                          metrics: Seq[IterationMetric],
                          iterations: Int,
                          converged: Boolean)

  /** @param sym symmetric edge table (src, dst)
    * @param iterations fixed superstep count (synchronous LP need not
    *        converge — fixed budget keeps results well-defined); stops
    *        early at a fixpoint
    * @param weightCol if set, the adopted label maximizes the SUM of this
    *        per-edge weight instead of the neighbor count — communities
    *        follow co-occurrence STRENGTH, not just adjacency (the
    *        multi_attr-format analog, SURVEY §1.2). Integer weights keep
    *        every aggregate exact, so fixed-round runs hash-match a SQL
    *        replay; count ≡ Σ weight 1. */
  def run(spark: SparkSession, sym: DataFrame,
          iterations: Int,
          ckpt: Option[Checkpointer] = None,
          resume: Boolean = false,
          weightCol: Option[String] = None): Result = {
    // hash-partition the persisted edge table on the join key: every
    // superstep's state join then reuses this partitioning instead of
    // re-shuffling |E| rows per iteration (state is already hash(vid)-
    // partitioned by the previous aggregation)
    val edges = sym.select((Seq("src", "dst") ++ weightCol).map(col): _*)
      .repartition(col("src")).persist()

    def init: DataFrame =
      Edges.vertexIds(edges).select(col("vid"), col("vid").as("label"))

    def step(labels: DataFrame): DataFrame = {
      val msgs = edges
        .join(labels.hint("SHUFFLE_HASH"), edges("src") === labels("vid"))
        .select(Seq(edges("dst").as("vid"), col("label")) ++
          weightCol.map(col): _*)
      val hist = msgs.groupBy(col("vid"), col("label"))
        .agg(weightCol.map(c => sum(col(c))).getOrElse(count(lit(1)))
          .as("cnt"))
      hist.groupBy("vid")
        .agg(max(struct(col("cnt").as("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("vid"), (-col("m.nl")).as("label"))
    }

    def delta(prev: DataFrame, next: DataFrame): Double =
      next.as("n").join(prev.as("p"), "vid")
        .filter(col("n.label") =!= col("p.label")).count().toDouble

    // countRows=false: the state is already materialized eagerly by the
    // checkpoint, no query consumes LP's rows metric, and the count job
    // costs a driver round-trip per superstep
    val (state, metrics, iters, done) = Superstep.run(
      spark, "lp", init, step, delta, _ == 0.0, iterations, ckpt, resume,
      countRows = false)
    edges.unpersist()
    Result(state, metrics, iters, done)
  }
}
