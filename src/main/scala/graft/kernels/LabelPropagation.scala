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
  *
  * The state is (vid, label, changed); the changed-label count is
  * sum(changed), observed by [[Superstep]] on the job that materializes
  * the state (a sum of longs is exact in any merge order), and the run
  * stops early when it is 0. The result is (vid, label).
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

    def init: DataFrame = Edges.vertexIds(edges)
      .select(col("vid"), col("vid").as("label"), lit(true).as("changed"))

    def step(labels: DataFrame): DataFrame = {
      val msgs = edges
        .join(labels.hint("SHUFFLE_HASH"), edges("src") === labels("vid"))
        .select(Seq(edges("dst").as("vid"), col("label")) ++
          weightCol.map(col): _*)
      val hist = msgs.groupBy(col("vid"), col("label"))
        .agg(weightCol.map(c => sum(col(c))).getOrElse(count(lit(1)))
          .as("cnt"))
      val mode = hist.groupBy("vid")
        .agg(max(struct(col("cnt").as("c"), (-col("label")).as("nl"))).as("m"))
      // the (vid, label) plan the message join reads: one shared exchange
      val prev = labels.select(col("vid"), col("label"))
      mode.join(prev.hint("SHUFFLE_HASH"), Seq("vid"), "left")
        .select(col("vid"), (-col("m.nl")).as("label"),
          coalesce(-col("m.nl") =!= col("label"), lit(false)).as("changed"))
    }

    val (state, metrics, iters, done) = Superstep.run(
      spark, "lp", init, step, sum(col("changed").cast("long")),
      (_, d, _) => d == 0.0, iterations, ckpt, resume)
    edges.unpersist()
    Result(state.select(col("vid"), col("label")), metrics, iters, done)
  }
}
