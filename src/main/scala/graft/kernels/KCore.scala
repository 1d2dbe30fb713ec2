package graft.kernels

import graft.engine.{IterationMetric, Peel, Superstep}
import graft.graph.Edges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling: repeatedly remove vertices
  * with (induced) degree < k until fixpoint; the survivors are the k-core.
  *
  * This is the community-density primitive behind the reference's CD
  * application (its community definition requires every member to have
  * ≥ K-1 in-community neighbors — `apps/community.cpp:481`, i.e. a k-clique
  * relaxation); peeling is the same BSP substrate as CC (B1: superstep
  * loop, convergence = no vertex removed).
  *
  * Each superstep: two semi-joins (edge survives iff both endpoints do) +
  * a degree count — all shuffles on the vertex key; state (surviving
  * vertices + degrees) is checkpointed, so lineage stays O(1).
  */
object KCore {

  /** FULL coreness decomposition (every vertex's core number, not one
    * fixed k) by h-index iteration — Lü, Chen, Zhang & Zhou, "Vital
    * nodes identification in complex networks" / the H-operator of
    * their 2016 Nature Communications paper: c_0 = degree,
    * c_{t+1}(v) = H-index of its neighbors' c_t, monotonically
    * non-increasing and convergent to the exact core number. Unlike
    * sequential peeling (inherently ordered), every superstep is one
    * edge join + one per-vertex window (partition = neighbor list,
    * bounded by max degree) + one max(least(c, rank)) aggregate —
    * fully set-at-a-time, O(E) per round, checkpoint-truncated state.
    * `iters` fixes the round count for oracle replay (staged SQL);
    * None runs to the fixpoint (= exact coreness; KernelSpec checks
    * it against brute peeling). Output (vid, c). */
  def coreness(spark: SparkSession, sym: DataFrame,
               iters: Option[Int] = None,
               maxIter: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = sym.select(col("src"), col("dst"))
      .repartition(col("src")).persist()
    val w = Window.partitionBy("vid").orderBy(col("c").desc)
    // state carries a per-vertex `changed` flag, so the changed count is
    // an aggregate over the state's own rows, observable on the job that
    // materializes it
    def init: DataFrame = Edges.degrees(e)
      .select(col("vid"), col("degree").as("c"), lit(true).as("changed"))
    def step(prev: DataFrame): DataFrame = {
      val h = e.join(prev.hint("SHUFFLE_HASH"), e("src") === prev("vid"))
        .select(e("dst").as("vid"), col("c"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .groupBy("vid").agg(max(least(col("c"), col("rn"))).as("h"))
      // the (vid, c) plan the edge join reads: one shared exchange
      h.join(prev.select(col("vid"), col("c")).hint("SHUFFLE_HASH"),
          Seq("vid"), "left")
        .select(col("vid"), col("h").as("c"),
          coalesce(col("h") =!= col("c"), lit(false)).as("changed"))
    }
    val (state, _, _, done) = Superstep.run(spark, "coreness", init, step,
      sum(col("changed").cast("long")), (_, d, _) => iters.isEmpty && d == 0.0,
      iters.getOrElse(maxIter))
    e.unpersist()
    require(iters.isDefined || done,
      s"coreness did not converge in $maxIter h-index rounds")
    state.select(col("vid"), col("c"))
  }

  /** s-core (weighted k-core — Eidsaa & Almaas, PRE 2013): peel vertices
    * whose STRENGTH (sum of incident weights) is below `s` until
    * fixpoint; the natural core notion on weighted link graphs, where a
    * vertex with two weight-10 edges is more embedded than one with five
    * weight-1 edges. Same peel shape as [[run]] (one strength agg + two
    * semi-joins per [[graft.engine.Peel]] round).
    * `maxRounds` fixes the round count for oracle-parity replay (the
    * fixpoint path is spec-covered). Returns (vid, strength) over the
    * surviving edge set — after a capped run, strengths are as of the
    * last completed round, exactly what the staged oracle computes.
    * @param weighted canonical undirected (src, dst, weight) */
  def sCore(weighted: DataFrame, s: Long,
            maxRounds: Int = Int.MaxValue): DataFrame = {
    def symW(e: DataFrame): DataFrame =
      e.union(e.select(col("dst").as("src"), col("src").as("dst"),
        col("weight")))
    def strengths(e: DataFrame): DataFrame =
      symW(e).groupBy(col("src").as("vid"))
        .agg(sum(col("weight")).as("strength"))
    val r = Peel.shrink(Vector(weighted.select(col("src"), col("dst"),
        col("weight"))), maxRounds) { st =>
      val e = st.live.head
      val keep = strengths(e).filter(col("strength") >= s)
        .select(col("vid"))
      Vector(e
        .join(keep.withColumnRenamed("vid", "src").hint("SHUFFLE_HASH"),
          Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("vid", "dst").hint("SHUFFLE_HASH"),
          Seq("dst"), "left_semi")
        // the Seq-key joins move their key to column 0; restore the
        // canonical order symW's positional union depends on
        .select(col("src"), col("dst"), col("weight")))
    }
    strengths(r.live.head)
  }

  /** Onion decomposition (Hébert-Dufresne, Grochow & Allard, Scientific
    * Reports 2016): the peel SCHEDULE of k-core peeling. Layer i holds
    * the vertices removed in round i when all vertices of induced degree
    * < k are deleted simultaneously; vertices still standing after
    * `rounds` get layer 0 (the deep not-yet-peeled set under a capped
    * replay — the fixpoint path is spec-covered). Richer than the core
    * number alone: within one core, low layers are the periphery and
    * high layers the center, which is exactly the curriculum/centrality
    * signal a link-graph pipeline wants per repo node.
    *
    * A vertex whose induced degree drops to 0 must still be peeled, so
    * the surviving VERTEX set is carried explicitly (an isolated
    * survivor vanishes from the induced edge table). Per
    * [[graft.engine.Peel]] round: one degree agg + one left join + three
    * anti-joins, all keyed by vid.
    * @param sym symmetric edge table
    * @return (vid, layer) for every vertex of the input graph */
  def onionLayers(spark: SparkSession, sym: DataFrame, k: Int,
                  rounds: Int): DataFrame = {
    // materialized once: the vertex set and the edge table derive from it
    val e0 = sym.select(col("src"), col("dst")).localCheckpoint(eager = true)
    val none = spark.range(0).select(col("id").as("vid"), lit(0L).as("layer"))
    val r = Peel.run(Vector(Edges.degrees(e0).select(col("vid")), e0), none,
        rounds) { st =>
      val Vector(verts, e) = st.live
      verts.join(Edges.degrees(e), Seq("vid"), "left_outer")
        .filter(coalesce(col("degree"), lit(0L)) < k)
        .select(col("vid"), lit(st.round.toLong).as("layer"))
    }((st, layer) => Edges.withoutVertices(st.live, layer))
    // a peel stopped early stands: later rounds would remove nothing
    r.emitted.union(r.live.head.select(col("vid"), lit(0L).as("layer")))
  }

  final case class Result(core: DataFrame,
                          metrics: Seq[IterationMetric],
                          iterations: Int,
                          converged: Boolean)

  /** @param sym symmetric edge table (src, dst)
    * @return surviving (vid, degree) rows of the k-core (degree = induced) */
  def run(spark: SparkSession, sym: DataFrame, k: Int,
          maxIter: Int = 100): Result = {
    // hash-partition the persisted edge table on the join key: every
    // superstep's state join then reuses this partitioning instead of
    // re-shuffling |E| rows per iteration (state is already hash(vid)-
    // partitioned by the previous aggregation)
    val edges = sym.select(col("src"), col("dst"))
      .repartition(col("src")).persist()

    def init: DataFrame =
      Edges.degrees(edges).filter(col("degree") >= k)

    def step(survivors: DataFrame): DataFrame = {
      val v = survivors.select(col("vid"))
      val induced = edges
        .join(v.withColumnRenamed("vid", "src").hint("SHUFFLE_HASH"),
          Seq("src"), "left_semi")
        .join(v.withColumnRenamed("vid", "dst").hint("SHUFFLE_HASH"),
          Seq("dst"), "left_semi")
      Edges.degrees(induced).filter(col("degree") >= k)
    }

    // peeling only ever removes vertices, so the core is reached when the
    // observed survivor count stops changing; the recorded delta is the
    // survivors' degree sum (twice the induced edge count)
    val (state, metrics, iters, done) = Superstep.run(
      spark, s"kcore$k", init, step, sum(col("degree")),
      (rows, _, prevRows) => rows == prevRows, maxIter)
    edges.unpersist()
    Result(state, metrics, iters, done)
  }
}
