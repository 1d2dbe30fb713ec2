package graft.kernels

import graft.engine.{Checkpointer, IterationMetric, Superstep}
import graft.graph.Edges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PageRank as SpMV-style gather-scatter on the reference's BSP substrate
  * (SURVEY §2.8: B1 superstep loop + B2 message passing with combiner;
  * PageRank itself is not in the reference — README.md:5 cites it as the
  * canonical Pregel workload; standard public semantics used here):
  *
  *   rank'(v) = teleport/N + damping * ( Σ_{u→v} rank(u)/outdeg(u)
  *                                       + danglingMass/N )
  *
  * with teleport 0.15 and damping 0.85.
  *
  * Scale design (SURVEY §4.3-4.4): the link table (src, dst, odeg) is built
  * once, hash-partitioned on src and persisted; each superstep is one
  * co-partitioned join + a two-phase SALTED aggregation — contributions to a
  * hub vertex are first combined within (dst, salt) buckets, bounding any
  * single reducer's fan-in, then reduced per dst. Dangling mass is a scalar
  * aggregate collected per superstep (the reference's two-phase
  * `Aggregator` shape, `util/aggregator.hpp:12-30`). State is checkpointed
  * per superstep as (vid, rank, diff), where diff = |rank − previous rank|
  * comes out of the same row as the new rank; convergence is
  * max(diff) ≤ tol, observed by [[Superstep]] on the job that materializes
  * the state (a max is exact in any merge order). The result is (vid, rank).
  */
object PageRank {

  private val Teleport = 0.15
  private val Damping = 0.85

  final case class Result(ranks: DataFrame,
                          metrics: Seq[IterationMetric],
                          iterations: Int,
                          converged: Boolean)

  /** @param edgesDirected directed edge table (src, dst); symmetrize
    *                      upstream for undirected graphs
    * @param fixedIter     if set, run exactly this many supersteps (no
    *                      convergence test) — used by the DuckDB-oracle
    *                      parity queries
    * @param salts         >1 enables two-phase salted aggregation for hub
    *                      destinations (in-degree > hubDegree); non-hub
    *                      contributions aggregate single-phase, so the salt
    *                      costs nothing on skew-free graphs and bounds
    *                      reducer fan-in exactly where power-law hubs are
    * @param hubDegree     in-degree threshold above which a destination is
    *                      treated as a hub
    * @param personalized  if set, a (vid) seed table: the teleport (and
    *                      dangling) mass is distributed uniformly over the
    *                      seeds instead of all vertices — personalized
    *                      PageRank. The seed set is broadcast (it is small
    *                      by definition of personalization); everything
    *                      else in the superstep is unchanged.
    */
  def run(spark: SparkSession, edgesDirected: DataFrame,
          tol: Double = 1e-6,
          maxIter: Int = 100,
          fixedIter: Option[Int] = None,
          salts: Int = 1,
          hubDegree: Long = 100000L,
          weightCol: Option[String] = None,
          symmetric: Boolean = false,
          ckpt: Option[Checkpointer] = None,
          resume: Boolean = false,
          personalized: Option[DataFrame] = None,
          initRanks: Option[DataFrame] = None): Result = {

    // weighted variant (reference multi_attr format, per-edge doubles —
    // SURVEY §1.2): contribution = rank * w / Σ_out w; unweighted = w ≡ 1
    val w = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val e = edgesDirected.select(col("src"), col("dst"), w.as("w"))
    // pre-loop edge cache: the raw edge view is consumed 2-4× below
    // (out-degree agg, links build, and the vertex union on directed
    // graphs). Callers handing a LAZY derived graph (the co-occurrence
    // self-join) would re-derive it per consumer; callers that already
    // persisted their table (the bench legs) skip the duplicate cache.
    val eCached = edgesDirected.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE
    if (!eCached) e.persist()
    // persisted: consumed by the links build, the vertex table, and the
    // dangling checks — without the cache each consumer re-aggregates the
    // full |E|-row input (round-2 pre-loop ran three separate edge passes)
    val outDeg = e.groupBy("src").agg(sum(col("w")).as("odeg")).persist()
    // SHUFFLE_HASH build on the |V|-row degree side: a sort-merge join
    // here sorts the full |E|-row edge view once in the pre-loop, and the
    // join's own hash(src) output partitioning already IS the layout the
    // per-superstep state join needs — the former explicit
    // repartition(src) on top re-exchanged all |E| rows a second time
    // for the same partitioning (guide §2.4: remove shuffles outright)
    val links = e.join(outDeg.hint("SHUFFLE_HASH"), "src")
      .select(col("src"), col("dst"), (col("w") / col("odeg")).as("share"))
      .persist()
    // symmetric graphs: every vertex has out-edges, so the out-degree keys
    // ARE the vertex set (skips a |2E|-row union+distinct) and nothing
    // dangles
    // hash-partitioned on vid BEFORE persist: the per-superstep left join
    // (vertices with no inbound contribution) then reads the cached
    // partitioning instead of re-exchanging |V| rows every superstep
    val verts = (if (symmetric) outDeg.select(col("src").as("vid"))
                 else e.select(col("src").as("vid"))
                   .union(e.select(col("dst").as("vid"))).distinct())
      .repartition(col("vid"))
      .persist()
    val n = verts.count()
    val hasDangling = !symmetric && outDeg.count() < n
    // the dangling vertex set is loop-invariant: precompute it ONCE (the
    // round-1 version ran an |E|-row distinct + anti-join inside every
    // superstep — a full extra edge pass per iteration at scale)
    val danglingVids =
      if (!hasDangling) None
      else Some(verts.join(outDeg.select(col("src").as("vid")),
        Seq("vid"), "left_anti").persist())
    // per-vertex teleport distribution `tele`: uniform 1/n (standard), or
    // 1/|S| on the seed set and 0 elsewhere (personalized). rank0 = tele,
    // and every superstep's additive term is teleport·tele +
    // damping·danglingMass·tele — the uniform case folds back to the
    // constant-add plan (Catalyst constant-folds the literal)
    val pers = personalized.map(_.select(col("vid")).distinct().persist())
    val nS = pers.map(_.count()).getOrElse(n)
    val vertsT = pers match {
      case None => verts.withColumn("tele", lit(1.0 / n))
      case Some(p) =>
        verts.join(broadcast(p.withColumn("is_seed", lit(1))),
            Seq("vid"), "left")
          .withColumn("tele",
            when(col("is_seed").isNotNull, lit(1.0 / nS)).otherwise(lit(0.0)))
          .select(col("vid"), col("tele")).persist()
    }
    // hub destinations (in-degree above threshold) — tiny by definition of
    // power laws (collected once, capped, shipped as an InSet literal so
    // the per-superstep plan needs NO extra join or scan). Computed from
    // the PERSISTED link table, so this collect doubles as the pre-loop
    // materialization of the links cache (one pass serves both; round 2
    // ran an extra full aggregation over the raw edge input here)
    val hubShortcut = symmetric && weightCol.isEmpty
    val hubIds: Array[Long] =
      if (salts <= 1) Array.empty
      else if (hubShortcut)
        // symmetric unweighted graph: in-degree == out-degree, so the
        // hub set falls out of the persisted outDeg table — saves a full
        // |E|-row aggregation pass over links in the pre-loop (same ids:
        // odeg is the exact 1.0-per-edge count as a double)
        outDeg.filter(col("odeg") > hubDegree.toDouble)
          .orderBy(col("odeg").desc).limit(100000)
          .select(col("src")).collect().map(_.getLong(0))
      else links.groupBy(col("dst").as("vid"))
        .agg(count(lit(1)).as("indeg"))
        .filter(col("indeg") > hubDegree)
        .orderBy(col("indeg").desc).limit(100000)
        .collect().map(_.getLong(0))
    // force the link cache in the PRE-LOOP phase even when the hub scan
    // didn't: superstep 1's metric then measures a superstep, not the
    // cache build, and the bench can attribute pre-loop wall separately
    if (salts <= 1 || hubShortcut) links.count()
    // the raw edge view is not read after the pre-loop (links/verts/
    // outDeg/danglingVids are all persisted or derived from caches)
    if (!eCached) e.unpersist()

    // warm start (incremental recompute): seed from a prior run's ranks
    // where available — e.g. re-running after a catalog drill-down
    // deletion resumes from the pre-deletion fixpoint instead of uniform,
    // cutting supersteps-to-convergence on mostly-unchanged graphs.
    // Vertices absent from the seed (newly added) fall back to tele.
    def init: DataFrame = initRanks match {
      case None =>
        vertsT.select(col("vid"), col("tele").as("rank"), lit(0.0).as("diff"))
      case Some(r0) =>
        vertsT.select(col("vid"), col("tele"))
          .join(r0.select(col("vid"), col("rank").as("r0")),
            Seq("vid"), "left")
          .select(col("vid"),
            coalesce(col("r0"), col("tele")).as("rank"), lit(0.0).as("diff"))
    }

    def step(ranks: DataFrame): DataFrame = {
      val danglingMass = danglingVids match {
        case None => 0.0
        case Some(dv) =>
          ranks.join(dv.hint("SHUFFLE_HASH"), Seq("vid"), "left_semi")
            .agg(sum("rank")).first() match {
              case r if r.isNullAt(0) => 0.0
              case r                  => r.getDouble(0)
            }
      }
      // state is the SHUFFLE_HASH build side — the |E|-row link table is
      // probed, never sorted (SMJ would re-sort it per superstep)
      val state = ranks.hint("SHUFFLE_HASH")
      val contribs = links.join(state, links("src") === state("vid"))
        .select(links("dst").as("vid"), (col("rank") * col("share")).as("c"))
      val summed =
        if (hubIds.nonEmpty) {
          // two-phase: hub-bound contributions spread over `salts` reducer
          // buckets (bounded fan-in); everything else keeps salt 0, so the
          // first shuffle is the same size as the unsalted plan and the
          // second aggregates only ~|V| + |hubs|·salts rows
          val salt = when(col("vid").isInCollection(hubIds),
            Edges.saltOf(col("vid"), salts)).otherwise(lit(0L))
          contribs.withColumn("salt", salt)
            .groupBy("vid", "salt").agg(sum("c").as("c"))
            .groupBy("vid").agg(sum("c").as("s"))
        } else contribs.groupBy("vid").agg(sum("c").as("s"))
      // vertices receiving no contribution still get teleport + dangling
      // share; both scale with the per-vertex teleport column. The uniform
      // case keeps the SCALAR form teleport/n + damping·dm/n — the exact
      // IEEE evaluation order the recursive-CTE oracles replay; the
      // algebraically equal (teleport + damping·dm)·(1/n) can differ by
      // 1 ulp and flake a round(…,8) hash boundary
      val addTerm =
        if (pers.isEmpty) lit(Teleport / n + Damping * danglingMass / n)
        else (lit(Teleport) + lit(Damping * danglingMass)) * col("tele")
      // the previous state holds every vertex, so the new rank and its diff
      // come out of one row; read as the same (vid, rank) plan the
      // contribution join reads, both joins share one exchange of the state
      val prev = ranks.select(col("vid"), col("rank"))
      val base = if (pers.isEmpty) prev else prev.join(vertsT, Seq("vid"))
      val next = addTerm + lit(Damping) * coalesce(col("s"), lit(0.0))
      base.join(summed.hint("SHUFFLE_HASH"), Seq("vid"), "left")
        .select(col("vid"), next.as("rank"), abs(next - col("rank")).as("diff"))
    }

    val (state, metrics, it, done) = Superstep.run(
      spark, "pagerank", init, step, max(col("diff")),
      (_, d, _) => fixedIter.isEmpty && d <= tol, fixedIter.getOrElse(maxIter),
      ckpt, resume)
    links.unpersist(); verts.unpersist(); outDeg.unpersist()
    danglingVids.foreach(_.unpersist())
    pers.foreach(_.unpersist())
    if (pers.isDefined) vertsT.unpersist()
    Result(state.select(col("vid"), col("rank")), metrics, it,
      done || fixedIter.isDefined)
  }
}
