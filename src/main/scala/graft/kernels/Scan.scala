package graft.kernels

import graft.graph.Edges
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCAN structural clustering (Xu et al. KDD'07) — clusters, hubs, and
  * outliers from STRUCTURAL similarity: two linked vertices are ε-similar
  * when their closed neighborhoods overlap strongly,
  * σ(u,v) = |N[u] ∩ N[v]| / sqrt(|N[u]|·|N[v]|) ≥ ε. A vertex with ≥ μ
  * ε-similar members of its closed neighborhood (itself included — the
  * paper counts v ∈ N_ε(v)) is a CORE; clusters are the connected
  * components of the core–core ε-edges; a non-core attached to exactly
  * one cluster is a MEMBER, to several is a HUB (the role plain community
  * detection cannot express), to none an OUTLIER. On a repo/path
  * co-occurrence graph this separates genuine library clusters from
  * aggregator nodes that merely touch many of them (the G-Miner CD app
  * family, `apps/community.cpp`, re-expressed density-first).
  *
  * Exactness: σ ≥ ε is evaluated as the integer cross-multiplication
  * com²·10⁶ ≥ epsSqPpm·|N[u]|·|N[v]| (σ ≥ 0 so squaring is monotone) —
  * no sqrt, no float, bit-replayable by a SQL oracle.
  *
  * Scale shape: the one heavy step is common-neighbor counting, which
  * is the per-edge triangle support ([[TriangleCount.support]], O(E^1.5)
  * over the degree-oriented sorted-adjacency intersection) — everything
  * after is degree joins, one hash-min component fixpoint over the (much
  * sparser) core ε-edges, and one aggregation per role. No per-seed
  * work, no quadratic candidate sets.
  */
object Scan {

  /** @param edges     canonical undirected pairs (src < dst)
    * @param epsSqPpm  ε² in ppm (160000 = ε 0.4)
    * @param mu        minimum ε-neighborhood size (closed) for a core
    * @return (vid, role core|member|hub|outlier, cluster — min core id of
    *         the attached cluster, -1 for outliers) */
  def run(spark: SparkSession, edges: DataFrame,
          epsSqPpm: Long = 160000L, mu: Int = 4): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .localCheckpoint(eager = true)
    val sym = Edges.symmetrize(e)
    val deg = Edges.degrees(sym)

    // ε-similar edges: common open neighbors per canonical edge = its
    // triangle support; closed-neighborhood overlap com = sup + 2 (u and
    // v are in both closed neighborhoods), closed degrees d+1
    val simE = TriangleCount.support(e)
      .join(deg.select(col("vid").as("src"), col("degree").as("du")), "src")
      .join(deg.select(col("vid").as("dst"), col("degree").as("dv")), "dst")
      .withColumn("com", col("sup") + lit(2L))
      .filter(col("com") * col("com") * lit(1000000L) >=
        lit(epsSqPpm) * (col("du") + 1L) * (col("dv") + 1L))
      .select(col("src"), col("dst"))
      .localCheckpoint(eager = true)

    val ssym = Edges.symmetrize(simE)
    // ε-neighborhood size, closed (self counts: σ(v,v) = 1 ≥ ε)
    val en = ssym.groupBy(col("src").as("vid"))
      .agg((count(lit(1)) + 1L).as("en"))
    val core = en.filter(col("en") >= mu).select(col("vid"))
      .localCheckpoint(eager = true)

    // clusters: hash-min CC over core–core ε-edges; isolated cores keep
    // their own id (CC only sees vertices with at least one core edge)
    val coreE = ssym
      .join(core.select(col("vid").as("src")), "src")
      .join(core.select(col("vid").as("dst")), "dst")
      .select(col("src"), col("dst"))
    val cl = core.join(
        ConnectedComponents.run(spark, coreE).components, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("component"), col("vid"))
        .as("cluster"))
      .localCheckpoint(eager = true)

    // non-core attachment: every ε-edge into a core's cluster
    val att = ssym
      .join(cl.select(col("vid").as("dst"), col("cluster")), "dst")
      .join(core.select(col("vid").as("src")), Seq("src"), "left_anti")
      .groupBy(col("src").as("vid"))
      .agg(min(col("cluster")).as("acl"),
        countDistinct(col("cluster")).as("natt"))

    Edges.degrees(sym).select(col("vid"))
      .join(cl, Seq("vid"), "left")
      .join(att, Seq("vid"), "left")
      .select(col("vid"),
        when(col("cluster").isNotNull, lit("core"))
          .when(col("natt") >= 2L, lit("hub"))
          .when(col("natt") === 1L, lit("member"))
          .otherwise(lit("outlier")).as("role"),
        coalesce(col("cluster"), col("acl"), lit(-1L)).as("cluster"))
  }
}
