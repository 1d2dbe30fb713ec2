package graft.kernels

import graft.engine.{DagFold, Superstep}
import graft.graph.Edges
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whole-graph structural statistics — the profiling operators a link-graph
  * training pipeline runs before/after filtering (density drift, hub decay).
  *
  * Both operators are single-pass aggregations over the edge fabric the
  * kernels already share: one shuffle for degrees, one for the stat. All
  * intermediate sums are INTEGER (exact, order-independent), so the results
  * hash-match a SQL oracle bit-for-bit; the only floating arithmetic is a
  * final deterministic scalar projection (reference analog: the per-app
  * aggregate telemetry in `util/type.hpp:56-96`).
  */
object GraphStats {

  /** (vid, degree, tri) for every vertex: its degree and the triangles
    * through it (0 for none), tri from the degree-oriented triangle plan
    * ([[TriangleCount.perVertex]]). */
  private def degreeTriangles(edges: DataFrame): DataFrame =
    Edges.degrees(Edges.symmetrize(edges))
      .join(TriangleCount.perVertex(edges).withColumnRenamed("tc", "tc0"),
        Seq("vid"), "left")
      .select(col("vid"), col("degree"),
        coalesce(col("tc0"), lit(0L)).as("tri"))

  /** Per-vertex local clustering coefficient (vid, degree, tc, lcc):
    * lcc = 2*tc / (degree*(degree-1)) — how close each vertex's
    * neighborhood is to a clique. Vertices with degree >= 2; tc from the
    * degree-oriented triangle plan ([[TriangleCount.perVertex]]), so the
    * heavy step stays the O(E^1.5) sorted-adjacency intersection.
    * Per-row arithmetic on exact integers — no float-sum order hazard. */
  def localClustering(edges: DataFrame): DataFrame =
    degreeTriangles(edges).filter(col("degree") >= 2)
      .select(
        col("vid"), col("degree"), col("tri").as("tc"),
        round((lit(2.0) * col("tri")) /
          (col("degree") * (col("degree") - 1)), 8).as("lcc"))

  /** Per-vertex ego-net density census (OddBall, Akoglu et al. PAKDD'10
    * intuition, integer fixed point): for each vertex, its ego network
    * has n_ego = degree+1 nodes and ego_edges = degree + tri(v) edges
    * (every edge among neighbors is a triangle through v). density_ppm =
    * ego_edges / C(n_ego, 2) in parts-per-million — 1 000 000 flags a
    * near-clique ego (spam farms / mirror clusters in a link graph),
    * values near the 2/n_ego floor flag near-stars (hubs). All integer
    * arithmetic on top of the q07 triangle plan — no float-sum hazard,
    * one extra per-row projection over [[localClustering]]'s inputs. */
  def egoDensity(edges: DataFrame): DataFrame =
    degreeTriangles(edges)
      .select(col("vid"), col("degree"), col("tri"),
        (col("degree") + col("tri")).as("ego_edges"),
        expr("2 * (degree + tri) * 1000000L div ((degree + 1) * degree)")
          .as("density_ppm"))

  /** Per-edge embeddedness (src, dst, sup, jaccard): sup = common
    * neighbors of the endpoints (= the edge's triangle support,
    * [[TriangleCount.support]], the quantity [[KTruss]] peels on),
    * jaccard = sup / (deg(u)+deg(v)-sup) — the strong-tie/weak-tie
    * feature (u and v themselves stay in the union). Every edge,
    * including sup = 0 bridges. The rest is two degree joins and one
    * exact double division per row; the degrees are counted over the
    * materialized support rows (every input edge), so the input's plan
    * runs once. */
  def edgeEmbeddedness(edges: DataFrame): DataFrame = {
    val e = TriangleCount.support(edges)
    val deg = Edges.degrees(Edges.symmetrize(e))
    e.join(deg.withColumnRenamed("vid", "src")
        .withColumnRenamed("degree", "du"), "src")
      .join(deg.withColumnRenamed("vid", "dst")
        .withColumnRenamed("degree", "dv"), "dst")
      .select(
        col("src"), col("dst"), col("sup"),
        round(col("sup").cast("double") /
          (col("du") + col("dv") - col("sup")), 8).as("jaccard"))
  }

  /** Harmonic centrality of a landmark (seed) set, bounded horizon:
    * (seed, reached, harmonic_ppm) where harmonic_ppm = Σ_v floor(1e6 /
    * dist(seed, v)) over vertices within `maxHop` (the bounded-horizon
    * landmark estimator — Eppstein–Wang 2004; exact APSP is off the table
    * at web scale and for everyone else too). Distances come from ONE
    * shared labeled multi-source BFS ([[Bfs.perSeedDistances]]) — not
    * |seeds| traversals — and the contribution is floor-ppm integral, so
    * the distributed sum is order-independent and bit-exactly replayable
    * by a recursive-CTE oracle. */
  def harmonicCentrality(sym: DataFrame, seeds: DataFrame,
                         maxHop: Int): DataFrame =
    Bfs.perSeedDistances(sym, seeds, maxHop)
      .filter(col("dist") > 0)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("reached"),
        sum(expr("1000000L div dist")).as("harmonic_ppm"))

  /** Degree assortativity (Newman's r over the directed-pair view): one
    * row (pairs, r). r > 0 — hubs link hubs; r < 0 — hubs link leaves
    * (the usual web-graph signature). Sums Sxy=Σdi·dj, Sx=Σdi, Sx2=Σdi²
    * run over the symmetric view as exact integers (one shuffle); the
    * Pearson formula is a single double projection:
    * r = (Sxy/m − μ²) / (Sx2/m − μ²), μ = Sx/m. */
  def assortativity(edges: DataFrame): DataFrame = {
    val sym = Edges.symmetrize(edges)
    val deg = Edges.degrees(sym)
    val withDeg = sym
      .join(deg.withColumnRenamed("vid", "src")
        .withColumnRenamed("degree", "di"), "src")
      .join(deg.withColumnRenamed("vid", "dst")
        .withColumnRenamed("degree", "dj"), "dst")
    val sums = withDeg.agg(
      count(lit(1)).as("pairs"),
      sum(col("di") * col("dj")).as("sxy"),
      sum(col("di")).as("sx"),
      sum(col("di") * col("di")).as("sx2"))
    val m = col("pairs").cast("double")
    val mu = col("sx").cast("double") / m
    sums.select(
      col("pairs"),
      round((col("sxy").cast("double") / m - mu * mu) /
        (col("sx2").cast("double") / m - mu * mu), 8).as("r"))
  }

  /** Newman modularity decomposition of a vertex partition: per community
    * (label, n_vertices, internal_edges, degree_sum, contribution) with
    *
    *   contribution(c) = e_c/m − (d_c/2m)²,    Q = Σ_c contribution(c)
    *
    * — the standard quality metric for a community assignment (LP labels,
    * CD cliques, or any attribute partition). The whole computation is
    * exact integers (internal-edge counts keyed by community, degree sums)
    * until one per-row double projection, so it hash-matches a SQL oracle;
    * callers sum `contribution` for the scalar Q. Vertices without a
    * label row are outside every community (their edges count toward m
    * but no e_c — the usual treatment of unlabeled background).
    *
    * Scale shape: one count, two label joins on the canonical edge table
    * (broadcast when the label table is dimension-sized), two integer
    * aggregations keyed by community. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val m = e.count()
    val deg = Edges.degrees(Edges.symmetrize(e))
    val l = labels.select(col("vid"), col("label"))
    val internal = e
      .join(l.withColumnRenamed("vid", "src")
        .withColumnRenamed("label", "ls"), "src")
      .join(l.withColumnRenamed("vid", "dst")
        .withColumnRenamed("label", "ld"), "dst")
      .filter(col("ls") === col("ld"))
      .groupBy(col("ls").as("label"))
      .agg(count(lit(1)).as("internal_edges"))
    deg.join(l, "vid")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vertices"),
        sum(col("degree")).as("degree_sum"))
      .join(internal, Seq("label"), "left")
      .select(col("label"), col("n_vertices"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"),
        round(coalesce(col("internal_edges"), lit(0L)).cast("double") / m
          - (col("degree_sum").cast("double") / (2.0 * m))
            * (col("degree_sum").cast("double") / (2.0 * m)), 8)
          .as("contribution"))
  }

  /** Per-community conductance phi(S) = cut(S) / min(vol(S), 2m-vol(S))
    * — the community-quality complement of [[modularity]] (low phi =
    * well-separated; the metric FocusCO-style goodness functions bound,
    * reference `apps/focusCO.cpp:458-485` uses the same cut/volume
    * counts). cut and vol are exact integers from ONE symmetrized
    * label-joined pass (cut(S) counts each boundary edge once per side,
    * vol(S) = sum of member degrees); the division is the only float,
    * projected per community row. Whole-graph community (vol = 2m) gets
    * NULL conductance (no outside). Scale shape: two broadcast-able
    * label joins + one aggregation — no new shuffle beyond degrees. */
  def conductance(edges: DataFrame, labels: DataFrame): DataFrame = {
    val sym = Edges.symmetrize(edges.select(col("src"), col("dst")))
    val m2 = sym.count() // = 2m
    val l = labels.select(col("vid"), col("label"))
    sym
      .join(l.withColumnRenamed("vid", "src")
        .withColumnRenamed("label", "ls"), "src")
      .join(l.withColumnRenamed("vid", "dst")
        .withColumnRenamed("label", "ld"), "dst")
      .groupBy(col("ls").as("label"))
      .agg(count(lit(1)).as("volume"),
        sum(when(col("ls") =!= col("ld"), 1L).otherwise(0L))
          .as("cut_edges"))
      .select(col("label"), col("cut_edges"), col("volume"),
        round(col("cut_edges").cast("double") /
          nullif(least(col("volume"), lit(m2) - col("volume")), lit(0L)), 8)
          .as("conductance"))
  }

  /** Weighted (motif) conductance: [[conductance]] generalized to a
    * weighted canonical edge table — with triangle support as the weight
    * this is MOTIF conductance (Benson–Gleich–Leskovec, Science 2016):
    * communities are judged by how many TRIANGLES they cut, not raw
    * edges, which is robust to the weak-tie noise of co-occurrence
    * graphs. volW(S) = member-incident weight sum, cutW(S) =
    * cross-label weight sum, phi = cutW / min(volW, totW − volW). All
    * sums are exact integers (supports/weights are counts); same
    * two-broadcast-join shape as the unweighted metric. */
  def conductanceWeighted(weighted: DataFrame, labels: DataFrame): DataFrame = {
    val symW = weighted.select(col("src"), col("dst"), col("weight"))
      .union(weighted.select(col("dst").as("src"), col("src").as("dst"),
        col("weight")))
    // empty-input guard (sum over zero rows is NULL)
    val tot = Option(symW.agg(sum(col("weight"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val l = labels.select(col("vid"), col("label"))
    symW
      .join(l.withColumnRenamed("vid", "src")
        .withColumnRenamed("label", "ls"), "src")
      .join(l.withColumnRenamed("vid", "dst")
        .withColumnRenamed("label", "ld"), "dst")
      .groupBy(col("ls").as("label"))
      .agg(sum(col("weight")).as("volume_w"),
        sum(when(col("ls") =!= col("ld"), col("weight")).otherwise(0L))
          .as("cut_w"))
      .select(col("label"), col("cut_w"), col("volume_w"),
        round(col("cut_w").cast("double") /
          nullif(least(col("volume_w"), lit(tot) - col("volume_w")),
            lit(0L)), 8)
          .as("conductance"))
  }

  /** Diameter lower bound by double sweep (Magnien-Latapy-Habib): BFS
    * from the max-degree vertex (ties: min vid), then BFS from the
    * farthest vertex found; that second eccentricity is within a factor
    * 2 of — and on real graphs usually equal to — the true diameter,
    * for TWO sweeps instead of |V| (the exact algorithm is all-pairs).
    * Disconnected graphs: the sweep stays inside the start component
    * (the giant one, for a max-degree start). One row:
    * (start_vid, far_vid, far2_vid, diameter_lb); each distance search
    * is the shared frontier-expansion [[Bfs.distances]], each argmax a
    * distributed TakeOrdered — nothing graph-sized on the driver. */
  def doubleSweep(sym: DataFrame, maxHop: Int = 20): DataFrame = {
    // one materialization serves the degree scan and both BFS sweeps
    // (each of which persists it for its own hop loop)
    val e = sym.select(col("src"), col("dst")).localCheckpoint(eager = true)
    val start = Edges.degrees(e)
      .orderBy(col("degree").desc, col("vid")).limit(1).select(col("vid"))
    val far1 = Bfs.distances(e, start, maxHop)
      .orderBy(col("dist").desc, col("vid")).limit(1)
      .localCheckpoint(eager = true)
    val far2 = Bfs.distances(e, far1.select(col("vid")), maxHop)
      .orderBy(col("dist").desc, col("vid")).limit(1)
    start.select(col("vid").as("start_vid"))
      .crossJoin(far1.select(col("vid").as("far_vid")))
      .crossJoin(far2.select(col("vid").as("far2_vid"),
        col("dist").as("diameter_lb")))
  }

  /** Rand index between two disjoint clusterings of the same vertex set
    * — the standard agreement score a pipeline computes when comparing
    * community assignments (e.g. label propagation vs connected
    * components, or two parameterizations of the same algorithm).
    * Pair-counting form, all integer: from the contingency table n_ij,
    * agreements = pairs clustered together in both + pairs separated in
    * both = C(n,2) + 2·Σ C(n_ij,2) − Σ C(a_i,2) − Σ C(b_j,2).
    * One shuffle for the contingency table (bounded by |clusters_a| ×
    * |clusters_b|, not |V|²), three scalar aggregations over it, one
    * row out: (n_vertices, same_both, same_a, same_b, total_pairs,
    * rand_ppm). Inner-joins on vid, so both inputs must label the same
    * vertices. */
  def randIndex(a: DataFrame, b: DataFrame): DataFrame = {
    val ca = col(a.columns(1)).as("la")
    val cb = col(b.columns(1)).as("lb")
    val cont = a.select(col("vid"), ca)
      .join(b.select(col("vid"), cb), "vid")
      .groupBy(col("la"), col("lb")).agg(count(lit(1)).as("nij"))
      .persist()
    val s1 = cont.agg(
      expr("sum(nij * (nij - 1) div 2)").as("same_both"),
      sum(col("nij")).as("n"))
    val s2 = cont.groupBy(col("la")).agg(sum(col("nij")).as("sz"))
      .agg(expr("sum(sz * (sz - 1) div 2)").as("same_a"))
    val s3 = cont.groupBy(col("lb")).agg(sum(col("nij")).as("sz"))
      .agg(expr("sum(sz * (sz - 1) div 2)").as("same_b"))
    val out = s1.crossJoin(s2).crossJoin(s3)
      .select(col("n").as("n_vertices"), col("same_both"),
        col("same_a"), col("same_b"),
        expr("n * (n - 1) div 2").as("total_pairs"),
        expr("(2 * same_both + n * (n - 1) div 2 - same_a - same_b) " +
          "* 1000000L div (n * (n - 1) div 2)").as("rand_ppm"))
      .localCheckpoint(eager = true)
    cont.unpersist()
    out
  }

  /** One-row structural profile: vertex/edge counts, density, and
    * EXACT degree percentiles — the summary a pipeline logs before and
    * after every filter to catch density drift. Percentile q = the
    * smallest degree with cumulative count ≥ ceil(q·n/100) (exact
    * order statistic, no approx-sketch nondeterminism). The cumulative
    * sum runs over the degree HISTOGRAM — a table bounded by the
    * max degree, not |V|, so the single-partition window is safe at
    * any scale (same reasoning as q47's range-totals table).
    * All integer except nothing: density is floor ppm of m / C(n,2). */
  def degreeProfile(edges: DataFrame): DataFrame = {
    val canon = edges.select(col("src"), col("dst")).distinct()
    val deg = Edges.degrees(Edges.symmetrize(canon))
    val hist = deg.groupBy(col("degree")).agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("degree"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .persist()
    val scal = deg.agg(count(lit(1)).as("n"), max(col("degree")).as("mx"))
      .crossJoin(canon.agg(count(lit(1)).as("m")))
    def pct(q: Int): DataFrame = cum
      .crossJoin(scal.select(col("n").as(s"n$q")))
      .filter(col("cum") * 100 >= col(s"n$q") * q)
      .agg(min(col("degree")).as(s"p${q}_degree"))
    val out = scal.select(col("n").as("n_vertices"), col("m").as("n_edges"),
        expr("m * 2000000L div (n * (n - 1))").as("density_ppm"),
        col("mx").as("max_degree"))
      .crossJoin(pct(50)).crossJoin(pct(90)).crossJoin(pct(99))
      .localCheckpoint(eager = true)
    cum.unpersist()
    out
  }

  /** Bipartite butterfly (2×2 biclique) census over a co-occurrence
    * weight table — the standard bipartite cohesion count (Sanei-Mehri
    * et al., KDD'18): a butterfly is two groups sharing two items, i.e.
    * C(weight, 2) per co-occurring item pair. One aggregation over the
    * ALREADY-derived pair table (no re-join of the raw bipartite
    * edges): (n_copairs, max_cooc, wedge_pairs, butterflies), all
    * integer. The co-occurrence derivation itself is the engine's S1
    * pipeline; this is the cheapest cohesion profile on top of it. */
  def butterflies(cooc: DataFrame): DataFrame =
    cooc.agg(count(lit(1)).as("n_copairs"),
      max(col("weight")).as("max_cooc"),
      sum(col("weight")).as("wedge_pairs"),
      expr("sum(weight * (weight - 1) div 2)").as("butterflies"))

  /** Exact 4-cycle (rectangle) count: Σ_{u<v} C(common(u,v), 2) / 2 —
    * every rectangle is counted once by each of its two diagonals. The
    * wedge table (common-neighbor counts per endpoint pair) is one
    * self-join of the symmetric adjacency grouped by the endpoint pair;
    * work is Σ_a deg(a)² (wedge generation), the same envelope as the
    * triangle intersection — at web scale the high-degree centers are
    * the cost and would be handled by the same degree-orientation split
    * the TC kernel uses; the exact-pair census here keeps the plain
    * two-join form the oracle replays. Output one row:
    * (wedges, diag_pairs, c4) — all integer, c4 = Σ C(w,2) // 2 exact. */
  def rectangles(sym: DataFrame): DataFrame = {
    val w = sym.select(col("src").as("a"), col("dst").as("u"))
      .join(sym.select(col("src").as("a"), col("dst").as("v")), "a")
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
    w.agg(sum(col("w")).as("wedges"),
      count(lit(1)).as("diag_pairs"),
      expr("sum(w * (w - 1) div 2) div 2").as("c4"))
  }

  /** Topological layering of a DAG oriented by (degree, vid), degree =
    * in + out degree in `oriented` — the order [[Edges.orientByDegree]]
    * orients by, so every edge runs forward: layer(v) = length of the
    * longest path ending at v — the scheduling depth / topological sort
    * key every dependency-ordered pipeline needs. Values (vid, layer),
    * layer 0 = sources: the `max + 1` fold on [[DagFold]]. */
  def dagLayers(spark: org.apache.spark.sql.SparkSession,
                oriented: DataFrame): DagFold.Result = {
    val e = oriented.select(col("src"), col("dst"))
    // one row per vertex: out-adjacency (collect_list skips the in-edge
    // rows' nulls) and in + out degree
    val vertices = e.select(col("src").as("vid"), col("dst").as("nbr"))
      .unionAll(e.select(col("dst").as("vid"),
        lit(null).cast("long").as("nbr")))
      .groupBy("vid")
      .agg(collect_list(col("nbr")).as("adj"), count(lit(1)).as("key"))
    val r = DagFold.run(spark, "dag_layers", vertices)(in =>
      if (in.isEmpty) 0L else in.max + 1)
    r.copy(values = r.values.withColumnRenamed("value", "layer"))
  }

  /** GNN-style k-hop neighborhood aggregation (GraphSAGE-sum layers with
    * degree as the input feature): layer 0 is each vertex's degree,
    * layer i+1(v) = Σ_{u∈N(v)} layer i(u). Returns
    * (vid, degree, f1, ..., fk) — the structural feature vector a
    * training pipeline exports per node before embedding.
    *
    * Every layer is ONE join+aggregate over the shared symmetric edge
    * fabric with integer sums (exact, order-independent, hash-oracle
    * replayable); k layers = k shuffles, each reusing the src-partitioned
    * persisted edge table — the same scale shape as a superstep. */
  def khopFeatures(sym: DataFrame, hops: Int = 2): DataFrame = {
    val e = sym.select(col("src"), col("dst")).repartition(col("src"))
      .persist()
    val d0 = e.groupBy(col("src").as("vid"))
      .agg(count(lit(1)).as("degree")).persist()
    var out = d0
    var layer = d0.select(col("vid"), col("degree").as("f"))
    for (i <- 1 to hops) {
      val st = layer.select(col("vid").as("sv"), col("f"))
        .hint("SHUFFLE_HASH")
      layer = e.join(st, e("dst") === st("sv"))
        .groupBy(e("src").as("vid")).agg(sum(col("f")).as("f"))
        .localCheckpoint()
      out = out.join(layer.select(col("vid"), col("f").as(s"f$i")),
        Seq("vid"), "left_outer")
    }
    val cols = col("vid") +: col("degree") +:
      (1 to hops).map(i => coalesce(col(s"f$i"), lit(0L)).as(s"f$i"))
    val res = out.select(cols: _*)
    val materialized = res.localCheckpoint()
    e.unpersist(); d0.unpersist()
    materialized
  }

  /** Rich-club census (Zhou–Mondragón 2004): for each degree threshold
    * k, the subgraph induced on vertices of degree > k — (k, n_v, n_e)
    * integer-exact plus the rich-club coefficient
    * φ(k) = 2·n_e / (n_v·(n_v−1)), the how-tightly-do-hubs-interlink
    * profile of a link graph (hub collusion / link-farm signal).
    *
    * Set-at-a-time over ALL thresholds at once: degrees once, each edge
    * tagged with min(deg_src, deg_dst), then one Expand over the (tiny,
    * broadcast-literal) threshold list and two grouped counts — no
    * per-k jobs, no induced-subgraph materialization. */
  def richClub(edges: DataFrame, ks: Seq[Int]): DataFrame = {
    val canon = edges.select(col("src"), col("dst"))
    val deg = Edges.degrees(Edges.symmetrize(canon))
    val kdf = explode(array(ks.map(k => lit(k.toLong)): _*)).as("k")
    val nv = deg.select(col("degree"), kdf)
      .filter(col("degree") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_v"))
    val em = canon
      .join(deg.withColumnRenamed("vid", "src")
        .withColumnRenamed("degree", "ds"), "src")
      .join(deg.withColumnRenamed("vid", "dst")
        .withColumnRenamed("degree", "dd"), "dst")
      .select(least(col("ds"), col("dd")).as("m"))
    val ne = em.select(col("m"), kdf).filter(col("m") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_e"))
    nv.join(ne, Seq("k"), "left")
      .select(col("k"), col("n_v"),
        coalesce(col("n_e"), lit(0L)).as("n_e"),
        when(col("n_v") > 1,
          round(lit(2.0) * coalesce(col("n_e"), lit(0L)).cast("double") /
            (col("n_v") * (col("n_v") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)).as("phi"))
  }

  /** Approximate neighborhood function (HyperANF, Boldi–Vigna WWW'11):
    * per-vertex HLL sketch of the h-hop ball, advanced by max-merging
    * neighbor registers each hop — the ball-size/effective-diameter
    * primitive that runs where exact k-hop reachability (q90's integer
    * twin) cannot: sketch size is `2^regBits` registers per vertex
    * REGARDLESS of ball size. Registers are sha-derived (the q114 HLL
    * family), so the whole iteration — estimates included — is a pure
    * integer function an oracle replays exactly. Returns per-vertex
    * (n_regs, rank_sum): the sketch summary downstream estimates fold
    * from (specs assert the raw-HLL estimate tracks the exact ball).
    *
    * Scale: each hop is ONE join+max-aggregate moving |E|·2^regBits
    * integer rows over the src-partitioned persisted edge fabric (the
    * superstep shape); each hop is one [[Superstep]] round. */
  def anf(sym: DataFrame, hops: Int = 2, regBits: Int = 4): DataFrame = {
    val m = 1L << regBits
    val restBits = 60 - regBits
    val e = sym.select(col("src"), col("dst")).repartition(col("src"))
      .persist()
    val h = graft.text.Dedup.shaTokenHash60(col("vid").cast("string"))
    val rest = shiftright(h, regBits)
    val init = e.select(col("src").as("vid")).distinct()
      .select(col("vid"), pmod(h, lit(m)).as("reg"),
        when(rest === 0L, lit(restBits + 1).cast("long"))
          .otherwise(instr(lpad(bin(rest), restBits, "0"), "1")
            .cast("long")).as("max_rank"))
    def hop(regs: DataFrame): DataFrame = {
      val nbr = e.join(regs.withColumnRenamed("vid", "dst")
          .hint("SHUFFLE_HASH"), "dst")
        .select(col("src").as("vid"), col("reg"), col("max_rank"))
      regs.unionByName(nbr)
        .groupBy(col("vid"), col("reg"))
        .agg(max(col("max_rank")).as("max_rank"))
    }
    val (regs, _, _, _) = Superstep.run(sym.sparkSession, "anf", init, hop,
      lit(0), (_, _, _) => false, hops)
    val out = regs.groupBy(col("vid"))
      .agg(count(lit(1)).as("n_regs"), sum(col("max_rank")).as("rank_sum"))
      .localCheckpoint()
    e.unpersist()
    out
  }

  /** Deterministic layer-wise neighbor sampling (the GraphSAGE
    * mini-batch primitive, Hamilton et al. NeurIPS'17): each vertex's
    * adjacency is down-sampled ONCE to its `fanouts(i)` lowest
    * sha-ranked neighbors per layer, then the sampled blocks are
    * expanded from the sha-sampled seed set — the bounded computation
    * graph a GNN trainer consumes, where full k-hop expansion (q90)
    * would touch hub-sized neighborhoods. sha ranking makes the sample
    * reproducible across engines/runs (no RNG state). Output rows
    * (seed, hop, src, dst) are the sampled message edges per layer.
    *
    * Scale: ONE window per layer partitioned by src (per-vertex work is
    * its degree, no global ordering), then `fanouts.size` bounded joins
    * whose left side grows by at most ×fanout per layer. */
  def sageSample(sym: DataFrame, seedPpt: Int = 20,
                 fanouts: Seq[Int] = Seq(5, 3)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rank = graft.text.Dedup.shaTokenHash60(
      concat(col("src").cast("string"), lit(":"), col("dst").cast("string")))
    val w = Window.partitionBy(col("src")).orderBy(rank, col("dst"))
    val sampled = sym.select(col("src"), col("dst"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= fanouts.max).persist()
    val seeds = sampled.select(col("src").as("seed")).distinct()
      .filter(pmod(graft.text.Dedup.shaTokenHash60(
        col("seed").cast("string")), lit(1000L)) < seedPpt)
    var frontier = seeds.select(col("seed"), col("seed").as("v"))
    var out: DataFrame = null
    fanouts.zipWithIndex.foreach { case (f, i) =>
      val layer = frontier.join(sampled.filter(col("rn") <= f),
          frontier("v") === sampled("src"))
        .select(col("seed"), lit((i + 1).toLong).as("hop"),
          col("src"), col("dst"))
        .distinct()
      out = if (out == null) layer else out.unionByName(layer)
      frontier = layer.select(col("seed"), col("dst").as("v")).distinct()
    }
    val materialized = out.localCheckpoint()
    sampled.unpersist()
    materialized
  }

  /** Exact 4-clique (K4) census — the next motif up from triangles
    * (q06) and the truss/density family's calibration count. Degree
    * orientation turns the graph into a DAG where every K4 appears as
    * exactly one oriented quadruple a→{b,c,d}, b→{c,d}, c→d, so the
    * count is six joins over the oriented edge table with the same
    * √E-bounded out-degree skew guarantee as triangle counting
    * (reference semantics: apps/trianglecount.cpp's orientation argument
    * lifted one motif up). */
  def k4Count(edges: DataFrame): DataFrame = {
    val e = Edges.orientByDegree(edges)
      .select(col("src"), col("dst")).persist()
    // triangle-first join order: the (ab, ac, bc) prefix is bounded by
    // the triangle count, not out-degree³ — each later join then extends
    // a triangle by one constrained edge
    val n = e.as("ab")
      .join(e.as("ac"), col("ac.src") === col("ab.src") &&
        col("ac.dst") =!= col("ab.dst"))
      .join(e.as("bc"), col("bc.src") === col("ab.dst") &&
        col("bc.dst") === col("ac.dst"))
      .join(e.as("cd"), col("cd.src") === col("ac.dst"))
      .join(e.as("ad"), col("ad.src") === col("ab.src") &&
        col("ad.dst") === col("cd.dst"))
      .join(e.as("bd"), col("bd.src") === col("ab.dst") &&
        col("bd.dst") === col("cd.dst"))
      .count()
    e.unpersist()
    val spark = edges.sparkSession
    import spark.implicits._
    Seq(n).toDF("k4").localCheckpoint()
  }

  /** Molloy–Reed percolation criterion (Molloy & Reed 1995; Cohen et
    * al. PRL 2000): a random graph with this degree sequence has a
    * giant component iff κ = ⟨k²⟩/⟨k⟩ ≥ 2. Reported for the full graph
    * and after a targeted attack removing the top `hubPct`% highest-
    * degree vertices (ties broken by vid) — the quantitative robustness
    * profile behind q147's per-hub census. Integer-exact: κ in ppm via
    * integral division; two degree aggregations and two hub anti-joins,
    * the only collect is the 1-row vertex count. */
  def molloyReed(sym: DataFrame, hubPct: Int = 1): DataFrame = {
    // persisted: consumed by the degree profile AND the attacked view —
    // a lazy derived caller graph would be derived twice
    val e = sym.select(col("src"), col("dst")).persist()
    val deg = Edges.degrees(e).persist()
    val n = deg.count()
    val k = ((n * hubPct + 99L) / 100L).toInt
    val hubs = deg.orderBy(col("degree").desc, col("vid")).limit(k)
      .select(col("vid")).persist()
    val attacked = e
      .join(hubs.withColumnRenamed("vid", "src"), Seq("src"), "left_anti")
      .join(hubs.withColumnRenamed("vid", "dst"), Seq("dst"), "left_anti")
    def profile(name: String, d: DataFrame): DataFrame =
      d.agg(count(lit(1)).as("n_vertices"),
          coalesce(sum(col("degree")), lit(0L)).as("sum_deg"),
          coalesce(sum(col("degree") * col("degree")), lit(0L))
            .as("sum_deg2"))
        .select(lit(name).as("scenario"), col("n_vertices"),
          col("sum_deg"), col("sum_deg2"),
          // attack can empty the graph (e.g. a star) — kappa of nothing is 0
          expr("CASE WHEN sum_deg = 0 THEN 0L " +
            "ELSE sum_deg2 * 1000000L div sum_deg END").as("kappa_ppm"),
          expr("CASE WHEN sum_deg = 0 THEN 0L " +
            "ELSE sum_deg2 * 1000000L div sum_deg END >= 2000000L")
            .cast("int").as("supercritical"))
    val out = profile("1_full", deg)
      .union(profile("2_hubs_removed", Edges.degrees(attacked)))
      .localCheckpoint(eager = true)
    e.unpersist(); deg.unpersist(); hubs.unpersist()
    out
  }

  /** Deterministic negative-edge sampling for link-prediction /
    * embedding training: k sha-derived candidate partners per vertex,
    * kept only if the candidate id is a real vertex, not self, and not
    * an actual neighbor. No RNG state, no vertex-list broadcast — the
    * candidate id is modular sha arithmetic against the max vid (one
    * 1-row agg crossed in), existence and non-edge checks are one semi-
    * and one anti-join, all shuffle-bounded by k·|V|. Rejection leaves
    * < k negatives for some vertices (denser ids sample out more) —
    * the standard rejection-sampling contract, deterministic here. */
  def negativeSamples(sym: DataFrame, k: Int): DataFrame = {
    val verts = sym.select(col("src").as("vid")).distinct()
    val mv = verts.agg(max(col("vid")).as("mv"))
    val cands = verts
      .select(col("vid").as("src"),
        explode(array((0 until k).map(lit(_)): _*)).as("i"))
      .crossJoin(broadcast(mv))
      .select(col("src"), col("i").cast("long").as("i"),
        pmod(graft.text.Dedup.shaTokenHash60(
          concat(col("src").cast("string"), lit("#"),
            col("i").cast("string"))), col("mv") + 1L).as("dst"))
    cands
      .join(verts.withColumnRenamed("vid", "dst"), Seq("dst"), "left_semi")
      .filter(col("src") =!= col("dst"))
      .join(sym, Seq("src", "dst"), "left_anti")
      .select(col("src"), col("i"), col("dst"))
  }

  /** Per-vertex neighbor-label diversity — Gini–Simpson 1 − Σp² of the
    * labels in the 1-hop neighborhood, the heterophily feature a GNN
    * sampler stratifies on (complements [[khopFeatures]]' structural
    * sums). Integer ppm, two aggregations: per-(vertex,label) counts
    * first (map-side combinable — a hub shuffles its distinct-label
    * histogram, not its adjacency), then the Σ over labels. Vertices
    * whose neighbors carry no label are absent. */
  def neighborLabelDiversity(sym: DataFrame, labels: DataFrame): DataFrame =
    sym.join(labels.withColumnRenamed("vid", "src"), "src")
      .groupBy(col("dst"), col("label"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("dst").as("vid"))
      .agg(sum(col("n")).as("deg_labeled"),
        count(lit(1)).as("n_labels"),
        sum(col("n") * col("n")).as("sumsq"))
      .select(col("vid"), col("deg_labeled"), col("n_labels"),
        expr("1000000L - sumsq * 1000000L div (deg_labeled * deg_labeled)")
          .as("div_ppm"))

  /** Configuration-model degree-mixing matrix: edges observed between
    * log₂-degree classes vs the null-model expectation E[e_ab] =
    * S_a·S_b/(2m) (a≠b; S_a²/(4m) on the diagonal), where S_b is the
    * degree mass of class b — the Newman mixing test behind q73's single
    * assortativity scalar, resolved per class pair. A hub-hub excess over
    * the null is the web-graph signature; a deficit means degree
    * anti-correlation the sampler (q82/q159) must preserve. Integer-exact:
    * class = floor(log₂ degree) via binary-string length, expectation in
    * milli-edges by integer div.
    *
    * Scale shape: two broadcast-joinable degree lookups on the edge
    * table, then class-pair-sized aggregates — one shuffle, no windows. */
  def degreeMixing(edges: DataFrame): DataFrame = {
    // persisted: consumed by the degree build, the m count and the
    // observed-pair join — a lazy derived caller graph would be
    // re-derived three times
    val e0 = edges.select(col("src"), col("dst")).persist()
    val sym = Edges.symmetrize(e0)
    val deg = Edges.degrees(sym)
      .select(col("vid"), col("degree"),
        (length(bin(col("degree"))) - lit(1)).cast("long").as("cls"))
      .localCheckpoint(eager = true)
    val m = e0.count()
    val mass = deg.groupBy(col("cls")).agg(sum(col("degree")).as("s"))
    val obs = e0
      .join(deg.select(col("vid").as("src"), col("cls").as("ca")), "src")
      .join(deg.select(col("vid").as("dst"), col("cls").as("cb")), "dst")
      .groupBy(least(col("ca"), col("cb")).as("cls_a"),
        greatest(col("ca"), col("cb")).as("cls_b"))
      .agg(count(lit(1)).as("actual"))
    val out = mass.as("a").join(mass.as("b"), col("a.cls") <= col("b.cls"))
      .select(col("a.cls").as("cls_a"), col("b.cls").as("cls_b"),
        when(col("a.cls") === col("b.cls"),
          expr(s"(a.s * b.s * 1000) div ${4 * m}"))
          .otherwise(expr(s"(a.s * b.s * 1000) div ${2 * m}"))
          .as("expected_milli"))
      .join(obs, Seq("cls_a", "cls_b"), "left")
      .select(col("cls_a"), col("cls_b"),
        coalesce(col("actual"), lit(0L)).as("actual"),
        col("expected_milli"))
      .localCheckpoint(eager = true) // class-pair-sized
    e0.unpersist()
    out
  }

  /** Power-law fit of the degree distribution — integer least-squares
    * slope of the log-log degree histogram (one row: n_buckets,
    * slope_milli, intercept_milli, n_vertices).
    *
    * The standard "is this graph scale-free, and how heavy is the tail"
    * profiling check run before choosing hub-salting thresholds: degrees
    * are bucketed by floor-log2 (`length(bin(d))-1`, the same exact
    * integer-log idiom as [[degreeMixing]] and the surprisal bits), the
    * per-bucket count is floor-log2'd again, and the slope of y(x) over
    * the <= 64 bucket points is the closed-form least-squares ratio
    * carried entirely in BIGINT milli — order-independent, bit-exactly
    * replayable in SQL. Floor-log2 coarsens both axes by design (a
    * doubling-bucket histogram IS the standard power-law plot); the
    * milli slope lands within ~0.3 of the continuous-MLE alpha on the
    * driver corpora, which is all a salting-threshold decision needs.
    *
    * Scale shape: one degree shuffle, one <= 64-group aggregation, one
    * single-row reduction — no collect, no window, no floats. */
  def powerLawFit(edges: DataFrame): DataFrame = {
    val deg = Edges.degrees(Edges.symmetrize(edges))
    val buckets = deg
      .select((length(bin(col("degree"))) - lit(1)).cast("long").as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("nb"))
      .select(col("x"), (length(bin(col("nb"))) - lit(1)).cast("long").as("y"))
    val nVerts = deg.select(count(lit(1)).as("n_vertices"))
    buckets.agg(count(lit(1)).as("k"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("k") * col("sxx") - col("sx") * col("sx") =!= 0L)
      .select(col("k").as("n_buckets"),
        expr("(1000 * (k * sxy - sx * sy)) div (k * sxx - sx * sx)")
          .as("slope_milli"),
        col("sx"), col("sy"), col("k"))
      .select(col("n_buckets"), col("slope_milli"),
        expr("(1000 * sy - slope_milli * sx) div k").as("intercept_milli"))
      .crossJoin(nVerts)
  }

  /** Top-k rank agreement between two integer vertex scorings — one row:
    * (k, overlap, footrule). Overlap = |top-k(a) ∩ top-k(b)|; footrule =
    * Σ |rank_a − rank_b| over the union of the two top-k lists, with a
    * vertex absent from one list charged rank k+1 (the standard
    * location-parameter Spearman footrule for truncated lists).
    *
    * The ranking-stability check run before swapping one centrality for
    * a cheaper proxy ("does weighted degree reorder the hub list that
    * plain degree produces?"). Rankings are (score desc, vid asc), fully
    * deterministic on integer scores.
    *
    * Scale shape: each side is a distributed TakeOrdered down to k rows;
    * the rank windows then run over k-row frames (k is a constant), and
    * the final reduction is over <= 2k rows. The vertex tables never
    * see a global window. */
  def rankAgreement(a: DataFrame, b: DataFrame, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def top(d: DataFrame, rc: String) = d
      .select(col("vid"), col("score"))
      .orderBy(col("score").desc, col("vid")).limit(k)
      .withColumn(rc, row_number().over(
        Window.orderBy(col("score").desc, col("vid"))).cast("long"))
      .select(col("vid"), col(rc))
    top(a, "ra").join(top(b, "rb"), Seq("vid"), "full_outer")
      .select(
        coalesce(col("ra"), lit(k + 1L)).as("ra"),
        coalesce(col("rb"), lit(k + 1L)).as("rb"),
        (col("ra").isNotNull && col("rb").isNotNull).as("both"))
      .agg(lit(k.toLong).as("k"),
        sum(when(col("both"), 1L).otherwise(0L)).as("overlap"),
        sum(abs(col("ra") - col("rb"))).as("footrule"))
  }

  /** Structural DEDUP of connected components: every component collapses
    * to a canonical fingerprint — sha256 of its size and ascending
    * (degree : count) histogram — and components sharing a fingerprint
    * group together. The graph-shaped twin of content dedup: a web-scale
    * co-occurrence graph is mostly a giant component plus millions of
    * small satellites, and repeated satellite SHAPES (the same template
    * page, the same generated cluster) show up as fingerprint groups
    * with n_components ≫ 1. Equal fingerprints are isomorphism
    * CANDIDATES (degree-histogram equality is necessary, not
    * sufficient — the WL refinement q163 is the stronger follow-up
    * filter); distinct fingerprints are PROVABLY non-isomorphic.
    *
    * Scale shape: hash-min CC (the q08 kernel), one (component, degree)
    * count, then a per-component histogram fold whose width is the
    * number of DISTINCT degree values in the component — bounded far
    * below component size on power-law graphs; the giant component
    * contributes one row with a few-thousand-entry histogram, never a
    * collect of its vertices. @return (fp_sha, size, n_components,
    * example_component = min component label). */
  def componentFingerprints(spark: org.apache.spark.sql.SparkSession,
                            edges: DataFrame): DataFrame = {
    val sym = Edges.symmetrize(edges)
    val comps = ConnectedComponents.run(spark, sym).components
    val deg = Edges.degrees(sym)
    val hist = comps.join(deg, "vid")
      .groupBy(col("component"), col("degree"))
      .agg(count(lit(1)).as("c"))
    val per = hist.groupBy(col("component"))
      .agg(sum(col("c")).as("size"),
        array_join(transform(
          sort_array(collect_list(struct(col("degree"), col("c")))),
          p => concat(p("degree").cast("string"), lit(":"),
            p("c").cast("string"))), ",").as("h"))
    per.select(col("component"), col("size"),
        sha2(concat(col("size").cast("string"), lit("|"), col("h")), 256)
          .as("fp_sha"))
      .groupBy(col("fp_sha"), col("size"))
      .agg(count(lit(1)).as("n_components"),
        min(col("component")).as("example_component"))
  }

  /** Structural-equivalence (FALSE-TWIN) classes: vertices with
    * IDENTICAL neighbor sets collapse to one class — the vertex-level
    * companion of [[componentFingerprints]]' component-level shapes,
    * and the first move of web-graph compression (twin pages from the
    * same template share every out-link) and crawl-duplicate detection.
    * Twins are provably interchangeable in any kernel that reads only
    * the adjacency (same PageRank score, same core number), so a
    * pipeline can run on the quotient graph and fan results back out.
    *
    * One adjacency fold (the q05 shape) + one sha-group: class key =
    * sha256 of the sorted neighbor-id list. Emits classes with ≥ 2
    * members plus the whole-graph compression ratio as a constant
    * column: quotient vertices / vertices, floor ppm.
    * @return (class_sha, n_vertices, degree, example_vid,
    *         quotient_ppm) */
  def structuralEquivalence(edges: DataFrame): DataFrame = {
    val sym = Edges.symmetrize(edges)
    val cls = sym.groupBy(col("src").as("vid"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .select(col("vid"),
        sha2(array_join(transform(col("nbrs"), _.cast("string")), ","),
          256).as("class_sha"),
        size(col("nbrs")).cast("long").as("degree"))
      .groupBy(col("class_sha"), col("degree"))
      .agg(count(lit(1)).as("n_vertices"), min(col("vid")).as("example_vid"))
      .localCheckpoint(eager = true)
    val tot = cls.agg(sum(col("n_vertices")).as("nv"),
        count(lit(1)).as("nc"))
      .select(expr("(1000000L * nc) div nv").as("quotient_ppm"))
    cls.filter(col("n_vertices") >= 2L).crossJoin(broadcast(tot))
  }

  /** Label HOMOPHILY ledger: the share of edges joining same-label
    * endpoints, against the expectation under degree-preserving random
    * mixing (Σ_l q_l² with q_l = label share of edge ENDS — Newman's
    * assortativity numerator terms, kept in exact integers). The
    * "does this graph cluster by label" check run before trusting
    * label propagation (q11/q174) or community features at scale.
    *
    * Exact-integer plan: canonical edges join the broadcast label
    * table twice; expected_ppm = 10⁶·Σ ends_l² div (2m)² by
    * cross-multiplication. One row:
    * (m, same_edges, observed_ppm, expected_ppm, gap_ppm). */
  def labelHomophily(edges: DataFrame, labels: DataFrame): DataFrame = {
    val lb = broadcast(labels.select(col("vid"), col("label")))
    val e = edges.select(col("src"), col("dst"))
      .join(lb.select(col("vid").as("src"), col("label").as("ls")), "src")
      .join(lb.select(col("vid").as("dst"), col("label").as("ld")), "dst")
      .localCheckpoint(eager = true)
    val obs = e.agg(count(lit(1)).as("m"),
      sum(when(col("ls") === col("ld"), 1L).otherwise(0L))
        .as("same_edges"))
    val ends = e.select(col("ls").as("l"))
      .union(e.select(col("ld").as("l")))
      .groupBy(col("l")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("s2"), sum(col("c")).as("ends"))
    obs.crossJoin(ends)
      .select(col("m"), col("same_edges"),
        expr("(1000000L * same_edges) div m").as("observed_ppm"),
        expr("(1000000L * s2) div (ends * ends)").as("expected_ppm"))
      .withColumn("gap_ppm", col("observed_ppm") - col("expected_ppm"))
  }
}
