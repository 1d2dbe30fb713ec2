package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Edge-table derivation and canonical graph shapes.
  *
  * The reference's graph lives as per-worker sorted adjacency lists
  * (`core/vertex.hpp:59-81`, sort at `apps/trianglecount.cpp:360`); here the
  * graph is a columnar edge table `(src: long, dst: long, weight: long)` with
  * canonical `src < dst`, plus derived symmetric/oriented/adjacency views.
  * All shapes are plain Catalyst plans — filters and projections push to the
  * parquet scan, joins shuffle on the vertex key.
  */
object Edges {

  /** Weighted co-occurrence edges: two items are linked iff they share a
    * group key (the corpus analog: two paths share a commit — SURVEY §1.3).
    *
    * Scale notes (SURVEY §4.3): `capPerGroup` bounds the quadratic pair
    * expansion of hub groups (a giant monorepo commit) by keeping a
    * deterministic top-K of items per group, ordered by `xxhash64` — the
    * same pruning idea as the reference's `CAND_MAX_TIME`
    * (`apps/focusCO.cpp:266-276`). The self-join shuffles once on the group
    * key; AQE skew-join splits any remaining hot groups.
    *
    * @param df        input rows
    * @param groupCol  group key column name (e.g. commit / order key)
    * @param itemCol   item id column name (long-castable vertex id)
    * @param minWeight keep edges with at least this many shared groups
    * @param capPerGroup max items per group entering pair expansion
    */
  def coOccurrence(
      df: DataFrame,
      groupCol: String,
      itemCol: String,
      minWeight: Long = 1L,
      capPerGroup: Int = Int.MaxValue): DataFrame = {
    // TWO exchanges instead of four: collect each group's DISTINCT item
    // set in one aggregation (map-side partial set-union dedupes before
    // the shuffle — the old distinct+self-join shape shuffled the item
    // stream once for the distinct and again for the group-key join),
    // expand the i<j pairs per row with array expressions (no join), and
    // aggregate. Identical result set: the sorted-set pair expansion
    // emits exactly the a.item < b.item pairs of the old join, and the
    // cap keeps the same deterministic (xxhash64(item), item) top-K.
    // Skew note: a hub group becomes ONE wide row expanding cap² pairs
    // in-task — bounded by capPerGroup exactly like the old window path,
    // which also funneled the whole group through one window task.
    val grouped = df
      .select(col(groupCol).as("g"), col(itemCol).cast("long").as("item"))
      .groupBy(col("g")).agg(collect_set(col("item")).as("items0"))
    val items =
      if (capPerGroup == Int.MaxValue) sort_array(col("items0"))
      else sort_array(transform(
        slice(sort_array(transform(col("items0"),
          it => struct(xxhash64(it).as("h"), it.as("item")))),
          1, capPerGroup),
        s => s.getField("item")))
    val arr = col("items")
    grouped
      .select(items.as("items")) // sorted/capped ONCE per group row
      .select(explode(flatten(transform(arr, (x, i) =>
        transform(slice(arr, i + lit(2), size(arr) - i - lit(1)),
          y => struct(x.as("src"), y.as("dst")))))).as("p"))
      .groupBy(col("p.src").as("src"), col("p.dst").as("dst"))
      .agg(count(lit(1)).as("weight"))
      .filter(col("weight") >= minWeight)
  }

  /** Both directions of a canonical (src<dst) edge table — the message
    * fabric for undirected gather-scatter (B2 in SURVEY §2.8). */
  def symmetrize(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    e.union(edges.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Per-vertex degree from a symmetric edge table. */
  def degrees(sym: DataFrame): DataFrame =
    sym.groupBy(col("src").as("vid")).agg(count(lit(1)).as("degree"))

  /** Orient each undirected edge from the lower (degree, id) endpoint to the
    * higher — bounds triangle-intersection work by O(E^1.5) on power-law
    * graphs (same result set as the reference's id-orientation at
    * `apps/trianglecount.cpp:303-331`, better hub behavior). */
  def orientByDegree(edges: DataFrame): DataFrame = {
    val deg = degrees(symmetrize(edges))
    val e = edges.select(col("src"), col("dst"))
      .join(deg.withColumnRenamed("vid", "src").withColumnRenamed("degree", "ds"), "src")
      .join(deg.withColumnRenamed("vid", "dst").withColumnRenamed("degree", "dd"), "dst")
    val srcFirst = col("ds") < col("dd") ||
      (col("ds") === col("dd") && col("src") < col("dst"))
    e.select(
      when(srcFirst, col("src")).otherwise(col("dst")).as("src"),
      when(srcFirst, col("dst")).otherwise(col("src")).as("dst"))
  }

  /** Sorted adjacency arrays — the Spark analog of the reference's
    * `VertexTable` of sorted adjlists (`core/vertex_table.hpp:18-39`). One
    * shuffle on src; arrays sorted for merge-intersection semantics. */
  def adjacency(sym: DataFrame): DataFrame =
    sym.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("adj"))

  /** G-Miner's task pull (`core/task.hpp:41-51`): per seed, its candidate
    * set and the subgraph those candidates induce — the input of every
    * per-seed local search (MCF, CD, GC; J4 in SURVEY §2.3).
    *
    * Plan: the membership pull `members ⋈ edges on v = src ⋈ members on
    * (seed, dst = v)` (both ends of an edge must be members of the same
    * seed), one `collect_list` per side grouped by seed, one left join.
    *
    * @param members (seed, v, <member attrs…>), one row per (seed, v)
    * @param edges   (src, dst, <edge attrs…>)
    * @return (seed, members, edges): `members` an array<struct<v, …>>
    *         sorted by v; `edges` an array<struct<src, dst, …>> of every
    *         edge with both ends among the seed's members, `[]` (never
    *         null) when there is none */
  def taskSubgraphs(members: DataFrame, edges: DataFrame): DataFrame = {
    val attrs = members.columns.filterNot(Set("seed", "v")).map(col)
    val pairs = members.select(col("seed"), col("v"))
    val induced = pairs.withColumnRenamed("v", "src").join(edges, "src")
      .join(pairs.withColumnRenamed("v", "dst"), Seq("seed", "dst"))
      .groupBy(col("seed"))
      .agg(collect_list(struct(edges.columns.map(col): _*)).as("edges"))
    members.groupBy(col("seed"))
      .agg(sort_array(collect_list(struct(col("v") +: attrs: _*)))
        .as("members"))
      .join(induced, Seq("seed"), "left")
      .select(col("seed"), col("members"), coalesce(col("edges"),
        array().cast(induced.schema("edges").dataType)).as("edges"))
  }

  /** A vertex peel's live (vertices, edges) without the vertices `gone`
    * names (its `vid` column) and every edge touching one. */
  def withoutVertices(live: Vector[DataFrame],
                      gone: DataFrame): Vector[DataFrame] = {
    val Vector(verts, edges) = live
    val g = gone.select(col("vid"))
    Vector(verts.join(g, Seq("vid"), "left_anti"),
      edges.join(g.select(col("vid").as("g1")), col("src") === col("g1"),
          "left_anti")
        .join(g.select(col("vid").as("g2")), col("dst") === col("g2"),
          "left_anti"))
  }

  /** Distinct vertex ids of a symmetric edge table. */
  def vertexIds(sym: DataFrame): DataFrame =
    sym.select(col("src").as("vid")).distinct()

  /** Disparity-filter backbone (Serrano–Boguñá–Vespignani PNAS'09, integer
    * cross-multiplied variant): keep a weighted edge iff its weight
    * significantly exceeds the uniform share of EITHER endpoint's
    * strength — w·k·1000 ≥ alphaPpt·s, where k/s are the endpoint's
    * degree/strength. The multiscale sparsifier for power-law link
    * graphs: hub edges survive only if locally dominant, so the backbone
    * keeps structure at every scale (a global weight threshold like
    * `e2`'s keeps only the densest region). alphaPpt = 1000 is exactly
    * "above uniform share"; all arithmetic is integer cross-
    * multiplication — no p-value float to disagree across engines.
    * Shape: one degree/strength aggregation + two broadcast-sized joins
    * back to the canonical edge table — one shuffle, no iteration. */
  def disparityBackbone(weighted: DataFrame, alphaPpt: Long = 1500L): DataFrame = {
    val symW = weighted.select(col("src"), col("dst"), col("weight"))
      .union(weighted.select(col("dst").as("src"), col("src").as("dst"),
        col("weight")))
    val ds = symW.groupBy(col("src").as("vid"))
      .agg(count(lit(1)).as("k"), sum(col("weight")).as("s"))
    weighted.select(col("src"), col("dst"), col("weight"))
      .join(ds.select(col("vid").as("src"), col("k").as("ku"),
        col("s").as("su")), "src")
      .join(ds.select(col("vid").as("dst"), col("k").as("kv"),
        col("s").as("sv")), "dst")
      .filter(col("weight") * col("ku") * 1000L >= lit(alphaPpt) * col("su") ||
        col("weight") * col("kv") * 1000L >= lit(alphaPpt) * col("sv"))
      .select(col("src"), col("dst"), col("weight"))
  }

  /** Deterministic vertex-sampled induced subgraph: keep a vertex iff
    * sha256(salt:vid) mod 1000 < keepPerMille, keep an edge iff BOTH
    * endpoints survive — the standard debug-subset / multi-round-training
    * subsample of a link graph (node-induced, so degree structure within
    * the sample is unbiased). Pure per-row predicate on the edge table:
    * no shuffle, the filter pushes into the scan, and the same vertex set
    * is selected on any engine or cluster size (sha, not RNG). */
  def sampleInduced(edges: DataFrame, salt: String,
                    keepPerMille: Int): DataFrame = {
    def keep(c: Column): Column =
      pmod(conv(substring(
        sha2(concat(lit(salt + ":"), c.cast("string")), 256), 1, 15),
        16, 10).cast("long"), lit(1000L)) < keepPerMille
    edges.filter(keep(col("src")) && keep(col("dst")))
  }

  /** Supergraph contraction — the host-graph-from-page-graph move of
    * every web link-graph pipeline (pages→hosts, paths→repos, parts→
    * brands): map each endpoint of a canonical weighted edge table
    * through `groups(vid, grp)`, drop intra-group edges, re-canonicalize
    * and aggregate. Output (g1 < g2, n_pairs = underlying edge count,
    * strength = Σ weight).
    *
    * Scale shape: two hash joins keyed by the endpoint (the mapping is
    * |V|-sized — co-partitioned shuffle joins, broadcastable when the
    * group dim is small) and ONE aggregation whose key space is the
    * contracted graph (map-side combined, tiny vs |E|). */
  def contract(edges: DataFrame, groups: DataFrame): DataFrame = {
    val g = groups.select(col("vid"), col("grp"))
    val mapped = edges
      .join(g.withColumnRenamed("vid", "src")
        .withColumnRenamed("grp", "gs"), "src")
      .join(g.withColumnRenamed("vid", "dst")
        .withColumnRenamed("grp", "gd"), "dst")
      .filter(col("gs") =!= col("gd"))
    mapped
      .select(least(col("gs"), col("gd")).as("g1"),
        greatest(col("gs"), col("gd")).as("g2"), col("weight"))
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("weight")).as("strength"))
  }

  /** Graph delta between two edge-table versions (e.g. two catalog
    * snapshots of a derived link table): per-vertex degree before/after
    * and the difference, for vertices whose degree changed (or vanished/
    * appeared). The incremental-pipeline primitive: downstream consumers
    * re-run only where `delta != 0` instead of diffing |E| rows.
    *
    * Scale shape: two degree aggregations (map-side combined, |V|-sized
    * outputs) + one full-outer join keyed by vid — never an edge-level
    * diff join over 2·|E| rows. */
  def degreeDelta(before: DataFrame, after: DataFrame): DataFrame = {
    val db = degrees(symmetrize(before))
      .select(col("vid"), col("degree").as("deg_before"))
    val da = degrees(symmetrize(after))
      .select(col("vid"), col("degree").as("deg_after"))
    db.join(da, Seq("vid"), "full_outer")
      .select(col("vid"),
        coalesce(col("deg_before"), lit(0L)).as("deg_before"),
        coalesce(col("deg_after"), lit(0L)).as("deg_after"))
      .withColumn("delta", col("deg_after") - col("deg_before"))
      .filter(col("delta") =!= 0L)
  }

  /** Incremental view maintenance for the degree view: apply an edge
    * delta (deleted + inserted canonical edges) to a materialized
    * (vid, degree) table WITHOUT rescanning the base edge set — the
    * cost is O(|delta| + |touched vertices|), which is what makes a
    * maintained view worth materializing at 100 TB. Degrees are
    * additive, so the maintained result is provably identical to a
    * recompute over the modified edge set (the q170 oracle recomputes;
    * KernelSpec asserts equality on golden deltas). Vertices whose
    * degree reaches 0 drop out, new vertices appear — matching
    * [[degrees]] over the modified graph exactly. */
  def maintainDegrees(view: DataFrame, deleted: DataFrame,
                      inserted: DataFrame): DataFrame = {
    val ins = degrees(symmetrize(inserted))
      .select(col("vid"), col("degree").as("dd"))
    val del = degrees(symmetrize(deleted))
      .select(col("vid"), (-col("degree")).as("dd"))
    val delta = ins.unionByName(del)
      .groupBy(col("vid")).agg(sum(col("dd")).as("dd"))
    view.join(delta, Seq("vid"), "full_outer")
      .select(col("vid"),
        (coalesce(col("degree"), lit(0L)) + coalesce(col("dd"), lit(0L)))
          .as("degree"))
      .filter(col("degree") > 0L)
  }
}
