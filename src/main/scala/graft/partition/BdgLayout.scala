package graft.partition

import graft.engine.Frontier
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BDG (Voronoi + greedy bin-packing) graph layout — the reference's
  * signature partitioning pass (`partition/BPartitioner.tpp:299-510`,
  * `partition/BDGPartitioner.tpp`; EuroSys §8.4 credits it with the
  * cross-edge reduction that makes task pulls mostly local).
  *
  * Stages, each mapped Spark-first:
  *  - B3 Voronoi seeding/flooding (`BDGPartitioner.tpp:279-307`): sample
  *    seeds at `seedRate` (deterministic hash sampling), flood colors
  *    ≤ `maxHop` hops (a vertex adopts the MIN neighboring color — the
  *    reference keeps first-arrival, which is race-dependent; min is its
  *    deterministic closure), re-seed the uncolored at rate × `rateFactor`
  *    until `stopRatio` of vertices are colored or the rate exceeds
  *    `maxRate`; leftovers fall back to hash-min CC per uncolored
  *    component (`subG_hashmin`, `BPartitioner.tpp:90-165`).
  *  - A7 block info (`BDGPartitioner.tpp:5-135`): per-color size +
  *    neighbor-block set, aggregated then collected to the driver — the
  *    same master-side merge the reference does; #blocks ≈ seedRate·|V|,
  *    small by construction.
  *  - B5 greedy block→worker assignment (`BDGPartitioner.tpp:139-235`,
  *    KDD'13 streaming heuristic): blocks in size-desc order; a block goes
  *    to the worker maximizing (size of already-assigned neighbor blocks)
  *    × (1 − assigned/capacity), capacity = 1.1·|V|/workers, falling
  *    back to the least-loaded worker. The reference computes the weight
  *    term with INTEGER division (always 1 under capacity); we implement
  *    the intended formula, ranked in exact integers
  *    ([[assignBlocksExact]]).
  *  - B6 block re-shuffle: the layout table (vid, color, worker) is the
  *    Spark analog — `repartition($"worker")` co-locates a block's
  *    vertices without rewriting neighbor worker-ids into the data.
  *  - B7 cross-edge statistics (`BPartitioner.tpp:454-486`): per-worker
  *    block/vertex counts + cross-worker edge counts, with the sha-hash
  *    partition cross count as the baseline the layout must beat
  *    ([[crossEdgeStatsExact]]).
  *
  * Every entry point pins its edge table ([[Frontier.pinned]]): the
  * layout passes a DERIVED table (e.g. a co-occurrence self-join) through
  * dozens of flood-hop/stat joins, and unpinned each would re-derive it
  * from the raw scan (the round-4 q38 profile: ~20 redundant derivations
  * dominated the wall clock).
  */
object BdgLayout {

  final case class Params(
      seedRate: Double = 0.001,  // reference sample rate
      maxHop: Int = 10,          // flood radius per round
      rateFactor: Double = 2.0,  // re-seed growth
      stopRatio: Double = 0.9,   // stop re-seeding when this much colored
      maxRate: Double = 0.1,     // cap on the re-seed rate
      workers: Int = 8)          // target worker count

  /** Deterministic hash sample: keep vid with probability ~rate. */
  private def sampled(df: DataFrame, rate: Double): DataFrame =
    df.filter(pmod(xxhash64(col("vid")), lit(1000000L))
      < lit((rate * 1000000L).toLong))

  /** Synchronous min-color flood from `seedColors` (vid, color), frozen
    * adoption: per hop, every UNCOLORED vertex adjacent to a colored one
    * adopts the minimum neighboring color; colored vertices never change
    * (`BDGPartitioner.tpp:279-307`; min is the deterministic closure of
    * the reference's race-dependent first-arrival — equivalently, a
    * vertex ends with the min color among the NEAREST seeds, which is
    * what the q56 recursive-CTE oracle replays). A [[Frontier]] walk: each
    * hop reads only the colors adopted the hop before. Returns all
    * colored (vid, color), the hop count run, and the colored total (the
    * walk's probe-summed `rows`: callers running a re-seed ladder need no
    * recount of the color table). */
  def floodColors(sym: DataFrame, seedColors: DataFrame,
                  maxHop: Int): (DataFrame, Int, Long) = {
    val flood = Frontier.run(sym, seedColors.select(col("vid"), col("color")),
        Seq("vid"), maxHop) { (e, last, _) =>
      e.join(last.hint("SHUFFLE_HASH"), e("src") === last("vid"))
        .groupBy(e("dst").as("vid")).agg(min(col("color")).as("color"))
    }
    (flood.reached, flood.hops, flood.rows)
  }

  /** B3: Voronoi colors to fixpoint-or-fallback. Input: symmetric edge
    * table (src, dst). Output: (vid, color), every vertex colored. */
  def voronoiColors(spark: SparkSession, symIn: DataFrame,
                    p: Params = Params()): DataFrame = {
    val (sym, ownSym) = Frontier.pinned(symIn)
    val verts = sym.select(col("src").as("vid")).distinct()
      .repartition(col("vid")).persist()
    val n = verts.count()
    var rate = p.seedRate
    var colors = sampled(verts, rate)
      .select(col("vid"), col("vid").as("color"))
    var colored = -1L // carried out of each flood round's probes below
    var continueRounds = true
    while (continueRounds) {
      // flood <= maxHop hops: uncolored vertices adopt min neighbor color;
      // the colored total rides out of the flood's own convergence probes
      // (no per-round recount of the whole color table)
      val (fc, _, fcColored) = floodColors(sym, colors, p.maxHop)
      colors = fc
      colored = fcColored
      if (colored >= (p.stopRatio * n).toLong || rate >= p.maxRate) {
        continueRounds = false
      } else {
        rate = rate * p.rateFactor
        val newSeeds = sampled(
            verts.join(colors, Seq("vid"), "left_anti"), rate)
          .select(col("vid"), col("vid").as("color"))
        val k = newSeeds.count()
        if (k > 0) { colors = colors.union(newSeeds) }
        colored += k
        if (rate >= p.maxRate && k == 0) continueRounds = false
      }
    }
    // fallback: hash-min CC on the still-uncolored induced subgraph; the
    // component labels are uncolored vids, disjoint from seed colors
    val uncolored = verts.join(colors, Seq("vid"), "left_anti").persist()
    val result =
      if (uncolored.isEmpty) colors
      else {
        val inducedEdges = sym
          .join(uncolored.withColumnRenamed("vid", "src")
            .hint("SHUFFLE_HASH"), Seq("src"), "left_semi")
          .join(uncolored.withColumnRenamed("vid", "dst")
            .hint("SHUFFLE_HASH"), Seq("dst"), "left_semi")
        val cc = graft.kernels.ConnectedComponents.run(spark, inducedEdges)
          .components.select(col("vid"), col("component").as("color"))
        // isolated-in-subgraph uncolored vertices become singleton blocks
        val isolated = uncolored.join(cc, Seq("vid"), "left_anti")
          .select(col("vid"), col("vid").as("color"))
        colors.union(cc).union(isolated)
      }
    val out = result.localCheckpoint(true)
    verts.unpersist(); uncolored.unpersist()
    if (ownSym) sym.unpersist()
    out
  }

  /** A7 alone: per-color block info — (color, size, sorted neighbor-color
    * set) over the COLORED subgraph (`BDGPartitioner.tpp:5-135`; the
    * reference's master-side block table). Plain SQL, so the stage feeding
    * the greedy packer is hash-oracled end-to-end (q67 runs it over the
    * q56 flood colors — the same promotion move that isolated the flood
    * itself as q56). Edges with an uncolored endpoint do not contribute
    * (during a partial flood they belong to no block yet). */
  def blockInfo(sym: DataFrame, colors: DataFrame): DataFrame = {
    val sizes = colors.groupBy(col("color")).agg(count(lit(1)).as("size"))
    val withC = sym
      .join(colors.withColumnRenamed("vid", "src")
        .withColumnRenamed("color", "ca"), "src")
      .join(colors.withColumnRenamed("vid", "dst")
        .withColumnRenamed("color", "cb"), "dst")
    val nbMap = withC.filter(col("ca") =!= col("cb"))
      .select(col("ca"), col("cb")).distinct()
      .groupBy(col("ca")).agg(sort_array(collect_set(col("cb"))).as("nbs"))
    sizes.join(nbMap, sizes("color") === nbMap("ca"), "left")
      .select(sizes("color"), col("size"),
        coalesce(col("nbs"), array().cast("array<long>")).as("nbs"))
  }

  /** A7 + B5 (q96): per-color block info, collected and greedily packed
    * into `workers` bins by the KDD'13 heuristic in pure-integer
    * arithmetic, so a DuckDB recursive CTE (one iteration per block, state
    * carried as lists) replays every placement bit-for-bit. Ranking
    * workers by the integer s·(c − a) is ranking by s·(1 − a/c), since
    * the capacity c is constant across workers, with no rounding ties.
    * Capacity is the integer floor (capNum·total)/(capDen·workers). The
    * priority product s·(c − a) is bounded by |V|² — fine for any
    * collected block table (the packer is O(blocks·workers) in one JVM).
    * Returns the (color, worker) assignment as a small DataFrame.
    * Reference: `partition/BDGPartitioner.tpp:139-235`. */
  def assignBlocksExact(spark: SparkSession, symIn: DataFrame,
                        colors: DataFrame, workers: Int = 8,
                        capNum: Long = 11L, capDen: Long = 10L): DataFrame = {
    import spark.implicits._
    val (sym, ownSym) = Frontier.pinned(symIn)
    val info = blockInfo(sym, colors)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toSet))
    if (ownSym) sym.unpersist()
    val total = info.map(_._2).sum
    val capacity = (capNum * total) / (capDen * workers)
    val assigned = Array.fill(workers)(0L)
    // countmap(w)(c) = total size of blocks already on w that NEIGHBOR c
    val countmap = Array.fill(workers)(
      scala.collection.mutable.HashMap.empty[Long, Long])
    val out = Seq.newBuilder[(Long, Long)]
    // size-desc, color-asc: deterministic version of the reference sort
    info.sortBy(b => (-b._2, b._1)).foreach { case (color, size, nbs) =>
      var best = 0L; var wid = -1
      for (j <- 0 until workers) {
        val p = countmap(j).getOrElse(color, 0L) * (capacity - assigned(j))
        if (p > best && assigned(j) + size <= capacity) { best = p; wid = j }
      }
      if (wid < 0) wid = assigned.zipWithIndex.minBy(_._1)._2
      out += ((color, wid.toLong))
      assigned(wid) += size
      nbs.foreach(c =>
        countmap(wid)(c) = countmap(wid).getOrElse(c, 0L) + size)
    }
    out.result().toDF("color", "worker")
  }

  /** B7 (q97): per-worker layout stats + cross-edge counts for an
    * EXPLICIT (color, worker) assignment over an explicit color table —
    * plain SQL end-to-end. The hash baseline uses the sha-derived hash family
    * (the one DuckDB shares; xxhash64 has no DuckDB counterpart) and is
    * computed over the SAME colored-colored edge subset as the BDG count,
    * so the reduction claim is apples-to-apples and driver-verifiable.
    * Output: (worker, n_blocks, n_vertices, cross_edges, sha_cross_edges);
    * cross counts are directed edges leaving the worker. */
  def crossEdgeStatsExact(spark: SparkSession, symIn: DataFrame,
                          colors: DataFrame, assign: DataFrame,
                          workers: Int): DataFrame = {
    import spark.implicits._
    val (sym, ownSym) = Frontier.pinned(symIn)
    val lay = colors.join(broadcast(assign), "color")
      .select(col("vid"), col("color"), col("worker")).persist()
    // edges with both endpoints colored, tagged with both workers; reused
    // by the BDG count and the hash baseline so both see one subgraph
    val wEdges = sym
      .join(lay.select(col("vid").as("src"), col("worker").as("wa")), "src")
      .join(lay.select(col("vid").as("dst"), col("worker").as("wb")), "dst")
      .persist()
    val cross = wEdges.filter(col("wa") =!= col("wb"))
      .groupBy(col("wa").as("worker")).agg(count(lit(1)).as("cross_edges"))
    val shaW = (c: Column) => pmod(
      graft.text.Dedup.shaTokenHash60(c.cast("string")),
      lit(workers.toLong))
    val hashCross = wEdges
      .filter(shaW(col("src")) =!= shaW(col("dst")))
      .groupBy(shaW(col("src")).as("worker"))
      .agg(count(lit(1)).as("sha_cross_edges"))
    val perW = lay.groupBy(col("worker")).agg(
      countDistinct(col("color")).as("n_blocks"),
      count(lit(1)).as("n_vertices"))
    // full worker-id universe: the greedy packer may leave workers empty,
    // and the hash baseline must not be undercounted on those rows
    val universe = (0L until workers.toLong).toDF("worker")
    val res = universe
      .join(perW, Seq("worker"), "left")
      .join(cross, Seq("worker"), "left")
      .join(hashCross, Seq("worker"), "left")
      .select(col("worker"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_vertices"), lit(0L)).as("n_vertices"),
        coalesce(col("cross_edges"), lit(0L)).as("cross_edges"),
        coalesce(col("sha_cross_edges"), lit(0L)).as("sha_cross_edges"))
    val eager = res.localCheckpoint(eager = true)
    lay.unpersist(); wEdges.unpersist()
    if (ownSym) sym.unpersist()
    eager
  }
}
